package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.fixtures.MediaFixtures
import graft.multimodal.BinaryPipeline
import graft.streaming.ImageStream

/** Streaming image ingest: real decode per micro-batch, feature parity
  * with the batch path, replay idempotence, KNN over the streamed
  * store, and the poison-input loud-failure contract. */
class ImageStreamSpec extends SparkSpec {

  test("streamed images decode to features; replay converges; KNN serves the store") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id")).where(col("doc_id") < 60)
    val media = MediaFixtures.synthesizeImages(docs)
      .select(col("doc_id"), col("content")).localCheckpoint(true)
    val in = Files.createTempDirectory("istream_in").toString
    val store = Files.createTempDirectory("istream_store").toString + "/feat"
    val ckpt = Files.createTempDirectory("istream_ckpt").toString
    // one input file => exactly one micro-batch (maxFilesPerTrigger is
    // 16), so 'replay batch 0 with its own content' below is sound
    media.coalesce(1).write.mode("append").parquet(in)

    val q = ImageStream.start(spark, in, store, ckpt, availableNow = true,
      gx = 2, gy = 2)
    try q.awaitTermination() finally q.stop()

    // feature parity with the batch path, exact
    val got = spark.read.parquet(store)
      .select(col("doc_id"), col("features"), col("width"), col("height"))
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Double](1).toList, r.getLong(2), r.getLong(3)))).toMap
    val want = BinaryPipeline.imageTileFeatures(media, gx = 2, gy = 2)
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Double](1).toList, r.getLong(2), r.getLong(3)))).toMap
    assert(got == want && got.size == 60)

    // crash replay: re-running batch 0 with ITS OWN content overwrites
    // its partition in place — row count and features unchanged
    val before = spark.read.parquet(store).count()
    ImageStream.featuresBatch(store, gx = 2, gy = 2)(media, 0L)
    assert(spark.read.parquet(store).count() == before, "replayed batch doubled rows")
    val afterReplay = spark.read.parquet(store)
      .select(col("doc_id"), col("features"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    assert(afterReplay == want.map { case (k, (f, _, _)) => k -> f }, "replay drifted")

    // the streamed store serves the engine's standard cosine KNN (the
    // q_knn_image shape): each RGB image's own vector ranks first
    val feats = spark.read.parquet(store).where(col("channels") === 3)
      .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
    val probe = feats.limit(1)
    val top = graft.operators.Knn.topK(feats, probe, graft.operators.Knn.Cosine, 1)
      .head()
    assert(top.getLong(0) == probe.head().getLong(0), s"self not rank-1: $top")

    // poison input: a non-PNG payload fails its batch LOUD and leaves
    // the store untouched (checkpoint-unadvanced exactly-once contract)
    import spark.implicits._
    val poison = Seq((999L, "not a png".getBytes("UTF-8"))).toDF("doc_id", "content")
    val err = intercept[Exception](
      ImageStream.featuresBatch(store, gx = 2, gy = 2)(poison, 7L))
    // walk the whole wrapped-exception chain (the SqlSurfaceSpec
    // convention): Spark may nest the decode failure several causes deep
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("PNG"), msgs)
    assert(spark.read.parquet(store).count() == before, "poison batch half-committed")
  }

  test("MIXED-FORMAT micro-batch: PNG, JPEG, GIF, TIFF and BMP rows ingest into one store") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id")).where(col("doc_id") < 10)
    def slim(df: org.apache.spark.sql.DataFrame, offset: Long) =
      df.select((col("doc_id") + offset).as("doc_id"), col("content"))
    val mixed = slim(MediaFixtures.synthesizeImages(docs), 0)
      .unionAll(slim(MediaFixtures.synthesizeJpegs(docs), 1000))
      .unionAll(slim(MediaFixtures.synthesizeGifs(docs), 2000))
      .unionAll(slim(MediaFixtures.synthesizeTiffs(docs), 3000))
      .unionAll(slim(MediaFixtures.synthesizeBmps(docs), 4000))
      .localCheckpoint(true)
    val store = Files.createTempDirectory("istream_mix").toString + "/feat"
    ImageStream.featuresBatch(store, gx = 2, gy = 2)(mixed, 0L)
    val got = spark.read.parquet(store)
      .select(col("doc_id"), col("features")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    val want = BinaryPipeline.imageTileFeatures(mixed, gx = 2, gy = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    assert(got == want && got.size == 50, "streamed mixed-format features diverge")
  }
}
