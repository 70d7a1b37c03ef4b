package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Quantize}
import graft.streaming.VectorStream

class VectorStreamSpec extends SparkSpec {

  test("streamed batches land in the quantized store; searches see them; replay converges") {
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    val (mn, mx) = Quantize.scalarRange(e)
    val store = Files.createTempDirectory("vstream_store").toString
    val in = Files.createTempDirectory("vstream_in").toString
    val ckpt = Files.createTempDirectory("vstream_ckpt").toString

    // init with the first 400 vectors; stream the held-out 100 in
    VectorStream.initStore(e.where(col("vec_id") >= 100), model, store, IvfIndex.Codec.Sq8(mn, mx))
    e.where(col("vec_id") < 100).write.mode("append").parquet(in)
    val q = VectorStream.startIngest(spark, in, store, ckpt, availableNow = true)
    try q.awaitTermination() finally q.stop()

    // streamed vectors are searchable at dist 0 via the standard reader
    val probe = e.where(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding"))
    val hits = IvfIndex.searchIndex(spark, store, probe, k = 1, nprobe = 8, metric = "l2")
      .where(col("vec_id") === col("qid")).collect()
    assert(hits.length == 100 && hits.forall(_.getDouble(2) == 0.0))
    // codes in the store equal a fresh quantization under the sidecar range
    val bad = spark.read.parquet(store)
      .where(col("qvec") =!= Quantize.quantizeExpr(col("embedding"), mn, mx))
    assert(bad.isEmpty)

    // crash replay: re-running a batch id overwrites its own partitions
    // instead of duplicating rows
    val before = spark.read.parquet(store).count()
    val replay = e.where(col("vec_id") < 50).select(col("vec_id"), col("embedding"))
    VectorStream.ingestBatch(store)(replay, 99L)
    val afterOnce = spark.read.parquet(store).count()
    VectorStream.ingestBatch(store)(replay, 99L)
    val afterTwice = spark.read.parquet(store).count()
    assert(afterOnce == before + 50)
    assert(afterTwice == afterOnce, "replayed batch must overwrite, not append")
  }

  test("streamed batches land in the Matryoshka store; prefix search sees them; replay converges") {
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.trainSub(e, subDim = 16, k = 8, iters = 2)
    val store = Files.createTempDirectory("vsub_store").toString
    val in = Files.createTempDirectory("vsub_in").toString
    val ckpt = Files.createTempDirectory("vsub_ckpt").toString

    VectorStream.initStore(e.where(col("vec_id") >= 100), model, store, IvfIndex.Codec.Prefix(16))
    e.where(col("vec_id") < 100).write.mode("append").parquet(in)
    val q = VectorStream.startIngest(spark, in, store, ckpt, availableNow = true)
    try q.awaitTermination() finally q.stop()

    // streamed vectors searchable at dist 0 through the standard sub
    // reader (cell pruning rides the second partition level)
    val probe = e.where(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding"))
    val hits = IvfIndex.searchIndex(spark, store, probe, k = 1, nprobe = 8, metric = "l2")
      .where(col("vec_id") === col("qid")).collect()
    assert(hits.length == 100 && hits.forall(_.getDouble(2) == 0.0))
    // stored prefixes equal a fresh slice
    val bad = spark.read.parquet(store)
      .where(col("sub") =!= slice(col("embedding"), 1, 16))
    assert(bad.isEmpty)

    // crash replay overwrites its own batch partition
    val before = spark.read.parquet(store).count()
    val replay = e.where(col("vec_id") < 50).select(col("vec_id"), col("embedding"))
    VectorStream.ingestBatch(store)(replay, 99L)
    val afterOnce = spark.read.parquet(store).count()
    VectorStream.ingestBatch(store)(replay, 99L)
    assert(afterOnce == before + 50)
    assert(spark.read.parquet(store).count() == afterOnce,
      "replayed batch must overwrite, not append")
  }

  test("streaming semantic dedup: copies dropped, novelties kept, batch N+1 dedups against N, replay converges") {
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    val (mn, mx) = Quantize.scalarRange(e)
    val store = Files.createTempDirectory("vsem_store").toString

    // corpus = vectors 100+; held-out 0..99 are the novelties
    VectorStream.initStore(e.where(col("vec_id") >= 100), model, store, IvfIndex.Codec.Sq8(mn, mx))
    val base = spark.read.parquet(store).count()

    // batch 0: 10 EXACT COPIES of corpus vectors under fresh ids (+10000)
    // and 10 genuinely novel vectors — only the novelties may survive
    val copies = e.where(col("vec_id").between(100, 109))
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val novel0 = e.where(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    VectorStream.semanticDedupBatch(store, threshold = 0.999)(copies.union(novel0), 0L)
    val after0 = spark.read.parquet(store)
    assert(after0.count() == base + 10)
    assert(after0.where(col("vec_id") >= 10000).isEmpty, "exact copies must be dropped")
    assert(after0.where(col("vec_id") < 10).count() == 10)

    // batch 1: a copy of a batch-0 SURVIVOR (+20000) and one more novelty
    // — the copy dedups against the PREVIOUS batch's append
    val copyOfSurvivor = e.where(col("vec_id") === 5)
      .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))
    val novel1 = e.where(col("vec_id") === 50).select(col("vec_id"), col("embedding"))
    VectorStream.semanticDedupBatch(store, threshold = 0.999)(copyOfSurvivor.union(novel1), 1L)
    val after1 = spark.read.parquet(store)
    assert(after1.count() == base + 11)
    assert(after1.where(col("vec_id") === 20005L).isEmpty)
    assert(after1.where(col("vec_id") === 50L).count() == 1)

    // replay batch 1: excludes its own partition from the dedup corpus,
    // overwrites itself — store unchanged
    VectorStream.semanticDedupBatch(store, threshold = 0.999)(copyOfSurvivor.union(novel1), 1L)
    assert(spark.read.parquet(store).count() == base + 11)

    // within-batch dedup: two ids with the SAME embedding in one batch →
    // only the lower id survives
    val v = e.where(col("vec_id") === 60).select(col("embedding")).head().getSeq[Float](0)
    import spark.implicits._
    val twin = Seq((600L, v), (601L, v)).toDF("vec_id", "embedding")
    VectorStream.semanticDedupBatch(store, threshold = 0.999)(twin, 2L)
    val after2 = spark.read.parquet(store)
    assert(after2.where(col("vec_id") === 600L).count() == 1)
    assert(after2.where(col("vec_id") === 601L).isEmpty)
  }
}
