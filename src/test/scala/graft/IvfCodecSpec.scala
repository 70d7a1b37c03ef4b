package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, Knn, ProductQuantizer, Quantize}
import graft.operators.IvfIndex.Codec

/** The one IVF store codec: every codec × metric goes through the same
  * write / append / search, the store's declaration is read from its
  * sidecars in one place, and that place fails loud. */
class IvfCodecSpec extends SparkSpec {

  private lazy val e = Tables.embeddings(spark, sfDir)
  private lazy val base = e.where(col("vec_id") >= 100)
  private lazy val heldOut = e.where(col("vec_id") < 100)
  private lazy val model = IvfIndex.train(base, k = 8, iters = 2)

  /** (name, codec, metric, coarse model) for the seven store families. */
  private lazy val families: Seq[(String, Codec, String, IvfIndex.Model)] = {
    val (mn, mx) = Quantize.scalarRange(base)
    val normalized = base.withColumn("embedding", VectorFunctions.l2Normalize(col("embedding")))
    Seq(
      ("flat", Codec.Flat, "l2", model),
      ("sq8", Codec.Sq8(mn, mx), "l2", model),
      ("half", Codec.Half, "l2", model),
      ("prefix", Codec.Prefix(16), "l2", IvfIndex.trainSub(base, subDim = 16, k = 8, iters = 2)),
      ("binary", Codec.Binary, "l2", model),
      ("pq", Codec.Pq(ProductQuantizer.trainResidual(base, model, m = 8, ksub = 16)), "l2", model),
      ("cosine", Codec.Flat, "cosine", IvfIndex.train(normalized, k = 8, iters = 2)))
  }

  private def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  test("every codec: append encodes like a full write; appended rows are served; full probe is exact") {
    for ((name, codec, metric, m) <- families) {
      val path = Files.createTempDirectory(s"ivf_codec_$name").toString
      IvfIndex.writeIndex(base, m, path, codec, metric)
      IvfIndex.appendIndex(spark, path, heldOut)
      val store = IvfIndex.readStore(spark, path)
      val sameCodec = (store.codec, codec) match {
        case (Codec.Pq(a), Codec.Pq(b)) => ProductQuantizer.json(a) == ProductQuantizer.json(b)
        case (a, b) => a == b
      }
      assert(sameCodec && store.metric == metric, s"$name: declared as ${store.metric} ${store.codec}")

      // appended rows carry exactly what a full write of the union would
      // store: the codec column, normalized vectors, cells on the codec's
      // projection
      val stored = spark.read.parquet(path)
      val fresh = IvfIndex.encode(e, store, "vec_id", "embedding")
      assert(stored.columns.toSet == fresh.columns.toSet, s"$name: ${stored.columns.toSeq}")
      val diff = stored.select(fresh.columns.map(col): _*).exceptAll(fresh)
      assert(diff.isEmpty, s"$name: stored rows differ from a full encode")

      // each held-out row is served from its own probed cell at the
      // codec's default overfetch
      val q = heldOut.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding"))
      val self = IvfIndex.searchIndex(spark, path, q, k = 1, nprobe = 1, metric = metric)
        .where(col("qid") === col("vec_id") && col("dist") === 0.0).count()
      assert(self >= 18, s"$name: only $self of 20 appended rows found themselves")

      // full probe + covering overfetch = exact KNN over base ∪ appended
      val qs = e.where(col("vec_id").isin(3L, 57L, 150L, 420L))
        .select(col("vec_id").as("qid"), col("embedding"))
      val got = IvfIndex.searchIndex(spark, path, qs, k = 5, nprobe = 8, metric = metric,
        overfetch = 1000)
      val exact = Knn.topKBatch(e, qs, if (metric == "cosine") Knn.Cosine else Knn.L2, 5)
      assert(rows(got) == rows(exact), s"$name: full probe diverged from exact KNN")
    }
  }

  test("coarse candidate pushdown keeps non-long ids") {
    val path = Files.createTempDirectory("ivf_codec_ids").toString
    val docs = base.select(concat(lit("doc-"), col("vec_id")).as("id"), col("embedding"))
    val (mn, mx) = Quantize.scalarRange(base)
    IvfIndex.writeIndex(docs, model, path, Codec.Sq8(mn, mx), idCol = "id")
    val q = docs.where(col("id") === "doc-150").select(lit(0L).as("qid"), col("embedding"))
    val hit = IvfIndex.searchIndex(spark, path, q, k = 1, nprobe = 8, metric = "l2",
      idCol = "id").head()
    assert(hit.getString(1) == "doc-150" && hit.getDouble(2) == 0.0, hit)
  }

  test("sidecar faults propagate: an unreadable or unknown _metric.json never reads as l2") {
    val path = Files.createTempDirectory("ivf_codec_metric").toString
    IvfIndex.writeIndex(base, model, path)
    val metric = new java.io.File(path, "_metric.json")
    val q = e.limit(2).select(col("vec_id").as("qid"), col("embedding"))
    def refused(): Unit = {
      intercept[Exception](IvfIndex.readStore(spark, path))
      intercept[Exception](IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 2, metric = "l2"))
      intercept[Exception](IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 2, metric = "ip"))
      intercept[Exception](IvfIndex.upsertIndex(spark, path, e.limit(1)))
    }
    // exists but cannot be read (a directory)
    assert(metric.mkdir())
    refused()
    assert(metric.delete())
    // readable but names no metric the store knows
    Files.writeString(metric.toPath, """{"metric":"hamming"}""")
    val err = intercept[IllegalStateException](IvfIndex.readStore(spark, path))
    assert(err.getMessage.contains("hamming"), err.getMessage)
    refused()
    // absent: the store is l2, and serves again
    assert(metric.delete())
    assert(IvfIndex.readStore(spark, path).metric == "l2")
    assert(IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 2, metric = "l2").count() == 6)
  }

  test("serve path job count: one flat searchIndex and one appendIndex stay at the pinned jobs") {
    val path = Files.createTempDirectory("ivf_codec_jobs").toString
    IvfIndex.writeIndex(base, model, path)
    val q = e.where(col("vec_id") === 7L).select(col("vec_id").as("qid"), col("embedding"))
    // warm once so only the steady-state request is counted
    IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = 2).collect()
    val search = sparkJobs(IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = 2).collect()).size
    val append = sparkJobs(IvfIndex.appendIndex(spark, path,
      e.where(col("vec_id") < 3L).select((col("vec_id") + 9000L).as("vec_id"), col("embedding")))).size
    assert((search, append) == ((SearchJobs, AppendJobs)), s"search=$search append=$append")
  }

  /** Spark jobs of the flat serve path (local[4], AQE on): for search,
    * the one evaluation of the query frame (its collect), then the
    * ranked result — the broadcast of the local probe pairs (no query
    * re-evaluation; a task per pair), the window's shuffle, its result;
    * the shuffled append write for append. Resolving the codec is
    * sidecar reads only, and the store's schema is cached after the
    * warm-up search, so neither adds a job. */
  private val SearchJobs = 4
  private val AppendJobs = 2

  test("IVF sidecar file names appear only where the store codec lives") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val literal = """"_(centroids|quantize|half|matryoshka|binary|metric)\.json"""".r
    val allowed = Set("IvfIndex.scala", "ProductQuantizer.scala", "StagedSwap.scala")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(f => allowed(f.getName))
      .filter(f => literal.findFirstIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)
    assert(offenders.isEmpty,
      s"sidecar names outside the store codec: ${offenders.mkString(", ")} — resolve the " +
        "store with IvfIndex.readStore instead")
  }
}
