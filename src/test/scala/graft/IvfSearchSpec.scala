package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, ProductQuantizer, Quantize}
import graft.operators.IvfIndex.Codec
import graft.pipeline.{DeterministicClient, EmbeddingClient, Embedder}

/** Counts its embed calls across every instance in this JVM (local mode:
  * tasks run in the driver JVM). */
private object CountingEmbeddingClient {
  val calls = new AtomicInteger
}

private class CountingEmbeddingClient extends EmbeddingClient {
  override def embedBatch(texts: Seq[String], dim: Int): Seq[Array[Float]] = {
    CountingEmbeddingClient.calls.incrementAndGet()
    DeterministicClient.embedBatch(texts, dim)
  }
}

/** The one IVF search skeleton: each query of a batch is scored over its
  * own probed cells and its own coarse candidates only, so a batch
  * answers every query exactly as a search for that query alone would;
  * and a search evaluates its query frame once. */
class IvfSearchSpec extends SparkSpec {

  private lazy val e = Tables.embeddings(spark, sfDir)
  private lazy val base = e.where(col("vec_id") >= 100)
  private lazy val model = IvfIndex.train(base, k = 8, iters = 2)
  private val Metrics = Seq("cosine_sim", "l2", "cosine", "ip", "l1")
  private val QueryIds = Seq(3L, 17L, 29L, 41L, 58L, 76L)
  private lazy val batch = e.where(col("vec_id").isin(QueryIds: _*))
    .select(col("vec_id").as("qid"), col("embedding"))

  /** (name, codec, store metric, coarse model) for the seven store families. */
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

  private lazy val paths: Map[String, String] = families.map { case (name, codec, metric, m) =>
    val path = Files.createTempDirectory(s"ivf_search_$name").toString
    IvfIndex.writeIndex(base, m, path, codec, metric)
    name -> path
  }.toMap

  private def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  test("a batch answers each query as it alone would: every family × served metric, " +
    "partial probe and partial overfetch") {
    var checked = 0
    for ((name, codec, storeMetric, m) <- families; metric <- Metrics
         if IvfIndex.Store(m, codec, storeMetric).serves(metric)) {
      // 2 of 8 cells; k·overfetch = 10 coarse candidates per query, far
      // fewer than its probed rows
      def search(q: DataFrame) = rows(IvfIndex.searchIndex(spark, paths(name), q, k = 5,
        nprobe = 2, metric = metric, overfetch = 2))
      val got = search(batch)
      val alone = QueryIds.flatMap(id => search(batch.where(col("qid") === id))).toSet
      assert(got.map(_._1) == QueryIds.toSet, s"$name/$metric answered ${got.map(_._1)}")
      assert(got == alone, s"$name/$metric: batch-only rows ${got -- alone}, " +
        s"missing ${alone -- got}")
      checked += 1
    }
    assert(checked == 23, s"$checked family × metric pairs")
  }

  test("the batch is one where scoring the union of the batch's cells changes answers") {
    // positive control for the property above: with these queries, a
    // query ranked over every query's probed cells (the shape a shared
    // scored set gives) gets a different top-5 than over its own cells
    val qvecs = e.where(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val union = qvecs.values.flatMap(model.nearestCells(_, 2)).toSeq.distinct
    def top5(q: Array[Double], cells: Seq[Int]): Seq[Long] =
      spark.read.parquet(paths("flat")).where(col("cell").isin(cells: _*))
        .select(col("vec_id"),
          round(VectorFunctions.l2Distance(col("embedding"), typedlit(q.toSeq)), 4).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(5).collect().map(_.getLong(0)).toSeq
    val moved = qvecs.count { case (_, q) => top5(q, union) != top5(q, model.nearestCells(q, 2)) }
    assert(moved > 0, "no query's answer depends on the other queries' cells")
    val own = rows(IvfIndex.searchIndex(spark, paths("flat"), batch, k = 5, nprobe = 2,
      metric = "l2")).groupBy(_._1).map { case (q, rs) => q -> rs.toSeq.sortBy(_._4).map(_._2) }
    assert(qvecs.forall { case (id, q) => own(id) == top5(q, model.nearestCells(q, 2)) })
  }

  test("a search evaluates its query frame once: cosine_sim, l2 and SQ8-coarse") {
    def query(): DataFrame = Embedder.embed(
        spark.createDataFrame(Seq(Tuple1("ivf search evaluates its query once"))).toDF("query"),
        "query", dim = 64, batchSize = 32, client = new CountingEmbeddingClient)
      .withColumn("qid", lit(0L))
    def embedCalls(body: => Unit): Int = {
      val before = CountingEmbeddingClient.calls.get
      body
      CountingEmbeddingClient.calls.get - before
    }
    // the counter sees every evaluation of the lazily embedded frame
    val q = query()
    assert(embedCalls { q.collect(); q.collect() } == 2)
    for ((name, metric) <- Seq("flat" -> "cosine_sim", "flat" -> "l2", "sq8" -> "l2")) {
      val calls = embedCalls {
        IvfIndex.searchIndex(spark, paths(name), query(), k = 5, nprobe = 2, metric = metric)
          .collect()
      }
      assert(calls == 1, s"$name/$metric search embedded its query $calls times")
    }
  }

  test("IvfIndex.scala cross-joins nowhere but cellStats") {
    // each crossJoin's enclosing def — the nearest `def` above it
    def enclosing(src: String): Seq[String] = {
      val defs = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
        .findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      """\.crossJoin\(""".r.findAllMatchIn(src).map { c =>
        defs.takeWhile(_._1 < c.start).lastOption.fold("<none>")(_._2)
      }.toSeq
    }
    // the union-of-cells shape the skeleton replaced is caught
    val old =
      """  def searchIndex(spark: SparkSession, path: String): DataFrame = {
        |    val qSide = broadcast(qs.select(col(queryIdCol), col(embCol).as("__qemb")))
        |    val scored = docs.select(col(idCol), col(embCol)).crossJoin(qSide)
        |  }
        |  def cellStats(spark: SparkSession, path: String): DataFrame =
        |    counts.crossJoin(broadcast(total))""".stripMargin
    assert(enclosing(old) == Seq("searchIndex", "cellStats"))
    val file = new java.io.File("src/main/scala/graft/operators/IvfIndex.scala")
    assert(file.isFile, s"run from the repository root (no ${file.getAbsolutePath})")
    val found = enclosing(new String(Files.readAllBytes(file.toPath), "UTF-8"))
    assert(found.forall(_ == "cellStats"),
      s"crossJoin in ${found.filterNot(_ == "cellStats").mkString(", ")} — IVF searches " +
        "join their rows to each query's own probed cells")
  }
}
