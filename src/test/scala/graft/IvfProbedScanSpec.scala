package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, Quantize}
import graft.plans.{IvfIterativeScanStrategy, IvfScanRewriteRule}

/** The probed-cell scan every IVF search reads through: on a store with
  * more cell dirs than Spark's parallel-discovery threshold (32), a
  * search lists and reads only its probed cells, with the schema cached
  * per store, and returns what a full-root read restricted to those
  * cells returns. */
class IvfProbedScanSpec extends SparkSpec {

  private val Cells = 64
  private val NProbe = 8
  private lazy val e = Tables.embeddings(spark, sfDir)
  private lazy val model = IvfIndex.train(e, k = Cells, iters = 2, samplePercent = 100)
  private lazy val queryIds = Seq(7L, 123L, 301L)
  private lazy val queries = e.where(col("vec_id").isin(queryIds: _*))
    .select(col("vec_id").as("qid"), col("embedding"))
  private lazy val qvecs: Map[Long, Array[Double]] = e.where(col("vec_id").isin(queryIds: _*))
    .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
    .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val flat: String = { val p = tmp("ivf_probed_flat"); IvfIndex.writeIndex(e, model, p); p }
  private lazy val sq8: String = {
    val p = tmp("ivf_probed_sq8")
    val (mn, mx) = Quantize.scalarRange(e)
    IvfIndex.writeIndex(e, model, p, IvfIndex.Codec.Sq8(mn, mx))
    p
  }

  private def cellDirs(path: String): Seq[String] =
    new java.io.File(path).list().toSeq.filter(_.startsWith("cell="))

  /** Exact top-k over a FULL-ROOT read of `path` restricted to `cells`
    * and `pred`: `(id, score, rn)`, best first, ties by id. With
    * `rounded`, scores are rounded to 4 places before ranking (the
    * library search's convention); without, ranked and returned raw (an
    * `ORDER BY dist` query's). */
  private def fullRead(path: String, q: Array[Double], cells: Seq[Int], k: Int,
                       score: (Column, Column) => Column, desc: Boolean,
                       rounded: Boolean = true, pred: String = "true"): Seq[(Long, Double, Long)] = {
    val raw = score(col("embedding"), typedlit(q.toSeq))
    val s = if (rounded) round(raw, 4) else raw
    spark.read.parquet(path).where(col("cell").isin(cells: _*)).where(pred)
      .select(col("vec_id"), s.as("s"))
      .orderBy(if (desc) col("s").desc else col("s"), col("vec_id"))
      .limit(k).collect().toSeq.zipWithIndex
      .map { case (r, i) => (r.getLong(0), r.getDouble(1), i + 1L) }
  }

  private def searched(df: DataFrame): Map[Long, Seq[(Long, Double, Long)]] =
    df.collect().toSeq.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sortBy(_._3) }

  /** Per query, the full-root read over its own probed cells — the
    * cells every metric scores it on. */
  private def expected(path: String, k: Int, score: (Column, Column) => Column,
                       desc: Boolean): Map[Long, Seq[(Long, Double, Long)]] =
    qvecs.map { case (id, q) =>
      id -> fullRead(path, q, model.nearestCells(q, NProbe), k, score, desc)
    }

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IvfScanRewriteRule
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies :+ IvfIterativeScanStrategy
    try body finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq IvfScanRewriteRule)
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies.filterNot(_ eq IvfIterativeScanStrategy)
    }
  }

  private def conf[T](pairs: (String, String)*)(body: => T): T = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("flat cosine_sim and l2 return what a full-root read of the probed cells returns") {
    val cos = IvfIndex.searchIndex(spark, flat, queries, k = 5, nprobe = NProbe)
    assert(searched(cos) == expected(flat, 5, VectorFunctions.cosineSimilarity, desc = true))
    val l2 = IvfIndex.searchIndex(spark, flat, queries, k = 5, nprobe = NProbe, metric = "l2")
    assert(searched(l2) == expected(flat, 5, VectorFunctions.l2Distance, desc = false))
  }

  test("SQ8 coarse pass + rerank with covering overfetch: the full-root read's exact rows") {
    val got = IvfIndex.searchIndex(spark, sq8, queries, k = 5, nprobe = NProbe, metric = "l2",
      overfetch = 1000)
    assert(searched(got) == expected(sq8, 5, VectorFunctions.l2Distance, desc = false))
  }

  test("the probed scan reads only probed cell dirs, and no search job lists the store") {
    val cells = cellDirs(flat).map(_.stripPrefix("cell=").toInt).sorted.take(3)
    val scan = IvfIndex.probedScan(spark, flat, cells)
    val files = scan.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(f => cells.exists(c => f.contains(s"/cell=$c/"))),
      files.mkString("\n"))
    assert(scan.collect().toSet ==
      spark.read.parquet(flat).where(col("cell").isin(cells: _*)).collect().toSet)

    // a fresh store (cold schema cache): its full-root read runs a
    // listing job with a task per cell dir; a search runs none that wide
    val path = tmp("ivf_probed_jobs")
    IvfIndex.writeIndex(e, model, path)
    val dirs = cellDirs(path).size
    assert(dirs > 32, s"$dirs cell dirs: not over Spark's parallel-discovery threshold")
    val listing = sparkJobs(spark.read.parquet(path))
    assert(listing.contains(dirs), s"full-root read jobs (tasks): $listing")
    for (metric <- Seq("cosine_sim", "l2")) {
      val jobs = sparkJobs(
        IvfIndex.searchIndex(spark, path, queries, k = 5, nprobe = NProbe, metric = metric).collect())
      assert(jobs.nonEmpty && jobs.forall(_ < 32), s"$metric search jobs (tasks): $jobs")
    }
  }

  test("SQL fixed-probe rewrite (SQ8 coarse semi join) returns the full-root read's rows") {
    val q = qvecs(7L)
    withRule {
      conf("spark.graft.ann.nprobe" -> NProbe.toString, "spark.graft.ann.overfetch" -> "1000",
        "spark.graft.ann.iterative" -> "false") {
        val df = spark.read.parquet(sq8)
          .select(col("vec_id"),
            VectorFunctions.l2Distance(col("embedding"), typedlit(q.toSeq)).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(5)
        assert(df.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
        val got = df.collect().toSeq.zipWithIndex
          .map { case (r, i) => (r.getLong(0), r.getDouble(1), i + 1L) }
        assert(got == fullRead(sq8, q, model.nearestCells(q, NProbe), 5,
          VectorFunctions.l2Distance, desc = false, rounded = false))
      }
    }
  }

  test("iterative filtered leaf escalates over probed scans like a full-root read") {
    val q = qvecs(7L)
    val pred = "vec_id % 13 = 0"
    withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        GraftFunctions.register(spark)
        spark.read.parquet(flat).createOrReplaceTempView("ivf_probed_v")
        val vecLit = s"array(${q.map(d => s"${d}D").mkString(", ")})"
        val df = spark.sql(
          s"""SELECT vec_id, round(vec_l2(embedding, $vecLit), 4) AS dist
             |FROM ivf_probed_v WHERE $pred
             |ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT 5""".stripMargin)
        assert(df.queryExecution.executedPlan.toString.contains("IvfIterativeFilteredScan"))
        val got = df.collect().map(_.getLong(0)).toSeq
        // the escalation replayed on the full-root read
        val full = spark.read.parquet(flat).where(pred)
        var cur = 1
        while (cur < Cells &&
            full.where(col("cell").isin(model.nearestCells(q, cur): _*)).count() < 5)
          cur = math.min(cur * 2, Cells)
        assert(cur > 1, "the predicate should starve the first probe")
        assert(got == fullRead(flat, q, model.nearestCells(q, cur), 5, VectorFunctions.l2Distance,
          desc = false, rounded = false, pred = pred).map(_._1))
      }
    }
  }

  test("a probed cell with no dir on disk contributes no rows") {
    val path = tmp("ivf_probed_gone")
    IvfIndex.writeIndex(e, model, path)
    val q = qvecs(7L)
    val cells = model.nearestCells(q, NProbe)
    val gone = cells.head // the query's own cell
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path, s"cell=$gone"))
    val only = IvfIndex.probedScan(spark, path, Seq(gone))
    assert(only.isEmpty && only.columns.toSeq == spark.read.parquet(path).columns.toSeq)
    val got = IvfIndex.searchIndex(spark, path, queries.where(col("qid") === 7L), k = 5,
      nprobe = NProbe, metric = "l2")
    assert(searched(got)(7L) == fullRead(path, q, cells, 5, VectorFunctions.l2Distance, desc = false))
    assert(!searched(got)(7L).exists(_._1 == 7L)) // its own row went with the dir
  }

  test("appendIndex into a cell with no dir yet is seen by the next search") {
    val path = tmp("ivf_probed_new_cell")
    val cellOf7 = model.nearestCells(qvecs(7L), 1).head
    val assigned = e.withColumn("__c", IvfIndex.cellOf(col("embedding"), model))
    IvfIndex.writeIndex(assigned.where(col("__c") =!= cellOf7).drop("__c"), model, path)
    assert(!cellDirs(path).contains(s"cell=$cellOf7"))
    val q = queries.where(col("qid") === 7L)
    def self(): Boolean = IvfIndex.searchIndex(spark, path, q, k = 1, nprobe = 1)
      .collect().exists(_.getLong(1) == 7L)
    assert(!self()) // no dir for the probed cell; the store schema is cached from here on
    IvfIndex.appendIndex(spark, path, assigned.where(col("__c") === cellOf7).drop("__c"))
    assert(self())
  }

  test("a writeIndex rebuild with string ids is read with its new schema") {
    val path = tmp("ivf_probed_rebuild")
    IvfIndex.writeIndex(e, model, path)
    assert(IvfIndex.searchIndex(spark, path, queries, k = 1, nprobe = 2).collect()
      .forall(r => r.get(1).isInstanceOf[Long]))
    IvfIndex.writeIndex(e.withColumn("vec_id", concat(lit("v"), col("vec_id"))), model, path)
    val hits = IvfIndex.searchIndex(spark, path, queries, k = 1, nprobe = 2).collect()
    assert(hits.map(r => (r.getLong(0), r.getString(1))).toSet ==
      queryIds.map(id => (id, s"v$id")).toSet)
  }

  test("a pending maintenance swap is still refused") {
    val path = tmp("ivf_probed_pending")
    IvfIndex.writeIndex(e, model, path)
    IvfIndex.searchIndex(spark, path, queries, k = 1, nprobe = 2).collect()
    val staging = new java.io.File(path + "__maint_staging")
    assert(staging.mkdirs())
    Files.write(new java.io.File(staging, "_plan.json").toPath,
      """{"rewrite":[0],"drain":[]}""".getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException](
      IvfIndex.searchIndex(spark, path, queries, k = 1, nprobe = 2))
    assert(err.getMessage.contains("committed-but-unfinished"), err.getMessage)
  }

  test("no store read outside the probed scan filters cells on a full-root read") {
    // the old per-request shape: list the whole store, then prune by cell
    val fullThenPrune = """\.parquet\([^()]*\)\s*\.where\(\s*col\("cell"\)\.isin""".r
    assert(fullThenPrune.findFirstIn(
      "spark.read.parquet(path)\n      .where(col(\"cell\").isin(cells: _*))").nonEmpty)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filter(f => fullThenPrune.findFirstIn(
        new String(Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)
    assert(offenders.isEmpty,
      s"full-root store reads pruned by cell: ${offenders.mkString(", ")} — read the " +
        "probed cells with IvfIndex.probedScan instead")
  }
}
