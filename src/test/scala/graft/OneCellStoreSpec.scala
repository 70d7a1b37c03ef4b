package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HalfExpressions, VectorExpressions, VectorFunctions}
import graft.operators.{IvfIndex, ProductQuantizer => PQ, Quantize}
import graft.operators.IvfIndex.Codec

/** Writes flat quantized stores: an IVF store over the one-centroid model
  * at the origin (one `cell=0` dir, searched at nprobe 1). */
private[graft] object OneCellStore {
  def write(corpus: DataFrame, codec: Codec, name: String): String = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val path = Files.createTempDirectory(s"one_cell_$name").toString
    IvfIndex.writeIndex(corpus, IvfIndex.Model(Array(Array.fill(dim)(0.0))), path, codec)
    path
  }
}

/** A flat quantized search is `IvfIndex.searchIndex` over a one-cell
  * store, and the IVF-PQ search is the persisted store's: both return
  * the rows of the flat and IVF-PQ searches they replaced, which are kept
  * here only as references. */
class OneCellStoreSpec extends SparkSpec {

  /** Seeded gaussian corpus: 400 float vectors of 32 dims. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(20261019)
    spark.createDataFrame((0L until 400L).map(id =>
        (id, Array.fill(32)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
      .localCheckpoint(true)
  }

  private def queries(ids: Seq[Long]): DataFrame =
    corpus.where(col("vec_id").isin(ids: _*)).select(col("vec_id").as("qid"), col("embedding"))

  private type Rows = Seq[(Long, Long, Double, Long)]

  private def rows(df: DataFrame): Rows =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq.sortBy(r => (r._1, r._4))

  /** The deleted search paths, kept as the equivalence references. */
  private object Reference {
    /** Full-precision rerank of one query's candidate ids (old
      * `Quantize.rerankRead` over the corpus frame). */
    private def rerank(query: DataFrame, cand: DataFrame, k: Int): DataFrame = {
      val q = broadcast(query.select(col("embedding").as("__q_emb")))
      corpus.join(broadcast(cand.select("vec_id")), Seq("vec_id"), "left_semi")
        .crossJoin(q)
        .select(col("vec_id"),
          round(VectorFunctions.l2Distance(col("embedding"), col("__q_emb")), 4).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(k)
    }

    /** One query's coarse pass: `score(stored code, query code)`,
      * `k·overfetch` best by (score, id). */
    private def coarse(query: DataFrame, code: Column => Column,
                       score: (Column, Column) => Column, n: Int): DataFrame =
      corpus.select(col("vec_id"), code(col("embedding")).as("__c"))
        .crossJoin(broadcast(query.select(code(col("embedding")).as("__qc"))))
        .select(col("vec_id"), score(col("__c"), col("__qc")).as("__s"))
        .orderBy(col("__s"), col("vec_id"))
        .limit(n)

    /** Old `topKQuantized`/`topKBinary`/`topKHalf`: single-query
      * coarse→rerank; per query of `qs`, ranked. */
    def perQuery(qs: DataFrame, k: Int, n: Int, code: Column => Column,
                 score: (Column, Column) => Column): Rows =
      qs.select("qid").collect().map(_.getLong(0)).toSeq.sorted.flatMap { qid =>
        val q = qs.where(col("qid") === qid)
        rerank(q, coarse(q, code, score, n), k).collect().toSeq.zipWithIndex.map { case (r, i) =>
          (qid, r.getLong(0), r.getDouble(1), i + 1L)
        }
      }

    def sq8(qs: DataFrame, mn: Double, mx: Double, k: Int, overfetch: Int): Rows =
      perQuery(qs, k, k * overfetch, Quantize.quantizeExpr(_, mn, mx), Quantize.codeL2Sq)

    def binary(qs: DataFrame, k: Int, overfetch: Int): Rows =
      perQuery(qs, k, k * overfetch, Quantize.binarizeExpr, Quantize.hammingExpr)

    def half(qs: DataFrame, k: Int, overfetch: Int): Rows =
      perQuery(qs, k, k * overfetch,
        v => HalfExpressions.halfDecode(HalfExpressions.halfEncode(v)), VectorExpressions.vecL2Sq)

    /** Old batch rerank + per-query top-k of `(qid, vec_id)` candidates. */
    private def rerankBatch(qs: DataFrame, cand: DataFrame, k: Int): DataFrame = {
      val qEmb = broadcast(qs.select(col("qid").cast("long").as("qid"), col("embedding").as("__qemb")))
      val w2 = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
      corpus.join(broadcast(cand), Seq("vec_id"))
        .join(qEmb, Seq("qid"))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.l2Distance(col("embedding"), col("__qemb")), 4).as("dist"))
        .withColumn("rn", row_number().over(w2))
        .where(col("rn") <= k)
        .select(col("qid"), col("vec_id"), col("dist"), col("rn").cast("long").as("rn"))
    }

    private def topN(scored: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col("__adc"), col("vec_id"))
      scored.withColumn("__rn", row_number().over(w)).where(col("__rn") <= n)
        .select(col("qid"), col("vec_id"))
    }

    /** Old `ProductQuantizer.topK`: plain-PQ ADC over all codes. */
    def pq(qs: DataFrame, model: PQ.Model, k: Int, overfetch: Int): Rows = {
      import spark.implicits._
      val tables = broadcast(qs.select(col("qid").cast("long"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), PQ.queryTable(r.getSeq[Double](1).toArray, model).toSeq))
        .toSeq.toDF("qid", "__qtab"))
      val scored = corpus.select(col("vec_id"), PQ.encodeExpr(col("embedding"), model).as("c"))
        .crossJoin(tables)
        .select(col("qid"), col("vec_id"), PQ.adcScoreExpr(col("c"), col("__qtab"), model.ksub).as("__adc"))
      rows(rerankBatch(qs, topN(scored, k * overfetch), k))
    }

    /** Old `ProductQuantizer.topKIvf`: residual ADC over each query's
      * probed cells. */
    def ivfPq(qs: DataFrame, ivf: IvfIndex.Model, pq: PQ.Model, k: Int, nprobe: Int,
              overfetch: Int): Rows = {
      val cell = IvfIndex.cellOf(col("embedding"), ivf)
      val codes = corpus.select(col("vec_id"), cell.as("cell"),
        PQ.encodeExpr(PQ.residualExpr(col("embedding"), cell, ivf), pq).as("c"))
      val tables = broadcast(qs
        .select(col("qid").cast("long").as("qid"), col("embedding"),
          explode(IvfIndex.cellsOf(col("embedding"), ivf, nprobe)).as("cell"))
        .select(col("qid"), col("cell"),
          PQ.residualTableExpr(col("embedding"), col("cell"), ivf, pq).as("__qtab")))
      val scored = codes.join(tables, Seq("cell"))
        .select(col("qid"), col("vec_id"), PQ.adcScoreExpr(col("c"), col("__qtab"), pq.ksub).as("__adc"))
      rows(rerankBatch(qs, topN(scored, k * overfetch), k))
    }
  }

  private val One = Seq(11L)
  private val Four = Seq(3L, 11L, 58L, 203L)

  test("one-cell SQ8 / binary / half / PQ stores return the flat searches' rows, 1 and 4 queries") {
    val (mn, mx) = Quantize.scalarRange(corpus)
    val pqModel = PQ.train(corpus, m = 8, ksub = 16, iters = 10)
    // (name, codec, the overfetch its query uses, reference at an overfetch)
    val cases: Seq[(String, Codec, Int, (DataFrame, Int) => Rows)] = Seq(
      ("sq8", Codec.Sq8(mn, mx), 4, Reference.sq8(_, mn, mx, k = 5, _)),
      ("binary", Codec.Binary, 4, Reference.binary(_, k = 5, _)),
      ("half", Codec.Half, 4, Reference.half(_, k = 5, _)),
      ("pq", Codec.Pq(pqModel), 8, Reference.pq(_, pqModel, k = 5, _)))
    for ((name, codec, overfetch, reference) <- cases) {
      val path = OneCellStore.write(corpus, codec, name)
      assert(IvfIndex.readStore(spark, path).codec.getClass == codec.getClass, name)
      assert(new java.io.File(path).list().filter(_.startsWith("cell=")).toSeq == Seq("cell=0"))
      // overfetch 1: the answer is the coarse top-k itself, so the coarse
      // score is compared, not only what survives the exact rerank
      for (ids <- Seq(One, Four); of <- Seq(1, overfetch)) {
        val got = rows(IvfIndex.searchIndex(spark, path, queries(ids), k = 5, nprobe = 1,
          metric = "l2", overfetch = of))
        val want = reference(queries(ids), of)
        assert(want.map(_._1).distinct == ids.sorted && want.size == 5 * ids.size, s"$name $want")
        assert(got == want, s"$name ${ids.size} queries, overfetch $of: store $got, reference $want")
      }
    }
  }

  test("the IVF-PQ store returns the old topKIvf rows, 1 and 4 queries") {
    val ivf = IvfIndex.train(corpus, k = 8, iters = 2)
    val pq = PQ.trainResidual(corpus, ivf, m = 8, ksub = 16, iters = 10)
    val path = Files.createTempDirectory("ivfpq_ref").toString
    IvfIndex.writeIndex(corpus, ivf, path, Codec.Pq(pq))
    for (ids <- Seq(One, Four); (nprobe, overfetch) <- Seq(4 -> 8, 8 -> 1000)) {
      val got = rows(IvfIndex.searchIndex(spark, path, queries(ids), k = 5, nprobe = nprobe,
        metric = "l2", overfetch = overfetch))
      val want = Reference.ivfPq(queries(ids), ivf, pq, k = 5, nprobe = nprobe,
        overfetch = overfetch)
      assert(want.size == 5 * ids.size, s"$want")
      assert(got == want, s"${ids.size} queries at nprobe $nprobe: store $got, reference $want")
    }
  }

  /** Calls of the coarse-score kernels outside their callers, as
    * `file:enclosing def:kernel`: a call is allowed inside IvfIndex's
    * `object Codec` block, and `queryTable` inside
    * `ProductQuantizer.residualTableExpr` (the Pq case's query code). */
  private def strayCalls(file: String, src: String): Seq[String] = {
    val code = src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(code).map(m => m.start -> m.group(1)).toSeq
    val codecBlock = """object Codec \{""".r.findFirstMatchIn(code).map { m =>
      var depth = 0; var i = m.end - 1
      do {
        if (code(i) == '{') depth += 1 else if (code(i) == '}') depth -= 1
        i += 1
      } while (depth > 0)
      m.start until i
    }
    """\b(codeL2Sq|hammingExpr|adcScoreExpr|queryTable)\(""".r.findAllMatchIn(code).flatMap { m =>
      val kernel = m.group(1)
      val enclosing = defs.takeWhile(_._1 < m.start).lastOption.fold("<none>")(_._2)
      val definition = code.substring(0, m.start).endsWith("def ")
      val inCodec = file == "IvfIndex.scala" && codecBlock.exists(_.contains(m.start))
      val pqTable = file == "ProductQuantizer.scala" && enclosing == "residualTableExpr" &&
        kernel == "queryTable"
      if (definition || inCodec || pqTable) None else Some(s"$file:$enclosing:$kernel")
    }.toSeq
  }

  test("the coarse-score kernels are called only from IvfIndex's Codec cases") {
    // the deleted flat search's shape is caught
    val old =
      """  def topKQuantized(codes: DataFrame, corpus: DataFrame, query: DataFrame): DataFrame = {
        |    val qc = broadcast(query.select(quantizeExpr(col(embCol), mn, mx).as("__q_codes")))
        |    val cand = codes.crossJoin(qc)
        |      .select(col(idCol), codeL2Sq(col(codeCol), col("__q_codes")).as("qdist"))
        |  }""".stripMargin
    assert(strayCalls("Quantize.scala", old) == Seq("Quantize.scala:topKQuantized:codeL2Sq"))
    val roots = Seq("src/main/scala/graft/operators", "src/main/scala/graft/plans").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the repository root (no ${r.getAbsolutePath})"))
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sources = roots.flatMap(scalaFiles)
      .map(f => f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
    // the guard is not vacuous: every kernel is called in the Codec cases
    val ivf = sources.collect { case ("IvfIndex.scala", s) => s }.mkString
    Seq("codeL2Sq(", "hammingExpr(", "adcScoreExpr(").foreach(k => assert(ivf.contains(k), k))
    val stray = sources.flatMap { case (name, src) => strayCalls(name, src) }
    assert(stray.isEmpty, s"coarse-score kernels called outside IvfIndex.Codec: ${stray.mkString(", ")}")
  }
}
