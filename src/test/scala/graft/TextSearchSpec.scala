package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextSearch}

class TextSearchSpec extends SparkSpec {

  test("bm25: hand-checked score on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog cat"), (2L, "dog"), (3L, "fish")).toDF("doc_id", "text")
    val got = TextSearch.bm25(docs, Seq("cat"), k1 = 1.2, b = 0.75)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // only doc 1 contains 'cat': idf = ln(1 + (3-1+0.5)/1.5), tf = 2,
    // len = 3, avgdl = 5/3
    val idf = math.log(1 + 2.5 / 1.5)
    val expect = idf * (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / (5.0 / 3)))
    assert(got.keySet == Set(1L))
    assert(math.abs(got(1L) - BigDecimal(expect).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("bm25 ranks an on-topic doc above a longer diluted one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark engine"),
      (2L, "spark " + ("filler " * 50).trim),
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    val scores = TextSearch.bm25(docs, Seq("spark"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(scores(1L) > scores(2L))
    assert(!scores.contains(3L))
  }

  test("rrf fusion: hand-checked reciprocal ranks, full-outer semantics") {
    import spark.implicits._
    val a = Seq((10L, 5.0), (11L, 3.0)).toDF("id", "sa")   // ranks: 10→1, 11→2
    val b = Seq((11L, 9.0), (12L, 1.0)).toDF("id", "sb")   // ranks: 11→1, 12→2
    val got = TextSearch.rrfFuseN(Seq((a, "sa"), (b, "sb")), "id", k = 60)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) == r6(1.0 / 61))
    assert(got(11L) == r6(1.0 / 62 + 1.0 / 61))
    assert(got(12L) == r6(1.0 / 62))
  }

  test("persisted bm25 index: score-identical to the corpus pass, bucket-pruned reads") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toString
    try {
      val docs = Tables.documents(spark, sfDir)
      TextSearch.writeBm25Index(docs, "t_bm25_idx", s"$tmp/idx", numBuckets = 4)
      val terms = Seq("spark", "table", "scan")
      val fromIndex = TextSearch.bm25FromIndex(spark, "t_bm25_idx", s"$tmp/idx", terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val direct = TextSearch.bm25(docs, terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(fromIndex == direct, s"index=${fromIndex.size} direct=${direct.size}")

      // the postings scan reads only the query terms' buckets
      val plan = TextSearch.bm25FromIndex(spark, "t_bm25_idx", s"$tmp/idx", Seq("spark"))
        .queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.exists(x => x.group(1).toInt < x.group(2).toInt),
        "expected bucket pruning in:\n" + plan.take(2000))
    } finally spark.sql("DROP TABLE IF EXISTS t_bm25_idx")
  }

  test("bm25 scans the corpus at most three times: hits, lengths, stats") {
    var rows = 0
    val n = fileScans(s"$sfDir/documents.parquet") {
      rows = TextSearch.bm25(Tables.documents(spark, sfDir), Seq("spark", "table", "scan"))
        .collect().length
    }
    assert(rows > 0)
    assert(n <= 3, s"documents scanned $n times")
  }

  test("contamination finds a planted test/train near-dup and respects the df cap") {
    import spark.implicits._
    val train = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // plant: a test doc that IS train doc 3 (overlap 1.0)
    val test = train.where(col("doc_id") === 3)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    val hits = Dedup.crossContamination(test, train, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists(h => h._1 == 900003L && h._2 == 3L && h._3 == 1.0), hits.mkString(","))
    // dfCap = 0 drops every shingle → no hits, bounded output
    assert(Dedup.crossContamination(test, train, threshold = 0.1, dfCap = 0).count() == 0)
  }

  /** The removed two-list `TextSearch.rrfFuse`, kept as the reference
    * the N-way fusion must reproduce. */
  private def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
                      scoreColA: String, scoreColB: String,
                      k: Int = 60, topN: Int = 1000, scale: Int = 6): DataFrame = {
    def ranked(df: DataFrame, scoreCol: String, out: String): DataFrame =
      df.select(col(idCol), col(scoreCol))
        .orderBy(col(scoreCol).desc, col(idCol)).limit(topN)
        .withColumn(out, row_number().over(
          Window.orderBy(col(scoreCol).desc, col(idCol))).cast("double"))
        .select(col(idCol), col(out))
    val ra = ranked(a, scoreColA, "__ra")
    val rb = ranked(b, scoreColB, "__rb")
    ra.join(rb, Seq(idCol), "full_outer")
      .select(col(idCol),
        round(coalesce(lit(1.0) / (lit(k) + col("__ra")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(k) + col("__rb")), lit(0.0)), scale).as("rrf"))
  }

  test("rrfFuseN: two lists reproduce rrfFuse exactly; third list shifts the fusion") {
    import spark.implicits._
    val a = Seq((1L, 9.0), (2L, 7.0), (3L, 5.0)).toDF("doc_id", "sa")
    val b = Seq((2L, 4.0), (3L, 6.0), (4L, 2.0)).toDF("doc_id", "sb")
    val c = Seq((4L, 1.0), (1L, 0.5)).toDF("doc_id", "sc")
    val two = rrfFuse(a, b, "doc_id", "sa", "sb")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val twoN = TextSearch.rrfFuseN(Seq((a, "sa"), (b, "sb")), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(two == twoN && two.nonEmpty)
    val three = TextSearch.rrfFuseN(Seq((a, "sa"), (b, "sb"), (c, "sc")), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 4: rank 3 in b, rank 1 in c -> 1/63 + 1/61
    val expect4 = BigDecimal(1.0 / 63 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(three(4L) == expect4, s"doc 4: ${three(4L)} != $expect4")
    // docs present in a third list strictly gain over the 2-way fusion
    assert(three(1L) > two(1L) && three(4L) > two(4L))
    assert(three(2L) == two(2L), "doc absent from the third list is unchanged")
  }
}
