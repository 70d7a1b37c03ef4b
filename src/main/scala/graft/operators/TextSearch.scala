package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Lexical search over the document corpus: BM25 scoring and
  * reciprocal-rank fusion — the keyword complement to [[Knn]]'s vector
  * search (together they form the hybrid retrieval a production document
  * search deployment of the reference would run).
  *
  * Scale design: tokens are filtered to the query's terms BEFORE any
  * aggregation, so the tf shuffle carries only query-term hits (a
  * |terms|-way semi-join against a broadcast literal set, not a corpus
  * explode-shuffle); document length is row-local (`wsTokenCount`);
  * N/avgdl are one scalar aggregate; df and the final per-doc score
  * aggregate over query-term rows only. Nothing corpus-sized moves.
  */
object TextSearch {

  /** BM25 scores for `terms` over the corpus; returns one row per
    * document containing at least one term: (idCol, score). Standard
    * Robertson/Sparck-Jones parameters k1/b; idf = ln(1 + (N-df+0.5)/(df+0.5)).
    * Deterministic: score rounded to `scale` so downstream rank ties
    * break on id. */
  def bm25(docs: DataFrame, terms: Seq[String],
           idCol: String = "doc_id", textCol: String = "text",
           k1: Double = 1.2, b: Double = 0.75, scale: Int = 4): DataFrame = {
    require(terms.nonEmpty, "bm25: need at least one query term")
    val lens = docs.select(col(idCol),
      TextFunctions.wsTokenCount(col(textCol)).cast("double").as("__len"))
    val stats = lens.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("__len")).as("__avgdl"))
    val hits = docs
      .select(col(idCol),
        explode(split(TextFunctions.canonicalText(col(textCol)), " ")).as("__t"))
      .where(col("__t").isin(terms: _*))          // broadcast literal pruning
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).cast("double").as("__tf"))
    bm25Score(hits, stats, idCol, k1, b, scale, Some(lens))
  }

  /** The BM25 tail over query-term hits `(idCol, __t, __tf, __len)` and
    * the 1-row corpus stats `(__n, __avgdl)`: df per term as a window
    * count over the hits (one hit row per (doc, term)), then
    * Σ idf · saturated tf per doc, rounded to `scale`. The window reads
    * the hits frame itself: a separate df aggregate joined back is
    * planned as a second explode of the corpus. Corpus-pass hits carry
    * no `__len`: `lens` joins it on AFTER the df window, so the per-doc
    * length is computed once per doc (a length computed beside the
    * token explode runs once per hit). */
  private def bm25Score(hits: DataFrame, stats: DataFrame, idCol: String,
                        k1: Double, b: Double, scale: Int,
                        lens: Option[DataFrame] = None): DataFrame = {
    val withDf = hits.withColumn("__df",
      count(lit(1)).over(Window.partitionBy(col("__t"))).cast("double"))
    lens.fold(withDf)(withDf.join(_, idCol))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)) *
          (col("__tf") * (k1 + 1)) /
          (col("__tf") + (lit(1 - b) + col("__len") * b / col("__avgdl")) * k1)).as("__s"))
      .groupBy(col(idCol)).agg(round(sum(col("__s")), scale).as("score"))
  }

  /** Persist the BM25 index: postings `(doc, term, tf, len)` written
    * `bucketBy(term)` (doc length DENORMALIZED onto each posting, so
    * scoring needs no corpus-sized lengths join), plus a 1-row
    * `(N, avgdl)` stats sidecar. The corpus-token-sized tf shuffle is
    * paid ONCE here instead of per query; [[bm25FromIndex]] then reads
    * only the query terms' buckets. Rebuild on corpus change (stats and
    * df drift slowly — the standard search-index maintenance trade). */
  def writeBm25Index(docs: DataFrame, table: String, path: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     numBuckets: Int = 16): Unit = {
    require(numBuckets >= 1, s"writeBm25Index: numBuckets must be >= 1, got $numBuckets")
    val lens = docs.select(col(idCol),
      TextFunctions.wsTokenCount(col(textCol)).cast("double").as("__len"))
    lens.agg(count(lit(1)).cast("double").as("__n"), avg(col("__len")).as("__avgdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    docs
      .select(col(idCol),
        explode(split(TextFunctions.canonicalText(col(textCol)), " ")).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).cast("double").as("__tf"))
      .join(lens, idCol)
      .write.mode("overwrite")
      .bucketBy(numBuckets, "__t").sortBy("__t")
      .format("parquet").option("path", s"$path/postings")
      .saveAsTable(table)
  }

  /** BM25 against the PERSISTED index — score-identical to [[bm25]] on
    * the indexed corpus, but the per-query cost is the query terms'
    * buckets only: the literal `isin` prunes at the BUCKET level (Spark
    * bucket pruning on In over the bucketBy column — plan-asserted in
    * spec), df/score aggregate over those pruned rows, and the stats
    * sidecar is one tiny broadcast. Nothing corpus-sized is read or
    * shuffled at query time. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                    path: String, terms: Seq[String],
                    idCol: String = "doc_id",
                    k1: Double = 1.2, b: Double = 0.75, scale: Int = 4): DataFrame = {
    require(terms.nonEmpty, "bm25FromIndex: need at least one query term")
    bm25Score(spark.table(table).where(col("__t").isin(terms: _*)),
      spark.read.parquet(s"$path/stats"), idCol, k1, b, scale)
  }

  /** Reciprocal-rank fusion of N ranked result lists (BM25 + dense, or
    * the three-retriever BM25 + dense + learned-sparse stack):
    * rrf(d) = Σᵢ 1/(k + rankᵢ(d)) over every list containing d (standard
    * k = 60). Inputs are (idCol, scoreCol) frames; ranks are dense by
    * (score desc, id) so the fusion is deterministic.
    *
    * Each list is truncated to its top `topN` BEFORE ranking — the
    * truncation plans as `TakeOrderedAndProject` (per-partition heaps)
    * and the ranking window then runs over `topN` rows, so no
    * corpus-sized total order ever lands on one partition. Ranks of
    * retained docs equal their global ranks (a limit under the same
    * ordering keeps the prefix); a doc outside a list's top-N simply
    * contributes nothing from that list, which is the standard top-k
    * fusion contract — consumers read at most the fused top-(topN/6),
    * below which a beyond-topN rank cannot alter the order. Lists fold
    * through full-outer joins on the id — N is retriever count, a small
    * constant, so the join chain is N−1 joins of ≤ topN-row frames. */
  def rrfFuseN(lists: Seq[(DataFrame, String)], idCol: String,
               k: Int = 60, topN: Int = 1000, scale: Int = 6): DataFrame = {
    require(lists.size >= 2, s"rrfFuseN: need >= 2 lists, got ${lists.size}")
    def ranked(df: DataFrame, scoreCol: String, out: String): DataFrame =
      df.select(col(idCol), col(scoreCol))
        .orderBy(col(scoreCol).desc, col(idCol)).limit(topN)
        // the global Window.orderBy below emits Spark's moving-all-data-
        // to-one-partition warning on every run — EXPECTED and bounded:
        // its input is the ≤ topN rows the limit above already reduced,
        // not the corpus
        .withColumn(out, row_number().over(
          Window.orderBy(col(scoreCol).desc, col(idCol))).cast("double"))
        .select(col(idCol), col(out))
    val rankCols = lists.indices.map(i => s"__r$i")
    val joined = lists.zip(rankCols).map { case ((df, sc), out) => ranked(df, sc, out) }
      .reduce((l, r) => l.join(r, Seq(idCol), "full_outer"))
    joined.select(col(idCol),
      round(rankCols.map(c => coalesce(lit(1.0) / (lit(k) + col(c)), lit(0.0)))
        .reduce(_ + _), scale).as("rrf"))
  }
}
