package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Corpus-curation operators for large-scale training-data pipelines:
  * cross-document boilerplate detection (headers/footers/license blurbs
  * repeated across the crawl), per-domain quota capping (no single site
  * dominates the mixture), and the deterministic global shuffle that
  * fixes example order for reproducible training runs.
  *
  * Scale design notes:
  *  - Boilerplate n-grams: one shuffle (ngram → doc-frequency count with
  *    map-side partial agg). The frequent set is bounded by construction —
  *    an n-gram needs df ≥ minDf, so there are at most
  *    total_ngrams / minDf of them — which is what makes the broadcast
  *    in [[boilerplateRatio]] safe at any corpus size (raise minDf with
  *    corpus size; it's a count threshold, not a rate).
  *  - Domain caps: rank-within-group ≤ quota compiles to WindowGroupLimit,
  *    i.e. a bounded per-partition heap BEFORE the shuffle (the plan
  *    shape of batch KNN) — no domain's full listing is
  *    ever materialized on one node.
  *  - Corpus shuffle: a total sort by a salted content-independent hash.
  *    Spark executes it as range-partitioned sort (sampled boundaries), so
  *    it scales out; the salt makes distinct epochs reproducible.
  */
object Curation {

  /** Word n-grams present in at least `minDfFrac` of the corpus's
    * documents — the cross-document boilerplate vocabulary. The threshold
    * is a RATE (ceil(frac × corpus size), computed by a 1-row broadcast
    * agg), not an absolute count, so the operator behaves identically at
    * sf0.01 and 100 TB. `wordShingles` is per-document distinct, so
    * `count(*)` IS document frequency. */
  def boilerplateNgrams(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 2,
                        minDfFrac: Double = 0.06): DataFrame = {
    require(minDfFrac > 0 && minDfFrac <= 1,
      s"boilerplateNgrams: minDfFrac must be in (0, 1], got $minDfFrac")
    val thresh = docs.agg(
      ceil(lit(minDfFrac) * count(lit(1))).cast("long").as("__min"))
    docs.select(explode(wordShingles(col(textCol), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).cast("long").as("df"))
      .crossJoin(broadcast(thresh))
      .where(col("df") >= col("__min"))
      .drop("__min")
  }

  /** Per-document boilerplate ratio: the fraction of a document's
    * n-grams that belong to the corpus boilerplate vocabulary. The
    * boilerplate side is broadcast (bounded set, see scale notes). */
  def boilerplateRatio(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 2,
                       minDfFrac: Double = 0.06, scale: Int = 4): DataFrame = {
    val bp = boilerplateNgrams(docs, idCol, textCol, n, minDfFrac)
      .select(col("ngram"), lit(1L).as("__bp"))
    docs.select(col(idCol), explode(wordShingles(col(textCol), n)).as("ngram"))
      .join(broadcast(bp), Seq("ngram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_ngrams"),
           sum(coalesce(col("__bp"), lit(0L))).cast("long").as("n_boiler"))
      .select(col(idCol), col("n_ngrams"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_ngrams"), scale).as("bp_ratio"))
  }

  /** Drop documents whose boilerplate ratio exceeds `maxRatio` — the
    * curation filter built on [[boilerplateRatio]]. */
  def filterBoilerplate(docs: DataFrame, maxRatio: Double,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 2, minDfFrac: Double = 0.06): DataFrame = {
    val keep = boilerplateRatio(docs, idCol, textCol, n, minDfFrac)
      .where(col("bp_ratio") <= maxRatio)
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Keep at most `quota` rows per group (deterministically the lowest
    * `orderCol` values) — the per-domain cap of a crawl-mixture pipeline.
    * rank ≤ k rewrites to WindowGroupLimit: bounded per-partition heaps
    * before the single shuffle. */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
                  quota: Int): DataFrame = {
    require(quota >= 1, s"capPerGroup: quota must be >= 1, got $quota")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quota)
      .drop("__rn")
  }

  /** Salted shuffle key: md5(salt ‖ key) — content-independent, stable
    * across engines/partitionings, distinct per salt (= training epoch). */
  def shuffleKey(key: Column, salt: String): Column =
    md5(concat(lit(salt), key.cast("string")))

  /** Deterministic global shuffle: total order by the salted hash (ties
    * broken by the key itself, so the order is unique). Executed as a
    * range-partitioned sort — no single-node bottleneck. */
  def deterministicShuffle(df: DataFrame, keyCol: String,
                           salt: String = "epoch0"): DataFrame =
    df.withColumn("shuffle_key", shuffleKey(col(keyCol), salt))
      .orderBy(col("shuffle_key"), col(keyCol))

  /** Exact continuous quantile (numpy-linear / SQL `percentile_cont`
    * semantics: position h = (n−1)·p, interpolated) of a numeric column
    * whose value DOMAIN is bounded — e.g. a quality score rounded to one
    * decimal (≤ 11 values) or any score bucketized upstream. The
    * full-corpus pass is a `groupBy(value).count()` histogram: map-side
    * partial aggregation, shuffle of ≤ |domain| rows, nothing
    * data-sized ever sits in one aggregation buffer (Spark's exact
    * `percentile` materializes EVERY value in a single buffer — a
    * guaranteed OOM at corpus scale). The interpolation walk runs on the
    * collected histogram: |domain| rows on the driver, by contract.
    * For genuinely continuous columns use `approx_percentile` instead —
    * this helper's exactness comes from the bounded domain. */
  def exactQuantileBounded(df: DataFrame, valueCol: String, p: Double,
                           maxDomain: Int = 100000): Double = {
    require(p >= 0 && p <= 1, s"exactQuantileBounded: p must be in [0, 1], got $p")
    // nulls are ignored, matching percentile/percentile_cont semantics
    val grouped = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    // fail fast on a genuinely continuous column: the bounded-domain
    // contract used to live only in this doc comment, so a caller who
    // missed it silently collected a data-sized histogram onto the
    // driver. The limit bounds the collect itself — the driver never
    // holds more than maxDomain+1 rows even when the contract is broken,
    // and the check shares the histogram's single job instead of paying
    // a separate counting pass over the aggregation.
    val hist = grouped
      .orderBy(col("__v")).limit(maxDomain + 1)
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    require(hist.length <= maxDomain,
      s"exactQuantileBounded: '$valueCol' has more than $maxDomain distinct values — " +
        "this helper's exactness contract requires a bounded domain (bucketize the " +
        "column upstream, raise maxDomain, or use approx_percentile)")
    val n = hist.map(_._2).sum
    require(n > 0, "exactQuantileBounded: empty input")
    val h = (n - 1) * p
    val loRank = math.floor(h).toLong // 0-based rank of the lower neighbor
    def valueAt(rank: Long): Double = {
      var cum = 0L
      for ((v, c) <- hist) { cum += c; if (cum > rank) return v }
      hist.last._1
    }
    val lo = valueAt(loRank)
    val frac = h - loRank
    if (frac == 0) lo else lo + frac * (valueAt(loRank + 1) - lo)
  }

  /** A named curation stage: docs in → surviving docs out. */
  final case class Stage(name: String, f: DataFrame => DataFrame)

  /** Run a curation chain and report the per-stage YIELD MANIFEST — the
    * (stage, rows_in, rows_out) accounting every production corpus run
    * publishes. Returns (final corpus, manifest).
    *
    * Each stage boundary is counted, so the chain costs one counting pass
    * per stage on top of the transforms; intermediates are
    * localCheckpoint'd both to stop lineage growth across many stages and
    * so each counted frame is computed once (count + next stage reuse).
    * The manifest itself is driver-built from those scalar counts. */
  def runPipeline(docs: DataFrame, stages: Seq[Stage]): (DataFrame, DataFrame) = {
    require(stages.nonEmpty, "runPipeline: need at least one stage")
    val spark = docs.sparkSession
    var cur = docs.localCheckpoint(true)
    val rows = Seq.newBuilder[(Long, String, Long, Long)]
    var curCount = cur.count()
    stages.zipWithIndex.foreach { case (st, i) =>
      val next = st.f(cur).localCheckpoint(true)
      val nextCount = next.count()
      rows += ((i.toLong, st.name, curCount, nextCount))
      cur = next
      curCount = nextCount
    }
    import spark.implicits._
    (cur, rows.result().toDF("stage_idx", "stage", "rows_in", "rows_out"))
  }
}
