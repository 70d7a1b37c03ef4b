package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling — the production idiom for
  * reproducible corpus subsets: bucket every row by a hash of its key and
  * keep buckets below the rate cutoff. Unlike `df.sample()` (RNG-seeded,
  * partitioning-sensitive), the same row lands in the same bucket on any
  * engine, any partitioning, any day — which is what makes train/test
  * splits and debugging subsets reproducible at 100 TB.
  *
  * Bucket = first 8 md5 hex digits of (salt ++ key) mod `buckets` — the
  * exact construction is replayable in the DuckDB oracle.
  */
object Sampling {

  /** Bucket in [0, buckets) from md5(salt ++ key) — pure column math.
    * A NULL key hashes as the sentinel string "\u0000null" (one
    * deterministic bucket) rather than propagating NULL: a NULL bucket
    * fails every comparison, so `trainTestSplit`'s two `where`s would
    * both drop the row — silent data loss from a function whose
    * contract is to PARTITION the input. */
  def hashBucket(key: Column, salt: String, buckets: Int = 100): Column =
    pmod(conv(substring(md5(concat(lit(salt),
      coalesce(key.cast("string"), lit("\u0000null")))), 1, 8), 16, 10)
      .cast("long"), lit(buckets))

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * A-Res): each row draws a deterministic uniform u ∈ (0,1) from the
    * salted md5 of its key — (hash32 + 0.5) / 2³², never exactly 0 — and
    * the `n` rows with the largest u^(1/w) win, computed in the
    * log domain as ln(u)/w (same ordering, no underflow at large
    * weights). Probabilities are proportional to weight, the sample is
    * exact-size, and the whole draw is replayable on any engine or
    * partitioning — `df.sample()` can do none of those at once. Plans as
    * one narrow scan + `TakeOrderedAndProject` (per-partition heaps of
    * size n — no corpus shuffle). Rows with weight ≤ 0 or null drop. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String, n: Int,
                     salt: String = "graft-wsample"): DataFrame = {
    require(n >= 1, s"weightedSample: n must be >= 1, got $n")
    val u = (conv(substring(md5(concat(lit(salt), col(keyCol).cast("string"))), 1, 8),
      16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    // round the transcendental key at 10 dp BEFORE ranking: JVM
    // Math.log and DuckDB's libm differ in final ulps, and an unrounded
    // cut at rank n could select different ids across engines when two
    // keys collide within that ulp band — rounded keys tie-break on the
    // id identically everywhere (the registry-wide round-then-rank rule)
    val key = round(log(u) / col(weightCol).cast("double"), 10)
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__wkey", key)
      .orderBy(col("__wkey").desc, col(keyCol))
      .limit(n)
      .drop("__wkey")
  }

  /** Keep ~`percent`% of rows, deterministically by key. */
  def deterministicSample(df: DataFrame, keyCol: String, percent: Int,
                          salt: String = "graft", buckets: Int = 100): DataFrame =
    df.where(hashBucket(col(keyCol), salt, buckets) < percent)

  /** Reproducible train/test split: (train, test) with ~`testPercent`%
    * held out, stable under any repartitioning. */
  def trainTestSplit(df: DataFrame, keyCol: String, testPercent: Int,
                     salt: String = "graft-split"): (DataFrame, DataFrame) = {
    val bucket = hashBucket(col(keyCol), salt)
    (df.where(bucket >= testPercent), df.where(bucket < testPercent))
  }

  /** LEAKAGE-FREE train/test split: near-duplicate documents must land
    * on the same side, or held-out evaluation text leaks into training
    * through a sibling the dedup pass didn't collapse. The split key is
    * therefore the duplicate-CLUSTER representative, not the document:
    * `pairs` (from [[Dedup.minhashLsh]] or any near-dup detector) →
    * connected components → every member follows its component's min-id
    * label through the same md5 hash gate; unclustered docs represent
    * themselves. Adds a `split` column ('train'/'test') — filter, or
    * feed a writer partitioned by it. Cost on top of the pair pass is
    * the components labelling (for a near-dup-sized pair set, two jobs
    * and union-find on the driver; propagation rounds above its bound)
    * + one broadcast-able join (components ≤ docs with a near-dup,
    * usually ≪ corpus). */
  def leakFreeSplit(docs: DataFrame, pairs: DataFrame, testPercent: Int,
                    idCol: String = "doc_id", salt: String = "leak-split"): DataFrame = {
    require(testPercent >= 0 && testPercent <= 100,
      s"leakFreeSplit: testPercent must be in [0, 100], got $testPercent")
    val comp = Dedup.components(pairs).withColumnRenamed("id", idCol)
    docs.join(comp, Seq(idCol), "left")
      .withColumn("__rep", coalesce(col("component"), col(idCol)))
      .withColumn("split",
        when(hashBucket(col("__rep"), salt) < testPercent, lit("test"))
          .otherwise(lit("train")))
      .drop("component", "__rep")
  }

  /** Temperature-flattened domain mixture — the multi-corpus LM mixing
    * rule (exponent-smoothed sampling, as in multilingual-LM training):
    * a domain's weight is count^alpha / Σ count^alpha, so alpha = 1
    * keeps the natural mixture, alpha = 0 equalizes all domains, and
    * 0 < alpha < 1 flattens the head without drowning the tail. The
    * kept fraction overall is ~`targetFrac`; a small domain whose
    * implied rate exceeds 1 is clamped (oversampling needs replication,
    * which a filter cannot do — by design).
    *
    * Shape: one |domains|-row groupBy broadcast back over a narrow
    * scan; the keep decision is the same md5 bucket as every sampler
    * here (basis-point precision), so the subset is deterministic on
    * any engine/partitioning and oracle-replayable. */
  def temperatureSample(df: DataFrame, keyCol: String, strataCol: String,
                        alpha: Double, targetFrac: Double,
                        salt: String = "temp", buckets: Int = 10000): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"temperatureSample: alpha must be in [0, 1], got $alpha")
    require(targetFrac > 0 && targetFrac <= 1,
      s"temperatureSample: targetFrac must be in (0, 1], got $targetFrac")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).cast("double").as("__c"))
    val tot = counts.agg(sum(col("__c")).as("__n"), sum(pow(col("__c"), alpha)).as("__sw"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col(strataCol),
        round(least(lit(1.0),
          lit(targetFrac) * col("__n") * pow(col("__c"), alpha) / (col("__sw") * col("__c")))
          * buckets).cast("long").as("__bp"))
    df.join(broadcast(rates), Seq(strataCol))
      .where(hashBucket(col(keyCol), salt, buckets) < col("__bp"))
      .select(df.columns.map(col): _*)
  }

  /** Stratified (per-stratum rate) sampling — the domain-mixture weighting
    * step of a training-data pipeline: keep ~`rates(stratum)`% of each
    * stratum (`defaultPercent` for unlisted strata), deterministically by
    * key. One narrow filter — the rate lookup is a CASE chain, no join —
    * so re-weighting a 100 TB corpus is a scan. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       rates: Map[String, Int], defaultPercent: Int = 100,
                       salt: String = "strata", buckets: Int = 100): DataFrame = {
    require((rates.values ++ Seq(defaultPercent)).forall(r => r >= 0 && r <= buckets),
      s"stratifiedSample: rates (incl. defaultPercent) must be within [0, $buckets]")
    val rateCol = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPercent)) {
      case (acc, (k, r)) => when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.where(hashBucket(col(keyCol), salt, buckets) < rateCol)
  }
}
