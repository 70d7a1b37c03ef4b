package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter join pruning — the large×selective-small join idiom at
  * 100 TB: build a Bloom filter over the small side's join keys
  * (distributed partial aggregation; only the final filter bytes reach
  * the driver), then pre-filter the large side with `might_contain`
  * BEFORE its shuffle. The fact-table rows that can't match never enter
  * the exchange, which is where the cost lives; the follow-up equi-join
  * removes the Bloom false positives, so results are exactly the plain
  * join's.
  *
  * This is the same machinery Spark's AQE runtime filters inject
  * (BloomFilterAggregate / BloomFilterMightContain), exposed as an
  * explicit operator: explicit beats injected when the small side is an
  * arbitrary pre-computed DataFrame (dedup survivors, a sampled id list)
  * that the optimizer's creation-side heuristics would not pick up.
  *
  * WHEN TO USE — measured regime boundaries (local[8]):
  *  - Broadcastable filter side → use a plain join; Spark broadcasts and
  *    there is no exchange to prune (measured: plain anti 0.37 s vs
  *    bloomed 0.72 s on a 500-row side).
  *  - Shuffle regime on a LOCAL / memory-speed exchange → pruning still
  *    loses (12M×2M probe: pruned 3.1 s vs plain 1.1 s): 12M random
  *    probes into a ~2 MB filter are memory-latency bound, while a local
  *    shuffle moves the same rows at memory bandwidth. The same
  *    asymmetry is why Spark's own runtime filters gate on estimated
  *    exchange sizes before injecting.
  *  - The win case is a NETWORK-bound exchange of wide fact rows against
  *    a non-broadcastable filter side — bytes-not-moved beat the probe
  *    cost by the network/memory price ratio (10–100×). That is the
  *    100 TB deployment target; the local bench can only demonstrate
  *    semantics, and the oracle gates do exactly that.
  */
object BloomJoin {

  private def xxh(key: Column) =
    new XxHash64(Seq(ColumnBridge.expression(key)))

  /** XxHash64 is TYPE-sensitive: hashing an int and a bigint of the same
    * value gives different bits, so a build/probe type mismatch would
    * silently prune true matches (the plain join would coerce and
    * match). Refuse it up front — the caller casts to a common type. */
  private def requireSameKeyType(large: DataFrame, small: DataFrame,
                                 key: String, op: String): Unit = {
    val lt = large.schema(key).dataType
    val st = small.schema(key).dataType
    require(lt == st,
      s"$op: join key '$key' is ${lt.simpleString} on the large side but ${st.simpleString} " +
        "on the small side — XxHash64 hashes are type-sensitive and the Bloom filter would " +
        "silently drop true matches; cast both key columns to a common type first")
  }

  /** Aggregate `df`'s key column into Bloom filter bytes. Distributed:
    * each partition builds a partial filter, partials OR-merge up the
    * tree; the driver receives only `numBits/8` bytes. Returns null on an
    * empty input. */
  def buildBloom(df: DataFrame, key: Column, expectedItems: Long,
                 fpp: Double = 0.03): Array[Byte] = {
    require(expectedItems > 0, s"buildBloom: expectedItems must be > 0, got $expectedItems")
    // BloomFilterAggregate's analysis check caps its inputs at the
    // session confs spark.sql.optimizer.runtime.bloomFilter.maxNumItems
    // (default 4194304) / .maxNumBits (default 67108864). Surface the
    // items cap as a clear error (exceeding it would fail analysis with
    // an opaque message); clamp bits — an undersized filter only raises
    // fpp, never correctness, because the follow-up join verifies.
    val conf = df.sparkSession.conf
    val maxItems = conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4194304").toLong
    val maxBits = conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedItems <= maxItems,
      s"buildBloom: expectedItems=$expectedItems exceeds " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems; " +
        "raise the conf for very large filter sides")
    val numBits = math.min(BloomFilter.optimalNumOfBits(expectedItems, fpp), maxBits)
    val agg = new BloomFilterAggregate(xxh(key),
      Literal(expectedItems), Literal(numBits))
    val row = df.select(ColumnBridge.column(agg.toAggregateExpression()).as("bf")).head()
    if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
  }

  /** Predicate: key might be in the serialized Bloom filter (codegen'd —
    * BloomFilterMightContain has doGenCode). */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(Literal(bloom, BinaryType), xxh(key)))

  /** Equi-join `large ⋈ small` on `key`, with the large side Bloom-pruned
    * before its shuffle. Restricted to join types where dropping
    * non-matching large rows early is semantics-preserving (inner/semi —
    * an outer join must keep them). `expectedItems` sizes the filter;
    * oversizing only costs bits (fpp stays ≤ target), undersizing only
    * raises fpp (correctness is unaffected — the join verifies). */
  def prunedJoin(large: DataFrame, small: DataFrame, key: String,
                 expectedItems: Long, joinType: String = "inner",
                 fpp: Double = 0.03): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi",
      s"prunedJoin: only inner/left_semi preserve semantics under pruning, got $joinType")
    requireSameKeyType(large, small, key, "prunedJoin")
    val bloom = buildBloom(small, col(key), expectedItems, fpp)
    val pruned =
      if (bloom == null) large.where(lit(false)) // empty small side: inner/semi result is empty
      else large.where(mightContain(bloom, col(key)))
    pruned.join(small, Seq(key), joinType)
  }

  /** Bloom-pruned ANTI join — the incremental-dedup idiom (this crawl's
    * documents minus the already-ingested corpus). Bloom filters have no
    * false negatives, so a row whose key the filter does NOT contain is a
    * DEFINITE keep and never enters the shuffle; only the "might match"
    * rows (true matches + fpp false positives) reach the real anti-join.
    * At a typical new-vs-seen overlap the exchange shrinks to a sliver of
    * the large side. NULL-key rows survive either way, matching plain
    * anti-join semantics: XxHash64 hashes a NULL key to its seed, so the
    * row lands in "definite keep" or — if that hash collides into the
    * filter — in "maybe", where the NULL key matches nothing and the
    * anti-join keeps it. */
  def prunedAntiJoin(large: DataFrame, small: DataFrame, key: String,
                     expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    requireSameKeyType(large, small, key, "prunedAntiJoin")
    val bloom = buildBloom(small, col(key), expectedItems, fpp)
    if (bloom == null) large // empty small side: everything survives
    else {
      val mc = mightContain(bloom, col(key))
      large.where(!mc)
        .unionAll(large.where(mc).join(small, Seq(key), "left_anti"))
    }
  }
}
