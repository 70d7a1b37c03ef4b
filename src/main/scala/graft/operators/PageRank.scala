package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — link-graph centrality, the web-scale
  * curation signal (rank domains/documents by citation structure before
  * sampling a training corpus).
  *
  * Classic damped power iteration with dangling-mass redistribution
  * (Page et al. 1999), with one twist that matters for a distributed
  * engine: all arithmetic is FIXED-POINT INTEGER (ranks in units of
  * 1/`unit`). Floating-point PageRank is not reproducible across
  * engines or even partitionings — float addition isn't associative, so
  * a groupBy sum's value depends on merge order. Integer sums are exact
  * and order-independent, and integer division is deterministic, so
  * every iteration — and therefore the final ranking — replays
  * bit-for-bit anywhere, including the DuckDB oracle (chained CTEs, one
  * per iteration). Quantization error is ≤ outdeg units per node per
  * iteration (floor division), i.e. ~1e-9 relative at the default unit —
  * noise for ranking, determinism for gating.
  *
  * Update rule (all `div` = floor division, every term a long):
  * {{{
  *   r'(v) = (15·unit) div (100·N)
  *         + (85 · (Σ_{u→v} r(u) div outdeg(u)  +  dangling div N)) div 100
  * }}}
  * where `dangling = Σ r(u)` over nodes with no out-edges.
  *
  * Scale shape per iteration: one hash join rank→edges (edges
  * partitioned by src; rank is |V|-sized), one map-side-combined groupBy
  * on dst, and a 1-row dangling aggregate broadcast back — no driver
  * action inside the loop. Iterations are a fixed small count (the
  * curation use wants a stable ordering, not convergence proofs). */
object PageRank {

  /** Ranks after `iters` iterations: `(node, r)` with r in 1/`unit`s.
    * `edges` rows are (srcCol, dstCol) long pairs; duplicates are
    * collapsed (simple directed graph). One driver-side `count()` fixes
    * N up front (a scalar, like `Quantize.scalarRange`). */
  def ranks(edges: DataFrame, iters: Int,
            srcCol: String = "src", dstCol: String = "dst",
            unit: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"PageRank: iters must be >= 1, got $iters")
    // edge/node/degree frames feed every iteration — materialize once
    // (localCheckpoint, the same convention as the components loop in
    // Dedup); left lazy, iteration i would re-derive them i times.
    // Edges are hash-partitioned by src BEFORE the checkpoint, and
    // distinct() after repartition(src) adds no exchange (hash(src)
    // co-locates equal (src, dst) rows). Under adaptive execution the
    // checkpointed frame reads back as UnknownPartitioning, so the
    // out-degree aggregate and a shuffled contribution join exchange the
    // edge list on src again; the checkpoint saves recomputing the
    // edges, not that exchange.
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .repartition(col("src"))
      .distinct().localCheckpoint(true)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // node set tagged ONCE with has_out AND the out-degree; the rank
    // vector carries both through iterations, so the dangling mass is a
    // plain filtered aggregate and the contribution join needs no
    // per-iteration outdeg join. (The node build's hash(node)
    // partitioning is not kept by the checkpoint under adaptive
    // execution either.)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .join(outdeg.select(col("src").as("node"), col("deg")), Seq("node"), "left")
      .select(col("node"), col("deg"), col("deg").isNotNull.as("has_out"))
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "PageRank: empty graph")
    val base = (15L * unit) / (100L * n)
    var r = nodes.select(col("node"), col("has_out"), col("deg"), lit(unit / n).as("r"))
    var it = 0
    while (it < iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .select(col("dst").as("node"), expr("r div deg").as("c"))
      val inflow = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      val dangling = broadcast(
        r.agg(coalesce(sum(when(!col("has_out"), col("r"))), lit(0L)).as("d")))
      // each iteration reads r TWICE (contrib + dangling); checkpointing
      // the new rank vector keeps every iteration's work linear instead
      // of re-executing the whole prefix 2^i times
      r = nodes.join(inflow, Seq("node"), "left")
        .crossJoin(dangling)
        .select(col("node"), col("has_out"), col("deg"),
          (lit(base) + expr(s"(85 * (coalesce(s, 0) + (d div $n))) div 100")).as("r"))
        .localCheckpoint(true)
      it += 1
    }
    r.select(col("node"), col("r"))
  }
}
