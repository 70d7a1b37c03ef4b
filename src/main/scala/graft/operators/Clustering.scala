package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Density-based clustering (DBSCAN — Ester et al. 1996) over an
  * embedding corpus: the density-proper complement to the
  * similarity-threshold dedup family, for the curation jobs a flat
  * threshold can't express (topic islands of varying density, noise
  * carve-out before domain mixing, cluster-aware subsampling).
  *
  * Distributed shape: DBSCAN is eps-neighborhood pair generation +
  * per-point degree counting + connected components over core-core
  * edges — all three already have scale-correct idioms in this repo, so
  * the operator composes them instead of inventing a traversal:
  *
  *  - pair generation is CELL-BLOCKED via a trained [[IvfIndex]] coarse
  *    quantizer ([[epsNeighbors]]): assigned side lands in its one
  *    nearest cell, probe side fans out to `nprobe` cells, the match is
  *    a shuffle hash join on the integer cell id — never all-pairs. At
  *    `nprobe = model.k` every pair meets, so the full-probe setting IS
  *    the exhaustive answer (spec-pinned) — the oracle/verification
  *    path, documented as such; production uses partial probe and
  *    inherits IVF recall semantics like every blocked generator here.
  *  - degrees are one groupBy over the (bounded) eps-pair list;
  *  - clusters are [[Dedup.components]] over CORE-CORE edges only
  *    (union-find on the driver for an edge list within its bound,
  *    min-label propagation above it) — the paper's
  *    density-connectivity restricted to cores, which border points
  *    never bridge.
  *
  * Everything is deterministic: distances round to `scale` BEFORE the
  * eps compare (the oracle-parity convention of [[Dedup.embeddingNearDup]]),
  * cluster labels are component-minimum core ids, and border points
  * adopt the MINIMUM cluster label among their core neighbors — the
  * deterministic stand-in for classic DBSCAN's visit-order dependence
  * (the only nondeterminism the original algorithm has).
  */
object Clustering {

  /** Eps-neighbor pairs `(id1 < id2, d)` in rounded cosine distance,
    * cell-blocked by `model`. At partial probe BOTH orientations are
    * probed (a pair meets when EITHER endpoint probes the other's cell)
    * and canonicalized, so recall is the union of the two chances. At
    * FULL probe (`nprobe >= model.k`) every pair meets from either
    * side, so only the `pid < aid` orientation is scored — half the
    * distance kernels for the identical exhaustive answer. */
  def epsNeighbors(emb: DataFrame, eps: Double, model: IvfIndex.Model, nprobe: Int,
                   idCol: String = "vec_id", embCol: String = "embedding",
                   scale: Int = 4): DataFrame = {
    val probes = emb.select(col(idCol).as("__pid"), col(embCol).as("__pe"),
      explode(IvfIndex.cellsOf(col(embCol), model, nprobe)).as("cell"))
    val assigned = emb.select(col(idCol).as("__aid"), col(embCol).as("__ae"),
      IvfIndex.cellOf(col(embCol), model).as("cell"))
    val met = probes.join(assigned, Seq("cell"))
    val oriented =
      if (nprobe >= model.k) met.where(col("__pid") < col("__aid"))
      else met.where(col("__pid") =!= col("__aid"))
    val scored = oriented
      .select(least(col("__pid"), col("__aid")).as("id1"),
        greatest(col("__pid"), col("__aid")).as("id2"),
        round(lit(1.0) - VectorFunctions.cosineSimilarity(col("__pe"), col("__ae")), scale)
          .as("d"))
      .where(col("d") <= eps)
    // at FULL probe each unordered pair meets exactly once (the probe
    // side fans out to every cell, the assigned side sits in exactly
    // one, and the pid < aid orientation keeps one row) — the dedup
    // shuffle would be a no-op, so skip it; partial probe can meet a
    // pair from both orientations and keeps the distinct
    if (nprobe >= model.k) scored else scored.distinct()
  }

  /** DBSCAN labels from a precomputed eps-pair list (canonical
    * `id1 < id2`, distinct — the [[epsNeighbors]] contract; pluggable so
    * oracle-scale exhaustive pairs and corpus-scale blocked pairs run
    * the identical labeling). Neighborhood size counts the point itself,
    * per the paper. Returns one row per `points` row:
    * `(idCol, cluster, role)` with `role ∈ core|border|noise` and
    * `cluster = -1` for noise. */
  def dbscanFromPairs(points: DataFrame, pairs: DataFrame, minPts: Int,
                      idCol: String = "vec_id"): DataFrame = {
    // Three consumers read the pair list (degrees, core-core edges,
    // border assignment); without materialization the pair GENERATION —
    // the corpus-sized scored scan — would run three times. The list
    // itself is eps-bounded (output-sized), so an eager localCheckpoint
    // is cheap and truncates the re-execution (the Dedup.components
    // convention; swap to .checkpoint() where executor loss matters).
    val p = pairs.localCheckpoint(true)
    val sym = p.select(col("id1").as("a"), col("id2").as("b"))
      .unionAll(p.select(col("id2").as("a"), col("id1").as("b")))
    val cores = sym.groupBy(col("a"))
      .agg((count(lit(1)) + 1).as("__n"))
      .where(col("__n") >= minPts)
      .select(col("a").as("id"))
    // density-connectivity: components over core-core edges; an isolated
    // core (eps-neighbors are all non-core) is its own cluster
    val coreEdges = p
      .join(cores.select(col("id").as("id1")), Seq("id1"), "left_semi")
      .join(cores.select(col("id").as("id2")), Seq("id2"), "left_semi")
      .select(col("id1"), col("id2"))
    val comp = Dedup.components(coreEdges)
    val coreClusters = cores
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    // border: non-core adjacent to >= 1 core; min core-cluster label
    val borderClusters = sym
      .join(coreClusters.select(col("id").as("b"), col("cluster")), Seq("b"))
      .join(cores.select(col("id").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a")).agg(min(col("cluster")).as("cluster"))
      .select(col("a").as("id"), col("cluster"))
    points.select(col(idCol))
      .join(coreClusters.withColumnRenamed("id", idCol)
        .withColumnRenamed("cluster", "__cc"), Seq(idCol), "left")
      .join(borderClusters.withColumnRenamed("id", idCol)
        .withColumnRenamed("cluster", "__bc"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__cc"), col("__bc"), lit(-1L)).cast("long").as("cluster"),
        when(col("__cc").isNotNull, "core")
          .when(col("__bc").isNotNull, "border")
          .otherwise("noise").as("role"))
  }

  /** End-to-end density clustering of an embedding corpus: train/receive
    * an IVF coarse quantizer, generate cell-blocked eps-pairs, label.
    * `nprobe = model.k` makes the result EXACT DBSCAN (every pair
    * meets); smaller nprobe trades recall for the nprobe/k scan cut. */
  def dbscan(emb: DataFrame, eps: Double, minPts: Int, model: IvfIndex.Model,
             nprobe: Int, idCol: String = "vec_id", embCol: String = "embedding",
             scale: Int = 4): DataFrame =
    dbscanFromPairs(emb, epsNeighbors(emb, eps, model, nprobe, idCol, embCol, scale),
      minPts, idCol)
}
