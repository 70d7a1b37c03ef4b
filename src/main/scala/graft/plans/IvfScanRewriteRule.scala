package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.functions.{VecCosine, VecDot, VecL1, VecL2Sq}
import graft.operators.IvfIndex

/** Optimizer rule: `ORDER BY vec_l2(embedding, <literal vector>) LIMIT k`
  * over a persisted IVF store becomes the index plan automatically —
  * the way pgvector's planner turns `ORDER BY embedding <-> ? LIMIT 5`
  * (reference `SSEOpenAIController.java:315`) into an index scan, so a
  * SQL user gets the coarse+rerank pipeline without calling
  * [[IvfIndex.searchIndex]] by hand.
  *
  * Matched shape (after analysis): `Limit(k, Sort(dist(emb, lit) ASC
  * [, tiebreaks], relation-subtree))` with `dist` one of pgvector's
  * opclasses (`vec_l2`/`vec_l2sq`, `vec_cosine_dist`, `vec_ip`,
  * `vec_l1`), where `emb` is a column of exactly one parquet
  * `LogicalRelation` whose root path is a store written by
  * [[IvfIndex.writeIndex]] — its codec and metric come from
  * [[IvfIndex.readStore]], and the store must serve the sort's metric.
  *
  * Rewrite, in plan space (no jobs run at optimization time — probed
  * cells come from driver-local math on the sidecar centroids):
  *
  *  1. `Filter(cell IN probedCells)` planted directly above the store
  *     relation — the physical scan turns it into PartitionFilters
  *     (file-listing pruning, the inverted-file read).
  *  2. If the store's codec has a coarse column and the sort ranks by
  *     the store's own metric: a LEFT SEMI join against the codec's
  *     coarse top-`k·overfetch` subplan ([[IvfIndex.coarseCandidates]],
  *     the library search's coarse pass over the literal query), which
  *     reads only (id, codec column). The user's own Sort/Limit over the
  *     surviving candidates IS the full-precision rerank, so results keep
  *     the user's exact semantics over the probed cells.
  *
  * Approximation contract: identical to pgvector's IVF index — results
  * are exact within the probed cells; recall vs a full scan is governed
  * by `spark.graft.ann.nprobe`. Setting nprobe ≥ the store's cell count
  * (and overfetch to cover the corpus) degenerates to the exact answer,
  * spec-pinned in IvfRewriteSpec.
  *
  * Session confs: `spark.graft.ann.rewrite` (default true),
  * `spark.graft.ann.nprobe` (8), `spark.graft.ann.overfetch` (the
  * codec's default), `spark.graft.ann.idCol` (vec_id),
  * `spark.graft.ann.maxK` (10000 — a larger LIMIT is analytics, not a
  * serve lookup; left alone).
  */
object IvfScanRewriteRule extends Rule[LogicalPlan] with RewriteSupport {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.ann.rewrite", "true") != "true") return plan
    val maxK = conf("spark.graft.ann.maxK", "10000").toInt
    plan.transformDown {
      case lim @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, srt @ Sort(SortOrder(key, Ascending, _, _) +: _, true, child, _)))
          if k <= maxK =>
        rewriteChild(key, child, k).map { newChild =>
          lim.copy(child = ll.copy(child = srt.copy(child = newChild)))
        }.getOrElse(lim)
      // same shape with a post-ranking Project pushed between the limit
      // and the Sort (`SELECT id, round(dist, 4) ... ORDER BY dist LIMIT
      // k` — the optimizer slides the projection under the limit)
      case lim @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, pr @ Project(_,
            srt @ Sort(SortOrder(key, Ascending, _, _) +: _, true, child, _))))
          if k <= maxK =>
        rewriteChild(key, child, k).map { newChild =>
          lim.copy(child = ll.copy(child = pr.copy(child = srt.copy(child = newChild))))
        }.getOrElse(lim)
    }
  }

  /** The rewritten Sort child, or None when the pattern doesn't apply. */
  private def rewriteChild(sortKey: Expression, child: LogicalPlan, k: Int): Option[LogicalPlan] = {
    val distExpr = resolveThroughProjects(sortKey, child)
    // (left arg, right arg, metric this sort key ranks by)
    val args = distExpr match {
      case Sqrt(VecL2Sq(a, b)) => Some((a, b, "l2"))
      case VecL2Sq(a, b) => Some((a, b, "l2"))
      // vec_cosine_dist builds 1.0 - vec_cosine_sim (pgvector <=>)
      case Subtract(Literal(one, DoubleType), VecCosine(a, b), _) if one == 1.0 =>
        Some((a, b, "cosine"))
      // vec_ip builds -vec_dot (pgvector <#>, ascending = best IP first)
      case UnaryMinus(VecDot(a, b), _) => Some((a, b, "ip"))
      // vec_l1 (pgvector 0.7 <+>): cells probed by L2 geometry, like IP
      case VecL1(a, b) => Some((a, b, "l1"))
      case _ => None
    }
    for {
      (a, b, metric) <- args
      (embAttr, rawQvec) <- vectorArgs(a, b)
      (relation, fsRelation) <- relationOwning(child, Seq(embAttr))
      cellAttr <- relation.output.find(at =>
        at.name == "cell" && at.dataType == IntegerType)
      if !alreadyRewritten(child)
      path = fsRelation.location.rootPaths.head.toString
      store <- IvfIndex.plannedStore(SparkSession.active, path)
      // a cosine sort only prunes soundly on a cosine (normalized) store
      // and vice versa; an IP/L1 sort probes an L2 store's cells (the
      // faiss IVF-IP recipe — recall governed by nprobe, like pgvector
      // vector_ip_ops); prefix cells only order L2. Other mixes fall
      // through to the exact scan.
      if store.serves(metric)
      // cosine probing runs on the normalized query (cells live on the
      // unit sphere; cosine itself is scale-invariant so the user's
      // rerank semantics are untouched)
      qvec = if (store.metric == "cosine") normalize(rawQvec) else rawQvec
      // Matryoshka stores cluster in the PREFIX space: cells are probed
      // with the query's first subDim dims
      subDim = store.codec match {
        case IvfIndex.Codec.Prefix(d) => Some(d)
        case _ => None
      }
      probeVec = subDim.map(d => qvec.take(d)).getOrElse(qvec)
      if store.model.centroids.nonEmpty && store.model.centroids.head.length == probeVec.length
    } yield {
      val idCol = conf("spark.graft.ann.idCol", "vec_id")
      val idAttrOpt = relation.output.find(_.name == idCol)
      // Column-prune the store leg ourselves: this rule may run in a
      // late batch (experimental.extraOptimizations) with no ColumnPruning
      // pass after it, and without a Project the physical scan would read
      // every store column (qvec included) on the rerank side.
      val usedAbove = AttributeSet(child.collect {
        case n if !(n eq relation) => n.expressions
      }.flatten.flatMap(_.references))
      val keep = AttributeSet(child.output) ++ usedAbove ++ distExpr.references ++
        AttributeSet(idAttrOpt.toSeq)
      val projList = relation.output.filter(keep.contains)
      // ITERATIVE filtered scans (pgvector 0.8): a user predicate riding
      // the indexed ORDER BY makes a FIXED probe set unsound at the
      // contract level — fewer than k survivors silently return short.
      // Lower `Filter(pred, store)` to the probe-ESCALATION leaf instead
      // (the planner twin of IvfIndex.searchIndexFiltered); the user's
      // Sort/Limit above stays as the exact rerank. Opt out with
      // spark.graft.ann.iterative=false to keep the pre-0.8 fixed-probe
      // plan (cells + coarse stages below).
      val iterative = conf("spark.graft.ann.iterative", "true") == "true"
      // Mirror the sparse rule's stand-down (ADVICE r10): ANY Filter in
      // the Sort child rides the ORDER BY, so they all count. Exactly one
      // deterministic relation-adjacent Filter lowers to the escalation
      // leaf; any other filtered shape — a second stacked filter the
      // optimizer couldn't merge, a nondeterministic predicate, a filter
      // parked above a Project — would escalate only on the survivors of
      // the predicate the leaf sees and could still return < k rows, so
      // those shapes keep the user's exact scan instead.
      val filters = if (iterative) child.collect { case f: Filter => f } else Nil
      val userFilter = filters match {
        case Seq(f @ Filter(cond, r: LogicalRelation))
            if (r eq relation) && cond.references.subsetOf(relation.outputSet) &&
              !cond.references.exists(_.name == "cell") &&
              cond.deterministic => Some(f)
        case _ => None
      }
      userFilter match {
        case Some(f) =>
          val nprobe0 = conf("spark.graft.ann.nprobe", "8").toInt
          val leafOut = relation.output.filter(at =>
            keep.contains(at) || f.condition.references.contains(at))
          // the FULL query vector rides the leaf (the user's rerank Sort
          // needs nothing from us); subDim tells its exec to probe cells
          // in the prefix space on Matryoshka stores
          val leaf = IvfIterativeFilteredScan(leafOut, path, qvec.toSeq,
            f.condition, k, nprobe0, subDim)
          Some(child.transformUp { case n if n eq f => leaf })
        case None if iterative && filters.nonEmpty =>
          // filtered shape the escalation leaf can't cover soundly —
          // stand down (no rewrite: a fixed probe here would silently
          // reintroduce the pre-0.8 short-result hazard the iterative
          // contract exists to close)
          None
        case None =>
          Some(rewriteFixedProbe(child, relation, cellAttr, metric, qvec, probeVec, k,
            path, store, projList))
      }
    }
  }.flatten

  // (cellAttr typed Attribute: the relation lookup returns the narrower
  // AttributeReference, but only equality and In() construction use it)

  /** The pre-0.8 fixed-probe index plan: static cell pruning + the
    * codec's coarse semi-join when the sort ranks by the store's own
    * metric (exact within the probed cells). `qvec` is the query in the
    * store's metric space, `probeVec` its projection cells are probed on
    * (the first subDim dims on prefix stores). */
  private def rewriteFixedProbe(child: LogicalPlan, relation: LogicalRelation,
      cellAttr: Attribute, metric: String, qvec: Array[Double], probeVec: Array[Double],
      k: Int, path: String, store: IvfIndex.Store, projList: Seq[Attribute]): LogicalPlan = {
    val nprobe = conf("spark.graft.ann.nprobe", "8").toInt
    val cells = store.model.nearestCells(probeVec, nprobe)
    val idCol = conf("spark.graft.ann.idCol", "vec_id")
    val pruned = Project(projList,
      Filter(In(cellAttr, cells.map(Literal(_))), relation))
    // a coarse stage ranks by (an approximation of) the store's metric —
    // it would mis-rank IP/L1 candidates, so those get cell pruning alone
    val coarse = for {
      c <- Some(store.codec).collect { case c: IvfIndex.Coarse => c }
      idAttr <- relation.output.find(_.name == idCol)
      if metric == store.metric && relation.output.exists(_.name == c.column)
    } yield {
      val overfetch = conf("spark.graft.ann.overfetch", c.overfetch.toString).toInt
      val right = IvfIndex.coarseCandidates(SparkSession.active, path, store, c, qvec,
        probeVec, nprobe, k * overfetch, idCol).queryExecution.optimizedPlan
      Join(pruned, right, LeftSemi,
        Some(EqualTo(idAttr, right.output.head)), JoinHint.NONE)
    }
    child.transformUp { case r: LogicalRelation if r eq relation => coarse.getOrElse(pruned) }
  }

  /** Split vec_l2's arguments into (embedding attribute, literal query
    * vector as doubles); either argument order. */
  private def vectorArgs(a: Expression, b: Expression): Option[(AttributeReference, Array[Double])] =
    (a, b) match {
      case (at: AttributeReference, q) => literalVector(q).map((at, _))
      case (q, at: AttributeReference) => literalVector(q).map((at, _))
      case _ => None
    }

  private def literalVector(e: Expression): Option[Array[Double]] = e.dataType match {
    case ArrayType(et, _) if (et == DoubleType || et == FloatType) && e.foldable =>
      Option(e.eval(null)).map { v =>
        val ad = v.asInstanceOf[ArrayData]
        Array.tabulate(ad.numElements()) { i =>
          if (et == FloatType) ad.getFloat(i).toDouble else ad.getDouble(i)
        }
      }
    case _ => None
  }

  /** Idempotence: the subtree already carries a cell-membership filter
    * (ours from a previous fixed-point iteration — or the user's own, in
    * which case rewriting would double-prune). */
  private def alreadyRewritten(plan: LogicalPlan): Boolean = plan.exists {
    case Filter(cond, _) => cond.exists {
      case In(at: AttributeReference, _) => at.name == "cell"
      case InSet(at: AttributeReference, _) => at.name == "cell"
      case _ => false
    }
    case _: Join => true // a semi-joined store was already index-planned
    case _ => false
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }
}
