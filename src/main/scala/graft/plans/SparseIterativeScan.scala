package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{broadcast, col, typedlit}

import graft.operators.SparseKnn

/** The SPARSE twin of [[IvfIterativeFilteredScan]]: iterative filtered
  * scans for `WHERE pred ORDER BY sparse_dot(iv, vv, lit, lit) [DESC]
  * LIMIT k` over a persisted postings store. A fixed candidate bound
  * (`k·overfetch`) under a selective predicate can return fewer than k
  * survivors — the pre-0.8 contract; this leaf runs TWO PHASES at
  * execution time and preserves the user's EXACT semantics in both:
  *
  *  1. bounded: the fixed rewrite's candidate set, accepted only when
  *     ≥ k filtered survivors have STRICTLY POSITIVE dot — such
  *     survivors dominate every non-candidate row (candidates are the
  *     global overlapping top-n under the user's own (score, id)
  *     ordering, and zero-overlap rows score exactly 0), so the user's
  *     Sort/Limit above yields the exact filtered top-k;
  *  2. otherwise exhaustion: the PLAIN filtered store scan — exact by
  *     definition, zero-dot and negative-dot rows included, identical
  *     to what the unrewritten query computes.
  *
  * Planted by [[SparseScanRewriteRule]] in place of `Filter(pred,
  * store-relation)` when exactly one deterministic relation-adjacent
  * filter rides the indexed ORDER BY; anything odder stands down to the
  * exact scan. Opt out with `spark.graft.sparse.iterative=false`. */
case class SparseIterativeFilteredScan(
    output: Seq[Attribute],
    storePath: String,
    postingsTable: String,
    postingsPath: String,
    idCol: String,
    idxCol: String,
    valCol: String,
    qIdx: Seq[Long],
    qVal: Seq[Double],
    byCosine: Boolean,
    pred: Expression,
    k: Int) extends LeafNode {
  override def producedAttributes: AttributeSet = outputSet ++ pred.references
  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(1) << 28)
  override def simpleString(maxFields: Int): String =
    s"SparseIterativeFilteredScan k=$k terms=${qIdx.length} byCosine=$byCosine " +
      s"path=$storePath pred=${pred.sql}"
}

/** Physical operator — TWO-PHASE, not a geometric ladder: unlike the
  * IVF variant (where each round's cost is proportional to the probed
  * partitions, so doubling is the right escalation), the sparse
  * candidate frame costs the same to rank at any bound — the postings
  * scan and top-n sort cover every overlapping document regardless of
  * n. The candidate id frame is ≤ k·overfetch rows and is
  * `localCheckpoint`ed so the probe and the emitted plan pay the
  * postings ranking ONCE; an unsatisfied probe goes straight to the
  * plain filtered scan (exact, the stand-down plan). Total work ≤ the
  * bounded round + at most one full filtered scan. */
case class SparseIterativeFilteredScanExec(
    output: Seq[Attribute],
    storePath: String,
    postingsTable: String,
    postingsPath: String,
    idCol: String,
    idxCol: String,
    valCol: String,
    qIdx: Seq[Long],
    qVal: Seq[Double],
    byCosine: Boolean,
    pred: Expression,
    k: Int) extends LeafExecNode {

  override def producedAttributes: AttributeSet = outputSet ++ pred.references

  protected override def doExecute(): RDD[InternalRow] = {
    val spark = SparkSession.active
    val overfetch = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sparse.overfetch", "4").toInt
    val bounded = SparseIterativeScan.boundedPlan(spark, storePath, postingsTable,
      postingsPath, idCol, qIdx, qVal, byCosine, pred, math.max(k, k * overfetch))
    // acceptance probe: k survivors with dot > 0 (strictly — zero-dot
    // NON-candidates tie at 0 and could otherwise win the id tiebreak)
    val dot = SparseKnn.sparseDot(col(idxCol), col(valCol),
      typedlit(qIdx), typedlit(qVal))
    val have = bounded.where(dot > 0).select(col(idCol)).take(k).length
    val finalDf =
      if (have >= k) bounded
      else SparseIterativeScan.exactPlan(spark, storePath, pred)
    finalDf.select(output.map(a => col(a.name)): _*).queryExecution.toRdd
  }
}

object SparseIterativeScan {
  /** The bounded phase: store rows semi-joined to the top-n overlapping
    * candidates ([[SparseKnn.candidateIds]], the fixed rewrite's
    * candidate leg) under the user predicate. The candidate id frame is
    * materialized once (`localCheckpoint`) so the caller's probe and
    * output plans share it. Package-visible so specs can assert the plan
    * shape (postings-only candidate leg, predicate on the store leg). */
  private[graft] def boundedPlan(spark: SparkSession, storePath: String,
      postingsTable: String, postingsPath: String, idCol: String,
      qIdx: Seq[Long], qVal: Seq[Double], byCosine: Boolean,
      pred: Expression, n: Int): DataFrame = {
    val cand = SparseKnn.candidateIds(spark, postingsTable, postingsPath, idCol,
        qIdx, qVal, byCosine, n)
      .localCheckpoint(true) // ≤ n ids: rank ONCE, reuse in probe + output
    spark.read.parquet(storePath)
      .join(broadcast(cand), Seq(idCol), "left_semi")
      .where(PlanRebind.byName(pred))
  }

  /** The exhaustion phase: the PLAIN filtered scan — the user's exact
    * semantics (zero-dot and negative-dot rows included), identical to
    * the stand-down plan. */
  private[graft] def exactPlan(spark: SparkSession, storePath: String,
      pred: Expression): DataFrame =
    spark.read.parquet(storePath).where(PlanRebind.byName(pred))
}

/** Plans [[SparseIterativeFilteredScan]] — registered beside
  * [[IvfIterativeScanStrategy]]. */
object SparseIterativeScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: SparseIterativeFilteredScan =>
      SparseIterativeFilteredScanExec(s.output, s.storePath, s.postingsTable,
        s.postingsPath, s.idCol, s.idxCol, s.valCol, s.qIdx, s.qVal, s.byCosine,
        s.pred, s.k) :: Nil
    case _ => Nil
  }
}
