package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.IvfIndex

/** Logical leaf for the ITERATIVE filtered ANN scan — the planner-level
  * lowering of pgvector 0.8's "iterative index scans" (the library-path
  * twin is [[graft.operators.IvfIndex.searchIndexFiltered]]): when a SQL
  * query rides a relational predicate along the indexed ORDER BY
  * (`WHERE category = 7 ORDER BY vec_l2(emb, q) LIMIT k`), a FIXED probe
  * set can leave fewer than k survivors and silently return short — the
  * pre-0.8 contract. This node's physical twin escalates the probe set
  * geometrically AT EXECUTION TIME until k filtered survivors exist or
  * every cell is probed (at which point the result is EXACT over the
  * filtered corpus), and emits the survivors of the final probe round;
  * the user's own Sort/Limit above stays in the plan and IS the exact
  * rerank — so the rewrite never touches result semantics within the
  * probed set, exactly like the fixed-probe rewrite.
  *
  * Planted by [[IvfScanRewriteRule]] in place of the `Filter(pred,
  * store-relation)` subtree. `output` keeps the ORIGINAL relation
  * attributes (exprIds), so everything above re-binds unchanged; `pred`
  * is the user's predicate, resolved against those same attributes
  * (hence [[producedAttributes]] covers its references — the node
  * applies the predicate itself, in-scan).
  *
  * Reference to match: pgvector 0.8 iterative scans over the reference's
  * own query shape (SSEOpenAIController.java:315-316 with a WHERE).
  */
case class IvfIterativeFilteredScan(
    output: Seq[Attribute],
    path: String,
    qvec: Seq[Double],
    pred: Expression,
    k: Int,
    nprobe: Int,
    subDim: Option[Int] = None) extends LeafNode {
  override def producedAttributes: AttributeSet = outputSet ++ pred.references
  // post-escalation size is unknowable at plan time; this leaf only ever
  // sits under the matched Sort/Limit, so a conservative guess is safe
  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(1) << 28)
  override def simpleString(maxFields: Int): String =
    s"IvfIterativeFilteredScan k=$k nprobe=$nprobe path=$path pred=${pred.sql}"
}

/** Physical operator: runs the geometric probe escalation, then hands the
  * final round's scan RDD to the parent — every round is a fresh
  * declarative plan over the store (static `cell IN` partition pruning +
  * the predicate pushed INTO the parquet scan), so at 100 TB each round
  * reads only the probed partitions' row groups and the count probe
  * stops at k rows (`take(k)`). Total work ≤ 2× the final round (the
  * geometric-doubling bound, same as the library path). */
case class IvfIterativeFilteredScanExec(
    output: Seq[Attribute],
    path: String,
    qvec: Seq[Double],
    pred: Expression,
    k: Int,
    nprobe: Int,
    subDim: Option[Int]) extends LeafExecNode {

  override def producedAttributes: AttributeSet = outputSet ++ pred.references

  protected override def doExecute(): RDD[InternalRow] = {
    val spark = SparkSession.active
    val model = IvfIndex.readModel(spark, path)
    val kc = model.centroids.length
    // Matryoshka stores cluster in the PREFIX space: probe with the
    // query's first-subDim dims (the rule passes the sidecar value).
    // The escalation/exactness contract is untouched — prefix cells
    // only steer WHICH partitions each round reads, and exhaustion is
    // the plain filtered scan either way.
    val probeVec = subDim.map(d => qvec.toArray.take(d)).getOrElse(qvec.toArray)
    require(model.centroids.headOption.forall(_.length == probeVec.length),
      s"IvfIterativeFilteredScanExec: probe dim ${probeVec.length} != centroid dim " +
        s"${model.centroids.headOption.map(_.length)} at $path")
    def probe(cur: Int): DataFrame =
      IvfIterativeScan.probePlan(spark, path, model, probeVec, pred, cur)
    var cur = math.max(1, math.min(nprobe, kc))
    var satisfied = false
    while (!satisfied && cur < kc) {
      // existence probe only: project a constant so the scan reads just
      // the predicate columns, and take(k) stops the job at k survivors
      val have = probe(cur).select(lit(1)).take(k).length
      if (have >= k) satisfied = true else cur = math.min(cur * 2, kc)
    }
    // cur == kc here means full probe: exact over the filtered corpus
    probe(cur).select(output.map(a => col(a.name)): _*).queryExecution.toRdd
  }
}

object IvfIterativeScan {
  /** ONE round's probe frame: the probed cells' dirs alone
    * ([[graft.operators.IvfIndex.probedScan]]) + the user predicate
    * re-resolved BY NAME against that fresh read (the original exprIds
    * belong to the replaced relation). Package-visible
    * so the spec can assert the predicate reaches `PushedFilters` — the
    * [[graft.operators.IvfIndex.filteredProbePlan]] convention (the
    * executed outer plan only shows the leaf, with no scan to inspect). */
  private[graft] def probePlan(spark: SparkSession, path: String, model: IvfIndex.Model,
                               q: Array[Double], pred: Expression, cur: Int): DataFrame =
    IvfIndex.probedScan(spark, path, model.nearestCells(q, cur))
      .where(PlanRebind.byName(pred))
}

/** Plans [[IvfIterativeFilteredScan]] — registered by
  * [[graft.GraftExtensions]] (`injectPlannerStrategy`) and attached to
  * pre-existing sessions via `experimental.extraStrategies` in
  * `GraftSession.create`, mirroring the optimizer-rule treatment. */
object IvfIterativeScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: IvfIterativeFilteredScan =>
      IvfIterativeFilteredScanExec(s.output, s.path, s.qvec, s.pred, s.k, s.nprobe,
        s.subDim) :: Nil
    case _ => Nil
  }
}
