package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.functions.SparseDotExpr

/** Optimizer rule: `ORDER BY sparse_dot(indices, values, <literal query
  * vector>) DESC LIMIT k` over a persisted sparse-vector store becomes
  * the posting-list-intersection plan automatically — the sparse twin of
  * [[IvfScanRewriteRule]], completing planner parity for the pgvector
  * sparsevec surface: a SQL user writes the brute-force ranking shape
  * and gets the inverted-index read without calling
  * [[graft.operators.SparseKnn.topKFromIndex]] by hand.
  *
  * Matched shape (after analysis): `Limit(k, Sort(sparse_dot(idx, vals,
  * litIdx, litVals) DESC [, tiebreaks], relation-subtree))` where (idx,
  * vals) are columns of exactly one parquet `LogicalRelation` whose root
  * carries the `_sparse_index.json` sidecar written by
  * [[graft.operators.SparseKnn.writeIndexedStore]], and the query pair
  * is foldable (either argument order). `sparse_cosine_sim(...) DESC`
  * matches too (both the SQL-registered and column-API lowerings): the
  * candidate leg then ranks by dot / stored-doc-norm — the query norm is
  * a positive constant, so candidate order equals cosine order exactly.
  *
  * Rewrite, in plan space (no jobs at optimization time): the store
  * relation gains a LEFT SEMI join against a candidate subplan that
  * reads ONLY the query terms' postings (bucket pruning on the
  * `bucketBy(__t)` table when it is in the catalog, parquet filter
  * pushdown otherwise), scores each candidate by the EXACT dot product
  * (Σ posting-value × query-weight — every shared term is in the
  * postings, so candidate ranking equals final ranking), and keeps the
  * top `k · overfetch` ids. The user's own Sort/Limit above re-scores
  * survivors with the full sparse_dot kernel, so output semantics stay
  * the user's.
  *
  * Approximation contract — standard sparse retrieval semantics: a doc
  * sharing NO term with the query (dot exactly 0 for the non-negative
  * TF/TF-IDF/SPLADE featurizers) is never returned, where the exhaustive
  * scan could pad trailing ranks with arbitrary zero-score rows; among
  * overlapping docs the result is exact (overfetch only covers
  * tie-boundary differences against user tiebreaks past the dot).
  *
  * Session confs: `spark.graft.sparse.rewrite` (default true, the kill
  * switch), `spark.graft.sparse.overfetch` (4), `spark.graft.sparse.maxK`
  * (10000), `spark.graft.sparse.maxTerms` (4096 — a wider literal query
  * is analytics, not a serve lookup; left alone).
  */
object SparseScanRewriteRule extends Rule[LogicalPlan] with RewriteSupport {

  private final case class IndexMeta(table: String, idCol: String, postings: String)

  /** Sidecar per store path, keyed on a (len, mtime) fingerprint so a
    * rebuilt index is re-read. */
  // path-keyed with the stamp stored beside the value (see
  // IvfScanRewriteRule — a stamp-keyed map leaks one entry per rebuild)
  private val cache = TrieMap.empty[String, (String, IndexMeta)]


  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.sparse.rewrite", "true") != "true") return plan
    val maxK = conf("spark.graft.sparse.maxK", "10000").toInt
    plan.transformDown {
      case lim @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, srt @ Sort(SortOrder(key, Descending, _, _) +: _, true, child, _)))
          if k <= maxK =>
        rewriteChild(key, child, k).map { newChild =>
          lim.copy(child = ll.copy(child = srt.copy(child = newChild)))
        }.getOrElse(lim)
      // same shape with a post-ranking Project pushed between the limit
      // and the Sort (`SELECT ..., round(score, 4) ... ORDER BY score
      // LIMIT k` — the optimizer slides the projection under the limit)
      case lim @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, pr @ Project(_,
            srt @ Sort(SortOrder(key, Descending, _, _) +: _, true, child, _))))
          if k <= maxK =>
        rewriteChild(key, child, k).map { newChild =>
          lim.copy(child = ll.copy(child = pr.copy(child = srt.copy(child = newChild))))
        }.getOrElse(lim)
    }
  }

  private def rewriteChild(sortKey: Expression, child: LogicalPlan, k: Int): Option[LogicalPlan] = {
    val distExpr = resolveThroughProjects(sortKey, child)
    // (dot args, denominator when the sort key is the cosine lowering) —
    // cosine ranking divides the candidate dot by the STORED doc norm;
    // the query-norm factor is a positive constant, so omitting it
    // preserves the order exactly
    val parsed = distExpr match {
      case SparseDotExpr(a, b, c, d) => Some((a, b, c, d, None))
      // SQL-registered sparse_cosine_sim: If(denom = 0, null, dot/denom)
      case If(EqualTo(den1, DoubleZero()), Literal(null, _),
          Divide(SparseDotExpr(a, b, c, d), den2, _))
          if den1.semanticEquals(den2) => Some((a, b, c, d, Some(den1)))
      // column-API dot / nullif(denom, 0) — NullIf is RuntimeReplaceable
      // and its denom may land common-subexpression-aliased in a lower
      // Project (resolved below)
      case Divide(SparseDotExpr(a, b, c, d),
          If(EqualTo(den1, DoubleZero()), Literal(null, _), den2), _)
          if den1.semanticEquals(den2) => Some((a, b, c, d, Some(den1)))
      // same lowering BEFORE RewriteWithExpression has run — the form an
      // extension-injected rule sees in the operator-optimization fixed
      // point: the denominator is a With common-expression, its refs in
      // the If and the definition in the With's defs
      case Divide(SparseDotExpr(a, b, c, d),
          With(If(EqualTo(r1: CommonExpressionRef, DoubleZero()), Literal(null, _),
            r2: CommonExpressionRef), Seq(cdef)), _)
          if r1.id == r2.id && r1.id == cdef.id =>
        Some((a, b, c, d, Some(cdef.child)))
      case _ => None
    }
    for {
      (a, b, c, d, denOpt) <- parsed
      (idxAttr, valAttr, qIdx, qVal) <- sparseArgs(a, b, c, d)
      byCosine = denOpt.isDefined
      if denOpt.forall(den =>
        isCosineDenom(resolveThroughProjects(den, child), idxAttr, valAttr))
      if qIdx.length == qVal.length && qIdx.nonEmpty &&
        qIdx.length <= conf("spark.graft.sparse.maxTerms", "4096").toInt
      // the sparse_dot kernel is a two-pointer merge that UNDERCOUNTS on
      // an unsorted/duplicated query literal (documented kernel
      // behavior); the candidate leg's term-join computes the full dot
      // regardless of order, so rewriting such a query would change its
      // results — stand down and let the unrewritten semantics hold
      if qIdx.iterator.sliding(2).withPartial(false).forall(p => p.head < p(1))
      (relation, fsRelation) <- relationOwning(child, Seq(idxAttr, valAttr))
      if !alreadyRewritten(child)
      // a user predicate riding the indexed ORDER BY makes the bounded
      // candidate set unsound at the contract level — selective filters
      // can leave < k survivors with no escalation (the pre-0.8 pgvector
      // hazard). One deterministic relation-adjacent Filter lowers to
      // the candidate-ESCALATION leaf (SparseIterativeFilteredScan, the
      // sparse twin of the IVF iterative plan); any other filtered shape
      // — nondeterministic, parked above a Project (unpushable), or
      // several filters — STANDS DOWN to the user's exact scan. ANY
      // Filter in the Sort child rides the ORDER BY, so they all count.
      filters = child.collect { case f: Filter => f }
      userFilter = filters match {
        case Seq(f @ Filter(cond, r: LogicalRelation))
            if (r eq relation) && cond.references.subsetOf(relation.outputSet) &&
              cond.deterministic &&
              conf("spark.graft.sparse.iterative", "true") == "true" => Some(f)
        case _ => None
      }
      if filters.isEmpty || userFilter.isDefined
      path = fsRelation.location.rootPaths.head.toString
      meta <- loadMeta(path)
      idAttr <- relation.output.find(_.name == meta.idCol)
    } yield {
      // Column-prune the store leg ourselves (late-batch rule — no
      // ColumnPruning pass runs after it; the IvfScanRewriteRule shape).
      val usedAbove = AttributeSet(child.collect {
        case n if !(n eq relation) => n.expressions
      }.flatten.flatMap(_.references))
      val keep = AttributeSet(child.output) ++ usedAbove ++ distExpr.references ++
        AttributeSet(Seq(idAttr))
      userFilter match {
        case Some(f) =>
          val leafOut = relation.output.filter(at =>
            keep.contains(at) || f.condition.references.contains(at))
          val leaf = SparseIterativeFilteredScan(leafOut, path, meta.table,
            meta.postings, meta.idCol, idxAttr.name, valAttr.name,
            qIdx.toSeq, qVal.toSeq, byCosine, f.condition, k)
          child.transformUp { case n if n eq f => leaf }
        case None =>
          val overfetch = conf("spark.graft.sparse.overfetch", "4").toInt
          val right = candidatePlan(meta, qIdx, qVal, k * overfetch, byCosine)
          val pruned = Project(relation.output.filter(keep.contains), relation)
          // candidate side is ≤ k·overfetch rows — hint it broadcast in
          // the post-EliminateResolvedHint form (this rule runs too late
          // for a ResolvedHint node to be folded into the join)
          val joined = Join(pruned, right, LeftSemi,
            Some(EqualTo(idAttr, right.output.head)),
            JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
          child.transformUp { case r: LogicalRelation if r eq relation => joined }
      }
    }
  }

  /** Follow an attribute through Project aliases down to its defining
    * expression (the `SELECT sparse_dot(...) AS score ... ORDER BY score`
    * shape). */

  /** The cosine denominator, validated AFTER the attr/literal split: one
    * factor must be the store row's self-norm `sqrt(sparse_dot(iv, vv,
    * iv, vv))` over the attribute pair, the other a positive foldable
    * constant — which is what the query side's `sqrt(sparse_dot(lit,
    * lit))` is (ConstantFolding may or may not have collapsed it yet;
    * `eval` handles both). A fully-constant denominator (no doc norm)
    * would make "cosine" order degrade to dot order and the
    * doc-norm-divided candidate ranking WRONG, so it must not match. */
  private def isCosineDenom(den: Expression, idxAttr: AttributeReference,
      valAttr: AttributeReference): Boolean = den match {
    case Multiply(f1, f2, _) =>
      def docNorm(f: Expression) = f match {
        case Sqrt(SparseDotExpr(i1, v1, i2, v2)) =>
          Seq(i1, i2).forall(_.semanticEquals(idxAttr)) &&
            Seq(v1, v2).forall(_.semanticEquals(valAttr))
        case _ => false
      }
      def posConst(f: Expression) = f.foldable && (f.eval(null) match {
        case x: java.lang.Double => x > 0.0 && !x.isInfinite && !x.isNaN
        case _ => false
      })
      (docNorm(f1) && posConst(f2)) || (docNorm(f2) && posConst(f1))
    case _ => false
  }

  private object DoubleZero {
    def unapply(e: Expression): Boolean = e match {
      case Literal(v: Double, DoubleType) => v == 0.0
      case _ => false
    }
  }

  /** Split sparse_dot's two (indices, values) pairs into (store index
    * attr, store value attr, literal query indices, literal query
    * values); either pair order. */
  private def sparseArgs(a: Expression, b: Expression, c: Expression, d: Expression)
      : Option[(AttributeReference, AttributeReference, Array[Long], Array[Double])] =
    (a, b, c, d) match {
      case (ia: AttributeReference, va: AttributeReference, qi, qv) =>
        for (i <- literalLongs(qi); v <- literalDoubles(qv)) yield (ia, va, i, v)
      case (qi, qv, ia: AttributeReference, va: AttributeReference) =>
        for (i <- literalLongs(qi); v <- literalDoubles(qv)) yield (ia, va, i, v)
      case _ => None
    }

  private def literalLongs(e: Expression): Option[Array[Long]] = e.dataType match {
    case ArrayType(et, _) if (et == IntegerType || et == LongType) && e.foldable =>
      Option(e.eval(null)).map { v =>
        val ad = v.asInstanceOf[ArrayData]
        Array.tabulate(ad.numElements()) { i =>
          if (et == IntegerType) ad.getInt(i).toLong else ad.getLong(i)
        }
      }
    case _ => None
  }

  private def literalDoubles(e: Expression): Option[Array[Double]] = e.dataType match {
    case ArrayType(et, _) if (et == FloatType || et == DoubleType) && e.foldable =>
      Option(e.eval(null)).map { v =>
        val ad = v.asInstanceOf[ArrayData]
        Array.tabulate(ad.numElements()) { i =>
          if (et == FloatType) ad.getFloat(i).toDouble else ad.getDouble(i)
        }
      }
    case _ => None
  }

  /** The unique parquet relation owning BOTH sparse-vector attributes. */

  /** Idempotence: a semi-joined store was already index-planned (ours
    * from a previous fixed-point iteration, or the user's own candidate
    * pushdown — rewriting either would double-filter). */
  private def alreadyRewritten(plan: LogicalPlan): Boolean = plan.exists {
    case _: Join => true
    case _ => false
  }

  private def loadMeta(path: String): Option[IndexMeta] = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(path, "_sparse_index.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val stamp = { val s = fs.getFileStatus(p); s"${s.getLen}:${s.getModificationTime}" }
    cache.get(path) match {
      case Some((st, v)) if st == stamp => return Some(v)
      case _ => ()
    }
    Some(cacheMeta(path, stamp, {
      val in = fs.open(p)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      // real JSON parse (Jackson ships with Spark) — a table name or
      // path containing a quote/backslash round-trips instead of being
      // regex-misparsed into an obscure missing-field error
      val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        catch { case e: Exception => throw new IllegalStateException(
          s"_sparse_index.json at $path is not valid JSON: $json", e) }
      def field(name: String): String = {
        val v = node.get(name)
        if (v == null || !v.isTextual || v.asText.isEmpty)
          throw new IllegalStateException(
            s"_sparse_index.json at $path is missing string field '$name': $json")
        v.asText
      }
      IndexMeta(field("table"), field("idCol"), field("postings"))
    }))
  }

  private def cacheMeta(path: String, stamp: String, v: IndexMeta): IndexMeta = {
    cache.put(path, (stamp, v)); v
  }

  /** Candidate subplan: [[graft.operators.SparseKnn.candidateIds]] over
    * a fresh read (fresh exprIds; it is the join's right side), spliced
    * in as its analyzed plan. */
  private def candidatePlan(meta: IndexMeta, qIdx: Array[Long], qVal: Array[Double],
      n: Int, byCosine: Boolean): LogicalPlan = {
    val candidates = graft.operators.SparseKnn.candidateIds(SparkSession.active,
      meta.table, meta.postings, meta.idCol, qIdx.toSeq, qVal.toSeq, byCosine, n)
    // strip SubqueryAlias from the catalog-table read: this rule runs
    // after EliminateSubqueryAliases' batch, and the planner asserts on
    // aliases it never expects to see post-optimization
    org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
      candidates.queryExecution.analyzed)
  }
}
