package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Sqrt}
import graft.functions.{MinHashSigExpr, VecCodeL2Sq, VecCosine, VecDot, VecL2Sq, WordShinglesExpr}
import graft.operators.SimHash.SimHashExpr

/** SQL surface for graft's native expressions — a pgvector user's query
  * `SELECT … ORDER BY embedding <-> ?::vector LIMIT 5` ports to
  * `SELECT … ORDER BY vec_l2(embedding, ?) LIMIT 5` in plain Spark SQL.
  *
  * Two registration paths:
  *  - `GraftFunctions.register(spark)` on any live session;
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build
  *    (cluster-wide, survives session cloning).
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** Builder wrapper: argument-count errors name the function instead of
    * surfacing a raw IndexOutOfBoundsException from `es(i)`. */
  private def arity(name: String, atLeast: Int)(
      b: Seq[Expression] => Expression): (String, Seq[Expression] => Expression) =
    name -> { es =>
      if (es.length < atLeast) throw new IllegalArgumentException(
        s"$name expects at least $atLeast argument(s), got ${es.length}")
      b(es)
    }

  /** Guard for builders that duplicate their argument subtrees: each
    * copy must evaluate identically, so nondeterministic arguments
    * (rand(), uuid(), …) are rejected at analysis time. */
  private def requireDeterministic(name: String, es: Seq[Expression]): Unit =
    es.find(e => e.resolved && !e.deterministic).foreach { e =>
      throw new IllegalArgumentException(
        s"$name duplicates its arguments internally (self-dot norms) and requires " +
          s"deterministic inputs; got nondeterministic argument: $e — " +
          "materialize the value in a prior projection instead")
    }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    arity("vec_dot", 2)(es => VecDot(es(0), es(1))),
    arity("vec_ip", 2)(es =>
      org.apache.spark.sql.catalyst.expressions.UnaryMinus(VecDot(es(0), es(1)))),
    arity("url_canonical", 1)(es => graft.functions.UrlCanonicalExpr(es(0))),
    arity("robots_allowed", 3)(es =>
      graft.functions.RobotsAllowedExpr(es(0), es(1), es(2))),
    arity("vec_l2sq", 2)(es => VecL2Sq(es(0), es(1))),
    arity("vec_l2", 2)(es => Sqrt(VecL2Sq(es(0), es(1)))),
    // pgvector 0.7 <+> (vector_l1_ops)
    arity("vec_l1", 2)(es => graft.functions.VecL1(es(0), es(1))),
    arity("vec_cosine_sim", 2)(es => VecCosine(es(0), es(1))),
    arity("vec_code_l2sq", 2)(es => VecCodeL2Sq(es(0), es(1))),
    arity("vec_cosine_dist", 2)(es => org.apache.spark.sql.catalyst.expressions.Subtract(
      org.apache.spark.sql.catalyst.expressions.Literal(1.0), VecCosine(es(0), es(1)))),
    arity("word_shingles", 1)(es => WordShinglesExpr(es.head,
      if (es.length > 1) intLit(es(1), "n") else 3)),
    arity("minhash_sig", 1)(es => MinHashSigExpr(es.head,
      if (es.length > 1) intLit(es(1), "numPerm") else 16)),
    arity("simhash64", 1)(es => SimHashExpr(es.head)),
    arity("deflate_ratio", 1)(es => graft.functions.DeflateRatioExpr(es.head)),
    // pgvector 0.7 halfvec casts: vector → binary16 codes and back
    arity("vec_half_encode", 1)(es => graft.functions.HalfEncodeExpr(es.head)),
    arity("vec_half_decode", 1)(es => graft.functions.HalfDecodeExpr(es.head)),
    // the packed on-disk tier (2 bytes/dim binary — what a Half-codec
    // IvfIndex store holds): pack/unpack exposed so a SQL-only session can inspect or
    // build half columns byte-identical to the index writer's
    arity("vec_half_pack", 1)(es => graft.functions.HalfPackExpr(es.head)),
    arity("vec_half_unpack", 1)(es => graft.functions.HalfUnpackExpr(es.head)),
    // pgvector 0.7/0.8 function-surface parity: vector_dims / vector_norm
    // / subvector / l2_normalize ports. All pure Catalyst trees; the
    // self-dot duplicates its argument, hence the determinism guard.
    arity("vec_dims", 1)(es =>
      org.apache.spark.sql.catalyst.expressions.Size(es.head)),
    arity("vec_norm", 1)(es => {
      requireDeterministic("vec_norm", es)
      Sqrt(VecDot(es.head, es.head))
    }),
    arity("vec_subvector", 3)(es =>
      org.apache.spark.sql.catalyst.expressions.Slice(es(0), es(1), es(2))),
    // pgvector's vector || vector concatenation (0.7 operator surface)
    arity("vec_concat", 2)(es =>
      org.apache.spark.sql.catalyst.expressions.Concat(es)),
    // pgvector bit-vector family: binary_quantize / hamming_distance /
    // jaccard_distance ports over the 32-bits-per-word packed encoding
    // ([[graft.operators.Quantize.binarizeExpr]]'s layout — in-range
    // under ANSI arithmetic where a 64-bit pack would overflow).
    arity("vec_binarize", 1)(es => {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
      val v = es.head
      val w = UnresolvedNamedLambdaVariable(Seq("w"))
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val nWords = Cast(Divide(Subtract(Size(v), Literal(1)), Literal(32)), IntegerType)
      val slice32 = Slice(v, Add(Multiply(w, Literal(32)), Literal(1)), Literal(32))
      val bit = If(GreaterThan(Cast(x, DoubleType), Literal(0.0)), Literal(1L), Literal(0L))
      val fold = ArrayAggregate(
        Reverse(slice32),
        Literal(0L),
        LambdaFunction(Add(Multiply(acc, Literal(2L)), bit), Seq(acc, x)),
        LambdaFunction.identity)
      ArrayTransform(Sequence(Literal(0), nWords, None),
        LambdaFunction(fold, Seq(w)))
    }),
    arity("hamming_distance", 2)(es => {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.types.LongType
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val y = UnresolvedNamedLambdaVariable(Seq("y"))
      val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
      val e = UnresolvedNamedLambdaVariable(Seq("e"))
      val xored = ZipWith(es(0), es(1),
        LambdaFunction(Cast(BitwiseCount(BitwiseXor(x, y)), LongType), Seq(x, y)))
      ArrayAggregate(xored, Literal(0L),
        LambdaFunction(Add(acc, e), Seq(acc, e)), LambdaFunction.identity)
    }),
    arity("jaccard_distance", 2)(es => {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.types.{DoubleType, LongType}
      requireDeterministic("jaccard_distance", es)
      def popSum(op: (Expression, Expression) => Expression): Expression = {
        val x = UnresolvedNamedLambdaVariable(Seq("x"))
        val y = UnresolvedNamedLambdaVariable(Seq("y"))
        val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
        val e = UnresolvedNamedLambdaVariable(Seq("e"))
        ArrayAggregate(
          ZipWith(es(0), es(1),
            LambdaFunction(Cast(BitwiseCount(op(x, y)), LongType), Seq(x, y))),
          Literal(0L),
          LambdaFunction(Add(acc, e), Seq(acc, e)), LambdaFunction.identity)
      }
      val inter = popSum(BitwiseAnd(_, _))
      val union = popSum(BitwiseOr(_, _))
      // empty union (both all-zero) → null, the sparse-cosine contract
      If(EqualTo(union, Literal(0L)),
        Literal(null, DoubleType),
        Subtract(Literal(1.0),
          Divide(Cast(inter, DoubleType), Cast(union, DoubleType))))
    }),
    arity("vec_l2_normalize", 1)(es => {
      import org.apache.spark.sql.catalyst.expressions._
      requireDeterministic("vec_l2_normalize", es)
      val v = es.head
      val norm = Sqrt(VecDot(v, v))
      def lam(body: Expression => Expression): Expression = {
        val x = UnresolvedNamedLambdaVariable(Seq("x"))
        LambdaFunction(body(Cast(x, org.apache.spark.sql.types.DoubleType)), Seq(x))
      }
      // zero vector maps to itself (pgvector l2_normalize semantics and
      // the VectorFunctions.l2Normalize column-API contract)
      If(LessThanOrEqual(norm, Literal(0.0)),
        ArrayTransform(v, lam(x => Multiply(x, Literal(0.0)))),
        ArrayTransform(v, lam(x => Divide(x, norm))))
    }),
    arity("chunk_text", 1)(es => graft.functions.ChunkTextExpr(es.head,
      if (es.length > 1) intLit(es(1), "maxLen") else 7500,
      if (es.length > 2) intLit(es(2), "lookback") else 300)),
    arity("zvalue", 2)(es => zvalueExpr(es(0), es(1),
      if (es.length > 2) intLit(es(2), "bits") else 8)),
    // pgvector sparsevec surface: (indices ASC, values) array pairs.
    // sparse_cosine_sim/sparse_l2sq duplicate their arguments (self-dots
    // for norms), which is only sound when each duplicated subtree
    // evaluates to the same value every time — so nondeterministic
    // arguments are rejected at analysis (codegen subexpression
    // elimination is best-effort, not a semantic guarantee).
    arity("sparse_dot", 4)(es =>
      graft.functions.SparseDotExpr(es(0), es(1), es(2), es(3))),
    arity("sparse_cosine_sim", 4)(es => {
      import org.apache.spark.sql.catalyst.expressions._
      requireDeterministic("sparse_cosine_sim", es)
      val dot = graft.functions.SparseDotExpr(es(0), es(1), es(2), es(3))
      val denom = Multiply(
        Sqrt(graft.functions.SparseDotExpr(es(0), es(1), es(0), es(1))),
        Sqrt(graft.functions.SparseDotExpr(es(2), es(3), es(2), es(3))))
      If(EqualTo(denom, Literal(0.0)),
        Literal(null, org.apache.spark.sql.types.DoubleType), Divide(dot, denom))
    }),
    arity("sparse_l2sq", 4)(es => {
      import org.apache.spark.sql.catalyst.expressions._
      requireDeterministic("sparse_l2sq", es)
      Subtract(
        Add(graft.functions.SparseDotExpr(es(0), es(1), es(0), es(1)),
          graft.functions.SparseDotExpr(es(2), es(3), es(2), es(3))),
        Multiply(Literal(2.0), graft.functions.SparseDotExpr(es(0), es(1), es(2), es(3))))
    }))

  /** Morton z-value as a pure Catalyst tree (`ORDER BY zvalue(x, y, 8)`).
    * This necessarily re-states ZOrder.interleave's formula: a
    * FunctionRegistry builder must return an analyzable Catalyst
    * Expression, and in Spark 4 a functions-built Column round-tripped
    * through ColumnBridge yields an unresolved ColumnNodeExpression that
    * cannot resolve in this context (verified — INTERNAL_ERROR at
    * codegen). SqlSurfaceSpec pins the two implementations equal over an
    * exhaustive coordinate grid at several bit widths. */
  private def zvalueExpr(x: Expression, y: Expression, bits: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast, Literal, Multiply, ShiftRight}
    import org.apache.spark.sql.types.LongType
    require(bits >= 1 && bits <= 31, s"zvalue: bits must be in [1, 31], got $bits")
    val (xl, yl) = (Cast(x, LongType), Cast(y, LongType))
    (0 until bits).map { i =>
      Add(
        Multiply(BitwiseAnd(ShiftRight(xl, Literal(i)), Literal(1L)), Literal(1L << (2 * i))),
        Multiply(BitwiseAnd(ShiftRight(yl, Literal(i)), Literal(1L)), Literal(1L << (2 * i + 1))))
    }.reduce[Expression]((a, b) => Add(a, b))
  }

  /** Register on a live session (temp functions). */
  def register(spark: SparkSession): Unit = all.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}

/** `spark.sql.extensions`-style injection: the SQL function surface plus
  * graft's optimizer rules (levenshtein length pre-filter; IVF ANN
  * index-scan rewrite for `ORDER BY vec_l2(...) LIMIT k`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilterRule)
    e.injectOptimizerRule(_ => graft.plans.EpochPushdownRule)
    e.injectOptimizerRule(_ => graft.plans.IvfScanRewriteRule)
    e.injectOptimizerRule(_ => graft.plans.SparseScanRewriteRule)
    // plans the iterative-filtered-ANN leaves the index rewrites plant
    // for `WHERE pred ORDER BY <dist>(…, lit) LIMIT k` over persisted
    // stores (dense IVF and sparse postings variants)
    e.injectPlannerStrategy(_ => graft.plans.IvfIterativeScanStrategy)
    e.injectPlannerStrategy(_ => graft.plans.SparseIterativeScanStrategy)
    // SQL surface for the index LIFECYCLE: CREATE/APPEND/UPSERT/DELETE/
    // COMPACT GRAFT [SPARSE] INDEX … statements lower onto the library
    // maintenance calls; everything else delegates to the stock parser
    e.injectParser((_, delegate) => graft.plans.GraftSqlParser(delegate))
  }
}
