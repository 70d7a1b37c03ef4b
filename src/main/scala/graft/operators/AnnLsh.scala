package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import graft.functions.VectorFunctions

/** Approximate nearest neighbor via random-hyperplane (signed random
  * projection) LSH — the scale path beside brute-force [[Knn]].
  *
  * Per table t: bucket(v) = sign-bit string of `nbits` hyperplane dots —
  * row-local, one native-expression pass. Candidates = (query, corpus)
  * pairs sharing a bucket in ANY of `tables` tables; exact cosine rerank
  * picks top-k. The corpus is scanned once to emit (table, bucket) keys;
  * the only shuffle is the bucket equi-join, whose fanout is bounded by
  * bucket occupancy (nbits tunes the bucket granularity; AQE splits
  * skewed buckets).
  */
object AnnLsh {

  /** Deterministic hyperplanes: Gaussian via seeded PRNG. */
  private[operators] def planes(dim: Int, nbits: Int, tables: Int, seed: Long): Array[Array[Array[Double]]] = {
    // sign bits pack into an Int: plane b contributes `1 << b`, and Java
    // int shifts are mod 32 — nbits = 33 would silently alias plane 32
    // onto plane 0's bit, corrupting every bucket while the exact rerank
    // hides the recall collapse
    // nbits = 0 is the EXACT-DEGENERATION mode: zero planes put every
    // row in bucket 0, the candidate set is the whole corpus, and the
    // rerank returns exact cosine top-k (the oracle-gate configuration,
    // like full-probe IVF)
    require(nbits >= 0 && nbits <= 32,
      s"AnnLsh: nbits must be in [0, 32] (sign bits pack into one Int), got $nbits")
    val rnd = new java.util.Random(seed)
    Array.fill(tables, nbits, dim)(rnd.nextGaussian())
  }

  /** Native expression: embedding → bucket id for one table's planes.
    * Whole-stage-codegen'd (runs once per corpus row); throws on a
    * vector/plane dimension mismatch — silently truncating to the shorter
    * side would bucket on half the vector and return plausible-but-wrong
    * neighbors (same contract as VectorKernel.checkDims). */
  case class SrpBucketExpr(child: Expression, planes: Array[Array[Double]])
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "srp_bucket"

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    private def dim: Int = planes.headOption.map(_.length).getOrElse(0)

    override protected def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = v.numElements()
      // zero planes = the single-bucket degeneration: no dim to check
      if (planes.nonEmpty && n != dim) throw new IllegalArgumentException(
        s"$prettyName: vector dimension $n != hyperplane dimension $dim")
      var bucket = 0
      var b = 0
      while (b < planes.length) {
        val p = planes(b)
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) * p(i)
          i += 1
        }
        if (dot >= 0) bucket |= (1 << b)
        b += 1
      }
      bucket
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val p = ctx.addReferenceObj("planes", planes, "double[][]")
        val n = ctx.freshName("n"); val b = ctx.freshName("b"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val bucket = ctx.freshName("bucket")
        val pl = ctx.freshName("pl")
        val getElem = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
        val dimCheck =
          if (planes.isEmpty) "" // single-bucket degeneration: no dim
          else s"""
           |if ($n != $dim) {
           |  throw new IllegalArgumentException(
           |    "$prettyName: vector dimension " + $n + " != hyperplane dimension " + $dim);
           |}""".stripMargin
        s"""
           |int $n = $v.numElements();
           |$dimCheck
           |int $bucket = 0;
           |for (int $b = 0; $b < $p.length; $b++) {
           |  double[] $pl = $p[$b];
           |  double $dot = 0.0;
           |  for (int $i = 0; $i < $n; $i++) { $dot += $getElem * $pl[$i]; }
           |  if ($dot >= 0) $bucket |= (1 << $b);
           |}
           |${ev.value} = $bucket;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def srpBucket(emb: Column, tablePlanes: Array[Array[Double]]): Column =
    ColumnBridge.column(SrpBucketExpr(ColumnBridge.expression(emb), tablePlanes))

  /** (id, table, bucket) keys for a corpus — one narrow pass. */
  def bucketKeys(df: DataFrame, idCol: String, embCol: String,
                 dim: Int, nbits: Int, tables: Int, seed: Long): DataFrame = {
    val ps = planes(dim, nbits, tables, seed)
    df.select(col(idCol), col(embCol),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("table_id"), srpBucket(col(embCol), ps(t)).as("bucket"))
      }: _*)).as("tb"))
      .select(col(idCol), col(embCol), col("tb.table_id").as("table_id"), col("tb.bucket").as("bucket"))
  }

  /** Approximate top-k by cosine similarity for each query vector.
    * Queries are a small frame (broadcast); increase `tables`/decrease
    * `nbits` for recall, opposite for speed. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           dim: Int = 64, nbits: Int = 8, tables: Int = 4, seed: Long = 42L,
           idCol: String = "vec_id", embCol: String = "embedding",
           queryIdCol: String = "qid", scale: Int = 4): DataFrame = {
    val ck = bucketKeys(corpus, idCol, embCol, dim, nbits, tables, seed)
    val qk = broadcast(bucketKeys(queries.select(col(queryIdCol).as("__qid"), col(embCol)),
      "__qid", embCol, dim, nbits, tables, seed)
      .select(col("__qid"), col(embCol).as("__qemb"), col("table_id"), col("bucket")))
    // the dedup shuffle carries (qid, id, corpus emb) only; the query
    // embedding is re-attached from the broadcast side afterwards so it
    // doesn't ride through the exchange on every candidate row
    val cand = ck.join(qk.drop("__qemb"), Seq("table_id", "bucket"))
      .select(col("__qid").as(queryIdCol), col(idCol), col(embCol))
      .dropDuplicates(queryIdCol, idCol)
    val qEmb = broadcast(queries.select(col(queryIdCol), col(embCol).as("__qemb")))
    val scored = cand.join(qEmb, queryIdCol)
      .select(col(queryIdCol), col(idCol),
        round(VectorFunctions.cosineSimilarity(col(embCol), col("__qemb")), scale).as("cos"))
    Knn.topPerQuery(scored, col("cos").desc, k, idCol, queryIdCol, "cos")
  }
}
