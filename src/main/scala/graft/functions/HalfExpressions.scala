package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, DoubleType, FloatType, ShortType}

/** IEEE 754 binary16 (half-float) scalar codec — the arithmetic core of
  * the `halfvec` storage tier (pgvector 0.7's 2-byte vector type,
  * `halfvec(n)` with `halfvec_l2_ops` &c.): 1 sign + 5 exponent + 10
  * mantissa bits, round-to-nearest-even, gradual underflow to
  * subnormals, ±inf/NaN preserved. Java 17 has no
  * `Float.floatToFloat16` (it arrived in 20), so the conversion is
  * spelled out here; the spec pins idempotence over ALL 65536 bit
  * patterns and nearest-rounding against both half neighbors. */
object HalfFloat {
  /** Nearest binary16 bit pattern for `f` (round-half-to-even). */
  def toHalf(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val value = bits & 0x7fffffff
    if (value >= 0x47800000) {
      // f ≥ 2¹⁶: NaN keeps a quiet mantissa, else ±inf. (The RNE
      // boundary cases in [65504, 65536) take the normal branch below,
      // where the mantissa-carry rounding overflows to inf exactly when
      // f ≥ 65520.)
      if (value > 0x7f800000) (sign | 0x7e00).toShort
      else (sign | 0x7c00).toShort
    } else if (value >= 0x38800000) {
      // normal half: rebias exponent (−112), keep top 10 mantissa bits,
      // round-to-nearest-even on the 13 dropped bits (a mantissa carry
      // correctly bumps the exponent, up to +inf)
      val v = value - 0x38000000
      val half = v >>> 13
      val rem = v & 0x1fff
      val rounded =
        if (rem > 0x1000 || (rem == 0x1000 && (half & 1) == 1)) half + 1 else half
      (sign | rounded).toShort
    } else if (value >= 0x33000000) {
      // subnormal half: value = m16 · 2⁻²⁴ with m16 = round(M · 2^(e−126))
      val m = (value & 0x7fffff) | 0x800000
      val shift = 126 - (value >>> 23)
      val half = m >>> shift
      val rem = m & ((1 << shift) - 1)
      val mid = 1 << (shift - 1)
      val rounded = if (rem > mid || (rem == mid && (half & 1) == 1)) half + 1 else half
      (sign | rounded).toShort
    } else sign.toShort // underflows to ±0
  }

  /** Exact float32 value of a binary16 bit pattern (every half value is
    * exactly representable in float32). */
  def fromHalf(h: Short): Float = {
    val bits = h & 0xffff
    val exp = (bits >>> 10) & 0x1f
    val mant = bits & 0x3ff
    val mag =
      if (exp == 0) mant * 5.9604644775390625e-8f // m · 2⁻²⁴
      else if (exp == 31) { if (mant == 0) Float.PositiveInfinity else Float.NaN }
      else ((1024 + mant) * math.pow(2.0, exp - 25)).toFloat // (1+m/1024)·2^(e−15)
    if ((bits & 0x8000) != 0) -mag else mag
  }
}

/** Encode a float/double vector to binary16 codes (array<short>) —
  * halving (vs float32) or quartering (vs float64) the stored bytes at
  * ≤ 2⁻¹¹ relative error, the storage point between full precision and
  * SQ8 on the quantization ladder ([[graft.operators.Quantize]]).
  * Eval-based like the digest expressions ([[MinHashSigExpr]] note):
  * the per-row work is already one tight JVM loop, so CodegenFallback
  * costs a virtual call, not an interpreter walk. */
case class HalfEncodeExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "half_encode"
  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"half_encode expects array<float|double>, got $other")
    }

  // containsNull inputs (parquet read-back marks elements nullable)
  // must be validated: getFloat on a null slot returns garbage that
  // would be encoded as a REAL half value — the stored tier silently
  // diverging from full precision, the SparseDotExpr contract violated
  private lazy val needsNullCheck: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = arr.numElements()
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      if (needsNullCheck && arr.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null element at position $i — a null dimension has no half encoding")
      val v = if (isFloat) arr.getFloat(i) else arr.getDouble(i).toFloat
      out(i) = HalfFloat.toHalf(v)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Decode binary16 codes back to float32 values (exact). */
case class HalfDecodeExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "half_decode"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(ShortType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"half_decode expects array<short>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = HalfFloat.fromHalf(arr.getShort(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PACK a float/double vector straight to binary16 BYTES (2 per
  * element, little-endian binary column) — the on-DISK half tier.
  * `array<short>` does NOT halve parquet bytes (shorts are physical
  * INT32 in the format, measured ~0.97× of the float column);
  * only a packed binary column delivers the 2-byte-per-dim storage the
  * pgvector `halfvec` recipe promises. Fuses encode+pack in one pass. */
case class HalfPackExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "half_pack"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"half_pack expects array<float|double>, got $other")
    }

  private lazy val needsNullCheck: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = arr.numElements()
    val out = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      if (needsNullCheck && arr.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null element at position $i — a null dimension has no half encoding")
      val v = if (isFloat) arr.getFloat(i) else arr.getDouble(i).toFloat
      val h = HalfFloat.toHalf(v)
      out(2 * i) = (h & 0xff).toByte
      out(2 * i + 1) = ((h >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** UNPACK a [[HalfPackExpr]] binary column straight to float32 values
  * (exact decode; fuses unpack+decode — the coarse scan's one-pass
  * read). Odd-length payloads fail loud: a torn buffer must never
  * silently decode a truncated vector. */
case class HalfUnpackExpr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "half_unpack"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"half_unpack expects binary, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    require(bytes.length % 2 == 0,
      s"$prettyName: ${bytes.length} bytes is not a whole number of binary16 codes")
    val n = bytes.length / 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val h = ((bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8)).toShort
      out(i) = HalfFloat.fromHalf(h)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HalfExpressions {
  def halfEncode(v: Column): Column =
    ExpressionUtils.column(HalfEncodeExpr(ExpressionUtils.expression(v)))
  def halfDecode(codes: Column): Column =
    ExpressionUtils.column(HalfDecodeExpr(ExpressionUtils.expression(codes)))
  def halfPack(v: Column): Column =
    ExpressionUtils.column(HalfPackExpr(ExpressionUtils.expression(v)))
  def halfUnpack(bytes: Column): Column =
    ExpressionUtils.column(HalfUnpackExpr(ExpressionUtils.expression(bytes)))
}
