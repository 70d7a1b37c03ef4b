package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization of embedding vectors — the storage/IO scale lever
  * for similarity search: float32 → uint8 codes shrink a 100 TB vector
  * corpus to 25 TB, so brute-force and IVF scans read 4× fewer bytes at
  * a bounded recall cost (rerank the top candidates at full precision
  * to win the accuracy back).
  *
  * The quantizer is the classic uniform grid over a global [mn, mx]
  * range (faiss SQ8-style): code = clamp(floor((x-mn)/(mx-mn)*256), 0,
  * 255), reconstruction = bucket midpoint. Everything is row-local
  * codegen'd HOF arithmetic — quantization adds ZERO shuffles; the only
  * non-local step is the 2-double range aggregation, whose result is a
  * driver literal (bounded, like IVF centroids).
  *
  * Double arithmetic ((x-mn)/(mx-mn)*256 then floor) is IEEE-exact and
  * engine-independent, which is what lets the DuckDB oracle replay codes
  * bit-for-bit — the reason for floor-then-clamp rather than round
  * (round's half-case tie-breaking differs across engines).
  *
  * Codecs only: the SQ8 and binary kernels here are what the
  * `IvfIndex.Codec.Sq8` / `Codec.Binary` cases encode and score with.
  * Every coarse→rerank search runs through `IvfIndex.searchIndex`; a
  * flat quantized store is an IVF store over a one-centroid model at the
  * origin (one `cell=0` dir, searched at nprobe 1).
  */
object Quantize {

  /** Global (min, max) over all vector elements: row-local array_min/max,
    * then a 1-row global agg — the collect is two doubles. */
  def scalarRange(vecs: DataFrame, vecCol: String = "embedding"): (Double, Double) = {
    val r = vecs.agg(
      min(array_min(col(vecCol))).cast("double").as("mn"),
      max(array_max(col(vecCol))).cast("double").as("mx")).head()
    (r.getDouble(0), r.getDouble(1))
  }

  /** uint8 code array for one vector column (values as longs 0..255). */
  def quantizeExpr(vec: Column, mn: Double, mx: Double): Column = {
    require(mx > mn, s"Quantize: degenerate range [$mn, $mx]")
    transform(vec, x =>
      least(lit(255L), greatest(lit(0L),
        floor((x.cast("double") - lit(mn)) / lit(mx - mn) * lit(256.0)).cast("long"))))
  }

  /** Midpoint reconstruction: x̂ = mn + (code + 0.5) · (mx-mn)/256. */
  def dequantizeExpr(codes: Column, mn: Double, mx: Double): Column =
    transform(codes, c =>
      lit(mn) + (c.cast("double") + lit(0.5)) * lit((mx - mn) / 256.0))

  /** Attach a quantized column next to the original. */
  def quantize(vecs: DataFrame, vecCol: String, mn: Double, mx: Double,
               outCol: String = "qvec"): DataFrame =
    vecs.withColumn(outCol, quantizeExpr(col(vecCol), mn, mx))

  /** Squared L2 between two code arrays in the integer lattice — a fused
    * native kernel (`VecCodeL2Sq`), engine-independent (pure int64, no
    * float summation order to diverge on) and monotone in the dequantized
    * L2 (codes differ from dequantized values by a constant affine map). */
  def codeL2Sq(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecCodeL2Sq(a, b)

  /** BINARY quantization — the pgvector 0.7 bit-vector family (`bit(n)`
    * with hamming ops): sign bit per dimension, 32× smaller than
    * float32, distance = popcount of XOR. The aggressive end of the
    * quantization ladder (float → SQ8 → PQ → binary); recall comes back
    * through the same overfetch-and-rerank recipe as SQ8.
    *
    * Packing: 32 sign bits per array element (held in longs), word =
    * fold(acc·2 + bit) over the reversed 32-slice — every intermediate
    * stays < 2³², so the fold is in-range under ANSI arithmetic (Spark
    * 4's default; a 64-bit pack would overflow the top bit) and the
    * whole codec is row-local codegen'd HOF arithmetic, zero shuffles,
    * engine-replayable (bit packing is integer-exact). */
  def binarizeExpr(vec: Column): Column =
    transform(
      sequence(lit(0), ((size(vec) - lit(1)) / lit(32)).cast("int")),
      w => aggregate(
        reverse(slice(vec, w * lit(32) + lit(1), lit(32))),
        lit(0L),
        (acc, x) => acc * lit(2L) + when(x.cast("double") > lit(0.0), lit(1L)).otherwise(lit(0L))))

  /** Hamming distance between two packed bit vectors: Σ popcount(a⊕b) —
    * pure integer, engine-independent, codegen'd builtins throughout. */
  def hammingExpr(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
}
