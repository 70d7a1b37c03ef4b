package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the high-compression complement to the
  * scalar codec in [[Quantize]]: the vector is split into `m` subspaces
  * and each subvector is replaced by the id of its nearest codebook
  * centroid, so a 64-dim float32 vector becomes `m` small integers
  * (m=8, ksub=16 ⇒ 64× logical compression vs 4× for SQ8). Search uses
  * ASYMMETRIC DISTANCE (ADC): the query stays full-precision; per query
  * a tiny m×ksub table of exact subspace distances is computed ONCE and
  * every corpus vector is scored by `m` table lookups — no float math
  * on the corpus side at all.
  *
  * Scale design mirrors faiss: codebooks are trained DRIVER-LOCALLY on
  * a deterministic hash-spread sample (same convention as the BPE merge
  * loop, `Bpe.trainMerges` — the model is km·ksub·dsub doubles, the
  * sample a few thousand rows; the corpus-sized work never leaves
  * Spark). Encoding is row-local codegen ([[IvfIndex.NearestCentroidExpr]]
  * per subspace over `slice`), ADC scoring is a row-local
  * transform+aggregate over the broadcast per-query table, and the
  * decomposition identity Σⱼ‖qⱼ−cⱼ‖² = ‖q − concat(cⱼ)‖² (spec-pinned)
  * makes ADC exactly the L2² to the reconstruction — approximation error
  * comes only from quantization, never from scoring.
  *
  * Codec and training only: `IvfIndex.Codec.Pq` encodes and scores with
  * these kernels, and every PQ search runs through
  * `IvfIndex.searchIndex`. Plain PQ is an IVF-PQ store over a
  * one-centroid model at the origin, where a residual is the vector
  * itself, so its codes and ADC tables are plain PQ's. */
object ProductQuantizer {

  /** `codebooks(j)(c)` = centroid `c` of subspace `j` (m × ksub × dsub). */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
    def dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub
    private[operators] def flat: Seq[Double] =
      codebooks.flatMap(_.flatMap(_.toSeq)).toSeq
  }

  /** Deterministic driver-local Lloyd's per subspace over a hash-spread
    * sample (md5-ordered — reproducible on any partitioning). Empty
    * clusters keep their previous centroid. */
  def train(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 10,
            idCol: String = "vec_id", embCol: String = "embedding",
            sampleSize: Int = 4096): Model = {
    require(m >= 1 && ksub >= 2, s"ProductQuantizer: bad m=$m ksub=$ksub")
    val sample = corpus
      .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(sampleSize)
      .select(col(embCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "ProductQuantizer: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"ProductQuantizer: dim $dim not divisible by m=$m")
    require(sample.length >= ksub,
      s"ProductQuantizer: sample ${sample.length} smaller than ksub=$ksub")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var centroids = sub.take(ksub).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Long](ksub)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0; var i = 0
            while (i < dsub) { val x = v(i) - centroids(c)(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        centroids = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) centroids(c)
          else sums(c).map(_ / counts(c))
        }
        it += 1
      }
      centroids
    }
    Model(codebooks)
  }

  /** `array<int>` of m codes — row-local argmin per subspace, codegen'd
    * (one [[IvfIndex.NearestCentroidExpr]] over each `slice`). */
  def encodeExpr(emb: Column, model: Model): Column =
    array((0 until model.m).map { j =>
      IvfIndex.cellOf(slice(emb, j * model.dsub + 1, model.dsub),
        IvfIndex.Model(model.codebooks(j)))
    }: _*)

  /** Reconstruction: concatenated centroids of the codes. */
  def decodeExpr(codes: Column, model: Model): Column = {
    val flat = typedlit(model.flat)
    val (ksub, dsub) = (model.ksub, model.dsub)
    flatten(transform(codes, (c, j) =>
      slice(flat, (j * ksub + c) * dsub + 1, lit(dsub))))
  }

  /** ADC score = Σⱼ table[j·ksub + codeⱼ]: m lookups per corpus row. */
  def adcScoreExpr(codes: Column, table: Column, ksub: Int): Column =
    aggregate(
      transform(codes, (c, j) => element_at(table, j * ksub + c + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** Per-query subspace distance table, flattened to m·ksub doubles:
    * `table(j·ksub + c)` = ‖qⱼ − codebooks(j)(c)‖². */
  def queryTable(q: Array[Double], model: Model): Array[Double] = {
    require(q.length == model.dim,
      s"ProductQuantizer: query dim ${q.length} != model dim ${model.dim}")
    val out = new Array[Double](model.m * model.ksub)
    var j = 0
    while (j < model.m) {
      var c = 0
      while (c < model.ksub) {
        var d = 0.0; var i = 0
        while (i < model.dsub) {
          val x = q(j * model.dsub + i) - model.codebooks(j)(c)(i)
          d += x * x; i += 1
        }
        out(j * model.ksub + c) = d
        c += 1
      }
      j += 1
    }
    out
  }

  /** Persist codebooks as a JSON sidecar (`_pq.json`, nested
    * m×ksub×dsub arrays) next to an encoded-codes table — the same
    * operational contract as `IvfIndex.writeIndex`'s `_centroids.json`:
    * a search job on another cluster reads the model back without
    * retraining. */
  def writeModel(spark: org.apache.spark.sql.SparkSession, path: String, model: Model): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, SidecarName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json(model).getBytes("UTF-8")) finally out.close()
  }

  /** The codebook sidecar's file name. */
  val SidecarName = "_pq.json"

  /** The sidecar content: nested m×ksub×dsub arrays. */
  def json(model: Model): String =
    model.codebooks.map(_.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val p = new org.apache.hadoop.fs.Path(path, SidecarName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    // minimal parser for the [[[d,…],…],…] writeModel emits
    val subspaces = json.trim.stripPrefix("[").stripSuffix("]").split("\\]\\],\\s*\\[\\[")
    Model(subspaces.map { sub =>
      sub.stripPrefix("[[").stripSuffix("]]").split("\\],\\s*\\[")
        .map(_.split(",").map(_.trim.toDouble))
    })
  }

  /** Residual of each vector against its IVF cell centroid —
    * `x − centroid(cell(x))` — the input space of IVF-PQ: residuals
    * concentrate near the origin, so the SAME codebook budget quantizes
    * them with far less error than raw vectors. Row-local (`zip_with`
    * against the broadcast centroid matrix; centroid picked by
    * `element_at` on the precomputed cell id). */
  def residualExpr(emb: Column, cell: Column, ivf: IvfIndex.Model): Column = {
    val ctrs = typedlit(ivf.centroids.map(_.toSeq).toSeq)
    zip_with(emb.cast("array<double>"), element_at(ctrs, cell + 1), (x, c) => x - c)
  }

  /** The per-(query, cell) residual ADC table as a column:
    * `queryTable(q − centroid(cell))`. Evaluated on the small query side
    * (once per query and probed cell), never per corpus row. */
  def residualTableExpr(q: Column, cell: Column, ivf: IvfIndex.Model, pq: Model): Column = {
    val table = udf { (v: Seq[Double], c: Int) =>
      val ctr = ivf.centroids(c)
      queryTable(Array.tabulate(v.length)(i => v(i) - ctr(i)), pq).toSeq
    }
    table(q.cast("array<double>"), cell)
  }

  /** Train PQ codebooks on IVF residuals (faiss IVFPQ's training step):
    * assign the sample to cells, subtract centroids, train on what's
    * left. */
  def trainResidual(corpus: DataFrame, ivf: IvfIndex.Model, m: Int, ksub: Int,
                    iters: Int = 10, idCol: String = "vec_id",
                    embCol: String = "embedding", sampleSize: Int = 4096): Model = {
    val resid = corpus.select(col(idCol),
      residualExpr(col(embCol), IvfIndex.cellOf(col(embCol), ivf), ivf).as("__resid"))
    train(resid, m, ksub, iters, idCol, "__resid", sampleSize)
  }
}
