package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StructType}
import graft.functions.{HalfExpressions, VectorFunctions}

/** IVF (inverted-file) ANN — the second scale path beside [[AnnLsh]]:
  * a coarse k-means quantizer assigns every vector to its nearest
  * centroid cell; queries probe only the `nprobe` nearest cells and
  * rerank exactly.
  *
  * Training is deterministic Lloyd's: init = the k lowest-id vectors,
  * fixed iteration count; each iteration is ONE groupBy over the corpus
  * (posexplode to (cell, dim) partial means — k×dim rows collected to the
  * driver, which is tiny). Assignment is a native expression (embedded
  * centroid matrix, argmin-L2 single pass). At 100 TB the corpus is
  * scanned once per iteration and once for final assignment; nothing
  * else moves.
  *
  * One store layout serves every codec: `(id, embedding, codec column?,
  * cell)` partitioned by cell, declared by sidecar files — see [[Codec]],
  * [[Store]] and [[readStore]]. One [[writeIndex]] / [[appendIndex]] /
  * [[upsertIndex]] / [[searchIndex]] covers them all.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length

    /** The `nprobe` nearest cells to `q`, nearest first, ties to the
      * lower cell id — driver-local math on the (k × dim) matrix, the
      * ranking [[cellsOf]] computes per row. Every IVF search probes
      * with it ([[searchIndex]], the planner's fixed-probe rewrite and
      * its iterative leaf). */
    def nearestCells(q: Array[Double], nprobe: Int): Seq[Int] = {
      val dim = centroids.headOption.map(_.length).getOrElse(0)
      if (q.length != dim) throw new IllegalArgumentException(
        s"ivf_cells: vector dimension ${q.length} != centroid dimension $dim")
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < q.length) { val x = q(j) - c(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(identity).take(math.max(1, nprobe)).map(_._2).toSeq
    }
  }

  /** Nearest-centroid id (argmin L2). Whole-stage-codegen'd (runs once per
    * corpus row); throws on a vector/centroid dimension mismatch rather
    * than silently truncating to the shorter side (which would assign
    * cells on a prefix of the vector — plausible-but-wrong probing). */
  case class NearestCentroidExpr(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ivf_cell"

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    private def dim: Int = centroids.headOption.map(_.length).getOrElse(0)

    override protected def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = v.numElements()
      if (n != dim) throw new IllegalArgumentException(
        s"$prettyName: vector dimension $n != centroid dimension $dim")
      var best = -1; var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val ctr = centroids(c)
        var d = 0.0; var i = 0
        while (i < n) {
          val x = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) - ctr(i)
          d += x * x; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val cs = ctx.addReferenceObj("centroids", centroids, "double[][]")
        val n = ctx.freshName("n"); val c = ctx.freshName("c"); val i = ctx.freshName("i")
        val d = ctx.freshName("d"); val x = ctx.freshName("x")
        val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
        val ctr = ctx.freshName("ctr")
        val getElem = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
        s"""
           |int $n = $v.numElements();
           |if ($n != $dim) {
           |  throw new IllegalArgumentException(
           |    "$prettyName: vector dimension " + $n + " != centroid dimension " + $dim);
           |}
           |int $best = -1; double $bestD = Double.MAX_VALUE;
           |for (int $c = 0; $c < $cs.length; $c++) {
           |  double[] $ctr = $cs[$c];
           |  double $d = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $x = $getElem - $ctr[$i];
           |    $d += $x * $x;
           |  }
           |  if ($d < $bestD) { $bestD = $d; $best = $c; }
           |}
           |${ev.value} = $best;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** The `nprobe` nearest centroid ids, nearest first (ties → lower id).
    * Codegen'd like [[NearestCentroidExpr]]; same strict dim check. */
  case class NearestCentroidsExpr(child: Expression, centroids: Array[Array[Double]], nprobe: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ivf_cells"

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    private def dim: Int = centroids.headOption.map(_.length).getOrElse(0)

    override protected def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = v.numElements()
      if (n != dim) throw new IllegalArgumentException(
        s"$prettyName: vector dimension $n != centroid dimension $dim")
      val dists = new Array[(Double, Int)](centroids.length)
      var c = 0
      while (c < centroids.length) {
        val ctr = centroids(c)
        var d = 0.0; var i = 0
        while (i < n) {
          val x = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) - ctr(i)
          d += x * x; i += 1
        }
        dists(c) = (d, c); c += 1
      }
      val top = dists.sortBy(t => (t._1, t._2)).take(math.min(nprobe, centroids.length))
      new GenericArrayData(top.map(_._2.asInstanceOf[Any]))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val cs = ctx.addReferenceObj("centroids", centroids, "double[][]")
        val n = ctx.freshName("n"); val c = ctx.freshName("c"); val i = ctx.freshName("i")
        val d = ctx.freshName("d"); val x = ctx.freshName("x")
        val ds = ctx.freshName("ds"); val used = ctx.freshName("used")
        val out = ctx.freshName("out"); val m = ctx.freshName("m")
        val j = ctx.freshName("j"); val best = ctx.freshName("best")
        val bestD = ctx.freshName("bestD"); val ctr = ctx.freshName("ctr")
        val getElem = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
        s"""
           |int $n = $v.numElements();
           |if ($n != $dim) {
           |  throw new IllegalArgumentException(
           |    "$prettyName: vector dimension " + $n + " != centroid dimension " + $dim);
           |}
           |double[] $ds = new double[$cs.length];
           |for (int $c = 0; $c < $cs.length; $c++) {
           |  double[] $ctr = $cs[$c];
           |  double $d = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $x = $getElem - $ctr[$i];
           |    $d += $x * $x;
           |  }
           |  $ds[$c] = $d;
           |}
           |int $m = java.lang.Math.min($nprobe, $cs.length);
           |int[] $out = new int[$m];
           |boolean[] $used = new boolean[$cs.length];
           |for (int $j = 0; $j < $m; $j++) {
           |  int $best = -1; double $bestD = Double.MAX_VALUE;
           |  for (int $c = 0; $c < $cs.length; $c++) {
           |    if (!$used[$c] && ($best == -1 || $ds[$c] < $bestD)) { $bestD = $ds[$c]; $best = $c; }
           |  }
           |  $used[$best] = true;
           |  $out[$j] = $best;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def cellOf(emb: Column, model: Model): Column =
    ColumnBridge.column(NearestCentroidExpr(ColumnBridge.expression(emb), model.centroids))

  def cellsOf(emb: Column, model: Model, nprobe: Int): Column =
    ColumnBridge.column(NearestCentroidsExpr(ColumnBridge.expression(emb), model.centroids, nprobe))


  /** Deterministic Lloyd's over a deterministic SAMPLE of the corpus —
    * the standard IVF recipe: the coarse quantizer only needs the density
    * shape, so training reads `samplePercent`% of rows (md5-bucketed,
    * reproducible on any engine/partitioning) and each iteration's
    * posexplode shuffle is over the sample, not the corpus. At 100 TB
    * with the default 10%, that is a 10× cut on every training pass; the
    * full corpus is only scanned once, at assignment time.
    *
    * Init is hash-spread: the k lowest md5(id) rows — an
    * order-independent pseudo-random draw (k-lowest-ID picks adjacent,
    * likely-correlated rows; a spread draw balances cells, which is what
    * probe pruning lives on). Driver holds k×dim doubles — trivial. */
  def train(corpus: DataFrame, k: Int, iters: Int = 5,
            idCol: String = "vec_id", embCol: String = "embedding",
            samplePercent: Int = 10): Model = {
    def init(df: DataFrame): Array[Array[Double]] = df
      .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(k)
      .select(col(embCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    var sample =
      if (samplePercent >= 100) corpus
      else Sampling.deterministicSample(corpus, idCol, samplePercent, salt = "ivf-train")
    var centroids = init(sample)
    // degenerate corpora (< k sampled rows): fall back to full data —
    // detected from the init collect itself, no extra counting job
    if (centroids.length < k && (sample ne corpus)) {
      sample = corpus
      centroids = init(corpus)
    }
    var it = 0
    while (it < iters) {
      val model = Model(centroids)
      val means = sample
        .select(cellOf(col(embCol), model).as("cell"),
          posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next
      it += 1
    }
    Model(centroids)
  }

  /** Coarse quantizer for a [[Codec.Prefix]] store: k-means in the prefix space. */
  def trainSub(corpus: DataFrame, subDim: Int, k: Int, iters: Int = 5,
               idCol: String = "vec_id", embCol: String = "embedding",
               samplePercent: Int = 10): Model =
    train(corpus.select(col(idCol), slice(col(embCol), 1, subDim).as(embCol)),
      k, iters, idCol, embCol, samplePercent)

  /** How a store encodes its vectors for the coarse pass — the suffix of
    * a FAISS `index_factory` string (`IVFk,Flat` / `,SQ8` / `,PQm` …).
    * Every store keeps the full float column for the exact rerank; a
    * [[Coarse]] codec adds one derived column that the coarse pass scans
    * instead. The codec is declared by the store's sidecar files and read
    * back, in one place, by [[readStore]]. A flat (unclustered) quantized
    * store is the same store over a one-centroid model at the origin: one
    * `cell=0` dir, searched at nprobe 1. */
  sealed trait Codec {
    /** The projection of the embedding that cells are assigned and probed on. */
    def assignOn(emb: Column): Column = emb
    /** Whether a store of this codec and `store` metric serves the query
      * `metric` ([[searchIndex]]'s names). The coarse pass only ranks by
      * the store's own metric; other metrics a store serves are scored
      * exactly over the probed cells. */
    def serves(metric: String, store: String): Boolean =
      metric == store || metric == "cosine_sim" ||
        (store == "l2" && (metric == "ip" || metric == "l1"))
  }

  /** A codec with a stored coarse column: the coarse pass scores that
    * column against each query's code, and the `k·overfetch` best
    * candidates per query are reranked on the float column. */
  sealed abstract class Coarse(val column: String, val overfetch: Int) extends Codec {
    /** The stored column for `emb` (already in the store's metric space),
      * assigned to `cell` under `model`. */
    def encode(emb: Column, cell: Column, model: Model): Column
    /** The sidecar that declares this codec: (file name, content). */
    def sidecar: (String, String)
    /** The query's code against probed `cell`, computed once per
      * (query, probed cell) on the broadcast side. */
    def queryCode(q: Column, cell: Column, model: Model): Column
    /** Coarse score of a stored code against a query code; lower is nearer. */
    def score(stored: Column, qcode: Column): Column
  }

  object Codec {
    /** The float column alone (`IVFk,Flat`). */
    case object Flat extends Codec

    /** uint8 scalar codes under a global [mn, mx] range (`IVFk,SQ8`),
      * scored in the integer code domain. */
    final case class Sq8(mn: Double, mx: Double) extends Coarse("qvec", 4) {
      def encode(emb: Column, cell: Column, model: Model): Column =
        Quantize.quantizeExpr(emb, mn, mx)
      def sidecar: (String, String) = "_quantize.json" -> s"""{"mn":$mn,"mx":$mx}"""
      def queryCode(q: Column, cell: Column, model: Model): Column =
        Quantize.quantizeExpr(q, mn, mx)
      def score(stored: Column, qcode: Column): Column = Quantize.codeL2Sq(stored, qcode)
    }

    /** pgvector's `halfvec`: IEEE binary16 packed 2 bytes/dim (the
      * "packed2" layout), scored by L2 with the query rounded to binary16
      * too. */
    case object Half extends Coarse("hvec", 4) {
      def encode(emb: Column, cell: Column, model: Model): Column = HalfExpressions.halfPack(emb)
      def sidecar: (String, String) = "_half.json" -> """{"bits":16,"format":"packed2"}"""
      def queryCode(q: Column, cell: Column, model: Model): Column =
        HalfExpressions.halfDecode(HalfExpressions.halfEncode(q))
      def score(stored: Column, qcode: Column): Column =
        VectorFunctions.l2Distance(HalfExpressions.halfUnpack(stored), qcode)
    }

    /** Matryoshka / pgvector subvector index: the first `subDim` dims,
      * which are also the space cells live in (train with [[trainSub]]).
      * Prefix geometry only orders the store's own metric. */
    final case class Prefix(subDim: Int) extends Coarse("sub", 4) {
      require(subDim >= 1, s"IvfIndex: subDim must be >= 1, got $subDim")
      override def assignOn(emb: Column): Column = slice(emb, 1, subDim)
      override def serves(metric: String, store: String): Boolean = metric == store
      def encode(emb: Column, cell: Column, model: Model): Column = assignOn(emb)
      def sidecar: (String, String) = "_matryoshka.json" -> s"""{"subDim":$subDim}"""
      def queryCode(q: Column, cell: Column, model: Model): Column = assignOn(q)
      def score(stored: Column, qcode: Column): Column =
        VectorFunctions.l2DistanceSq(stored, qcode)
    }

    /** Packed sign bits (pgvector `bit(n)`), scored by Hamming — the
      * lossiest codec, hence the larger default overfetch. */
    case object Binary extends Coarse("bvec", 8) {
      def encode(emb: Column, cell: Column, model: Model): Column = Quantize.binarizeExpr(emb)
      def sidecar: (String, String) = "_binary.json" -> """{"bits":32}"""
      def queryCode(q: Column, cell: Column, model: Model): Column = Quantize.binarizeExpr(q)
      def score(stored: Column, qcode: Column): Column = Quantize.hammingExpr(stored, qcode)
    }

    /** IVF-PQ (`IVFk,PQm`): product codes of the residual against the
      * row's cell centroid, scored by ADC against a per-(query, cell)
      * residual table. Train `pq` with [[ProductQuantizer.trainResidual]]
      * against the store's own model; over the one-centroid origin model a
      * residual is the vector itself, so plain [[ProductQuantizer.train]]
      * codebooks serve a plain-PQ store. */
    final case class Pq(pq: ProductQuantizer.Model) extends Coarse("pq_codes", 4) {
      def encode(emb: Column, cell: Column, model: Model): Column =
        ProductQuantizer.encodeExpr(ProductQuantizer.residualExpr(emb, cell, model), pq)
      def sidecar: (String, String) = ProductQuantizer.SidecarName -> ProductQuantizer.json(pq)
      def queryCode(q: Column, cell: Column, model: Model): Column =
        ProductQuantizer.residualTableExpr(q, cell, model, pq)
      def score(stored: Column, qcode: Column): Column =
        ProductQuantizer.adcScoreExpr(stored, qcode, pq.ksub)
    }
  }

  /** A persisted store's declaration: coarse quantizer, codec and metric
    * (`l2`, or `cosine` — vectors L2-normalized on the way in, so L2
    * cells and coarse scores order cosine exactly: pgvector's
    * `vector_cosine_ops`). */
  final case class Store(model: Model, codec: Codec = Codec.Flat, metric: String = "l2") {
    require(metric == "l2" || metric == "cosine",
      s"IvfIndex: unknown store metric '$metric' (l2 or cosine)")
    codec match {
      case Codec.Prefix(d) => require(model.centroids.headOption.forall(_.length == d),
        s"IvfIndex: model dimension ${model.centroids.headOption.map(_.length)} != subDim $d " +
          "— train the coarse quantizer in the prefix space (trainSub)")
      case _ =>
    }
    def serves(query: String): Boolean = codec.serves(query, metric)
  }

  /** The store at `path`, resolved from the sidecar files alone (no
    * listing, no schema read): `_centroids.json` always, at most one
    * codec sidecar, and `_metric.json` on cosine stores. A sidecar that
    * exists is read, and its read errors propagate — an unreadable
    * `_metric.json` must not turn a cosine store into an L2 one. Gated
    * by the pending-swap check of [[readModel]]. */
  def readStore(spark: SparkSession, path: String): Store = {
    val model = readModel(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(name: String): Boolean = fs.exists(new Path(root, name))
    def sidecar(name: String): Option[String] =
      if (exists(name)) Some(readSidecar(spark, path, name)) else None
    def field(json: String, name: String, file: String): String =
      s""""$name"\\s*:\\s*"?([-0-9.eEa-zA-Z]+)""".r.findFirstMatchIn(json).map(_.group(1))
        .getOrElse(throw new IllegalStateException(s"IvfIndex: malformed $file at $path"))
    val metric = sidecar("_metric.json").fold("l2") { json =>
      field(json, "metric", "_metric.json") match {
        case m @ ("l2" | "cosine") => m
        case m => throw new IllegalStateException(
          s"IvfIndex: $path/_metric.json names unknown metric '$m' (l2 or cosine)")
      }
    }
    val codecs = Seq(
      sidecar("_quantize.json").map(j => Codec.Sq8(
        field(j, "mn", "_quantize.json").toDouble, field(j, "mx", "_quantize.json").toDouble)),
      sidecar("_half.json").map { j =>
        // an unversioned _half.json is a pre-packing store (hvec as
        // array<short>): appending packed rows would poison its parquet
        // schema, so every path refuses it up front
        require(""""format"\s*:\s*"packed2"""".r.findFirstIn(j).isDefined,
          s"IvfIndex: $path is a pre-packed-layout halfvec store (hvec as array<short>) — " +
            "rebuild it with writeIndex(codec = Codec.Half) to migrate to the packed layout")
        Codec.Half
      },
      sidecar("_matryoshka.json").map(j =>
        Codec.Prefix(field(j, "subDim", "_matryoshka.json").toInt)),
      sidecar("_binary.json").map(_ => Codec.Binary),
      Option.when(exists(ProductQuantizer.SidecarName))(
        Codec.Pq(ProductQuantizer.readModel(spark, path)))).flatten
    require(codecs.size <= 1, s"IvfIndex: $path declares more than one codec: $codecs")
    Store(model, codecs.headOption.getOrElse(Codec.Flat), metric)
  }

  /** The planner's [[readStore]]: None when `path` carries no IVF store;
    * cached per path ([[stamped]]). */
  private[graft] def plannedStore(spark: SparkSession, path: String): Option[Store] =
    stamped(spark, path, storeCache)(readStore(spark, path))
  private val storeCache = TrieMap.empty[String, (String, Store)]

  /** The store's read schema — data columns, then its partition columns
    * — resolved from one cell dir of `dirs` (the store's [[cellDirs]]) and
    * cached beside [[plannedStore]]'s entry under the same stamp, so a
    * rebuild is read with its new schema. A store without any cell dir
    * falls back to Spark's root read (and its "unable to infer" error). */
  private def storeSchema(spark: SparkSession, path: String, dirs: Seq[(Int, Path)]): StructType =
    stamped(spark, path, schemaCache) {
      dirs.headOption.fold(spark.read.parquet(path).schema) { case (_, dir) =>
        spark.read.option("basePath", path).parquet(dir.toString).schema
      }
    }.getOrElse(throw new IllegalArgumentException(s"IvfIndex: $path holds no IVF store"))
  private val schemaCache = TrieMap.empty[String, (String, StructType)]

  /** `load` cached per path, keyed by the centroid sidecar's length+mtime
    * (a rebuild rewrites it); None when `path` carries no IVF store. Keyed
    * by PATH with the stamp beside the value, so a rebuild replaces the
    * entry instead of leaking the old one. */
  private def stamped[T](spark: SparkSession, path: String,
                         cache: TrieMap[String, (String, T)])(load: => T): Option[T] = {
    val p = new Path(path, "_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val stamp = { val s = fs.getFileStatus(p); s"${s.getLen}:${s.getModificationTime}" }
    cache.get(path) match {
      case Some((st, v)) if st == stamp => Some(v)
      case _ =>
        val v = load
        cache.put(path, (stamp, v))
        Some(v)
    }
  }

  /** Every `cell=C` partition dir of the store with its cell, in cell
    * order: at the root, or nested under other partition dirs
    * (`batch_id=N/cell=C`, [[graft.streaming.VectorStream]]). One driver
    * listing per level; hidden names are skipped, as Spark's own listing
    * skips them. */
  private def cellDirs(spark: SparkSession, path: String): Seq[(Int, Path)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def under(dir: Path): Seq[(Int, Path)] = fs.listStatus(dir).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (!s.isDirectory || name.startsWith(".") || !name.contains("=")) Nil
      else if (name.startsWith("cell=")) name.stripPrefix("cell=").toIntOption.map(_ -> s.getPath)
      else under(s.getPath)
    }
    under(root).sortBy { case (c, p) => (c, p.toString) }
  }

  /** The store's rows in the probed `cells`, read from their partition
    * dirs alone. Spark is handed the existing `cell=C` dirs ([[cellDirs]])
    * with the store root as `basePath` and the store's schema
    * ([[storeSchema]]), so a search neither re-discovers the whole store
    * (a distributed listing job once it holds more cell dirs than Spark's
    * parallel-discovery threshold) nor infers its schema per request. A
    * probed cell with no dir contributes no rows. The `cell IN` filter
    * stays on the scan, which reports its partition pruning as before. */
  private[graft] def probedScan(spark: SparkSession, path: String, cells: Seq[Int]): DataFrame = {
    val all = cellDirs(spark, path)
    val schema = storeSchema(spark, path, all)
    val want = cells.toSet
    val dirs = all.collect { case (c, dir) if want(c) => dir.toString }
    val rows =
      if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).option("basePath", path).parquet(dirs: _*)
    rows.where(col("cell").isin(cells: _*))
  }

  private[graft] def writeSidecars(spark: SparkSession, path: String, store: Store): Unit = {
    writeSidecar(spark, path, "_centroids.json", json(store.model))
    store.codec match {
      case c: Coarse =>
        val (name, content) = c.sidecar
        writeSidecar(spark, path, name, content)
      case _ =>
    }
    if (store.metric == "cosine") writeSidecar(spark, path, "_metric.json", """{"metric":"cosine"}""")
  }

  /** The rows `store` holds for `vectors`: `(id, embedding, codec
    * column?, cell)` — normalized first on a cosine store, cells
    * assigned on the codec's projection. */
  private[graft] def encode(vectors: DataFrame, store: Store,
                            idCol: String, embCol: String): DataFrame = {
    val v =
      if (store.metric == "cosine")
        vectors.withColumn(embCol, VectorFunctions.l2Normalize(col(embCol)))
      else vectors
    val assigned = v.select(col(idCol), col(embCol),
      cellOf(store.codec.assignOn(col(embCol)), store.model).as("cell"))
    store.codec match {
      case c: Coarse => assigned.select(col(idCol), col(embCol),
        c.encode(col(embCol), col("cell"), store.model).as(c.column), col("cell"))
      case _ => assigned
    }
  }

  /** Persist an IVF index: corpus assigned to cells, written as parquet
    * partitioned BY CELL — a probed search then reads only the nprobe/k
    * fraction of the data via partition pruning (the on-disk analogue of
    * an inverted file). The `codec` column rides beside the float column,
    * and the centroids, codec and metric ride along as tiny JSON
    * sidecars, written through the Hadoop filesystem layer so
    * hdfs://s3a://abfss index paths work the same as local ones. A
    * cosine store wants a `model` trained on the normalized corpus. */
  def writeIndex(corpus: DataFrame, model: Model, path: String,
                 codec: Codec = Codec.Flat, metric: String = "l2",
                 idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val store = Store(model, codec, metric)
    encode(corpus, store, idCol, embCol)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeSidecars(corpus.sparkSession, path, store)
  }

  /** Append new vectors to a persisted index: each is encoded in the
    * store's codec and metric and assigned to its cell under the EXISTING
    * centroids (both read from the sidecars), and the rows are appended
    * into the matching `cell=` partitions. Append-only — the caller
    * dedups ids (same contract as [[DedupIndex.appendIndex]]); searches
    * see the new vectors immediately. Centroids (and SQ8 ranges, PQ
    * codebooks) are NOT retrained, so a drifting distribution slowly
    * unbalances cells — rebuild on the usual IVF maintenance cadence. */
  def appendIndex(spark: SparkSession, path: String, vectors: DataFrame,
                  idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    recoverPending(spark, path, "appendIndex")
    encode(vectors, readStore(spark, path), idCol, embCol)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** Cell-occupancy stats of a persisted index: `(cell, n, frac)`. The
    * scan reads only the partition column (row counts from parquet
    * metadata) — cheap enough to run on every maintenance tick. */
  def cellStats(spark: SparkSession, path: String): DataFrame = {
    val counts = spark.read.parquet(path).groupBy(col("cell")).count()
    val total = counts.agg(sum(col("count")).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col("cell"), col("count").as("n"),
        round(col("count") / col("__tot"), 6).as("frac"))
  }

  /** Per-cell FILE stats of a persisted index: `(cell, files, bytes)`,
    * from one recursive filesystem listing (no data read — same cost
    * class as [[cellStats]], runnable on every maintenance tick). Every
    * [[appendIndex]] batch adds at least one file per touched cell dir,
    * so after N streaming batches a cell holds O(N) files — and at
    * 100 TB the file LISTING, not the bytes, is what kills scheduling.
    * This is the trigger side; [[compactIndex]] is the fix. */
  def fileStats(spark: SparkSession, path: String): Seq[(Int, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val acc = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    val it = fs.listFiles(p, true)
    val cellRe = """cell=(\d+)""".r
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        cellRe.findFirstMatchIn(f.getPath.toString).foreach { m =>
          val cell = m.group(1).toInt
          val (c, b) = acc.getOrElse(cell, (0L, 0L))
          acc(cell) = (c + 1, b + f.getLen)
        }
      }
    }
    acc.toSeq.map { case (cell, (c, b)) => (cell, c, b) }.sortBy(_._1)
  }

  /** Compaction trigger: true when any cell dir holds more than
    * `maxFilesPerCell` data files. Pure listing, driver sees k rows. */
  def needsCompaction(spark: SparkSession, path: String,
                      maxFilesPerCell: Int = 16): Boolean = {
    require(maxFilesPerCell >= 1,
      s"needsCompaction: maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    fileStats(spark, path).exists(_._2 > maxFilesPerCell)
  }

  /** Rewrite an append-sprayed index store to ~targetBytes files per
    * cell, preserving the cell partitioning (searches keep their static
    * `cell IN` file pruning) and every sidecar the store carries — works
    * unchanged for every codec and metric. Search results are
    * byte-identical before and after (spec-pinned): compaction moves rows
    * between files, never changes them. Run when [[needsCompaction]]
    * fires — typically after N streaming [[appendIndex]] batches. */
  def compactIndex(spark: SparkSession, path: String,
                   targetBytes: Long = 128L * 1024 * 1024): graft.sources.Compaction.Report = {
    // maintenance-op contract: compacting a mid-swap store would read
    // cells whose staged content is not yet installed AND leave the
    // manifest to later install pre-compaction partitions over the
    // compacted layout — roll the swap forward first, like every
    // other op the read gate's error message names
    recoverPending(spark, path, "compactIndex")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // enumerate the store's actual `_*.json` sidecars instead of a
    // hard-coded name list: the fixed list had already gone stale once
    // (it lacked _binary.json, so compacting a binary store silently
    // dropped its marker and broke subsequent searches) and every new
    // index family would have to remember to extend it
    val sidecars = fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("_") && n.endsWith(".json")).toSeq.sorted
    graft.sources.Compaction.compact(spark, path, targetBytes,
      partitionBy = Seq("cell"), preserveFiles = sidecars)
  }

  /** Rebuild heuristic for [[appendIndex]]-grown indexes: true when the
    * hottest cell holds more than `maxSkew` × the mean — probe cost is
    * driven by the cells a query lands in, so a skewed quantizer makes
    * nprobe latency bimodal. (Empty cells are fine: they cost nothing.)
    * Driver sees k rows; rebuild with [[train]] + [[writeIndex]]. */
  def needsRebuild(spark: SparkSession, path: String, maxSkew: Double = 4.0): Boolean = {
    require(maxSkew >= 1, s"needsRebuild: maxSkew must be >= 1, got $maxSkew")
    val ns = cellStats(spark, path).select(col("n")).collect().map(_.getLong(0))
    ns.nonEmpty && ns.max.toDouble > maxSkew * (ns.sum.toDouble / ns.length)
  }

  /** READ-ONLY crash-staleness gate (round 16 — parity with
    * [[Hnsw]]'s requireNoPendingSwap): a `_plan.json` manifest under
    * the sibling `__maint_staging` dir means a maintenance swap
    * (reassign/delete/compact/upsert) COMMITTED but did not finish
    * installing — the on-disk cell mix may double or drop ids (and a
    * reassign's new centroids may not be live) until the swap rolls
    * forward. Readers refuse loud instead of serving it; every
    * maintenance op — including append — runs the recovery on entry and
    * clears the manifest. A staging dir WITHOUT a manifest means the
    * staging write itself crashed: the store was never touched and stays
    * readable. Gated here in [[readModel]], the choke point every read
    * passes through. */
  private def requireNoPendingSwap(spark: SparkSession, path: String): Unit = {
    // asks the SAME StagedSwap the maintenance ops use (current AND
    // legacy staging names), so gate and recovery can never disagree
    maintSwap(spark, path, "read").pendingPlan.foreach { plan =>
      throw new IllegalArgumentException(
        s"IvfIndex: $path has a committed-but-unfinished maintenance swap " +
          s"($plan) — run any maintenance op (appendIndex/upsertIndex/" +
          "deleteFromIndex/reassignIndex/compactIndex) to roll it forward " +
          "before reading")
    }
  }

  /** This store family's [[graft.sources.StagedSwap]], from a path. */
  private def maintSwap(spark: SparkSession, path: String,
                        op: String): graft.sources.StagedSwap = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    stagedSwap(fs, root, op)
  }

  /** Maintenance-op entry contract: roll forward any committed-but-
    * unfinished swap before touching the store (clears the read gate's
    * manifest). Called by EVERY maintenance op — append and compactIndex
    * as well as the swap-running ops. */
  private def recoverPending(spark: SparkSession, path: String, op: String): Unit =
    maintSwap(spark, path, op).recover()

  def readModel(spark: SparkSession, path: String): Model = {
    requireNoPendingSwap(spark, path)
    val json = readSidecar(spark, path, "_centroids.json")
    // minimal parser for [[d,d,...],...] written by writeIndex
    val rows = json.trim.stripPrefix("[").stripSuffix("]").split("\\],\\s*\\[")
      .map(_.stripPrefix("[").stripSuffix("]"))
      .map(_.split(",").map(_.trim.toDouble))
    Model(rows)
  }

  /** Rerank distance per query metric — pgvector's operators. */
  private val distances: Map[String, (Column, Column) => Column] = Map(
    "l2" -> (VectorFunctions.l2Distance _),         // <->
    "cosine" -> (VectorFunctions.cosineDistance _), // <=>
    "ip" -> (VectorFunctions.negInnerProduct _),    // <#>
    "l1" -> (VectorFunctions.l1Distance _))         // <+>

  /** A search's queries on the driver: `(qid, __qemb, probe)` rows, where
    * `schema` types `(qid, __qemb)` as the query frame does and `probe`
    * is the vector the query's cells are ranked on (null: no cell). */
  private final case class Probes(rows: Seq[Row], schema: StructType)

  /** Evaluates `queries` once, in one collect — broadcast-small by
    * contract: `qemb` is the vector the rerank scores, `probeOn` its
    * projection cells are ranked on. */
  private def collectProbes(queries: DataFrame, qemb: Column, probeOn: Column => Column,
                            queryIdCol: String): Probes = {
    val side = queries.select(col(queryIdCol), qemb.as("__qemb"))
    Probes(side.select(col(queryIdCol), col("__qemb"),
      probeOn(col("__qemb")).cast("array<double>")).collect().toSeq, side.schema)
  }

  /** Each query's own `nprobe` nearest cells, ranked on the driver by
    * [[Model.nearestCells]] (the ranking [[cellsOf]] computes per row,
    * ties included): a local `(qid, __qemb, cell)` frame and its
    * distinct cells. */
  private def probePairs(spark: SparkSession, probes: Probes, model: Model,
                         nprobe: Int): (DataFrame, Seq[Int]) = {
    val rows = probes.rows.filterNot(_.isNullAt(2)).flatMap(r => model
      .nearestCells(r.getSeq[Double](2).toArray, nprobe).map(c => Row(r.get(0), r.get(1), c)))
    (spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      probes.schema.add("cell", IntegerType, nullable = false)), rows.map(_.getInt(2)).distinct)
  }

  /** Each query's `n` best coarse candidates over its own probed cells,
    * `(qid, id)`: the codec column scored against the query's code for
    * the row's cell. Only (id, cell, codec column) is read. */
  private def coarsePass(scanned: DataFrame, pairs: DataFrame, c: Coarse, model: Model, n: Int,
                         idCol: String, queryIdCol: String): DataFrame = {
    val codes = pairs.select(col(queryIdCol), col("cell"),
      c.queryCode(col("__qemb"), col("cell"), model).as("__qcode"))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("__coarse"), col(idCol))
    scanned.select(col(idCol), col("cell"), col(c.column))
      .join(broadcast(codes), Seq("cell"))
      .select(col(queryIdCol), col(idCol), c.score(col(c.column), col("__qcode")).as("__coarse"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .select(col(queryIdCol), col(idCol))
  }

  /** The one IVF search: probe pairs ([[probePairs]]) → `scan` of their
    * distinct cells (a predicate, if any, rides in it) → join on `cell`,
    * so a query only scores its own probed cells → optional coarse pass
    * → exact rerank by `metric` (`cosine_sim` or a [[distances]] key),
    * rounded to `scale` → [[Knn.topPerQuery]]. With `coarse` = (codec, n,
    * maxPushdownIds), the scan is narrowed to the union of the queries'
    * [[coarsePass]] candidates as [[searchIndex]] describes, and a query
    * reranks a row only if it chose it. */
  private def search(spark: SparkSession, probes: Probes, model: Model, nprobe: Int,
                     scan: Seq[Int] => DataFrame, coarse: Option[(Coarse, Int, Int)],
                     metric: String, k: Int, idCol: String, embCol: String,
                     queryIdCol: String, scale: Int): DataFrame = {
    val (pairs, cells) = probePairs(spark, probes, model, nprobe)
    val scanned = scan(cells)
    val (docs, chosen) = coarse.fold((scanned, Option.empty[DataFrame])) { case (c, n, maxIds) =>
      // materialized once: the candidates feed the driver probe, the
      // per-query filter and, on fallback, the semi join
      val cand = coarsePass(scanned, pairs, c, model, n, idCol, queryIdCol)
        .distinct().localCheckpoint(true)
      val union = cand.select(col(idCol)).distinct()
      val ids = union.limit(maxIds + 1).collect()
      (if (ids.length <= maxIds) scanned.where(col(idCol).isin(ids.map(_.get(0)).toSeq: _*))
       else scanned.join(union, Seq(idCol), "left_semi"), Some(cand))
    }
    val joined = docs.select(col(idCol), col(embCol), col("cell")).join(broadcast(pairs), Seq("cell"))
    val (scoreCol, score) =
      if (metric == "cosine_sim") ("cos", VectorFunctions.cosineSimilarity _) else ("dist", distances(metric))
    val scored = chosen.fold(joined)(joined.join(_, Seq(queryIdCol, idCol)))
      .select(col(queryIdCol), col(idCol),
        round(score(col(embCol), col("__qemb")), scale).as(scoreCol))
    Knn.topPerQuery(scored, if (metric == "cosine_sim") col(scoreCol).desc else col(scoreCol),
      k, idCol, queryIdCol, scoreCol)
  }

  /** Search a persisted index: every metric scores each query over its
    * own `nprobe` probed cells only, so a query's answer does not depend
    * on the rest of its batch, and the query frame is evaluated once.
    * Only the probed cells' dirs are listed and read ([[probedScan]]) —
    * partition pruning is guaranteed at the file listing, not left to
    * dynamic-pruning heuristics. The codec and store metric come from the
    * sidecars ([[readStore]]); `metric` is the query's opclass:
    *
    *  - `cosine_sim` (default): cosine similarity, descending —
    *    `(qid, id, cos, rn)`;
    *  - `l2` / `cosine` / `ip` / `l1` — pgvector `<->` / `<=>` / `<#>` /
    *    `<+>`: distance ascending, ties by id — `(qid, id, dist, rn)`.
    *    Cells are probed by L2 (on the normalized query over a cosine
    *    store; on the prefix over a prefix store).
    *
    * When `metric` is the store's own metric and the codec is
    * [[Coarse]], a coarse pass first scans only the codec column of the
    * probed cells and keeps each query's own `k·overfetch` best
    * candidates (`overfetch` 0 = the codec's default); the exact rerank
    * reads the float column for the union of those ids alone — a static
    * `id IN` in the scan up to `maxPushdownIds`, above that a semi join
    * against the distributed candidates (the driver never holds more than
    * `maxPushdownIds+1` ids) — and scores a row for a query only if that
    * query chose it. Full probe with covering overfetch degenerates to
    * exact KNN. Metrics a store cannot serve soundly (IP/L1 over
    * normalized bytes, non-L2 over prefix cells) are refused. */
  def searchIndex(spark: SparkSession, path: String,
                  queries: DataFrame, k: Int, nprobe: Int,
                  metric: String = "cosine_sim", overfetch: Int = 0,
                  idCol: String = "vec_id", embCol: String = "embedding",
                  queryIdCol: String = "qid", scale: Int = 4,
                  maxPushdownIds: Int = 100000): DataFrame = {
    val store = readStore(spark, path)
    require(nprobe >= 1, s"searchIndex: nprobe must be >= 1, got $nprobe")
    require(metric == "cosine_sim" || distances.contains(metric),
      s"searchIndex: unknown metric '$metric' (cosine_sim, l2, cosine, ip or l1)")
    require(store.serves(metric),
      s"searchIndex: $path is a ${store.metric}-metric " +
        s"${store.codec.getClass.getSimpleName.stripSuffix("$")} store and cannot " +
        s"serve metric '$metric'" + (
          if (store.metric == "cosine") " — its vectors are L2-normalized, where IP ordering " +
            "equals cosine (use metric = \"cosine\") and L1 answers a different question " +
            "(build an L2 store)"
          else ""))
    val probes =
      if (metric == "cosine_sim") collectProbes(queries, col(embCol), identity, queryIdCol)
      else collectProbes(queries,
        if (store.metric == "cosine") VectorFunctions.l2Normalize(col(embCol)) else col(embCol),
        store.codec.assignOn, queryIdCol)
    val coarse = store.codec match {
      case c: Coarse if metric == store.metric =>
        Some((c, k * (if (overfetch > 0) overfetch else c.overfetch), maxPushdownIds))
      case _ => None
    }
    search(spark, probes, store.model, nprobe, probedScan(spark, path, _), coarse, metric, k,
      idCol, embCol, queryIdCol, scale)
  }

  /** The planner's coarse stage for one literal query `q` (already in the
    * store's metric space; `probeOn` its projection cells are ranked on):
    * ids of its `n` best coarse scores over its `nprobe` probed cells —
    * [[search]]'s probe, scan and coarse steps. */
  private[graft] def coarseCandidates(spark: SparkSession, path: String, store: Store,
                                      c: Coarse, q: Array[Double], probeOn: Array[Double],
                                      nprobe: Int, n: Int, idCol: String): DataFrame = {
    val (pairs, cells) = probePairs(spark, Probes(Seq(Row(0L, q.toSeq, probeOn.toSeq)),
      new StructType().add("__qid", "long").add("__qemb", "array<double>")), store.model, nprobe)
    coarsePass(probedScan(spark, path, cells), pairs, c, store.model, n, idCol, "__qid")
      .select(col(idCol))
  }

  /** ITERATIVE FILTERED search — pgvector 0.8's headline "iterative
    * index scans", re-expressed for the persisted store: a selective
    * relational predicate (`WHERE category = … ORDER BY emb <-> q
    * LIMIT k`) can leave fewer than k survivors among the first
    * `nprobe` cells' candidates, and a fixed-probe search silently
    * returns short results. Here queries that come back short DOUBLE
    * their probe set and retry — geometric escalation, so total work is
    * ≤ 2× the final round — until they hold k survivors or every cell
    * was probed, at which point the result is EXACT over the filtered
    * corpus (the degeneration the oracle gates). A query keeps the
    * result of its FIRST satisfying round (pgvector's stop-at-k
    * semantics — deterministic, since cell ranking is).
    *
    * The predicate is applied IN the scan (`.where(pred)` beside the
    * static `cell IN` pruning), so at 100 TB each round reads only the
    * probed partitions AND pushes the filter to parquet — never
    * filter-after-fetch on the driver. The query frame is evaluated
    * once; each round collects its result (≤ |pending|·k rows) once, and
    * the satisfied/deficient bookkeeping is driver-side. */
  def searchIndexFiltered(spark: SparkSession, path: String,
                          queries: DataFrame, pred: Column, k: Int, nprobe: Int,
                          idCol: String = "vec_id", embCol: String = "embedding",
                          queryIdCol: String = "qid", scale: Int = 4,
                          maxResultRows: Int = 100000): DataFrame = {
    val model = readModel(spark, path)
    val probes = collectProbes(queries, col(embCol), identity, queryIdCol)
    val qids = probes.rows.map(_.get(0)).distinct
    // serve-contract guard (the Hnsw.maxFilterIds convention): the result
    // is assembled driver-side, so an oversized batch fails fast
    require(qids.length.toLong * k <= maxResultRows,
      s"IvfIndex.searchIndexFiltered: |queries| (${qids.length}) × k ($k) exceeds " +
        s"maxResultRows ($maxResultRows) — the iterative filtered scan assembles its result " +
        "driver-side by contract; split the query batch or raise maxResultRows explicitly")
    @scala.annotation.tailrec
    def rounds(pending: Seq[Any], cur: Int, kept: Seq[Row]): DataFrame = {
      val todo = pending.toSet
      val res = search(spark, probes.copy(rows = probes.rows.filter(r => todo(r.get(0)))), model,
        cur, probedScan(spark, path, _).where(pred), None, "cosine_sim", k, idCol, embCol,
        queryIdCol, scale)
      val rows = res.collect().toSeq
      val counts = rows.groupBy(_.get(0)).map { case (q, rs) => q -> rs.length }
      // at full probe nothing more exists: every query is done, exactly
      val (done, short) = pending.partition(q => cur >= model.k || counts.getOrElse(q, 0) >= k)
      val doneSet = done.toSet
      val all = kept ++ rows.filter(r => doneSet(r.get(0)))
      if (short.isEmpty) // includes the empty-queries frame
        spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(all).asJava, res.schema)
      else rounds(short, math.min(cur * 2, model.k), all)
    }
    rounds(qids, math.max(1, math.min(nprobe, model.k)), Nil)
  }

  /** ONE round of [[searchIndexFiltered]] over a query frame: static cell
    * pruning + the relational predicate IN the scan + rerank.
    * Package-visible so the spec can assert the predicate reaches
    * `PushedFilters` (the returned frame of the iterative driver is a
    * collected LocalRelation with no scan left to inspect). */
  private[graft] def filteredProbePlan(spark: SparkSession, path: String,
                                       model: Model, pending: DataFrame, pred: Column,
                                       k: Int, cur: Int, idCol: String, embCol: String,
                                       queryIdCol: String, scale: Int): DataFrame =
    search(spark, collectProbes(pending, col(embCol), identity, queryIdCol), model, cur,
      probedScan(spark, path, _).where(pred), None, "cosine_sim", k, idCol, embCol, queryIdCol,
      scale)

  /** Approximate top-k over an unpersisted corpus: cells assigned on the
    * fly, each query scored over its own `nprobe` cells, exact rerank. */
  def topK(corpus: DataFrame, queries: DataFrame, model: Model, k: Int, nprobe: Int,
           idCol: String = "vec_id", embCol: String = "embedding",
           queryIdCol: String = "qid", scale: Int = 4): DataFrame = {
    val assigned = corpus.select(col(idCol), col(embCol), cellOf(col(embCol), model).as("cell"))
    search(corpus.sparkSession, collectProbes(queries, col(embCol), identity, queryIdCol), model,
      nprobe, cells => assigned.where(col("cell").isin(cells: _*)), None, "cosine_sim", k, idCol,
      embCol, queryIdCol, scale)
  }

  /** Large-×-large approximate KNN JOIN: top-k right-side neighbors for
    * EVERY left row, where BOTH sides are corpus-sized — the operator
    * behind cross-corpus dedup and retrieval-pair mining. `Knn.topKBatch`
    * broadcasts the query side and dies when queries are millions of
    * rows; here neither side broadcasts: right rows land in their ONE
    * nearest cell, left rows probe their `nprobe` nearest cells, and the
    * match is a plain shuffle hash join on the integer cell id, followed
    * by a per-left-row top-k window. A pair can meet at most once (the
    * right row's cell is unique), so no dedup pass.
    *
    * Cost is Σ_cells |probesₗ(cell)|·|rowsᵣ(cell)| — the IVF-blocked
    * quadratic, controlled by the quantizer's balance (k cells ⇒ ~N²·
    * nprobe/k pairs); a skewed quantizer is exactly what
    * [[needsRebuild]] flags, and AQE's skew-join handles residual hot
    * cells at runtime. Recall is governed by nprobe like any IVF search
    * (spec-gated vs the exact join). */
  def knnJoin(left: DataFrame, right: DataFrame, model: Model, k: Int, nprobe: Int,
              leftIdCol: String = "qid", rightIdCol: String = "vec_id",
              embCol: String = "embedding", scale: Int = 4): DataFrame = {
    val probes = left.select(col(leftIdCol), col(embCol).as("__lemb"),
      explode(cellsOf(col(embCol), model, nprobe)).as("cell"))
    val assigned = right.select(col(rightIdCol), col(embCol).as("__remb"),
      cellOf(col(embCol), model).as("cell"))
    val scored = probes.join(assigned, Seq("cell"))
      .select(col(leftIdCol), col(rightIdCol),
        round(VectorFunctions.cosineSimilarity(col("__lemb"), col("__remb")), scale).as("cos"))
    Knn.topPerQuery(scored, col("cos").desc, k, rightIdCol, leftIdCol, "cos")
  }

  /** The staged-swap machinery ([[graft.sources.StagedSwap]]) bound to
    * this family's layout: `cell=` partition dirs, the `_centroids.json`
    * sidecar riding reassign manifests, and the legacy `__reassign_*`
    * sibling names still rolled forward on recovery. */
  private def stagedSwap(fs: org.apache.hadoop.fs.FileSystem, root: Path, op: String) =
    new graft.sources.StagedSwap(fs, root, op, partPrefix = "cell=",
      sidecarName = "_centroids.json", legacySuffixes = Seq("__reassign"))

  final case class ReassignReport(rows: Long, moved: Long,
                                  cellsRewritten: Int, cellsTotal: Int)

  /** PARTIAL re-clustering of a persisted index under a retrained
    * model — the 100 TB alternative to a full [[writeIndex]] rebuild: a
    * full rebuild rewrites every byte of the store, but after modest
    * drift most rows keep their cell, so only the partitions whose
    * MEMBERSHIP changed (either side of any move) need rewriting. Rows
    * are re-assigned under `newModel`; the moved-row batch is staged to
    * a sibling directory partitioned by new cell, and then exactly the
    * changed `cell=` partitions are swapped in (old partition retired →
    * staged partition renamed in → staging then retire dir dropped).
    * The centroid sidecar is rewritten last.
    *
    * Codecs: every codec whose stored column is cell-independent — flat,
    * SQ8 (range-coded), half, binary (sign-coded) and prefix (assignment
    * runs on the prefix; `newModel` must be subDim-dimensional); on a
    * cosine store the stored vectors are normalized, so train `newModel`
    * on normalized data. PQ stores are REFUSED: their codes quantize the
    * residual against the row's cell centroid, so a moved row's codes go
    * stale — a PQ re-clustering is a rebuild by construction.
    *
    * Crash safety (single-writer contract, like append): the staged
    * batch carries a `_plan.json` manifest naming every cell to rewrite
    * or drain, written only after the parquet staging completed — it is
    * the commit point. A crash at any later step leaves a state the next
    * call ROLLS FORWARD deterministically from the manifest (install
    * what's still staged, drop what drained) before starting its own
    * work; a crash before the manifest leaves the store untouched and the
    * partial staging is dropped. In-between states keep the OLD sidecar
    * against a partially moved layout — searches stay exact within their
    * probed cells (recall can dip until the roll-forward completes; no
    * wrong rows). */
  def reassignIndex(spark: SparkSession, path: String, newModel: Model,
                    idCol: String = "vec_id", embCol: String = "embedding"): ReassignReport = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = stagedSwap(fs, root, "reassignIndex")
    swap.recover()
    val codec = readStore(spark, path).codec
    codec match {
      case _: Codec.Pq => throw new IllegalArgumentException(
        "reassignIndex: PQ stores code residuals against their cell centroid — " +
          "moved rows would carry stale codes; rebuild with writeIndex instead")
      case Codec.Prefix(d) => require(newModel.centroids.headOption.forall(_.length == d),
        s"reassignIndex: Matryoshka store has subDim $d but the new model is " +
          s"${newModel.centroids.headOption.map(_.length)}-dimensional (trainSub)")
      case _ =>
    }
    val assigned = spark.read.parquet(path)
      .withColumn("__new", cellOf(codec.assignOn(col(embCol)), newModel))
    // one corpus pass: (old, new) pair counts — ≤ oldK·newK rows — give
    // the row total, the moved count, and the changed-cell set at once
    val pairCounts = assigned.groupBy(col("cell"), col("__new")).count().collect()
    val rows = pairCounts.map(_.getLong(2)).sum
    val movedPairs = pairCounts.filter(r => r.getInt(0) != r.getInt(1))
    val moved = movedPairs.map(_.getLong(2)).sum
    val changed: Set[Int] =
      movedPairs.flatMap(r => Seq(r.getInt(0), r.getInt(1))).toSet
    if (changed.nonEmpty) {
      // the new content of every changed partition, staged off to the side
      // (reads the live store — it is not mutated until the swap below).
      // {__new ∈ changed} ⟺ {cell ∈ changed}: a mover puts BOTH its old
      // and new cell into the changed set, and a non-mover has
      // __new == cell — so the equivalent filter on the PARTITION column
      // rides along and prunes the staging read to the changed
      // partitions (the computed-column filter alone would rescan the
      // whole store, turning phase A from O(changed) into O(corpus))
      val changedLits = changed.toSeq.map(_.asInstanceOf[Any])
      assigned.where(col("cell").isin(changedLits: _*) &&
          col("__new").isin(changedLits: _*))
        .drop("cell").withColumnRenamed("__new", "cell")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(swap.staging.toString)
      // the new centroids ride the manifest: recovery of ANY later crash
      // point restores them, so the data can never stay moved under the
      // old sidecar (the sidecar write below only covers the
      // nothing-changed case, where no swap happens at all)
      swap.commit(changed, Some(json(newModel)))
    }
    writeSidecar(spark, path, "_centroids.json", json(newModel))
    ReassignReport(rows, moved, changed.size, newModel.k)
  }

  private def json(m: Model): String =
    m.centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  final case class DeleteReport(deleted: Long, cellsRewritten: Int, cellsDrained: Int)

  /** Partition-surgical DELETE from a persisted index — the pgvector
    * `DELETE FROM items WHERE id IN (...)` maintenance move for the
    * cell-partitioned stores: one (id, cell)-column pass finds the
    * affected cells and the per-cell hit counts, only those partitions
    * are rewritten without the deleted rows (anti join, staged +
    * manifest-committed + swapped through the same [[graft.sources.StagedSwap]]
    * machinery as [[reassignIndex]], so a crash at any point rolls
    * forward), and a cell whose rows are all deleted is drained. Works
    * for every root-level cell-partitioned store, whatever its codec
    * (per-row codes stay valid under deletion). Streaming `batch_id/cell`
    * stores are refused: their cell dirs are nested under batch
    * partitions, so a root-level swap would leave the old rows live —
    * compact to a cell-partitioned store first. `ids` may be any size
    * (the anti join shuffles; AQE broadcasts it when small) — but if it
    * DERIVES from this same store, materialize it first
    * (`localCheckpoint`): the swap invalidates the file listing its
    * lineage captured, so re-using it after the call would fail on the
    * retired files. */
  def deleteFromIndex(spark: SparkSession, path: String,
                      ids: DataFrame, idCol: String = "vec_id"): DeleteReport = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = stagedSwap(fs, root, "deleteFromIndex")
    swap.recover()
    val store = spark.read.parquet(path)
    require(!store.columns.contains("batch_id"),
      "deleteFromIndex: streaming batch_id/cell stores nest their cell dirs under " +
        "batch partitions — a root-level swap would leave old rows live; " +
        "compact to a cell-partitioned store first")
    // materialized once: the frame feeds BOTH the hit-count pass and the
    // anti-join staging write — an expensive derived ids plan would
    // otherwise recompute in full for the second job
    val idFrame = ids.select(col(idCol)).distinct().localCheckpoint(true)
    // one pass over the (id, cell) columns: affected cells + hit counts
    val hits = store.select(col(idCol), col("cell"))
      .join(idFrame, Seq(idCol), "left_semi")
      .groupBy(col("cell")).count().collect()
    val deleted = hits.map(_.getLong(1)).sum
    val affected: Set[Int] = hits.map(_.getInt(0)).toSet
    if (affected.isEmpty) return DeleteReport(0L, 0, 0)
    // survivors of the affected partitions only (cell IN prunes the read)
    store.where(col("cell").isin(affected.toSeq.map(_.asInstanceOf[Any]): _*))
      .join(idFrame, Seq(idCol), "left_anti")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(swap.staging.toString)
    val (rewrite, drain) = swap.commit(affected)
    DeleteReport(deleted, rewrite.size, drain.size)
  }

  final case class UpsertReport(updatedIds: Long, insertedIds: Long,
                                cellsRewritten: Int, cellsDrained: Int)

  /** UPSERT into a persisted index — the reference's core trigger is a
    * RE-uploaded blob (BlobUploadDetector/.../Function.java:71-88: same
    * name, new content ⇒ re-embed and replace), and at the index tier
    * that is delete + insert which MUST be atomic: two separate
    * maintenance ops leave a window where the doc is either absent or
    * doubled. This composes both under ONE [[graft.sources.StagedSwap]] manifest —
    * exactly [[deleteFromIndex]]'s and [[reassignIndex]]'s protocol, so
    * a crash at any point rolls FORWARD on the next maintenance call and
    * no intermediate state is ever live.
    *
    * The batch rows are encoded like [[appendIndex]]'s, in the store's
    * own codec and metric. An id may move cells when its new embedding
    * lands elsewhere — the old cell is rewritten without it, the new cell
    * with it, both under the one manifest; a cell left empty drains.
    *
    * Cost: O(affected cells), like [[deleteFromIndex]]. `vectors` must
    * carry one row per id (ambiguous multi-row upserts fail loud); if it
    * derives from this same store, it is materialized here before the
    * swap invalidates the captured file listing. Idempotent: re-running
    * the same batch converges to the same store. */
  def upsertIndex(spark: SparkSession, path: String, vectors: DataFrame,
                  idCol: String = "vec_id", embCol: String = "embedding"): UpsertReport = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = stagedSwap(fs, root, "upsertIndex")
    swap.recover()
    val store = spark.read.parquet(path)
    require(!store.columns.contains("batch_id"),
      "upsertIndex: streaming batch_id/cell stores nest their cell dirs under " +
        "batch partitions — a root-level swap would leave old rows live; " +
        "compact to a cell-partitioned store first")
    // materialized once: feeds the ambiguity check, the hit pass, the
    // changed-cell set and the staging write — and decouples the batch
    // from any lineage over the store about to be swapped. Columns are
    // cast to the STORE's schema first (a float-vector store upserted
    // with double-typed arithmetic would otherwise write mixed-type
    // partitions the merged read chokes on).
    val batch = encode(vectors, readStore(spark, path), idCol, embCol)
      .select(store.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .localCheckpoint(true)
    val dup = batch.groupBy(col(idCol)).count().where(col("count") > 1)
      .limit(5).collect().map(_.get(0))
    require(dup.isEmpty,
      s"upsertIndex: ids ${dup.mkString(",")}… appear more than once in the batch — " +
        "an upsert must carry exactly one row per id")
    val idFrame = batch.select(col(idCol))
    // one (id, cell)-column pass over the store: cells losing rows +
    // the distinct-id count that tells updates from inserts
    val hits = store.select(col(idCol), col("cell"))
      .join(idFrame, Seq(idCol), "left_semi")
      .groupBy(col("cell")).agg(countDistinct(col(idCol)).as("ids")).collect()
    val updatedIds = hits.map(_.getLong(1)).sum
    val oldCells: Set[Int] = hits.map(_.getInt(0)).toSet
    val newCells: Set[Int] = batch.select(col("cell")).distinct().collect().map(_.getInt(0)).toSet
    val changed = oldCells ++ newCells
    val changedLits = changed.toSeq.map(_.asInstanceOf[Any])
    // staged content of every changed cell: that cell's survivors plus
    // the batch rows landing there — the `cell IN` filter prunes the
    // store read to the affected partitions only
    val survivors = store.where(col("cell").isin(changedLits: _*))
      .join(idFrame, Seq(idCol), "left_anti")
    survivors.unionByName(batch)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(swap.staging.toString)
    val (rewrite, drain) = swap.commit(changed)
    UpsertReport(updatedIds, batch.count() - updatedIds, rewrite.size, drain.size)
  }

  private def writeSidecar(spark: SparkSession, path: String,
                           name: String, content: String): Unit = {
    val p = new Path(path, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readSidecar(spark: SparkSession, path: String, name: String): String = {
    val p = new Path(path, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
