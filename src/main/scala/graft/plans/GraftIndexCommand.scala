package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.operators.{IvfIndex, ProductQuantizer, Quantize, SparseKnn}
import graft.operators.IvfIndex.Codec

/** The runnable side of [[GraftSqlParser]]'s grammar: each statement
  * lowers onto the EXISTING library maintenance calls — one
  * implementation of every protocol, whether driven from Scala or SQL.
  * Returns a single status row (the `RunnableCommand` convention), so
  * `spark.sql("CREATE GRAFT INDEX …").show()` reads like DDL. */
case class GraftIndexCommand(verb: String, sparse: Boolean, kind: String,
                             path: Option[String], table: Option[String],
                             source: Option[String],
                             options: Map[String, String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", StringType, nullable = false)())

  private def intOpt(name: String, default: Int): Int =
    options.get(name).map(_.toInt).getOrElse(default)

  override def run(spark: SparkSession): Seq[Row] = {
    val msg = (verb, sparse) match {
      case ("CREATE", false) => createVector(spark)
      case ("CREATE", true) => createSparse(spark)
      case ("APPEND", false) =>
        IvfIndex.appendIndex(spark, path.get, spark.table(source.get))
        s"appended into ${path.get}"
      case ("APPEND", true) =>
        SparseKnn.appendIndex(spark, sparseVectors(spark), table.get)
        s"appended into sparse index ${table.get}"
      case ("UPSERT", false) =>
        val rep = IvfIndex.upsertIndex(spark, path.get, spark.table(source.get))
        s"upserted ${path.get}: updated=${rep.updatedIds} inserted=${rep.insertedIds} " +
          s"rewritten=${rep.cellsRewritten} drained=${rep.cellsDrained}"
      case ("UPSERT", true) =>
        SparseKnn.upsertIndex(spark, sparseVectors(spark), table.get)
        s"upserted sparse index ${table.get}"
      case ("DELETE", false) =>
        val rep = IvfIndex.deleteFromIndex(spark, path.get,
          spark.table(source.get).select(col("vec_id")))
        s"deleted from ${path.get}: rows=${rep.deleted} rewritten=${rep.cellsRewritten} " +
          s"drained=${rep.cellsDrained}"
      case ("DELETE", true) =>
        SparseKnn.deleteFromIndex(spark, table.get,
          spark.table(source.get).select(col("doc_id")))
        s"deleted from sparse index ${table.get}"
      case ("COMPACT", false) =>
        val rep = IvfIndex.compactIndex(spark, path.get)
        s"compacted ${path.get}: files ${rep.filesBefore} -> ${rep.filesAfter}"
      case ("COMPACT", true) =>
        val (before, after) = SparseKnn.compactIndex(spark, table.get)
        s"compacted sparse index ${table.get}: files $before -> $after"
      case other => throw new IllegalStateException(s"GraftIndexCommand: $other")
    }
    Seq(Row(msg))
  }

  /** Sparse feature frame from the source: pre-featurized
    * (doc_id, indices, values) passes through; (doc_id, text) hashes at
    * the dim the index was BUILT with (the `_graft_sparse.json` sidecar
    * CREATE writes) — re-hashing an append at a different dim would land
    * postings in buckets no query of the original dim ever intersects,
    * a silent no-rank corruption, so a mismatching OPTIONS dim fails
    * loud and an absent one inherits the sidecar. */
  private def sparseVectors(spark: SparkSession) = {
    val src = spark.table(source.get)
    if (src.columns.contains("indices") && src.columns.contains("values")) src
    else {
      // CREATE replaces the whole table (writeIndex overwrites), so a
      // pre-existing sidecar is history, not a constraint: consulting it
      // would hash the rebuild at the OLD dim while the sidecar below
      // records the new one — exactly the silent mismatch this exists
      // to prevent. Only the incremental verbs inherit/validate.
      val built =
        if (verb == "CREATE") None else table.flatMap(readSparseDim(spark, _))
      val dim = (options.get("dim").map(_.toInt), built) match {
        case (Some(d), Some(b)) =>
          require(d == b, s"OPTIONS dim $d != the index's build dim $b " +
            s"(${table.get} was created with dim = $b; appends must hash identically)")
          d
        case (None, Some(b)) => b
        case (Some(d), None) => d
        case (None, None) if verb == "CREATE" => 1024
        case (None, None) =>
          // no sidecar (index predates CREATE-via-SQL or was hand-built)
          // and no OPTIONS dim: guessing would hash at a dim that may not
          // match the build dim — the silent no-rank corruption described
          // above — so refuse instead of defaulting
          throw new IllegalArgumentException(
            s"$verb GRAFT SPARSE INDEX: ${table.get} has no _graft_sparse.json " +
              "sidecar recording its build dim and no OPTIONS ('dim'='…') was " +
              "given; hashing at a guessed dim would land postings in buckets " +
              "no query intersects. Pass OPTIONS ('dim'='<build dim>') explicitly.")
      }
      SparseKnn.hashingTf(src, dim = dim)
    }
  }

  private def sparseSidecar(spark: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(meta.location), "_graft_sparse.json")
  }

  private def readSparseDim(spark: SparkSession, table: String): Option[Int] = {
    // CREATE consults this before the table exists — no sidecar yet
    if (!spark.catalog.tableExists(table)) return None
    val p = sparseSidecar(spark, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      """"dim"\s*:\s*(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
    }
  }

  private def createSparse(spark: SparkSession): String = {
    val src = spark.table(source.get)
    val hashed = !(src.columns.contains("indices") && src.columns.contains("values"))
    SparseKnn.writeIndex(sparseVectors(spark), table.get, path.get,
      numBuckets = intOpt("buckets", 8))
    // record the build dim so later APPEND/UPSERT statements hash
    // identically (pre-featurized sources manage their own dim)
    if (hashed) {
      val p = sparseSidecar(spark, table.get)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(s"""{"dim":${intOpt("dim", 1024)}}""".getBytes("UTF-8"))
      finally out.close()
    }
    s"created sparse index ${table.get} at ${path.get}"
  }

  private def createVector(spark: SparkSession): String = {
    val corpus = spark.table(source.get)
    val k = intOpt("k", 16)
    val iters = intOpt("iters", 2)
    def trained = IvfIndex.train(corpus, k, iters)
    val (model, codec, metric) = kind match {
      case "IVF" => (trained, Codec.Flat, "l2")
      case "IVF_SQ" =>
        val (mn, mx) = (options.get("mn"), options.get("mx")) match {
          case (Some(a), Some(b)) => (a.toDouble, b.toDouble)
          case _ => Quantize.scalarRange(corpus)
        }
        (trained, Codec.Sq8(mn, mx), "l2")
      case "IVF_PQ" =>
        val model = trained
        (model, Codec.Pq(ProductQuantizer.trainResidual(corpus, model,
          m = intOpt("m", 8), ksub = intOpt("ksub", 16))), "l2")
      case "IVF_BINARY" => (trained, Codec.Binary, "l2")
      case "IVF_COSINE" =>
        val normalized = corpus.withColumn("embedding",
          graft.functions.VectorFunctions.l2Normalize(col("embedding")))
        (IvfIndex.train(normalized, k, iters), Codec.Flat, "cosine")
      case "HALFVEC" => (trained, Codec.Half, "l2")
      case "MATRYOSHKA" =>
        val subDim = intOpt("subdim", 16)
        (IvfIndex.trainSub(corpus, subDim, k, iters), Codec.Prefix(subDim), "l2")
      case other => throw new IllegalArgumentException(s"unknown index kind $other")
    }
    IvfIndex.writeIndex(corpus, model, path.get, codec, metric)
    s"created $kind index at ${path.get}"
  }
}
