package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.IvfIndex

/** Streaming ingest into an IVF vector store — the serving-side loop
  * that keeps an index current as new embeddings arrive: each
  * micro-batch is encoded in the store's codec and assigned to cells
  * UNDER THE SIDECAR declaration ([[IvfIndex.readStore]] — centroids,
  * SQ8 range, prefix length, PQ codebooks…), so appended rows are
  * scan-compatible with the initial build, and written with dynamic
  * partition overwrite keyed by `batch_id` — a replayed batch (restart
  * after a crash between write and checkpoint commit) OVERWRITES its own
  * partitions instead of duplicating vectors, the same exactly-once
  * recipe as `DocStream.startIncrementalDedup`.
  *
  * Store layout: `batch_id=N/cell=C/` two-level partitions.
  * `IvfIndex.searchIndex` works unchanged — partition discovery surfaces
  * both columns, the static `cell IN` filter prunes at the cell level
  * across every batch directory, and the projection drops `batch_id`.
  * Centroid drift under a shifting distribution is the usual
  * `needsRebuild` maintenance trigger. */
object VectorStream {

  val inputSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Create the store: the existing corpus as `batch_id=-1` (same layout
    * as streamed batches, so the directory scheme is uniform from the
    * first file) + the sidecars declaring `codec`. `corpus` may be empty
    * (cold start). */
  def initStore(corpus: DataFrame, model: IvfIndex.Model, path: String,
                codec: IvfIndex.Codec): Unit = {
    val store = IvfIndex.Store(model, codec)
    writeBatch(corpus, store, path, batchId = -1L, overwriteAll = true)
    IvfIndex.writeSidecars(corpus.sparkSession, path, store)
  }

  /** The batch_id/cell layout and the replay-idempotent dynamic
    * partition overwrite, in one place for every ingest body here. */
  private def writeBatch(vecs: DataFrame, store: IvfIndex.Store, path: String,
                         batchId: Long, overwriteAll: Boolean = false): Unit = {
    val w = IvfIndex.encode(vecs, store, "vec_id", "embedding")
      .withColumn("batch_id", lit(batchId))
      .repartition(col("cell"))
      .write.mode("overwrite")
      .partitionBy("batch_id", "cell")
    (if (overwriteAll) w else w.option("partitionOverwriteMode", "dynamic"))
      .parquet(path)
  }

  /** foreachBatch body — public so specs can drive replay directly. */
  def ingestBatch(indexPath: String)(batch: DataFrame, batchId: Long): Unit =
    writeBatch(batch, IvfIndex.readStore(batch.sparkSession, indexPath), indexPath, batchId)

  /** Shared file-source → foreachBatch → checkpointed-trigger scaffold
    * of every ingest stream here — one definition so a fix to the
    * trigger cadence, file batching, or checkpointing cannot miss a
    * twin. */
  private def startIngestStream(spark: SparkSession, inputDir: String,
                                body: (DataFrame, Long) => Unit,
                                checkpointDir: String,
                                availableNow: Boolean): StreamingQuery =
    IngestScaffold.start(spark, inputDir, inputSchema, body, checkpointDir, availableNow)

  /** Start the ingest stream: new embedding files in `inputDir` append
    * into the store at `indexPath` (created by [[initStore]]). Searches
    * see each batch as soon as its write commits. */
  def startIngest(spark: SparkSession, inputDir: String, indexPath: String,
                  checkpointDir: String,
                  availableNow: Boolean = false): StreamingQuery =
    startIngestStream(spark, inputDir, ingestBatch(indexPath) _,
      checkpointDir, availableNow)

  /** foreachBatch body for STREAMING SEMANTIC DEDUP — SemDeDup in the
    * ingest stream: a micro-batch is first deduped against ITSELF
    * (cell-blocked cosine pairs under the store's own sidecar quantizer,
    * [[graft.operators.Dedup.semanticDedup]]), then against the STORE
    * (each batch vector probes its `nprobe` nearest cells; store rows in
    * those cells are cosine-checked against the BROADCAST batch — the
    * corpus never shuffles and never leaves its partitions), and only
    * semantic novelties are appended. Batch N+1 therefore dedups against
    * batch N's survivors.
    *
    * Replay convergence (same recipe as `DocStream.incrementalDedupBatch`):
    * the store read EXCLUDES this batch's own `batch_id` partition — a
    * crash-replayed batch would otherwise match its own partial commit
    * and append nothing — and the write is dynamic partition overwrite
    * keyed by batch_id, so the replay overwrites itself. Identical
    * vectors can never split across cells (same argument as batch
    * SemDeDup), so exact duplicates are always caught; near-dups the
    * quantizer separates beyond nprobe cells are the accepted recall
    * trade. */
  def semanticDedupBatch(indexPath: String, threshold: Double, nprobe: Int = 4,
                         maxCell: Int = 10000, scale: Int = 4)
                        (batch: DataFrame, batchId: Long): Unit = {
    import graft.functions.VectorFunctions
    val spark = batch.sparkSession
    val declared = IvfIndex.readStore(spark, indexPath)
    val model = declared.model
    val b = graft.operators.Dedup.semanticDedup(batch, model, threshold, maxCell = maxCell)
    val store =
      try Some(spark.read.parquet(indexPath)
        .where(col("batch_id") =!= lit(batchId))
        .select(col("vec_id").as("__sid"), col("embedding").as("__semb"), col("cell")))
      catch { case _: org.apache.spark.sql.AnalysisException => None } // cold store
    val survivors = store.fold(b) { s =>
      val probes = b.select(col("vec_id"), col("embedding"),
        explode(IvfIndex.cellsOf(col("embedding"), model, nprobe)).as("cell"))
      val dups = s.join(broadcast(probes), Seq("cell"))
        .where(round(VectorFunctions.cosineSimilarity(col("__semb"), col("embedding")),
          scale) >= threshold)
        .select(col("vec_id")).distinct()
      b.join(dups, Seq("vec_id"), "left_anti")
    }
    writeBatch(survivors, declared, indexPath, batchId)
  }

  /** Start the semantic-dedup ingest stream over a store created by
    * [[initStore]]: new embedding files in `inputDir` →
    * within-batch SemDeDup → cell-probed cosine check against the store
    * → novelties appended (searchable immediately, and the dedup corpus
    * for every later batch). */
  def startSemanticDedup(spark: SparkSession, inputDir: String, indexPath: String,
                         checkpointDir: String, threshold: Double,
                         nprobe: Int = 4, availableNow: Boolean = false): StreamingQuery =
    startIngestStream(spark, inputDir,
      semanticDedupBatch(indexPath, threshold, nprobe) _, checkpointDir, availableNow)
}
