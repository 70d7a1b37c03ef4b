package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.SparseKnn

/** Streaming ingest into a sparse postings index — the lexical twin of
  * [[VectorStream]]: new documents become searchable as soon as their
  * micro-batch commits, without rebuilding the corpus index.
  *
  * Layout: the BASE corpus lives in the bucketed catalog table
  * [[SparseKnn.writeIndex]] builds (bucket-pruned reads, the 100 TB
  * read path); streamed batches land as postings under
  * `tailPath/batch_id=N/` — written with DYNAMIC PARTITION OVERWRITE
  * keyed by `batch_id`, so a crash-replayed batch overwrites its own
  * partition instead of duplicating postings (the exactly-once recipe
  * of `DocStream.startIncrementalDedup` / [[VectorStream]]). A
  * bucketed-table append cannot be made replay-safe this way (appends
  * are not keyed), which is exactly why the tail is a separate
  * partitioned dir rather than `SparseKnn.appendIndex` calls.
  *
  * Queries run [[topKWithTail]]: base postings (bucket-pruned) UNION the
  * tail (parquet filter pushdown on the term column only — the accepted
  * trade for a replay-safe tail), one shared scoring aggregation.
  * Featurization must be ROW-LOCAL (hashingTf, spladeExpand — no corpus
  * stats), or a batch's weights would depend on what else has streamed;
  * that is the same contract every incremental index here carries.
  * Maintenance: when the tail's batch count hurts listing, fold it into
  * the base with [[SparseKnn.writeIndex]] over the full corpus (the
  * BM25-index rebuild contract) and clear the tail. */
object SparseStream {

  val inputSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** foreachBatch body — public so specs can drive replay directly.
    * `featurize` maps raw (doc_id, text) rows to sparse vectors and must
    * be row-local. */
  def postingsIngestBatch(tailPath: String,
                          featurize: DataFrame => DataFrame,
                          idCol: String = "doc_id")
                         (batch: DataFrame, batchId: Long): Unit = {
    SparseKnn.postings(featurize(batch), idCol)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(tailPath)
  }

  /** Sparse-cosine top-k over base table + streamed tail — score-identical
    * to [[SparseKnn.topKFromIndex]] on a one-shot index over the full
    * corpus (spec-pinned): both legs carry the same posting shape, so the
    * union feeds ONE scoring aggregation. An absent/empty tail degrades
    * to the base-only search. */
  def topKWithTail(spark: SparkSession, table: String, tailPath: String,
                   queries: DataFrame, k: Int, idCol: String = "doc_id",
                   queryIdCol: String = "qid", scale: Int = 4): DataFrame = {
    val terms = SparseKnn.queryTerms(queries, "topKWithTail")
    val base = spark.table(table).where(col("__t").isin(terms: _*))
      .select(col(idCol), col("__n"), col("__t"), col("__v"))
    val tail =
      try Some(spark.read.parquet(tailPath)
        .where(col("__t").isin(terms: _*))
        .select(col(idCol), col("__n"), col("__t"), col("__v")))
      catch { case _: org.apache.spark.sql.AnalysisException => None } // cold tail
    SparseKnn.cosineTopK(tail.fold(base)(base.unionByName(_)), queries, k, idCol,
      queryIdCol, scale)
  }

  /** Start the ingest stream: new document files in `inputDir` are
    * featurized row-locally and their postings appended (replay-safe)
    * under `tailPath`; [[topKWithTail]] sees each batch as soon as its
    * write commits. */
  def startPostingsIngest(spark: SparkSession, inputDir: String, tailPath: String,
                          checkpointDir: String,
                          featurize: DataFrame => DataFrame,
                          availableNow: Boolean = false): StreamingQuery = {
    val raw = spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", "16")
      .parquet(inputDir)
    val writer = raw.writeStream
      .foreachBatch(postingsIngestBatch(tailPath, featurize) _)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("10 seconds"))).start()
  }
}
