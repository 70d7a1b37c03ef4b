package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The pgvector table re-expressed as a parquet vector store — the sink
  * of the reference's
  * `INSERT INTO … (id, embedding, origntext, fileName, pageNumber)`
  * (BlobUploadDetector/src/main/java/com/yoshio3/Function.java:151-165).
  *
  * Layout for scale: rows are hash-bucketed on `id` into a `bucket=N/`
  * partition tree. Point lookups prune to one directory; KNN scans read
  * only (id, embedding) thanks to parquet column pruning; buckets give
  * bounded file counts at 100 TB (set `numBuckets` ~ cluster cores).
  */
object VectorStore {

  val Schema = "id string, embedding array<float>, origntext string, filename string, pagenumber bigint"

  private val declared = StructType.fromDDL(Schema)

  /** What reads see: the declared columns, then the `bucket` partition. */
  private val stored = declared.add("bucket", IntegerType)

  /** Writes `df`, which must hold exactly the [[Schema]] columns, each of
    * its declared type (element nullability aside). Reads use the
    * declared schema, so a missing or mistyped column fails here instead
    * of reading back as nulls. */
  def write(df: DataFrame, path: String, numBuckets: Int = 32,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    def columns(s: StructType) = s.map(f => s"${f.name} ${f.dataType.catalogString}")
    require(columns(df.schema).sorted == columns(declared).sorted,
      s"VectorStore.write: columns ${columns(df.schema).mkString(", ")} do not match " +
        s"the store schema $Schema")
    df.withColumn("bucket", pmod(xxhash64(col("id")), lit(numBuckets)))
      .repartition(col("bucket"))
      .write.mode(mode)
      .partitionBy("bucket")
      .parquet(path)
  }

  /** The store's rows, read with the declared schema, so opening the
    * store runs no schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(stored).parquet(path).drop("bucket")

  /** Point lookup — partition-pruned to one bucket directory. */
  def lookup(spark: SparkSession, path: String, id: String, numBuckets: Int = 32): DataFrame =
    spark.read.schema(stored).parquet(path)
      .where(col("bucket") === pmod(xxhash64(lit(id)), lit(numBuckets)) && col("id") === id)
      .drop("bucket")

  /** Upsert semantics for re-uploaded blobs: given rows carrying a
    * monotonically increasing `versionCol` (upload batch number), keep
    * only the newest row per id — the reference achieves the same by
    * re-running the blob trigger, which re-INSERTs the replaced pages.
    * One shuffle on id; Catalyst rewrites the rank-1 filter into
    * WindowGroupLimit (per-partition bounded heaps before the exchange). */
  def latestVersion(versions: DataFrame, idCol: String = "id",
                    versionCol: String = "version"): DataFrame =
    versions
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col(versionCol).desc)))
      .where(col("__rn") === 1)
      .drop("__rn")
}
