package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction — the layout hygiene pass every streaming
  * ingest needs. Micro-batch sinks (foreachBatch parquet appends, file
  * streams) write one-or-more files PER TRIGGER; after a week a
  * directory holds tens of thousands of KB-sized files, and every
  * downstream scan pays per-file open/footer/listing overhead that
  * dwarfs the data read. At 100 TB the file COUNT, not the byte count,
  * is what kills the driver's listing phase and the scheduler's task
  * table.
  *
  * `compact` rewrites a directory to ~`targetBytes` files and swaps it
  * in via two renames. Three layout modes:
  *  - default: round-robin repartition to ceil(bytes/target) files —
  *    fastest, but DESTROYS any sort/cluster layout;
  *  - `sortBy` non-empty: range-repartition + sort-within-partitions on
  *    those columns, so compaction COMPOSES with a Z-order / range-sorted
  *    layout ([[graft.operators.ZOrder]]) instead of undoing it;
  *  - `partitionBy` non-empty (e.g. the streaming dedup corpus's
  *    `batch_id=N/id_bucket=M` dirs): the rewrite keeps the partition
  *    columns and sizes files PER PARTITION via `maxRecordsPerFile`
  *    (records-per-file = targetBytes / corpus-wide avg record bytes) —
  *    a skewed partition gets proportionally many target-sized files,
  *    never one giant or many tiny ones because some OTHER partition
  *    skewed the global average. Each partition is written by the task
  *    that owns its hash — parallelism across partitions, bounded file
  *    sizes within one.
  *
  * Crash safety: the swap window where `dir` is absent is the two
  * renames. On entry, a leftover `__compact_retired` dir is RESTORED if
  * `dir` is missing (a crash between the renames stranded the only copy
  * there) and deleted only when `dir` exists (post-promote crash — the
  * retired copy is superseded). Callers needing stronger atomicity
  * should version the directory name instead.
  */
object Compaction {

  /** (file count, total bytes) of all data files under `dir`
    * (dot-files and _SUCCESS markers excluded). */
  def stats(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L; var bytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  final case class Report(filesBefore: Long, bytesBefore: Long, filesAfter: Long)

  /** Rewrite `dir` in place to ~targetBytes-sized files (see object doc
    * for the three layout modes). `sortBy` and `partitionBy` compose:
    * partition dirs are kept, rows within each written file are sorted.
    * `preserveFiles` names top-level NON-data files (index sidecars like
    * `_centroids.json` — underscore-prefixed, so the parquet read
    * ignores them) copied into the rewrite BEFORE the swap: the
    * directory is never, at any crash point, a data dir missing its
    * sidecars. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              partitionBy: Seq[String] = Nil, sortBy: Seq[String] = Nil,
              preserveFiles: Seq[String] = Nil): Report = {
    require(targetBytes >= 1, s"compact: targetBytes must be >= 1, got $targetBytes")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, p, "compact")
    val staging = stagingDir(p)

    val (filesBefore, bytesBefore) = stats(spark, dir)
    val base = spark.read.parquet(dir)
    val n = math.max(1L, (bytesBefore + targetBytes - 1) / targetBytes).toInt

    val (df, perFileRecords) =
      if (partitionBy.nonEmpty) {
        // per-partition sizing: bound RECORDS per file from the corpus-wide
        // average record size, and let each partition produce however many
        // files its own bytes need
        // divide via the average record size — targetBytes * records
        // would overflow Long at (big directory × big target)
        val records = math.max(1L, base.count())
        val avgRecordBytes = math.max(1L, bytesBefore / records)
        val recsPerFile = math.max(1L, targetBytes / avgRecordBytes)
        val clustered = base.repartition(partitionBy.map(col): _*)
        val sorted =
          if (sortBy.nonEmpty)
            clustered.sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
          else clustered
        (sorted, Some(recsPerFile))
      } else if (sortBy.nonEmpty) {
        // sort-preserving: range partitioning keeps files non-overlapping
        // on the sort key, so a Z-order/range layout survives compaction
        val cols = sortBy.map(col)
        (base.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*), None)
      } else (base.repartition(n), None)

    val w0 = df.write.mode("overwrite").format("parquet")
    val w1 = perFileRecords.fold(w0)(r => w0.option("maxRecordsPerFile", r))
    (if (partitionBy.nonEmpty) w1.partitionBy(partitionBy: _*) else w1)
      .save(staging.toString)

    preserveFiles.foreach { name =>
      val src = new Path(p, name)
      require(fs.exists(src), s"compact: preserveFiles entry '$name' not found in $dir")
      val in = fs.open(src)
      val content = try in.readAllBytes() finally in.close()
      val out = fs.create(new Path(staging, name), true)
      try out.write(content) finally out.close()
    }

    // the read above is fully materialized by the staging write, so
    // retiring the source afterwards is safe
    promoteStaging(fs, p, "compact")

    val (filesAfter, _) = stats(spark, dir)
    Report(filesBefore, bytesBefore, filesAfter)
  }

  // siblings of the NORMALIZED path: raw `dir + suffix` concatenation
  // would, for a trailing-slash dir, create the staging INSIDE the
  // directory being swapped — and the retire rename (a dir into its own
  // subtree) then fails on every filesystem
  private[graft] def stagingDir(p: Path): Path =
    new Path(p.getParent, p.getName + "__compact_staging")
  private def retiredDir(p: Path): Path =
    new Path(p.getParent, p.getName + "__compact_retired")

  /** Heal a crashed swap of `p` BEFORE touching anything: a retired dir
    * with `p` missing holds the data's only copy and is restored; beside
    * a live `p` it is superseded and dropped. Leftover staging is
    * dropped. Idempotent. */
  private[graft] def recoverSwap(fs: FileSystem, p: Path, op: String): Unit = {
    val retired = retiredDir(p)
    if (fs.exists(retired)) {
      if (!fs.exists(p)) {
        if (!fs.rename(retired, p))
          throw new java.io.IOException(
            s"$op: found stranded $retired with $p missing, and could not restore it")
      } else fs.delete(retired, true)
    }
    fs.delete(stagingDir(p), true)
  }

  /** The swap: `p` → retired, staging → `p` (rolled back if the promote
    * fails), then the retired copy is dropped. */
  private[graft] def promoteStaging(fs: FileSystem, p: Path, op: String): Unit = {
    val retired = retiredDir(p)
    if (!fs.rename(p, retired))
      throw new java.io.IOException(s"$op: could not retire $p")
    if (!fs.rename(stagingDir(p), p)) {
      fs.rename(retired, p) // roll back
      throw new java.io.IOException(s"$op: could not promote staging for $p")
    }
    fs.delete(retired, true)
  }
}
