package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.multimodal.BinaryPipeline

/** Archive ingest stages (round 19): synthesize per-document ZIP/TAR
  * corpus dumps from the documents table and extract them back through
  * ArchiveCodec (CRC-32 / header-checksum verified) — narrow
  * mapPartitions, the codec contract. */
object ArchivePipeline {

  /** Code-point substring (SQL substr semantics — DuckDB slices by
    * code points, String.substring by UTF-16 units). */
  private def cpSlice(s: String, fromCp: Int, lenCp: Int): String = {
    val n = s.codePointCount(0, s.length)
    if (fromCp >= n) ""
    else {
      val st = s.offsetByCodePoints(0, fromCp)
      val en = s.offsetByCodePoints(0, math.min(n, fromCp + lenCp))
      s.substring(st, en)
    }
  }

  /** Per-document archive: 1 + id%3 member files `doc<id>/part<k>.txt`,
    * each holding the text's k-th 100-code-point slice (UTF-8). Format
    * rotates ZIP on even ids (entries stored/deflated by (id+k)%2, a
    * trailing comment on id%5 == 0 so the EOCD backward scan is
    * exercised; ZIP64-styled on id%8 == 2 — sentinel sizes/offsets,
    * 0x0001 extra fields, EOCD64 record + locator, the >4 GiB boundary
    * shape) and USTAR TAR on odd ids — gzip-wrapped (.tar.gz, the
    * dominant corpus-dump form, via the strict CRC-verified gunzip) on
    * id%4 == 3 — all results-invisible under the oracle. */
  def synthesizeArchives(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val nParts = (1 + id % 3).toInt
        val members = (0 until nParts).map { k =>
          s"doc$id/part$k.txt" ->
            cpSlice(text, k * 100, 100)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        val bytes =
          if (id % 8 == 2)
            ArchiveCodec.zipEncode64(members, deflate = k => (id + k) % 2 == 1)
          else if (id % 2 == 0)
            ArchiveCodec.zipEncode(members,
              deflate = k => (id + k) % 2 == 1,
              comment = if (id % 5 == 0) s"corpus dump $id" else "")
          else {
            // .tar vs .tar.gz (the dominant corpus-dump form) on id%4:
            // the gzip wrapper must be results-invisible
            val tar = ArchiveCodec.tarEncode(members)
            if (id % 4 == 3) {
              val bo = new java.io.ByteArrayOutputStream(tar.length / 2 + 64)
              val g = new java.util.zip.GZIPOutputStream(bo)
              g.write(tar); g.close()
              bo.toByteArray
            } else tar
          }
        (id, bytes)
      }
      .toDF(idCol, "content")
  }

  /** Extract every member: (id, entry_idx, name, size, content md5) —
    * integrity fields verified inside the codec. */
  def extractArchives(archives: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("entry_idx", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("size", LongType, nullable = false),
      StructField("content_md5", StringType, nullable = false)))
    BinaryPipeline.mapMedia(archives, idCol, schema) { (id, content) =>
      // sniff: zip / tar / gzip-wrapped tar (.tar.gz) — the gunzip
      // is WarcCodec's strict member walk (CRC/ISIZE verified)
      val entries =
        if (ArchiveCodec.isZip(content)) ArchiveCodec.zipEntries(content)
        else if (WarcCodec.isGzip(content))
          ArchiveCodec.tarEntries(WarcCodec.gunzipAll(content))
        else ArchiveCodec.tarEntries(content)
      entries.iterator.zipWithIndex.map { case (e, k) =>
        Row(id, k.toLong, e.name, e.size,
          org.apache.commons.codec.digest.DigestUtils.md5Hex(e.data))
      }
    }
  }
}
