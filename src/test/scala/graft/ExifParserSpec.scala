package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, ExifParser, JpegCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ExifParser: a HAND-BUILT big-endian APP1 payload (laid out by the
  * test, independent of the encoder), encode→parse round trips in both
  * byte orders, orientation-normalized dims, APP1 splice transparency
  * to the real JPEG decoder, and the fail-loud contract. */
class ExifParserSpec extends AnyFunSuite with SparkSpec {

  test("hand-built MM payload: orientation + out-of-line ASCII + sub-IFD") {
    // big-endian TIFF: header(8) | IFD0 (3 entries: 274 Orientation=6,
    // 306 DateTime -> out-of-line 20 bytes, 34665 ExifIFD) | dt bytes |
    // Exif IFD (1 entry: 40962 PixelX=640)
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def w32(v: Long): Unit = { w16((v >> 16).toInt); w16(v.toInt) }
    w8('M'); w8('M'); w16(42); w32(8)
    val dt = "2024:02:03 04:05:06\u0000" // 20 bytes
    val ifd0End = 8 + 2 + 12 * 3 + 4 // = 48
    val dtAt = ifd0End
    val exifAt = dtAt + dt.length
    w16(3)
    w16(274); w16(3); w32(1); w16(6); w16(0)
    w16(306); w16(2); w32(dt.length.toLong); w32(dtAt.toLong)
    w16(34665); w16(4); w32(1); w32(exifAt.toLong)
    w32(0)
    dt.foreach(c => w8(c))
    w16(1)
    w16(40962); w16(4); w32(1); w32(640)
    w32(0)
    val exif = ExifParser.parseTiff(out.toByteArray)
    assert(!exif.littleEndian && exif.orientation == 6)
    assert(exif.dateTime.contains("2024:02:03 04:05:06"))
    assert(exif.pixelX.contains(640L) && exif.pixelY.isEmpty)
    assert(exif.make.isEmpty && exif.model.isEmpty)
  }

  test("encodeTiff→parseTiff round-trips both byte orders and all orientations") {
    for (o <- 1 to 8; be <- Seq(false, true)) {
      val blob = ExifParser.encodeTiff(o, "MakerX", "ModelLongName",
        "2024:01:01 00:00:59", 123, 456, bigEndian = be)
      val e = ExifParser.parseTiff(blob)
      assert(e.orientation == o && e.littleEndian == !be)
      assert(e.make.contains("MakerX") && e.model.contains("ModelLongName"))
      assert(e.dateTime.contains("2024:01:01 00:00:59"))
      assert(e.pixelX.contains(123L) && e.pixelY.contains(456L))
    }
  }

  test("orientedDims: 1-4 keep, 5-8 swap, out-of-range rejects") {
    for (o <- 1 to 4) assert(ExifParser.orientedDims(30, 20, o) == ((30L, 20L)))
    for (o <- 5 to 8) assert(ExifParser.orientedDims(30, 20, o) == ((20L, 30L)))
    assert(intercept[IllegalArgumentException](
      ExifParser.orientedDims(1, 1, 0)).getMessage.contains("orientation"))
    assert(intercept[IllegalArgumentException](
      ExifParser.orientedDims(1, 1, 9)).getMessage.contains("orientation"))
  }

  test("APP1 splice: fromJpeg finds it AND the real JPEG decoder still decodes") {
    val w = 24; val h = 16
    val px = Array.tabulate[Byte](w * h)(i => (128 + (i % 32)).toByte)
    val plain = JpegCodec.encode(w, h, 1, px, quality = 90)
    assert(ExifParser.fromJpeg(plain).isEmpty, "plain JPEG has no EXIF")
    val blob = ExifParser.encodeTiff(7, "M", "N", "2024:01:01 00:00:00", w, h)
    val tagged = ExifParser.spliceApp1(plain, blob)
    val e = ExifParser.fromJpeg(tagged).get
    assert(e.orientation == 7 && e.pixelX.contains(w.toLong))
    // the decode path must be APP1-transparent: same pixels
    val a = JpegCodec.decode(plain)
    val b = JpegCodec.decode(tagged)
    assert(a.width == b.width && a.height == b.height &&
      a.pixels.toSeq == b.pixels.toSeq)
  }

  test("marker walk: 0xFF fill bytes and standalone TEM/RST markers are spec-legal") {
    val w = 24; val h = 16
    val px = Array.tabulate[Byte](w * h)(i => (128 + (i % 32)).toByte)
    val plain = JpegCodec.encode(w, h, 1, px, quality = 90)
    val blob = ExifParser.encodeTiff(3, "M", "N", "2024:01:01 00:00:00", w, h)
    val tagged = ExifParser.spliceApp1(plain, blob)
    // splice fill bytes + a standalone TEM marker between SOI and the
    // first segment: FF FF FF (fill run ending in a sync FF) FF 01 (TEM)
    val out = new java.io.ByteArrayOutputStream()
    out.write(tagged, 0, 2) // SOI
    out.write(0xFF); out.write(0xFF); out.write(0xFF); out.write(0x01)
    out.write(tagged, 2, tagged.length - 2)
    val e = ExifParser.fromJpeg(out.toByteArray)
    assert(e.exists(_.orientation == 3),
      "fill bytes + TEM before APP1 must not break the walk")
  }

  test("fail-loud: byte order, magic, truncated IFD, bad ASCII, orientation range") {
    val good = ExifParser.encodeTiff(3, "Mk", "Md", "2024:01:01 00:00:00", 10, 10)
    // bad byte-order mark
    val bom = good.clone(); bom(0) = 'X'
    assert(intercept[IllegalArgumentException](ExifParser.parseTiff(bom))
      .getMessage.contains("byte-order"))
    // bad magic
    val magic = good.clone(); magic(2) = 7
    assert(intercept[IllegalArgumentException](ExifParser.parseTiff(magic))
      .getMessage.contains("42"))
    // truncated IFD
    assert(intercept[IllegalArgumentException](
      ExifParser.parseTiff(java.util.Arrays.copyOf(good, 12)))
      .getMessage.toLowerCase.contains("runs past"))
    // orientation out of range (patch the SHORT value field)
    def u16le(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    var at = -1
    var i = 0
    while (at < 0 && i + 1 < good.length) {
      if (u16le(good, i) == 274) at = i
      i += 2
    }
    val ori = good.clone(); ori(at + 8) = 9
    assert(intercept[IllegalArgumentException](ExifParser.parseTiff(ori))
      .getMessage.contains("orientation 9"))
    // ASCII missing its NUL terminator (patch the last DateTime byte)
    val dtTagAt = {
      var p = -1; var j = 0
      while (p < 0 && j + 1 < good.length) {
        if (u16le(good, j) == 306) p = j
        j += 2
      }
      p
    }
    val dtOff = u16le(good, dtTagAt + 8) | (u16le(good, dtTagAt + 10) << 16)
    val dtLen = u16le(good, dtTagAt + 4) | (u16le(good, dtTagAt + 6) << 16)
    val noNul = good.clone(); noNul(dtOff + dtLen - 1) = 'Z'
    assert(intercept[IllegalArgumentException](ExifParser.parseTiff(noNul))
      .getMessage.contains("NUL"))
  }

  test("synthesizeExifJpegs → decodeExif matches the formula recompute") {
    val docs = spark.range(0, 24).toDF("doc_id")
    val got = BinaryPipeline.decodeExif(MediaFixtures.synthesizeExifJpegs(docs))
      .orderBy(col("doc_id")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val w = 24 + id % 13
      val h = 16 + id % 11
      val o = 1 + id % 8
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(3) == o)
      assert(r.getLong(4) == (if (o >= 5) h else w))
      assert(r.getLong(5) == (if (o >= 5) w else h))
      assert(r.getString(6) == s"Maker${id % 5}")
      assert(r.getString(7) == s"Model${id % 7}")
      assert(r.getString(8) == f"2024:01:01 00:00:${id % 60}%02d")
    }
  }
}
