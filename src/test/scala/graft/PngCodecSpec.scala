package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, PngCodec}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** PngCodec: real decode against HAND-AUTHORED committed fixtures (built
  * by an independent implementation, so encoder/decoder symmetric bugs
  * can't hide), encode→decode round trips across every supported color
  * type, and the fail-loud contract for everything out of scope. */
class PngCodecSpec extends AnyFunSuite with SparkSpec {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    assert(in != null, s"missing committed fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  test("committed RGB fixture: exact pixels (Sub + Average rows, independent authoring)") {
    val img = PngCodec.decode(fixture("fixture_rgb_3x2.png"))
    assert(img.width == 3 && img.height == 2)
    assert(img.bitDepth == 8 && img.colorType == 2 && img.channels == 3)
    val expected = Array(10, 20, 30, 15, 25, 35, 215, 125, 85,
      12, 18, 24, 113, 221, 43, 167, 174, 68).map(_.toByte)
    assert(img.pixels.toSeq == expected.toSeq)
    assert(md5hex(img.pixels) == "780c710d4628ec61d6d702f7a3123831")
  }

  test("committed palette fixture: PLTE expansion, Up filter, ancillary tEXt skipped") {
    val img = PngCodec.decode(fixture("fixture_pal_2x2.png"))
    assert(img.width == 2 && img.height == 2)
    assert(img.colorType == 2 && img.channels == 3,
      "palette expands to RGB; colorType reports the decoded buffer")
    val expected = Array(255, 0, 0, 0, 0, 128, 0, 255, 0, 0, 255, 0).map(_.toByte)
    assert(img.pixels.toSeq == expected.toSeq)
    assert(md5hex(img.pixels) == "a7662d1d8f60511ecc0b42ba0f637231")
  }

  test("committed 16-bit fixture decodes: high-byte reduction of the 0x0102 sample") {
    // 1x1 grayscale, depth 16, one big-endian sample 0x0102 — the
    // independent authoring pins the byte order (a low-byte reduction
    // would read 2, a byte-swapped one 2 as well; only BE-high gives 1)
    val img = PngCodec.decode(fixture("fixture_gray16_1x1.png"))
    assert(img.width == 1 && img.height == 1)
    assert(img.bitDepth == 16 && img.colorType == 0 && img.channels == 1)
    assert(img.pixels.toSeq == Seq(1.toByte))
  }

  test("tRNS transparency expands to alpha: palette→RGBA, gray/RGB keys, fail-loud corners") {
    def chunk(t: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val len = data.length
      out.write(Array((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
      out.write(t.getBytes("US-ASCII")); out.write(data)
      val cc = new java.util.zip.CRC32(); cc.update(t.getBytes("US-ASCII")); cc.update(data)
      val v = cc.getValue
      out.write(Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
      out.toByteArray
    }
    def insertBeforeIdat(png: Array[Byte], extra: Array[Byte]): Array[Byte] = {
      var i = 8
      while (!(png(i + 4) == 'I' && png(i + 5) == 'D' && png(i + 6) == 'A')) i += 1
      png.take(i) ++ extra ++ png.drop(i)
    }
    // palette: index alphas; entries beyond the tRNS length default opaque
    val pal = Array(10, 20, 30, 40, 50, 60, 70, 80, 90).map(_.toByte)
    val idx = Array[Byte](0, 1, 2, 2)
    val palPng = insertBeforeIdat(PngCodec.encode(2, 2, 3, idx, Some(pal)),
      chunk("tRNS", Array(0x00, 0x80).map(_.toByte))) // idx0 -> 0, idx1 -> 0x80
    val palImg = PngCodec.decode(palPng)
    assert(palImg.channels == 4)
    assert(palImg.colorType == 6, "colorType reports the decoded RGBA buffer")
    assert(palImg.pixels.grouped(4).map(_(3) & 0xff).toSeq == Seq(0x00, 0x80, 0xff, 0xff))
    assert(palImg.pixels.grouped(4).map(_.take(3).toSeq).toSeq ==
      idx.map(i => pal.slice(3 * i, 3 * i + 3).toSeq).toSeq)
    // gray: sample == key -> alpha 0 (key's LOW byte at depth 8)
    val gray = Array[Byte](0x4b, 0x10, 0x4b, 0x20)
    val grayPng = insertBeforeIdat(PngCodec.encode(2, 2, 0, gray),
      chunk("tRNS", Array(0x00, 0x4b).map(_.toByte)))
    val grayImg = PngCodec.decode(grayPng)
    assert(grayImg.channels == 2)
    assert(grayImg.colorType == 4, "gray+key decodes as gray+alpha")
    assert(grayImg.pixels.grouped(2).map(p => (p(0), p(1) & 0xff)).toSeq ==
      Seq((0x4b.toByte, 0), (0x10.toByte, 0xff), (0x4b.toByte, 0), (0x20.toByte, 0xff)))
    // RGB: triple key -> RGBA
    val rgb = Array[Byte](1, 2, 3, 9, 9, 9)
    val rgbPng = insertBeforeIdat(PngCodec.encode(2, 1, 2, rgb),
      chunk("tRNS", Array(0, 1, 0, 2, 0, 3).map(_.toByte)))
    val rgbImg = PngCodec.decode(rgbPng)
    assert(rgbImg.channels == 4)
    assert(rgbImg.colorType == 6, "RGB+key decodes as RGBA")
    assert(rgbImg.pixels.toSeq == Seq[Byte](1, 2, 3, 0, 9, 9, 9, -1))
    // fail-loud: tRNS on an alpha-bearing type is illegal
    val rgbaPng = insertBeforeIdat(PngCodec.encode(1, 1, 6, Array[Byte](1, 2, 3, 4)),
      chunk("tRNS", Array[Byte](0, 1)))
    val e = intercept[IllegalArgumentException](PngCodec.decode(rgbaPng))
    assert(e.getMessage.contains("illegal"), e.getMessage)
    // fail-loud: 16-bit gray + tRNS (key would compare pre-reduction)
    val g16 = insertBeforeIdat(PngCodec.encode(1, 1, 0, Array[Byte](7), bitDepth = 16),
      chunk("tRNS", Array[Byte](0, 7)))
    val e16 = intercept[IllegalArgumentException](PngCodec.decode(g16))
    assert(e16.getMessage.contains("16-bit"), e16.getMessage)
  }

  test("16-bit and Adam7 encode→decode round-trip bit-exactly (v*257 widening inverse)") {
    val rnd = new scala.util.Random(7)
    for ((colorType, ch) <- Seq((0, 1), (2, 3), (6, 4));
         interlace <- Seq(false, true);
         depth <- Seq(8, 16)) {
      // odd dims so Adam7 passes have ragged, partly-empty geometry
      val w = 9; val h = 7
      val px = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val img = PngCodec.decode(
        PngCodec.encode(w, h, colorType, px, interlace = interlace, bitDepth = depth))
      assert(img.width == w && img.height == h && img.bitDepth == depth,
        s"type=$colorType interlace=$interlace depth=$depth")
      assert(img.pixels.toSeq == px.toSeq,
        s"type=$colorType interlace=$interlace depth=$depth pixel mismatch")
    }
    // tiny images where most Adam7 passes are EMPTY (1x1: only pass 1;
    // 2x2: passes 1/6/7) — the per-pass byte accounting must stay exact
    for ((w, h) <- Seq((1, 1), (2, 2), (3, 1), (1, 3), (8, 8))) {
      val px = Array.tabulate(w * h)(i => (i * 37 + 5).toByte)
      val img = PngCodec.decode(PngCodec.encode(w, h, 0, px, interlace = true))
      assert(img.pixels.toSeq == px.toSeq, s"${w}x$h interlaced")
    }
    // 16-bit palette is illegal, encoder and decoder agree
    val ePal = intercept[IllegalArgumentException](
      PngCodec.encode(2, 1, 3, Array[Byte](0, 1),
        Some(Array[Byte](1, 2, 3, 4, 5, 6)), bitDepth = 16))
    assert(ePal.getMessage.contains("palette"), ePal.getMessage)
  }

  test("encode→decode round trip across gray / gray+alpha / RGB / RGBA / palette") {
    val rnd = new scala.util.Random(42)
    for ((colorType, ch) <- Seq((0, 1), (4, 2), (2, 3), (6, 4))) {
      // ≥ 6 rows so pngPredictEncode's Up→Sub→Paeth→Average→None cycle
      // exercises every filter branch at least once
      val w = 7; val h = 6
      val px = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val img = PngCodec.decode(PngCodec.encode(w, h, colorType, px))
      assert(img.width == w && img.height == h && img.bitDepth == 8, s"type $colorType")
      assert(img.colorType == colorType && img.channels == ch, s"type $colorType")
      assert(img.pixels.toSeq == px.toSeq, s"type $colorType pixel mismatch")
    }
    // palette: indices round-trip through PLTE expansion
    val pal = Array(10, 20, 30, 40, 50, 60, 70, 80, 90).map(_.toByte)
    val idx = Array[Byte](0, 1, 2, 2, 1, 0)
    val img = PngCodec.decode(PngCodec.encode(3, 2, 3, idx, Some(pal)))
    assert(img.channels == 3)
    assert(img.pixels.toSeq == idx.flatMap(i => pal.slice(3 * i, 3 * i + 3)).toSeq)
  }

  test("SUB-BYTE depths (1/2/4): gray + palette round trips, bit order, fail-loud") {
    // round trips across depth x kind x interlace x odd widths (packed
    // rows with padding bits in the last byte)
    for (d <- Seq(1, 2, 4); pal <- Seq(false, true); il <- Seq(false, true);
         (w, h) <- Seq((7, 3), (16, 5), (17, 9))) {
      val lim = (1 << d) - 1
      val px = Array.tabulate(w * h)(i =>
        (if (pal) i % (lim + 1) else (i % (lim + 1)) * (255 / lim)).toByte)
      val palette =
        if (!pal) None
        else Some(Array.tabulate[Byte]((lim + 1) * 3)(k => (k * 29 + 3).toByte))
      val bytes = PngCodec.encode(w, h, if (pal) 3 else 0, px,
        palette = palette, interlace = il, bitDepth = d)
      val img = PngCodec.decode(bytes)
      assert(img.bitDepth == d, s"d=$d pal=$pal il=$il")
      if (pal) {
        assert(img.channels == 3 && img.colorType == 2)
        val p = palette.get
        val want = px.flatMap(ix => Seq(p(3 * (ix & 0xff)),
          p(3 * (ix & 0xff) + 1), p(3 * (ix & 0xff) + 2)))
        assert(img.pixels.toSeq == want.toSeq, s"d=$d il=$il $w x $h")
      } else
        assert(img.pixels.toSeq == px.toSeq, s"d=$d il=$il $w x $h")
    }
    // hand-packed 1-bit fixture: bits 1010 110. in a 7-pixel row must
    // come out MSB-first (a bit-order slip reverses every byte)
    val hand = PngCodec.encode(7, 1, 0,
      Array[Byte](255.toByte, 0, 255.toByte, 0, 255.toByte, 255.toByte, 0),
      bitDepth = 1)
    assert(PngCodec.decode(hand).pixels.map(b => if (b == 0) 0 else 1).toSeq ==
      Seq(1, 0, 1, 0, 1, 1, 0))
    // encoder pins: sub-byte RGB illegal, non-representable gray, index
    // over the depth
    intercept[IllegalArgumentException](
      PngCodec.encode(4, 2, 2, new Array[Byte](24), bitDepth = 4))
    intercept[IllegalArgumentException](
      PngCodec.encode(4, 2, 0, Array.fill[Byte](8)(100), bitDepth = 1))
    intercept[IllegalArgumentException](
      PngCodec.encode(4, 2, 3, Array.fill[Byte](8)(5),
        palette = Some(Array.fill[Byte](18)(1)), bitDepth = 2))
    // decode: a 2-bit palette index pointing past a 3-entry PLTE fails
    val short = PngCodec.encode(4, 2, 3, Array[Byte](0, 1, 2, 3, 0, 1, 2, 3),
      palette = Some(Array.fill[Byte](12)(9)), bitDepth = 2)
    val threeEntry = {
      // shrink PLTE from 4 to 3 entries by re-encoding with index 3 used
      // but only 3 palette entries — the ENCODER's own guard allows
      // indices < 2^d, so the decoder's PLTE bound must catch it
      PngCodec.encode(4, 2, 3, Array[Byte](0, 1, 2, 3, 0, 1, 2, 3),
        palette = Some(Array.fill[Byte](9)(9)), bitDepth = 2)
    }
    assert(intercept[IllegalArgumentException](PngCodec.decode(threeEntry))
      .getMessage.contains("palette index"))
    PngCodec.decode(short) // 4 entries: fine
    // tRNS on sub-byte GRAY stays out of scope, loud (key pre-rescale)
    val g1 = PngCodec.encode(8, 2, 0, Array.fill[Byte](16)(0), bitDepth = 1)
    val sGray = new String(g1, "ISO-8859-1")
    // splice a tRNS chunk before IDAT
    val idatAt = sGray.indexOf("IDAT") - 4
    val trns = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(Array[Byte](0, 0, 0, 2), 0, 4)
      b.write("tRNS".getBytes("US-ASCII"), 0, 4)
      b.write(Array[Byte](0, 0), 0, 2)
      val crc = new java.util.zip.CRC32()
      crc.update("tRNS".getBytes("US-ASCII")); crc.update(Array[Byte](0, 0))
      val c = crc.getValue
      b.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte), 0, 4)
      b.toByteArray
    }
    val withTrns = g1.take(idatAt) ++ trns ++ g1.drop(idatAt)
    assert(intercept[IllegalArgumentException](PngCodec.decode(withTrns))
      .getMessage.contains("pre-rescale"))
  }

  test("fail-loud contract: signature, CRC, interlace, critical chunk, geometry, OOB palette") {
    val good = PngCodec.encode(3, 2, 2,
      Array.tabulate(18)(i => (i * 11).toByte))
    // bad signature
    val sig = good.clone(); sig(1) = 'Q'.toByte
    assert(intercept[IllegalArgumentException](PngCodec.decode(sig))
      .getMessage.contains("signature"))
    // flipped pixel byte inside IDAT → CRC mismatch, never silent garbage
    val idatOff = { var i = 8; while (!(good(i + 4) == 'I' && good(i + 5) == 'D')) i += 1; i }
    val corrupt = good.clone(); corrupt(idatOff + 10) = (corrupt(idatOff + 10) ^ 0xff).toByte
    assert(intercept[IllegalArgumentException](PngCodec.decode(corrupt))
      .getMessage.contains("CRC"))
    // interlace byte flipped to Adam7 over a NON-interlaced payload
    // (IHDR data starts at 16; interlace is its 13th byte) — recompute
    // the CRC so the payload/layout mismatch itself is what fires: the
    // pass-by-pass byte accounting rejects, never silent garbage.
    // Unknown interlace methods (2+) reject on the header check.
    val inter = good.clone(); inter(16 + 12) = 1
    val crc = new java.util.zip.CRC32(); crc.update(inter, 12, 4 + 13)
    val c = crc.getValue
    inter(16 + 13) = (c >>> 24).toByte; inter(16 + 14) = (c >>> 16).toByte
    inter(16 + 15) = (c >>> 8).toByte; inter(16 + 16) = c.toByte
    intercept[IllegalArgumentException](PngCodec.decode(inter))
    val inter2 = good.clone(); inter2(16 + 12) = 2
    val crc2 = new java.util.zip.CRC32(); crc2.update(inter2, 12, 4 + 13)
    val c2 = crc2.getValue
    inter2(16 + 13) = (c2 >>> 24).toByte; inter2(16 + 14) = (c2 >>> 16).toByte
    inter2(16 + 15) = (c2 >>> 8).toByte; inter2(16 + 16) = c2.toByte
    assert(intercept[IllegalArgumentException](PngCodec.decode(inter2))
      .getMessage.contains("interlace"))
    // unknown CRITICAL chunk rejects; same chunk lowercased would skip
    def chunk(t: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val len = data.length
      out.write(Array((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
      out.write(t.getBytes("US-ASCII")); out.write(data)
      val cc = new java.util.zip.CRC32(); cc.update(t.getBytes("US-ASCII")); cc.update(data)
      val v = cc.getValue
      out.write(Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
      out.toByteArray
    }
    val iendAt = good.length - 12
    val withCritical = good.take(iendAt) ++ chunk("XRIT", Array[Byte](1)) ++ good.drop(iendAt)
    assert(intercept[IllegalArgumentException](PngCodec.decode(withCritical))
      .getMessage.contains("critical"))
    val withAncillary = good.take(iendAt) ++ chunk("xRIT", Array[Byte](1)) ++ good.drop(iendAt)
    assert(PngCodec.decode(withAncillary).pixels.toSeq ==
      PngCodec.decode(good).pixels.toSeq)
    // geometry mismatch: IDAT inflates to the wrong byte count
    val shortIdat = {
      val pre = good.take(iendAt).take(8 + 12 + 13) // sig + IHDR chunk
      pre ++ chunk("IDAT", graft.pipeline.PdfCodec.deflate(Array[Byte](0, 1, 2))) ++
        good.drop(iendAt)
    }
    assert(intercept[IllegalArgumentException](PngCodec.decode(shortIdat))
      .getMessage.contains("geometry"))
    // palette index out of range
    val bad = PngCodec.encode(2, 1, 3, Array[Byte](0, 2),
      Some(Array[Byte](1, 2, 3, 4, 5, 6))) // only 2 entries, index 2 OOB
    assert(intercept[IllegalArgumentException](PngCodec.decode(bad))
      .getMessage.contains("palette index"))
    // unsupported color types on encode and decode
    assert(intercept[IllegalArgumentException](PngCodec.encode(1, 1, 1, Array[Byte](0)))
      .getMessage.contains("color type"))
  }

  test("resizeNearest: hand-computed mapping, identity, upscale, palette expansion") {
    // 4x2 gray, pixels 0..7; downscale to 2x1: src x = floor(dst*4/2)
    // = {0, 2}, src y = floor(0*2/1) = 0 -> pixels (0,0) and (2,0)
    val img = PngCodec.PngImage(4, 2, 8, 0, 1, Array[Byte](0, 1, 2, 3, 4, 5, 6, 7))
    val down = PngCodec.resizeNearest(img, 2, 1)
    assert(down.pixels.toSeq == Seq[Byte](0, 2))
    // identity resize is a no-op on the buffer
    assert(PngCodec.resizeNearest(img, 4, 2).pixels.toSeq == img.pixels.toSeq)
    // upscale 2x replicates: each src pixel appears 2x2 times
    val up = PngCodec.resizeNearest(img, 8, 4)
    assert(up.width == 8 && up.height == 4)
    assert(up.pixels.count(_ == 0) == 4 && up.pixels.count(_ == 7) == 4)
    // resized output re-encodes to a VALID png that decodes back equal
    val re = PngCodec.decode(PngCodec.encode(down.width, down.height, down.colorType, down.pixels))
    assert(re.pixels.toSeq == down.pixels.toSeq)
    // palette input resizes in expanded RGB space and re-types to 2
    val pal = Array[Byte](10, 20, 30, 40, 50, 60)
    val palImg = PngCodec.decode(PngCodec.encode(2, 1, 3, Array[Byte](0, 1), Some(pal)))
    val palResized = PngCodec.resizeNearest(palImg, 1, 1)
    assert(palResized.colorType == 2 && palResized.channels == 3)
    assert(palResized.pixels.toSeq == Seq[Byte](10, 20, 30))
  }

  test("tileFeatures: hand-computed 2x2 grid means; oversize grid fails loud") {
    // 4x2 RGB-free single channel: values 10,20,30,40 / 50,60,70,80
    val img = PngCodec.PngImage(4, 2, 8, 0, 1,
      Array(10, 20, 30, 40, 50, 60, 70, 80).map(_.toByte))
    val f = PngCodec.tileFeatures(img, 2, 2)
    // tiles: x<2/y<1 -> {10,20}; x>=2/y<1 -> {30,40}; y>=1 -> {50,60},{70,80}
    assert(f.toSeq == Seq(15.0, 35.0, 55.0, 75.0))
    val e = intercept[IllegalArgumentException](PngCodec.tileFeatures(img, 8, 1))
    assert(e.getMessage.contains("grid"), e.getMessage)
  }

  test("extractFeatures sniffs PNG content and reports REAL dimensions") {
    import spark.implicits._
    val px = Array.tabulate(5 * 4 * 3)(i => (i % 251).toByte)
    val png = PngCodec.encode(5, 4, 2, px)
    val media = Seq((1L, png), (2L, "plain text bytes".getBytes("UTF-8")))
      .toDF("doc_id", "content")
      .select(col("doc_id"), col("content"),
        struct(lit("image/png").as("media_type"),
          length(col("content")).cast("long").as("declared_bytes")).as("meta"))
    val rows = BinaryPipeline.extractFeatures(media).orderBy("doc_id").collect()
    assert(rows(0).getLong(3) == 5 && rows(0).getLong(4) == 4, "real PNG dims")
    // non-PNG media keeps the documented pseudo-features (stub path)
    assert(rows(1).getLong(3) == 64 + "plain text bytes".length)
  }

  test("decodeImages over synthesized corpus: sums match an independent recompute") {
    import spark.implicits._
    val docs = (0L until 12L).toDF("doc_id")
    val out = BinaryPipeline.decodeImages(MediaFixtures.synthesizeImages(docs))
      .orderBy("doc_id").collect()
    assert(out.length == 12)
    out.foreach { r =>
      val id = r.getLong(0)
      val ch = (id % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
      val w = 4 + id % 13; val h = 3 + id % 11
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(5) == ch, s"doc $id")
      val n = (w * h * ch).toInt
      val vals = Array.tabulate(n)(i => (id * 31 + i * 7L) % 256)
      def slotSum(slot: Int): Long = ch match {
        case 1 => if (slot == 0) vals.sum else 0L
        case 3 => if (slot < 3) vals.zipWithIndex.filter(_._2 % 3 == slot).map(_._1).sum else 0L
        case _ => vals.zipWithIndex.filter(_._2 % 4 == slot).map(_._1).sum
      }
      assert(r.getLong(6) == slotSum(0) && r.getLong(7) == slotSum(1) &&
        r.getLong(8) == slotSum(2) && r.getLong(9) == slotSum(3), s"doc $id sums")
    }
  }

  /** Every field's name, type and nullability (array elements too), in
    * order — the parts of a schema a row-mapper helper could silently
    * reorder or widen. */
  private def ddl(t: DataType): String = t match {
    case st: StructType => st.fields.map(f =>
      s"${f.name} ${ddl(f.dataType)}${if (f.nullable) "" else " NOT NULL"}").mkString("STRUCT<", ", ", ">")
    case a: ArrayType => s"ARRAY<${ddl(a.elementType)}${if (a.containsNull) "" else " NOT NULL"}>"
    case o => o.sql
  }

  test("every public BinaryPipeline op keeps its output schema (names, types, nullability, order)") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val media = BinaryPipeline.asMedia(docs)
    // the schemas the DuckDB oracles and downstream callers are written against
    val pins: Seq[(String, DataFrame, String)] = Seq(
      ("asMedia", BinaryPipeline.asMedia(docs), "STRUCT<doc_id BIGINT NOT NULL, content BINARY, meta STRUCT<media_type STRING NOT NULL, declared_bytes BIGINT> NOT NULL>"),
      ("frameSample", BinaryPipeline.frameSample(media), "STRUCT<doc_id BIGINT NOT NULL, frame_idx BIGINT NOT NULL, byte_offset BIGINT NOT NULL, frame_md5 STRING NOT NULL>"),
      ("segmentAudio", BinaryPipeline.segmentAudio(media), "STRUCT<doc_id BIGINT NOT NULL, seg_idx BIGINT NOT NULL, byte_offset BIGINT NOT NULL, seg_len BIGINT NOT NULL, energy BIGINT NOT NULL, seg_md5 STRING NOT NULL>"),
      ("decodeOggMeta", BinaryPipeline.decodeOggMeta(media), "STRUCT<doc_id BIGINT NOT NULL, codec STRING NOT NULL, sample_rate BIGINT NOT NULL, channels BIGINT NOT NULL, duration_ms BIGINT NOT NULL, page_count BIGINT NOT NULL, title STRING NOT NULL, artist STRING NOT NULL, album STRING NOT NULL>"),
      ("decodeMp3Meta", BinaryPipeline.decodeMp3Meta(media), "STRUCT<doc_id BIGINT NOT NULL, sample_rate BIGINT NOT NULL, channels BIGINT NOT NULL, frame_count BIGINT NOT NULL, audio_bytes BIGINT NOT NULL, duration_ms BIGINT NOT NULL, title STRING NOT NULL, artist STRING NOT NULL, album STRING NOT NULL>"),
      ("decodeWavSegments", BinaryPipeline.decodeWavSegments(media), "STRUCT<doc_id BIGINT NOT NULL, seg_idx BIGINT NOT NULL, sample_rate BIGINT NOT NULL, channels BIGINT NOT NULL, bits BIGINT NOT NULL, n_frames BIGINT NOT NULL, sq_sum BIGINT NOT NULL, zero_crossings BIGINT NOT NULL>"),
      ("decodeImages", BinaryPipeline.decodeImages(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, bit_depth BIGINT NOT NULL, color_type BIGINT NOT NULL, channels BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL, a_sum BIGINT NOT NULL, pixel_md5 STRING NOT NULL>"),
      ("decodeExif", BinaryPipeline.decodeExif(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, orientation BIGINT NOT NULL, oriented_width BIGINT NOT NULL, oriented_height BIGINT NOT NULL, make STRING NOT NULL, model STRING NOT NULL, date_time STRING NOT NULL>"),
      ("decodePdfImages", BinaryPipeline.decodePdfImages(media), "STRUCT<doc_id BIGINT NOT NULL, page BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, channels BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL>"),
      ("decodeTiffs", BinaryPipeline.decodeTiffs(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, channels BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL, weighted_sum BIGINT NOT NULL>"),
      ("decodeBmps", BinaryPipeline.decodeBmps(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL, weighted_sum BIGINT NOT NULL>"),
      ("decodeWebps", BinaryPipeline.decodeWebps(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, channels BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL, weighted_sum BIGINT NOT NULL>"),
      ("decodeTiffPages", BinaryPipeline.decodeTiffPages(media), "STRUCT<doc_id BIGINT NOT NULL, page_no BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, channels BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL, weighted_sum BIGINT NOT NULL>"),
      ("decodeFrameTiles", BinaryPipeline.decodeFrameTiles(media), "STRUCT<doc_id BIGINT NOT NULL, frame_idx BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, components BIGINT NOT NULL, features ARRAY<DOUBLE NOT NULL> NOT NULL>"),
      ("decodeCmykJpegs", BinaryPipeline.decodeCmykJpegs(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, components BIGINT NOT NULL, c_sum BIGINT NOT NULL, m_sum BIGINT NOT NULL, y_sum BIGINT NOT NULL, k_sum BIGINT NOT NULL>"),
      ("decodeJpegs", BinaryPipeline.decodeJpegs(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, components BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL, pixel_md5 STRING NOT NULL>"),
      ("resizeImages", BinaryPipeline.resizeImages(media, 4, 4), "STRUCT<doc_id BIGINT NOT NULL, content BINARY NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL>"),
      ("decodeGifs", BinaryPipeline.decodeGifs(media), "STRUCT<doc_id BIGINT NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, channels BIGINT NOT NULL, r_sum BIGINT NOT NULL, g_sum BIGINT NOT NULL, b_sum BIGINT NOT NULL, a_sum BIGINT NOT NULL, weighted_sum BIGINT NOT NULL>"),
      ("imageTileFeatures", BinaryPipeline.imageTileFeatures(media), "STRUCT<doc_id BIGINT NOT NULL, features ARRAY<DOUBLE NOT NULL> NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, channels BIGINT NOT NULL>"),
      ("pdfImageTileFeatures", BinaryPipeline.pdfImageTileFeatures(media), "STRUCT<doc_id BIGINT NOT NULL, page BIGINT NOT NULL, features ARRAY<DOUBLE NOT NULL> NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, channels BIGINT NOT NULL>"),
      ("extractFeatures", BinaryPipeline.extractFeatures(media), "STRUCT<doc_id BIGINT NOT NULL, byte_len BIGINT NOT NULL, content_md5 STRING NOT NULL, width BIGINT NOT NULL, height BIGINT NOT NULL, media_type STRING>"))
    // a new public op must join the table (mapMedia is the shared helper)
    val publicOps = BinaryPipeline.getClass.getMethods
      .filter(_.getReturnType == classOf[DataFrame]).map(_.getName).toSet - "mapMedia"
    assert(publicOps == pins.map(_._1).toSet, "ops without a schema pin")
    pins.foreach { case (op, df, want) => assert(ddl(df.schema) == want, op) }
  }

  test("the media codec library holds no fixture generators and no no-op decode batching") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def scalaFiles(d: java.io.File) = files(d).filter(_.getName.endsWith(".scala"))
    def text(f: java.io.File) = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val synthesizers = scalaFiles(new java.io.File(root, "graft/multimodal"))
      .filter(f => text(f).contains("def synthesize"))
    assert(synthesizers.isEmpty,
      s"fixture generators in the codec library: ${synthesizers.mkString(", ")} — " +
        "they belong in graft.fixtures.MediaFixtures")
    // only the model-call stages batch for real: one request per batch
    val batching = scalaFiles(root).filter(f => text(f).contains("grouped(batchSize)"))
      .map(_.getName).toSet
    val modelCalls = Set("Embedder.scala", "Summarizer.scala", "SparseKnn.scala")
    assert(batching.subsetOf(modelCalls),
      s"no-op grouped(batchSize) in ${(batching -- modelCalls).mkString(", ")} — " +
        "decode shells run one row at a time through BinaryPipeline.mapMedia")
  }
}
