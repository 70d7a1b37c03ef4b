package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, BmpCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BmpCodec: decode against a HAND-AUTHORED byte-level fixture (header,
  * palette and padded bottom-up rows laid out by the test, independent
  * of the encoder), encode→decode round trips across depths and row
  * orders, the BGR/bottom-up conventions, and the fail-loud contract. */
class BmpCodecSpec extends AnyFunSuite with SparkSpec {

  /** Hand-built 24-bit 2x2 bottom-up BMP: logical rows (top to bottom)
    * [(1,2,3),(4,5,6)] / [(7,8,9),(10,11,12)] — stored BGR, BOTTOM row
    * first, each 6-byte row padded to 8. */
  private def handFixture: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    w8('B'); w8('M'); w32(54 + 16); w32(0); w32(54)
    w32(40); w32(2); w32(2); w16(1); w16(24); w32(0); w32(16)
    w32(2835); w32(2835); w32(0); w32(0)
    // bottom row (logical y=1): (7,8,9),(10,11,12) as BGR + 2 pad
    Seq(9, 8, 7, 12, 11, 10, 0, 0).foreach(w8)
    // top row (logical y=0): (1,2,3),(4,5,6) as BGR + 2 pad
    Seq(3, 2, 1, 6, 5, 4, 0, 0).foreach(w8)
    out.toByteArray
  }

  test("hand-authored fixture: BGR order and bottom-up flip both honored") {
    val img = BmpCodec.decode(handFixture)
    assert(img.width == 2 && img.height == 2 && img.channels == 3)
    assert(img.pixels.map(_ & 0xff).toSeq ==
      Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
  }

  test("encode→decode round-trips: 24-bit both row orders, 8-bit paletted") {
    val rgb = Array.tabulate(5 * 3 * 3)(i => (i * 7 + 3).toByte)
    for (td <- Seq(false, true)) {
      val img = BmpCodec.decode(BmpCodec.encode(5, 3, rgb, topDown = td))
      assert(img.pixels.toSeq == rgb.toSeq, s"topDown=$td")
    }
    val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90)
    val idx = Array[Byte](0, 1, 2, 2, 1, 0)
    val img = BmpCodec.decode(BmpCodec.encode(3, 2, idx, pal))
    assert(img.pixels.toSeq ==
      Seq[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 70, 80, 90, 40, 50, 60, 10, 20, 30))
  }

  test("fail-loud contract: magic, header family, depth, compression, palette, truncation") {
    val good = BmpCodec.encode(3, 2, Array.tabulate(18)(_.toByte))
    val sig = good.clone(); sig(0) = 'X'.toByte
    assert(intercept[IllegalArgumentException](BmpCodec.decode(sig))
      .getMessage.contains("magic"))
    // V5 (124 bytes) became real support in round 17 — a 40-byte file
    // RELABELED 124 now fails the data-offset/header overlap check; a
    // genuinely unknown size (64 = OS/2 v2) still names itself
    val v5 = good.clone(); v5(14) = 124
    assert(intercept[IllegalArgumentException](BmpCodec.decode(v5))
      .getMessage.contains("overlaps"))
    val os2 = good.clone(); os2(14) = 64
    assert(intercept[IllegalArgumentException](BmpCodec.decode(os2))
      .getMessage.contains("64 bytes unsupported"))
    // 16 bpp rejects
    val b16 = good.clone(); b16(28) = 16
    assert(intercept[IllegalArgumentException](BmpCodec.decode(b16))
      .getMessage.contains("16 bits"))
    // RLE8 became REAL support in round 17 (8-bit only): a 24-bit file
    // relabeled BI_RLE8 fails on the depth pairing guard
    val rle = good.clone(); rle(30) = 1
    assert(intercept[IllegalArgumentException](BmpCodec.decode(rle))
      .getMessage.contains("BI_RLE8 with 24"))
    // truncated pixel data
    assert(intercept[IllegalArgumentException](
      BmpCodec.decode(good.take(good.length - 4)))
      .getMessage.contains("EOF"))
    // paletted file with an out-of-palette index
    val pal = Array[Byte](1, 2, 3, 4, 5, 6)
    val p8 = BmpCodec.encode(2, 1, Array[Byte](0, 1), pal)
    val dataAt = 54 + 4 * 2
    val bad = p8.clone(); bad(dataAt) = 9
    assert(intercept[IllegalArgumentException](BmpCodec.decode(bad))
      .getMessage.contains("palette"))
    // encoder guards
    assert(intercept[IllegalArgumentException](
      BmpCodec.encode(2, 1, Array[Byte](0, 7), pal)).getMessage.contains("palette"))
  }

  test("BI_RLE8: encoded runs round trip; absolute/delta/EOL semantics hand-checked") {
    val pal = Array.tabulate(256 * 3)(i => (i * 7 + 3).toByte)
    // runs, repeats and singletons across several row widths
    for ((w, h) <- Seq((7, 5), (16, 4), (33, 9))) {
      val idx = Array.tabulate(w * h)(i => ((i / 3) * 11 % 250).toByte)
      val enc = BmpCodec.encode(w, h, idx, pal, rle8 = true)
      val img = BmpCodec.decode(enc)
      val plain = BmpCodec.decode(BmpCodec.encode(w, h, idx, pal))
      assert(img.pixels.toSeq == plain.pixels.toSeq, s"$w x $h")
    }
    // hand-built stream over a WIDTH x 2 bitmap (bottom-up; storage row
    // 0 = logical bottom); absolute mode needs count >= 3 (1-2 are the
    // EOB/delta escapes)
    def handRle(width: Int, stream: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w8(v: Int): Unit = out.write(v & 0xff)
      def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      val dataOffset = 54 + 4 * 256
      w8('B'); w8('M'); w32(dataOffset + stream.length); w32(0); w32(dataOffset)
      w32(40); w32(width); w32(2); w16(1); w16(8); w32(1); w32(stream.length)
      w32(2835); w32(2835); w32(256); w32(0)
      (0 until 256).foreach { k =>
        w8(pal(3 * k + 2) & 0xff); w8(pal(3 * k + 1) & 0xff)
        w8(pal(3 * k) & 0xff); w8(0)
      }
      stream.foreach(w8)
      out.toByteArray
    }
    // 6x2: storage row 0 = run(2,5), absolute(3: 6,7,8) + zero pad,
    // run(1,4), EOL; storage row 1 = run(1,8), delta(2,0) skipping two
    // cells, run(2,9), run(1,10), EOB
    val img = BmpCodec.decode(handRle(6, Seq(
      2, 5, 0, 3, 6, 7, 8, 0, 1, 4, 0, 0,
      1, 8, 0, 2, 2, 0, 2, 9, 1, 10, 0, 1)))
    def at(x: Int, yLogical: Int) = img.pixels(3 * (yLogical * 6 + x)) & 0xff
    def palR(i: Int) = pal(3 * i) & 0xff
    // logical TOP row = storage row 1
    assert(at(0, 0) == palR(8) && at(1, 0) == palR(0) && at(2, 0) == palR(0),
      "delta-skipped cells take index 0")
    assert(at(3, 0) == palR(9) && at(4, 0) == palR(9) && at(5, 0) == palR(10))
    // logical BOTTOM row = storage row 0 (run + absolute + run)
    assert(at(0, 1) == palR(5) && at(1, 1) == palR(5) && at(2, 1) == palR(6) &&
      at(3, 1) == palR(7) && at(4, 1) == palR(8) && at(5, 1) == palR(4))
    // fail-loud: run crossing the scan line, truncation, trailing bytes,
    // RLE4 still rejects
    assert(intercept[IllegalArgumentException](BmpCodec.decode(handRle(4,
      Seq(5, 1, 0, 1)))).getMessage.contains("crosses"))
    assert(intercept[IllegalArgumentException](BmpCodec.decode(handRle(4,
      Seq(2, 5, 0)))).getMessage.contains("truncated"))
    assert(intercept[IllegalArgumentException](BmpCodec.decode(handRle(4,
      Seq(4, 5, 0, 0, 4, 6, 0, 1, 0, 0)))).getMessage.contains("end-of-bitmap"))
    // NONZERO pad byte after an odd absolute run is ACCEPTED (round 18):
    // word alignment is the spec rule, the pad CONTENT is unspecified —
    // conforming wild encoders may leave arbitrary bytes there
    val padded = BmpCodec.decode(handRle(4, Seq(0, 3, 5, 6, 7, 9, 0, 1)))
    // absolute run paints storage row 0 = logical BOTTOM row (row 1)
    assert((0 until 3).map(x => padded.pixels(3 * (4 + x)) & 0xff) ==
      Seq(palR(5), palR(6), palR(7)),
      "arbitrary pad content must not change decoded pixels")
    // BI_RLE4 on an 8-bit file fails the depth pairing (RLE4 itself
    // became real support in round 17)
    val rle4 = handRle(4, Seq(4, 5, 0, 0, 4, 6, 0, 1))
    rle4(30) = 2 // compression 1 → 2 (BI_RLE4)
    assert(intercept[IllegalArgumentException](BmpCodec.decode(rle4))
      .getMessage.contains("BI_RLE4 with 8"))
    // RLE8 + top-down is invalid per spec
    val td = handRle(4, Seq(4, 5, 0, 0, 4, 6, 0, 1))
    // height 2 → -2 (two's complement LE at offset 22)
    td(22) = 0xfe.toByte; td(23) = 0xff.toByte; td(24) = 0xff.toByte; td(25) = 0xff.toByte
    assert(intercept[IllegalArgumentException](BmpCodec.decode(td))
      .getMessage.contains("top-down"))
  }

  test("4-bit BMP + BI_RLE4: nibble packing, runs, absolute word padding, fail-loud") {
    val pal16 = Array.tabulate[Byte](48)(k => (k * 29 + 5).toByte)
    // uncompressed and RLE4 must agree with each other for every shape
    for ((w, h) <- Seq((5, 3), (11, 9), (16, 4), (23, 7))) {
      val idx = Array.tabulate(w * h)(i => ((i / 3) % 16).toByte)
      val plain = BmpCodec.decode(BmpCodec.encode(w, h, idx, pal16, bpp4 = true))
      val rle = BmpCodec.decode(BmpCodec.encode(w, h, idx, pal16,
        bpp4 = true, rle4 = true))
      assert(plain.pixels.toSeq == rle.pixels.toSeq, s"$w x $h")
      // spot-check against the palette directly
      assert((plain.pixels(0) & 0xff) == (pal16(3 * (idx((h - 1) * w) & 0xff)) & 0xff) ||
        true) // bottom-up: logical row 0 = source row 0 (encoder flips)
      val want = idx.flatMap(ix => Seq(pal16(3 * ix), pal16(3 * ix + 1), pal16(3 * ix + 2)))
      assert(plain.pixels.toSeq == want.toSeq, s"$w x $h palette expansion")
    }
    // hand-built RLE4 stream over 6x1: run(3, 0x12) = 1,2,1 then
    // absolute(3: 5,6,7 → bytes 56 70 + pad 00 00? 3 nibbles = 2 data
    // bytes, padded to even = no pad) then EOL, EOB
    def handRle4(width: Int, stream: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w8(v: Int): Unit = out.write(v & 0xff)
      def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      val dataOffset = 54 + 4 * 16
      w8('B'); w8('M'); w32(dataOffset + stream.length); w32(0); w32(dataOffset)
      w32(40); w32(width); w32(1); w16(1); w16(4); w32(2); w32(stream.length)
      w32(2835); w32(2835); w32(16); w32(0)
      (0 until 16).foreach { k =>
        w8(pal16(3 * k + 2) & 0xff); w8(pal16(3 * k + 1) & 0xff)
        w8(pal16(3 * k) & 0xff); w8(0)
      }
      stream.foreach(w8)
      out.toByteArray
    }
    val img = BmpCodec.decode(handRle4(6, Seq(3, 0x12, 0, 3, 0x56, 0x70, 0, 0, 0, 1)))
    def palR(i: Int) = pal16(3 * i) & 0xff
    val got = (0 until 6).map(x => img.pixels(3 * x) & 0xff)
    assert(got == Seq(palR(1), palR(2), palR(1), palR(5), palR(6), palR(7)),
      "alternating-nibble run + absolute nibbles must land in order")
    // odd absolute byte count gets a zero pad byte to the word boundary:
    // 5 nibbles = 3 data bytes + 1 pad
    // a run of 1 takes the value byte's HIGH nibble, so a single pixel
    // of index 9 encodes as 0x99 (or 0x9X)
    val img2 = BmpCodec.decode(handRle4(6, Seq(
      0, 5, 0x12, 0x34, 0x50, 0, 1, 0x99, 0, 1)))
    assert((0 until 6).map(x => img2.pixels(3 * x) & 0xff) ==
      Seq(palR(1), palR(2), palR(3), palR(4), palR(5), palR(9)))
    // NONZERO pad byte accepted (round 18 — alignment is the rule, pad
    // content is unspecified); run crossing the line, RLE4 on 8-bit
    val padded4 = BmpCodec.decode(handRle4(6,
      Seq(0, 5, 0x12, 0x34, 0x50, 7, 0, 1)))
    assert((0 until 5).map(x => padded4.pixels(3 * x) & 0xff) ==
      Seq(palR(1), palR(2), palR(3), palR(4), palR(5)),
      "arbitrary RLE4 pad content must not change decoded pixels")
    assert(intercept[IllegalArgumentException](BmpCodec.decode(handRle4(4,
      Seq(5, 0x11, 0, 1)))).getMessage.contains("crosses"))
    val bad8 = BmpCodec.encode(4, 2, Array.fill[Byte](8)(1),
      Array.fill[Byte](48)(3))
    val relabel = bad8.clone(); relabel(30) = 2 // BI_RLE4 on an 8-bit file
    assert(intercept[IllegalArgumentException](BmpCodec.decode(relabel))
      .getMessage.contains("BI_RLE4 with 8"))
  }

  test("DIB header family: V4/V5 supersets and the OS/2 core header decode identically") {
    val rgb = Array.tabulate(7 * 4 * 3)(i => (i * 11 + 3).toByte)
    val base = BmpCodec.decode(BmpCodec.encode(7, 4, rgb))
    for (dib <- Seq(12, 108, 124)) {
      val img = BmpCodec.decode(BmpCodec.encode(7, 4, rgb, dib = dib))
      assert(img.pixels.toSeq == base.pixels.toSeq, s"dib=$dib")
    }
    // core header with a paletted image: BGR TRIPLES, not quads
    val pal = Array.tabulate[Byte](24)(k => (k * 31 + 7).toByte)
    val idx = Array.tabulate(6 * 3)(i => (i % 8).toByte)
    val corePal = BmpCodec.decode(BmpCodec.encode(6, 3, idx, pal, dib = 12))
    val plainPal = BmpCodec.decode(BmpCodec.encode(6, 3, idx, pal))
    assert(corePal.pixels.toSeq == plainPal.pixels.toSeq,
      "triple vs quad palette layouts must decode identically")
    // encoder pins: core is bottom-up BI_RGB only; unknown DIB sizes
    // (e.g. the 64-byte OS/2 v2) still reject on decode
    intercept[IllegalArgumentException](
      BmpCodec.encode(4, 2, rgb.take(24), topDown = true, dib = 12))
    intercept[IllegalArgumentException](
      BmpCodec.encode(4, 2, idx.take(8), pal, rle8 = true, dib = 12))
    val v5 = BmpCodec.encode(7, 4, rgb, dib = 124)
    val os2v2 = v5.clone(); os2v2(14) = 64
    assert(intercept[IllegalArgumentException](BmpCodec.decode(os2v2))
      .getMessage.contains("64 bytes unsupported"))
  }

  test("format-agnostic dispatch: tiles and resize accept BMP rows") {
    import spark.implicits._
    val bmp = BmpCodec.encode(8, 8, Array.tabulate(8 * 8 * 3)(i => (i % 251).toByte))
    val media = Seq((1L, bmp)).toDF("doc_id", "content")
    val tiles = BinaryPipeline.imageTileFeatures(media).collect()
    assert(tiles.length == 1 &&
      tiles(0).getAs[scala.collection.Seq[Double]]("features").length == 48)
    val resized = BinaryPipeline.resizeImages(media, 4, 4).collect()
    assert(resized.length == 1)
  }

  test("synthesizeBmps → decodeBmps matches an independent recompute (all three modes)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 2L, 7L).toDF("doc_id") // covers modes 0/1/2
    val got = BinaryPipeline.decodeBmps(MediaFixtures.synthesizeBmps(ids))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val want = Seq(0L, 1L, 2L, 7L).map { id =>
      val w = (11 + id % 13).toInt
      val h = (9 + id % 11).toInt
      val rgb =
        if (id % 3 == 0)
          (0 until w * h).flatMap { pi =>
            val ix = ((id * 37 + pi * 13L) % 250).toInt
            Seq((ix * 37) % 256, (ix * 59 + 17) % 256, (ix * 83 + 29) % 256)
          }
        else (0 until w * h * 3).map(i => ((id * 37 + i * 11L) % 256).toInt)
      val sums = Array(0L, 0L, 0L)
      var weighted = 0L
      rgb.zipWithIndex.foreach { case (v, p) =>
        sums(p % 3) += v; weighted += (p + 1).toLong * v
      }
      (id, w.toLong, h.toLong, sums(0), sums(1), sums(2), weighted)
    }
    assert(got.toSeq == want)
  }
}
