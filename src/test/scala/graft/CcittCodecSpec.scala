package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, CcittCodec, TiffCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CcittCodec (T.4 / T.6 fax coding): HAND-COMPUTED bit-level fixtures
  * (the G4 mode sequence and MH code words worked out from the public
  * tables by hand, so an encoder/decoder-consistent table typo cannot
  * hide), round trips across modes x photometrics x layouts x run
  * shapes (terminating / makeup / chained-2560 runs), EOFB acceptance,
  * and the fail-loud contract. */
class CcittCodecSpec extends AnyFunSuite with SparkSpec {

  /** Deterministic bilevel raster (the corpus formula family). */
  private def mkPixels(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate(w * h) { i =>
      (if ((seed * 37 + (i % w) * 7 + (i / w) * 13) % 5 < 2) 255 else 0).toByte
    }

  test("HAND G4 fixture: 4x2 bit stream worked out from the T.6 tables") {
    // rows: B W W B then W B B W. Hand coding against the imaginary
    // white reference line:
    //  row 1: horizontal(001) + white0(00110101) + black1(010),
    //         VL1(010), V0(1)
    //  row 2: VR1(011), VL1(010), V0(1)
    // = 001 00110101 010 010 1 011 010 1 + 7 pad zeros
    // = 00100110 10101001 01011010 10000000
    val hand = Array[Byte](0x26, 0xA9.toByte, 0x5A, 0x80.toByte)
    val packed = CcittCodec.decode(hand, 0, hand.length, cols = 4, rows = 2, mode = 4)
    // packed black=1 rows, 1 byte each: 1001 0000 / 0110 0000
    assert(packed.toSeq == Seq(0x90.toByte, 0x60.toByte))
    // and the encoder reproduces the hand bytes exactly
    assert(CcittCodec.encode(packed, 1, cols = 4, rows = 2, mode = 4).toSeq == hand.toSeq)
  }

  test("HAND MH fixture: 4x1 W B B W from the T.4 run tables") {
    // white1(000111) black2(11) white1(000111) + pad = 00011111 00011100
    val hand = Array[Byte](0x1F, 0x1C)
    val packed = CcittCodec.decode(hand, 0, hand.length, cols = 4, rows = 1, mode = 2)
    assert(packed.toSeq == Seq(0x60.toByte)) // 0110 0000
    assert(CcittCodec.encode(packed, 1, cols = 4, rows = 1, mode = 2).toSeq == hand.toSeq)
  }

  test("T.4 2-D stream form: tag-bit rows round-trip across K-factors and TIFF") {
    // codec-level: every K splits the rows differently between 1-D
    // anchors and 2-D coded rows
    for (k <- 1 to 4; (cols, rows) <- Seq((17, 13), (33, 9))) {
      val rowBytes = (cols + 7) / 8
      val packed = new Array[Byte](rowBytes * rows)
      for (y <- 0 until rows; x <- 0 until cols
           if (x * 7 + y * 13) % 5 < 2)
        packed(y * rowBytes + (x >> 3)) =
          (packed(y * rowBytes + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
      val wire = CcittCodec.encode(packed, rowBytes, cols, rows, mode = 3,
        twoD = true, k = k)
      val back = CcittCodec.decode(wire, 0, wire.length, cols, rows, mode = 3,
        twoD = true)
      assert(back.toSeq == packed.toSeq, s"K=$k ${cols}x$rows")
    }
    // TIFF layer: T4Options = 1 accepted and results-invisible
    val px = mkPixels(19, 11, seed = 5)
    val oneD = TiffCodec.decode(TiffCodec.encode(19, 11, 1, px,
      bilevel = true, ccitt = 3))
    val twoD = TiffCodec.decode(TiffCodec.encode(19, 11, 1, px,
      bilevel = true, ccitt = 3, ccittT4TwoD = true))
    assert(oneD.pixels.toSeq == px.toSeq && twoD.pixels.toSeq == px.toSeq)
    // fill-bit / uncompressed T4Options values still reject: patch the
    // tag value to 4 (fill bits)
    val bytes = TiffCodec.encode(19, 11, 1, px, bilevel = true, ccitt = 3,
      ccittT4TwoD = true)
    def u16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    var at = -1
    var i = 0
    while (at < 0 && i + 1 < bytes.length) {
      if (u16(bytes, i) == 292) at = i
      i += 2
    }
    val patched = bytes.clone(); patched(at + 8) = 4
    assert(intercept[IllegalArgumentException](TiffCodec.decode(patched))
      .getMessage.contains("T4Options"))
    // a 2-D stream decoded WITHOUT the twoD flag mis-frames and rejects
    val wire2d = CcittCodec.encode(
      Array.fill[Byte](3 * 5)(0x55), 3, 17, 5, mode = 3, twoD = true)
    assert(intercept[IllegalArgumentException](
      CcittCodec.decode(wire2d, 0, wire2d.length, 17, 5, mode = 3)) != null)
  }

  test("codec-level round trips: run shapes incl. makeups and chained 2560s") {
    // (cols, rows, pixel fn black?) — sparse blacks force makeup-sized
    // white runs; all-black forces black makeups; 2700 chains 2560+
    val shapes: Seq[(Int, Int, (Int, Int) => Boolean)] = Seq(
      (4, 2, (x, y) => (x + y) % 3 == 0),
      (17, 13, (x, y) => (x * 7 + y * 13) % 5 < 2),
      (64, 5, (x, y) => x == y * 9),
      (200, 9, (x, y) => x == 100 && y % 2 == 0), // white runs ~100/199
      (131, 4, (_, _) => true), // all black: black makeup 128 + term 3
      (2700, 3, (x, _) => x == 2690)) // chained 2560-makeup white runs
    for ((cols, rows, black) <- shapes; mode <- Seq(2, 3, 4)) {
      val rowBytes = (cols + 7) / 8
      val packed = new Array[Byte](rowBytes * rows)
      for (y <- 0 until rows; x <- 0 until cols if black(x, y))
        packed(y * rowBytes + (x >> 3)) =
          (packed(y * rowBytes + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
      val wire = CcittCodec.encode(packed, rowBytes, cols, rows, mode)
      val back = CcittCodec.decode(wire, 0, wire.length, cols, rows, mode)
      assert(back.toSeq == packed.toSeq, s"${cols}x$rows mode $mode")
    }
  }

  test("TIFF round trips: modes x photometrics x strips/tiles via TiffCodec") {
    for {
      mode <- Seq(2, 3, 4)
      whiteIsZero <- Seq(true, false)
      (w, h) <- Seq((17, 13), (32, 16), (23, 9))
      tiled <- Seq(false, true)
    } {
      val px = mkPixels(w, h, seed = mode * 7 + w)
      val bytes = TiffCodec.encode(w, h, 1, px,
        whiteIsZero = whiteIsZero, bilevel = true, ccitt = mode,
        rowsPerStrip = if (tiled) 0 else 4,
        tileSize = if (tiled) 16 else 0)
      val img = TiffCodec.decode(bytes)
      assert(img.width == w && img.height == h && img.channels == 1)
      assert(img.pixels.toSeq == px.toSeq,
        s"mode $mode whiteIsZero=$whiteIsZero ${w}x$h tiled=$tiled")
    }
  }

  test("FillOrder 2: hand LSB-first fixture + TIFF round trips across modes") {
    // HAND fixture: the known G4 4x2 stream 26 A9 5A 80, stored
    // LSB-first — each byte bit-reversed by hand:
    //   0x26 = 00100110 → 01100100 = 0x64
    //   0xA9 = 10101001 → 10010101 = 0x95
    //   0x5A = 01011010 → 01011010 = 0x5A (palindrome)
    //   0x80 = 10000000 → 00000001 = 0x01
    val lsb = Array[Byte](0x64, 0x95.toByte, 0x5A, 0x01)
    // via a TIFF wrapper carrying FillOrder 2 (the codec itself is
    // FillOrder-blind; the TIFF layer owns the bit reversal)
    val px = Array[Byte](0, 255.toByte, 255.toByte, 0,
      255.toByte, 0, 0, 255.toByte) // B W W B / W B B W as BlackIsZero gray
    val wire = TiffCodec.encode(4, 2, 1, px, bilevel = true, ccitt = 4,
      fillOrder2 = true)
    // the file's strip bytes must BE the hand LSB-first stream
    val asStr = wire.map(_ & 0xff).toSeq
    val at = asStr.indexOfSlice(lsb.map(_ & 0xff).toSeq)
    assert(at >= 0, "FillOrder-2 TIFF must carry the bit-reversed G4 stream")
    val img = TiffCodec.decode(wire)
    assert(img.pixels.toSeq == px.toSeq)
    // round trips across all three modes, striped and tiled
    for (mode <- Seq(2, 3, 4); tiled <- Seq(false, true)) {
      val (w, h) = (19, 11)
      val p2 = mkPixels(w, h, seed = mode)
      val b = TiffCodec.encode(w, h, 1, p2, bilevel = true, ccitt = mode,
        whiteIsZero = mode == 3, fillOrder2 = true,
        rowsPerStrip = if (tiled) 0 else 3, tileSize = if (tiled) 16 else 0)
      assert(TiffCodec.decode(b).pixels.toSeq == p2.toSeq,
        s"FillOrder 2 mode $mode tiled=$tiled")
    }
    // FillOrder 2 on a NON-fax file still rejects loud (encoder and decoder)
    assert(intercept[IllegalArgumentException](
      TiffCodec.encode(4, 2, 1, px, bilevel = true, fillOrder2 = true))
      .getMessage.contains("CCITT"))
  }

  test("EOFB terminator is accepted after the last G4 row") {
    val packed = Array[Byte](0x90.toByte, 0x60.toByte) // the hand 4x2
    val wire = CcittCodec.encode(packed, 1, 4, 2, mode = 4)
    // EOL EOL = 000000000001 000000000001 → bytes 00 10 01 (byte-aligned
    // append is legal: the stream itself carries no alignment)
    val withEofb = wire ++ Array[Byte](0x00, 0x10, 0x01)
    val back = CcittCodec.decode(withEofb, 0, withEofb.length, 4, 2, mode = 4)
    assert(back.toSeq == packed.toSeq)
  }

  test("fail-loud: truncation, bad mode code, overshoot, trailing garbage, options") {
    val packed = Array[Byte](0x90.toByte, 0x60.toByte)
    val g4 = CcittCodec.encode(packed, 1, 4, 2, mode = 4)
    // truncated mid-stream
    assert(intercept[IllegalArgumentException](
      CcittCodec.decode(g4, 0, 1, 4, 2, 4)).getMessage.contains("truncated"))
    // 7+ leading zeros = outside the T.6 mode tree
    assert(intercept[IllegalArgumentException](
      CcittCodec.decode(Array[Byte](0, 0), 0, 2, 4, 1, 4))
      .getMessage.contains("T.6 tree"))
    // MH runs overshooting the row: white8 (10011) on a 4-wide row
    val over = Array[Byte](0x98.toByte) // 10011 000
    assert(intercept[IllegalArgumentException](
      CcittCodec.decode(over, 0, 1, 4, 1, 2)).getMessage.contains("overshoot"))
    // trailing garbage past the declared count
    val garbage = g4 ++ Array[Byte](0x55)
    assert(intercept[IllegalArgumentException](
      CcittCodec.decode(garbage, 0, garbage.length, 4, 2, 4))
      .getMessage.toLowerCase.contains("trailing"))
    // encoder: CCITT without bilevel rejects; with other compressions too
    assert(intercept[IllegalArgumentException](TiffCodec.encode(4, 2, 1,
      Array.fill[Byte](8)(0), ccitt = 4)).getMessage.contains("bilevel"))
    assert(intercept[IllegalArgumentException](TiffCodec.encode(4, 2, 1,
      Array.fill[Byte](8)(0), bilevel = true, ccitt = 4, packBits = true))
      .getMessage.contains("exclusive"))
  }

  test("T4Options/T6Options != 0 and CCITT-on-8-bit reject at the TIFF layer") {
    // patch the encoder's T6Options tag (293) value from 0 to 1: find
    // the 12-byte IFD entry for tag 293 and bump its value field
    val px = mkPixels(17, 13, 3)
    val bytes = TiffCodec.encode(17, 13, 1, px, bilevel = true, ccitt = 4)
    def u16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    var at = -1
    var i = 0
    while (at < 0 && i + 1 < bytes.length) {
      if (u16(bytes, i) == 293) at = i
      i += 2
    }
    assert(at > 0, "encoder must write the T6Options tag")
    val patched = bytes.clone()
    patched(at + 8) = 1 // LONG value LE low byte
    assert(intercept[IllegalArgumentException](TiffCodec.decode(patched))
      .getMessage.contains("T6Options"))
    // G3 leg: same patch on tag 292
    val bytes3 = TiffCodec.encode(17, 13, 1, px, bilevel = true, ccitt = 3)
    var at3 = -1
    i = 0
    while (at3 < 0 && i + 1 < bytes3.length) {
      if (u16(bytes3, i) == 292) at3 = i
      i += 2
    }
    assert(at3 > 0)
    // T4Options 1 (2-D) became SUPPORTED in round 18 — the out-of-scope
    // values are fill bits (4) and uncompressed mode (2)
    val patched3 = bytes3.clone()
    patched3(at3 + 8) = 2
    assert(intercept[IllegalArgumentException](TiffCodec.decode(patched3))
      .getMessage.contains("T4Options"))
    // CCITT compression on an 8-bit file: patch a plain gray fixture's
    // compression tag to 4 — the 1-bit requirement must reject it
    val gray = TiffCodec.encode(6, 2, 1, Array.tabulate[Byte](12)(_.toByte))
    var atc = -1
    i = 0
    while (atc < 0 && i + 1 < gray.length) {
      if (u16(gray, i) == 259) atc = i
      i += 2
    }
    assert(atc > 0)
    val patchedC = gray.clone()
    patchedC(atc + 8) = 4
    assert(intercept[IllegalArgumentException](TiffCodec.decode(patchedC))
      .getMessage.contains("1 bit/sample"))
  }

  test("synthesizeCcittTiffs decodes IDENTICALLY to synthesizeBilevelTiffs") {
    // compression invariance is the oracle's premise: the fax corpus
    // must produce the exact same decoded feature rows as the
    // none/PackBits/Deflate bilevel corpus
    val docs = spark.range(0, 24).toDF("doc_id")
    val a = BinaryPipeline.decodeTiffs(MediaFixtures.synthesizeCcittTiffs(docs))
      .orderBy(col("doc_id")).collect().toSeq
    val b = BinaryPipeline.decodeTiffs(MediaFixtures.synthesizeBilevelTiffs(docs))
      .orderBy(col("doc_id")).collect().toSeq
    assert(a == b)
  }
}
