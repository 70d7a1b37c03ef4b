package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, TiffCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TiffCodec: decode against a HAND-AUTHORED byte-level fixture (IFD,
  * tags and PackBits stream laid out by the test itself, independent of
  * the encoder), encode→decode round trips across byte order /
  * compression / strip splits / photometric, and the fail-loud
  * contract. */
class TiffCodecSpec extends AnyFunSuite with SparkSpec {

  /** Hand-built little-endian 3x2 gray TIFF, uncompressed, one strip,
    * pixels 10..60 by tens, plus optional extra tags (id, type, value) —
    * type 3 SHORT or 4 LONG. Layout: header(8) | pixels(6) | IFD. */
  private def handFixture(extraTags: (Int, Int, Long)*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    def w32(v: Long): Unit = { w16(v.toInt & 0xffff); w16((v >> 16).toInt & 0xffff) }
    w8('I'); w8('I'); w8(42); w8(0)
    w32(14) // IFD at 14
    Seq(10, 20, 30, 40, 50, 60).foreach(w8) // strip data at 8
    def tag(id: Int, tpe: Int, value: Long): Unit = {
      w16(id); w16(tpe); w32(1)
      if (tpe == 3) { w16(value.toInt); w16(0) } else w32(value)
    }
    val tags = Seq(
      (256, 4, 3L), (257, 4, 2L), (258, 3, 8L), (259, 3, 1L), (262, 3, 1L),
      (273, 4, 8L), (277, 3, 1L), (279, 4, 6L)) ++ extraTags
    w16(tags.length)
    tags.sortBy(_._1).foreach { case (id, tpe, v) => tag(id, tpe, v) }
    w32(0) // no next IFD
    out.toByteArray
  }
  private def handFixture: Array[Byte] = handFixture()

  test("hand-authored fixture: exact pixels, tag walk, no encoder involved") {
    val img = TiffCodec.decode(handFixture)
    assert(img.width == 3 && img.height == 2)
    assert(img.colorType == 0 && img.channels == 1 && img.bitDepth == 8)
    assert(img.pixels.map(_ & 0xff).toSeq == Seq(10, 20, 30, 40, 50, 60))
  }

  test("encode→decode round-trips: byte orders x PackBits x strip splits x photometric") {
    val rnd = new scala.util.Random(23)
    for (ch <- Seq(1, 3); be <- Seq(false, true); pb <- Seq(false, true);
         rps <- Seq(0, 1, 3)) {
      val w = 11; val h = 7
      val px = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val img = TiffCodec.decode(TiffCodec.encode(w, h, ch, px,
        bigEndian = be, packBits = pb, rowsPerStrip = rps))
      assert(img.width == w && img.height == h && img.channels == ch,
        s"ch=$ch be=$be pb=$pb rps=$rps")
      assert(img.pixels.toSeq == px.toSeq, s"ch=$ch be=$be pb=$pb rps=$rps")
    }
    // WhiteIsZero storage is invisible in the decoded buffer
    val gray = Array.tabulate(24)(i => (i * 9).toByte)
    val wiz = TiffCodec.decode(TiffCodec.encode(6, 4, 1, gray, whiteIsZero = true))
    assert(wiz.pixels.toSeq == gray.toSeq, "WhiteIsZero round trip")
    // PackBits exercises long repeat runs (constant image) and literals
    val const = TiffCodec.decode(TiffCodec.encode(64, 4, 1,
      Array.fill(256)(200.toByte), packBits = true, rowsPerStrip = 2))
    assert(const.pixels.forall(_ == 200.toByte))
  }

  test("fail-loud contract: header, multi-page, tiles, depth, planar, strip accounting") {
    val px = Array.tabulate(33)(i => i.toByte)
    val good = TiffCodec.encode(11, 3, 1, px, rowsPerStrip = 2)
    // bad magic
    val sig = good.clone(); sig(2) = 41
    assert(intercept[IllegalArgumentException](TiffCodec.decode(sig))
      .getMessage.contains("header"))
    // second IFD: patch the next-IFD pointer (last 4 bytes of the IFD)
    val multi = good.clone()
    multi(multi.length - 4) = 8 // little-endian next-IFD = 8
    val eMulti = intercept[IllegalArgumentException](TiffCodec.decode(multi))
    assert(eMulti.getMessage.contains("multi-page"), eMulti.getMessage)
    // 16-bit depth rejects: find the bits/sample tag (258 = 0x0102 LE)
    def patchTagValue(b: Array[Byte], id: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      var i = 8
      while (!((c(i) & 0xff) == (id & 0xff) && (c(i + 1) & 0xff) == (id >> 8))) i += 1
      c(i + 8) = v.toByte; c
    }
    // 16-bit became real support in round 17: a RELABELED 8-bit file
    // now fails the strip-size accounting (half the bytes it claims);
    // a genuinely unsupported depth still names the carried set
    val b16 = patchTagValue(good, 258, 16)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(b16))
      .getMessage.contains("geometry wants"))
    val b12 = patchTagValue(good, 258, 12)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(b12))
      .getMessage.contains("unsupported"))
    // planar configuration 2 rejects
    val planar = patchTagValue(good, 284, 2)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(planar))
      .getMessage.contains("planar"))
    // unsupported compression rejects (7 = new-style JPEG-in-TIFF;
    // 5 = LZW became REAL support in round 16)
    val jpgc = patchTagValue(good, 259, 7)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(jpgc))
      .getMessage.contains("compression 7"))
    // photometric contradiction: RGB photometric on 1 sample/pixel
    val pmBad = patchTagValue(good, 262, 2)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(pmBad))
      .getMessage.contains("contradicts"))
    // truncation: cut the last strip's data
    val trunc = good.take(12)
    intercept[IllegalArgumentException](TiffCodec.decode(trunc))
    // RowsPerStrip = 2^32-1, the spec's one-strip idiom, as a TRUE LONG
    // tag: the pre-fix .toInt wrapped it to -1 and rejected a valid file
    val idiom = handFixture((278, 4, 0xffffffffL))
    assert(TiffCodec.decode(idiom).pixels.map(_ & 0xff).toSeq ==
      Seq(10, 20, 30, 40, 50, 60))
    // behavior-altering tags reject rather than silently corrupt
    val eFill = intercept[IllegalArgumentException](
      TiffCodec.decode(handFixture((266, 3, 2L))))
    assert(eFill.getMessage.contains("FillOrder"), eFill.getMessage)
    val eOrient = intercept[IllegalArgumentException](
      TiffCodec.decode(handFixture((274, 3, 6L))))
    assert(eOrient.getMessage.contains("Orientation"), eOrient.getMessage)
    // duplicate IFD tag (TIFF 6.0 §2 requires sorted-unique entries):
    // a .toMap last-wins decode would be silent corruption — reject
    val eDup = intercept[IllegalArgumentException](
      TiffCodec.decode(handFixture((262, 3, 0L))))
    assert(eDup.getMessage.contains("duplicate IFD tag(s) 262"), eDup.getMessage)
    // encoder guards
    assert(intercept[IllegalArgumentException](
      TiffCodec.encode(2, 1, 3, new Array[Byte](6), whiteIsZero = true))
      .getMessage.contains("gray-only"))
  }

  test("MULTI-PAGE: encodeMulti→pages round-trips mixed geometry; decode stays strict") {
    // three pages of different geometry/channels, PackBits + strips
    val p1 = (3, 2, 1, Array.tabulate(6)(i => (10 * (i + 1)).toByte))
    val p2 = (2, 2, 3, Array.tabulate(12)(i => (5 * i + 1).toByte))
    val p3 = (4, 1, 1, Array.tabulate(4)(i => (77 + i).toByte))
    for (be <- Seq(false, true); pb <- Seq(false, true)) {
      val multi = TiffCodec.encodeMulti(Seq(p1, p2, p3), bigEndian = be,
        packBits = pb, rowsPerStrip = 1)
      val pages = TiffCodec.pages(multi)
      assert(pages.length == 3, s"be=$be pb=$pb")
      assert(pages(0).width == 3 && pages(0).channels == 1 &&
        pages(0).pixels.toSeq == p1._4.toSeq)
      assert(pages(1).width == 2 && pages(1).channels == 3 &&
        pages(1).pixels.toSeq == p2._4.toSeq)
      assert(pages(2).width == 4 && pages(2).height == 1 &&
        pages(2).pixels.toSeq == p3._4.toSeq)
      // decode() keeps its single-page strictness on the same bytes
      assert(intercept[IllegalArgumentException](TiffCodec.decode(multi))
        .getMessage.contains("multi-page"))
    }
    // a single-page file round-trips identically through both ops
    val single = TiffCodec.encode(3, 2, 1, p1._4)
    assert(TiffCodec.pages(single).map(_.pixels.toSeq) ==
      Seq(TiffCodec.decode(single).pixels.toSeq))
    // IFD chain loop fails loud: point the last next-IFD at the first
    val multi = TiffCodec.encodeMulti(Seq(p1, p2))
    def u32le(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    val firstIfdAt = u32le(multi, 4)
    val looped = multi.clone()
    // last 4 bytes are page 2's next-IFD pointer (0) — aim it back
    looped(looped.length - 4) = (firstIfdAt & 0xff).toByte
    looped(looped.length - 3) = ((firstIfdAt >> 8) & 0xff).toByte
    val eLoop = intercept[IllegalArgumentException](TiffCodec.pages(looped))
    assert(eLoop.getMessage.contains("loops back"), eLoop.getMessage)
  }

  test("LZW (compression 5): round trips incl. early-change crossings, predictor 2, fail-loud") {
    // long pseudo-random buffers cross the 9→10→11-bit width triggers
    // and (at 64k) force a mid-stream table reset — any early-change
    // off-by-one or reset bug breaks these exactly
    for ((w, h, ch) <- Seq((50, 20, 1), (120, 80, 3), (256, 96, 3))) {
      val px = Array.tabulate(w * h * ch)(i => ((i * 31 + (i / 7) * 17) % 256).toByte)
      for (be <- Seq(false, true); pred <- Seq(false, true)) {
        val enc = TiffCodec.encode(w, h, ch, px, bigEndian = be,
          rowsPerStrip = 13, lzw = true, predictor2 = pred)
        val img = TiffCodec.decode(enc)
        assert(img.pixels.toSeq == px.toSeq, s"$w x $h x $ch be=$be pred=$pred")
      }
    }
    // hand-packed vector: Clear(256), 'A'(65), 'B'(66), entry 258=AB,
    // code 258, EOI(257) → "ABAB". 9-bit MSB-first packing by hand:
    // 100000000 001000001 001000010 100000010 100000001 + pad
    val hand = Array(0x80, 0x10, 0x48, 0x50, 0x28, 0x08).map(_.toByte)
    // wrap it as a 4x1 gray TIFF via the public surface: encode an
    // uncompressed twin, then splice the hand stream in? simpler —
    // decode through a minimal hand-built file
    val out = new java.io.ByteArrayOutputStream()
    def w8v(v: Int): Unit = out.write(v & 0xff)
    def w16v(v: Int): Unit = { w8v(v); w8v(v >> 8) }
    def w32v(v: Long): Unit = { w16v(v.toInt & 0xffff); w16v((v >> 16).toInt & 0xffff) }
    w8v('I'); w8v('I'); w8v(42); w8v(0)
    w32v(8 + hand.length + (hand.length & 1)) // IFD after the (padded) strip
    out.write(hand, 0, hand.length)
    if (hand.length % 2 == 1) w8v(0)
    def tag(id: Int, tpe: Int, value: Long): Unit = {
      w16v(id); w16v(tpe); w32v(1)
      if (tpe == 3) { w16v(value.toInt); w16v(0) } else w32v(value)
    }
    val tags = Seq((256, 4, 4L), (257, 4, 1L), (258, 3, 8L), (259, 3, 5L),
      (262, 3, 1L), (273, 4, 8L), (277, 3, 1L), (278, 4, 1L),
      (279, 4, hand.length.toLong))
    w16v(tags.length)
    tags.sortBy(_._1).foreach { case (id, tpe, v) => tag(id, tpe, v) }
    w32v(0)
    val img = TiffCodec.decode(out.toByteArray)
    assert(img.pixels.map(_ & 0xff).toSeq == Seq(65, 66, 65, 66),
      "hand-packed LZW vector")
    // fail-loud: predictor 2 without LZW rejects; truncated stream rejects
    val good = TiffCodec.encode(6, 4, 1, Array.tabulate(24)(_.toByte), lzw = true)
    def patchTag(b: Array[Byte], id: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      var i = 8
      while (!((c(i) & 0xff) == (id & 0xff) && (c(i + 1) & 0xff) == (id >> 8))) i += 1
      c(i + 8) = v.toByte; c
    }
    // predictor without LZW: flip compression back to 1 on a
    // predictor-2 LZW file — the tag combination must reject
    val lzwOff = TiffCodec.encode(6, 4, 1, Array.tabulate(24)(_.toByte),
      lzw = true, predictor2 = true)
    val pNoL = patchTag(lzwOff, 259, 1)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(pNoL))
      .getMessage.contains("predictor 2"), "predictor without LZW must reject")
    val trunc = good.clone()
    // shrink the strip byte count so the stream ends mid-code
    var i = 8
    while (!((trunc(i) & 0xff) == 0x17 && (trunc(i + 1) & 0xff) == 0x01)) i += 1 // tag 279
    trunc(i + 8) = 2
    intercept[IllegalArgumentException](TiffCodec.decode(trunc))
  }

  test("Deflate (compression 8 / 32946): round trips, predictor 2, strict accounting") {
    // both tags, both byte orders, predictor on/off, multi-strip — every
    // combination must decode to the identical pixel buffer
    for ((w, h, ch) <- Seq((50, 20, 1), (120, 40, 3))) {
      val px = Array.tabulate(w * h * ch)(i => ((i * 31 + (i / 7) * 17) % 256).toByte)
      for (be <- Seq(false, true); pred <- Seq(false, true); old <- Seq(false, true)) {
        val enc = TiffCodec.encode(w, h, ch, px, bigEndian = be,
          rowsPerStrip = 13, deflate = true, predictor2 = pred,
          oldDeflateTag = old)
        val img = TiffCodec.decode(enc)
        assert(img.pixels.toSeq == px.toSeq,
          s"$w x $h x $ch be=$be pred=$pred oldTag=$old")
      }
    }
    // deflate output must be byte-identical to the uncompressed and LZW
    // twins (compression invariance at the decode surface)
    val px = Array.tabulate(96)(i => (i * 7).toByte)
    val plain = TiffCodec.decode(TiffCodec.encode(12, 8, 1, px))
    val defl = TiffCodec.decode(TiffCodec.encode(12, 8, 1, px, deflate = true))
    assert(plain.pixels.toSeq == defl.pixels.toSeq)

    // IFD-aware tag patch: a raw byte scan could false-match tag-id
    // byte pairs INSIDE the zlib stream (e.g. the 78 01 01 header of a
    // BEST_SPEED stored block spells tag 257)
    def patchTag(b: Array[Byte], id: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      val ifdAt = (c(4) & 0xff) | ((c(5) & 0xff) << 8) |
        ((c(6) & 0xff) << 16) | ((c(7) & 0xff) << 24)
      val n = (c(ifdAt) & 0xff) | ((c(ifdAt + 1) & 0xff) << 8)
      val entry = (0 until n).map(k => ifdAt + 2 + 12 * k).find { o =>
        ((c(o) & 0xff) | ((c(o + 1) & 0xff) << 8)) == id
      }.getOrElse(fail(s"tag $id not in IFD"))
      c(entry + 8) = v.toByte; c
    }
    // truncated zlib stream: shrink the strip byte count
    val good = TiffCodec.encode(6, 4, 1, Array.tabulate(24)(_.toByte), deflate = true)
    val trunc = patchTag(good, 279, 3)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(trunc))
      .getMessage.toLowerCase.contains("deflate"), "truncated stream must reject")
    // a stream holding MORE pixels than the geometry: encode 2 rows'
    // worth but declare height 1 via the tag — silent drop forbidden
    val two = TiffCodec.encode(6, 2, 1, Array.tabulate(12)(_.toByte), deflate = true)
    val lied = patchTag(patchTag(two, 257, 1), 278, 1)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(lied))
      .getMessage.contains("more than"), "over-long stream must reject")
    // predictor 2 under Deflate is legal; under compression 1 it rejects
    val predDefl = TiffCodec.encode(6, 4, 1, Array.tabulate(24)(_.toByte),
      deflate = true, predictor2 = true)
    val pNoC = patchTag(predDefl, 259, 1)
    assert(intercept[IllegalArgumentException](TiffCodec.decode(pNoC))
      .getMessage.contains("predictor 2"))
  }

  test("TILED layout (§15): grid walk + edge crop round trips; geometry fail-loud") {
    // widths/heights straddling the 16-tile boundary force 1x1, 2x1,
    // 1x2 and 2x2 grids with zero-padded edge tiles
    for ((w, h, ch) <- Seq((9, 7, 1), (16, 16, 3), (21, 17, 3), (40, 33, 1))) {
      val px = Array.tabulate(w * h * ch)(i => ((i * 31 + (i / 7) * 17) % 256).toByte)
      for (be <- Seq(false, true); comp <- Seq(0, 1, 2)) {
        val enc = TiffCodec.encode(w, h, ch, px, bigEndian = be,
          lzw = comp == 1, deflate = comp == 2,
          predictor2 = comp != 0, tileSize = 16)
        val img = TiffCodec.decode(enc)
        assert(img.pixels.toSeq == px.toSeq, s"$w x $h x $ch be=$be comp=$comp")
      }
      // layout invariance: tiled == striped, byte for byte
      val striped = TiffCodec.decode(TiffCodec.encode(w, h, ch, px, rowsPerStrip = 5))
      val tiled = TiffCodec.decode(TiffCodec.encode(w, h, ch, px, tileSize = 16))
      assert(striped.pixels.toSeq == tiled.pixels.toSeq)
    }
    // encoder guards: tile size must be a positive multiple of 16
    intercept[IllegalArgumentException](
      TiffCodec.encode(8, 8, 1, new Array[Byte](64), tileSize = 12))
    // decoder: a tiled file whose TileWidth is patched off the %16 grid
    val good = TiffCodec.encode(21, 17, 1, Array.tabulate(357)(_.toByte), tileSize = 16)
    def patchTag(b: Array[Byte], id: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      val ifdAt = (c(4) & 0xff) | ((c(5) & 0xff) << 8) |
        ((c(6) & 0xff) << 16) | ((c(7) & 0xff) << 24)
      val n = (c(ifdAt) & 0xff) | ((c(ifdAt + 1) & 0xff) << 8)
      val entry = (0 until n).map(k => ifdAt + 2 + 12 * k).find { o =>
        ((c(o) & 0xff) | ((c(o + 1) & 0xff) << 8)) == id
      }.getOrElse(fail(s"tag $id not in IFD"))
      c(entry + 8) = v.toByte; c
    }
    assert(intercept[IllegalArgumentException](
      TiffCodec.decode(patchTag(good, 322, 20)))
      .getMessage.contains("multiples of 16"))
    // a file carrying BOTH strip and tile tags is ambiguous — the
    // striped twin with a planted TileWidth tag must reject... the
    // cheap equivalent: patch the tiled file's 323 to declare a taller
    // tile, shrinking the offset table vs the implied grid
    assert(intercept[IllegalArgumentException](
      TiffCodec.decode(patchTag(good, 323, 32)))
      .getMessage.contains("grid wants"))
  }

  test("BILEVEL (1-bit): bit packing, photometrics, strips + tiles, default depth") {
    def bits(w: Int, h: Int, seed: Int): Array[Byte] =
      Array.tabulate(w * h)(i =>
        (if ((seed * 37 + (i % w) * 7 + (i / w) * 13) % 5 < 2) 255 else 0).toByte)
    for ((w, h) <- Seq((7, 5), (17, 13), (32, 16), (33, 20));
         wiz <- Seq(false, true); comp <- Seq(0, 1, 2); tiled <- Seq(false, true)) {
      val px = bits(w, h, w + h)
      val enc = TiffCodec.encode(w, h, 1, px,
        packBits = comp == 1, deflate = comp == 2,
        rowsPerStrip = if (tiled) 0 else 3, whiteIsZero = wiz,
        tileSize = if (tiled) 16 else 0, bilevel = true)
      val img = TiffCodec.decode(enc)
      assert(img.channels == 1 && img.pixels.toSeq == px.toSeq,
        s"$w x $h wiz=$wiz comp=$comp tiled=$tiled")
    }
    // tag 258's DEFAULT is 1: strip the BitsPerSample tag entirely from
    // a hand-copied file and the decode must still read it as bilevel
    val enc = TiffCodec.encode(9, 4, 1, bits(9, 4, 3), bilevel = true)
    val ifdAt = (enc(4) & 0xff) | ((enc(5) & 0xff) << 8) |
      ((enc(6) & 0xff) << 16) | ((enc(7) & 0xff) << 24)
    val n = (enc(ifdAt) & 0xff) | ((enc(ifdAt + 1) & 0xff) << 8)
    val entries = (0 until n).map(k => enc.slice(ifdAt + 2 + 12 * k, ifdAt + 14 + 12 * k))
    val kept = entries.filterNot(e => ((e(0) & 0xff) | ((e(1) & 0xff) << 8)) == 258)
    val rebuilt = enc.take(ifdAt) ++
      Array((kept.length & 0xff).toByte, ((kept.length >> 8) & 0xff).toByte) ++
      kept.flatten ++ Array.fill[Byte](4)(0)
    assert(TiffCodec.decode(rebuilt).pixels.toSeq == bits(9, 4, 3).toSeq,
      "absent BitsPerSample must default to 1 per the spec")
    // encoder pins: non-0/255 samples, predictor under bilevel
    intercept[IllegalArgumentException](
      TiffCodec.encode(4, 2, 1, Array[Byte](1, 0, 0, 0, 0, 0, 0, 0), bilevel = true))
    intercept[IllegalArgumentException](
      TiffCodec.encode(4, 2, 1, new Array[Byte](8), bilevel = true,
        lzw = true, predictor2 = true))
  }

  test("SUB-BYTE gray (2/4-bit): replication scaling, photometric complement, layouts") {
    for (d <- Seq(2, 4); wiz <- Seq(false, true); tiled <- Seq(false, true);
         (w, h) <- Seq((9, 5), (17, 13), (33, 18))) {
      val lim = (1 << d) - 1
      val px = Array.tabulate(w * h)(i => ((i % (lim + 1)) * (255 / lim)).toByte)
      val enc = TiffCodec.encode(w, h, 1, px,
        deflate = true, whiteIsZero = wiz,
        rowsPerStrip = if (tiled) 0 else 3,
        tileSize = if (tiled) 16 else 0, grayBits = d)
      val img = TiffCodec.decode(enc)
      assert(img.pixels.toSeq == px.toSeq, s"d=$d wiz=$wiz tiled=$tiled $w x $h")
    }
    // hand-check the WhiteIsZero complement at 4 bits: stored value v
    // decodes to (15−v)·17 — complementing AFTER the scale (255−v·17)
    // would differ for every v not in {0,15}
    val px4 = Array[Byte](0, 17, 34, 255.toByte)
    val enc4 = TiffCodec.encode(4, 1, 1, px4, whiteIsZero = true, grayBits = 4)
    assert(TiffCodec.decode(enc4).pixels.toSeq == px4.toSeq)
    // non-representable sample at depth 2 (86 is not a multiple of 85)
    intercept[IllegalArgumentException](
      TiffCodec.encode(2, 1, 1, Array[Byte](86.toByte, 0), grayBits = 2))
    // grayBits and bilevel are alternatives
    intercept[IllegalArgumentException](
      TiffCodec.encode(2, 1, 1, Array[Byte](0, 0), grayBits = 2, bilevel = true))
  }

  test("16-BIT samples: v*257 widening round trips; HIGH-byte pick pinned by hand") {
    for ((w, h, ch) <- Seq((9, 7, 1), (17, 13, 3));
         be <- Seq(false, true); comp <- Seq(0, 1, 2); tiled <- Seq(false, true)) {
      val px = Array.tabulate(w * h * ch)(i => ((i * 31 + 7) % 256).toByte)
      val enc = TiffCodec.encode(w, h, ch, px, bigEndian = be,
        lzw = comp == 1, deflate = comp == 2,
        rowsPerStrip = if (tiled) 0 else 3,
        tileSize = if (tiled) 16 else 0, bits16 = true)
      val img = TiffCodec.decode(enc)
      assert(img.pixels.toSeq == px.toSeq, s"$w x $h x $ch be=$be comp=$comp tiled=$tiled")
    }
    // the high-byte PICK: v·257 makes both bytes equal, so patch the
    // wire bytes by hand — flipping the LOW byte must not change the
    // decode, flipping the HIGH byte must. Uncompressed LE 2x1 gray:
    // strip data = [lo0, hi0, lo1, hi1] at the data offset.
    val enc = TiffCodec.encode(2, 1, 1, Array[Byte](100, 50), bits16 = true)
    val s = enc.map(_ & 0xff)
    // locate the 4-byte strip [100,100,50,50] (header is 8 bytes; data first)
    val at = (8 until enc.length - 4).find(i =>
      s(i) == 100 && s(i + 1) == 100 && s(i + 2) == 50 && s(i + 3) == 50).get
    val loFlip = enc.clone(); loFlip(at) = 9 // LE: low byte first
    assert(TiffCodec.decode(loFlip).pixels.toSeq == Seq[Byte](100, 50),
      "the LOW byte must not drive the reduction")
    val hiFlip = enc.clone(); hiFlip(at + 1) = 9
    assert(TiffCodec.decode(hiFlip).pixels.toSeq == Seq[Byte](9, 50),
      "the HIGH byte drives the reduction")
    // big-endian: high byte FIRST
    val encBe = TiffCodec.encode(2, 1, 1, Array[Byte](100, 50),
      bigEndian = true, bits16 = true)
    val sBe = encBe.map(_ & 0xff)
    val atBe = (8 until encBe.length - 4).find(i =>
      sBe(i) == 100 && sBe(i + 1) == 100 && sBe(i + 2) == 50 && sBe(i + 3) == 50).get
    val beHi = encBe.clone(); beHi(atBe) = 9
    assert(TiffCodec.decode(beHi).pixels.toSeq == Seq[Byte](9, 50),
      "MM order: the FIRST byte is the high byte")
    // predictor under 16-bit stays loud; mixed bits in the bps vector too
    intercept[IllegalArgumentException](
      TiffCodec.encode(4, 2, 1, new Array[Byte](8), bits16 = true,
        lzw = true, predictor2 = true))
  }

  test("format-agnostic dispatch: tiles and resize accept TIFF rows") {
    import spark.implicits._
    val tiff = TiffCodec.encode(8, 8, 3,
      Array.tabulate(192)(i => (i * 5).toByte), packBits = true)
    val media = Seq((9L, tiff)).toDF("doc_id", "content")
    val f = BinaryPipeline.imageTileFeatures(media, gx = 2, gy = 2).collect()
    assert(f.length == 1 && f(0).getLong(4) == 3 && f(0).getSeq[Double](1).length == 12)
    assert(BinaryPipeline.resizeImages(media, 4, 4).collect().length == 1)
  }

  test("synthesizeTiffs → decodeTiffs matches an independent recompute") {
    import spark.implicits._
    val docs = (0L until 20L).toDF("doc_id")
    val out = BinaryPipeline.decodeTiffs(MediaFixtures.synthesizeTiffs(docs))
      .orderBy("doc_id").collect()
    assert(out.length == 20)
    out.foreach { r =>
      val id = r.getLong(0)
      val w = (9 + id % 13).toInt; val h = (7 + id % 11).toInt
      val ch = if (id % 2 == 0) 1 else 3
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(3) == ch, s"doc $id")
      val sums = Array.fill(3)(0L); var weighted = 0L
      for (i <- 0 until w * h * ch) {
        val v = (id * 37 + i * 11L) % 256
        sums(i % ch) += v
        weighted += (i + 1) * v
      }
      assert(r.getLong(4) == sums(0) && r.getLong(5) == sums(1) &&
        r.getLong(6) == sums(2) && r.getLong(7) == weighted, s"doc $id")
    }
  }
}
