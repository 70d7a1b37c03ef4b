package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, WebpCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WebpCodec (VP8L lossless): HAND-AUTHORED bit streams built by the
  * test's own LSB-first writer straight from the spec text (container,
  * header, simple codes, 0-bit degenerate codes, LZ77 plane-code
  * distance mapping — all independent of the codec's encoder), full
  * encode→decode round trips across every wire mode and all 14
  * predictor modes, and the fail-loud contract. */
class WebpCodecSpec extends AnyFunSuite with SparkSpec {

  /** Test-side LSB-first bit writer + RIFF wrapper (the spec's own
    * conventions, implemented independently of WebpCodec). */
  private final class W {
    private val bits = scala.collection.mutable.Buffer.empty[Int]
    def b(v: Int, n: Int): W = { (0 until n).foreach(k => bits += (v >> k) & 1); this }
    /** prefix CODE bits go MSB-first */
    def code(v: Int, n: Int): W = { (n - 1 to 0 by -1).foreach(k => bits += (v >> k) & 1); this }
    def wrap(): Array[Byte] = {
      while (bits.length % 8 != 0) bits += 0
      val payload = bits.grouped(8).map(g =>
        g.zipWithIndex.map { case (bit, k) => bit << k }.sum.toByte).toArray
      val chunkLen = 1 + payload.length
      val out = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = (0 until 4).foreach(k => out.write((v >> (8 * k)) & 0xff))
      out.write("RIFF".getBytes); w32(4 + 8 + chunkLen + (chunkLen & 1))
      out.write("WEBP".getBytes); out.write("VP8L".getBytes); w32(chunkLen)
      out.write(0x2f)
      out.write(payload)
      if ((chunkLen & 1) == 1) out.write(0)
      out.toByteArray
    }
  }
  /** 1-symbol simple code (decodes with 0 bits per use). */
  private def simple1(w: W, sym: Int): Unit = {
    w.b(1, 1).b(0, 1)
    if (sym < 2) w.b(0, 1).b(sym, 1) else w.b(1, 1).b(sym, 8)
  }

  test("HAND 1x1 stream: container, header, simple codes, 0-bit decode") {
    val w = new W
    w.b(0, 14).b(0, 14).b(0, 1).b(0, 3) // 1x1, no alpha, version 0
    w.b(0, 1) // no transforms
    w.b(0, 1).b(0, 1) // no cache, no meta
    simple1(w, 30) // green
    simple1(w, 200) // red
    simple1(w, 40) // blue
    simple1(w, 255) // alpha
    simple1(w, 0) // distance
    // pixel loop: every code is 0-bit → no further bits at all
    val img = WebpCodec.decode(w.wrap())
    assert(img.width == 1 && img.height == 1 && img.channels == 3)
    assert((img.pixels(0) & 0xff, img.pixels(1) & 0xff, img.pixels(2) & 0xff) ==
      ((200, 30, 40)))
  }

  test("HAND 2x1 backref: plane code 2 maps to distance 1 (copy left)") {
    // 256 does not fit the simple form's 8-bit symbols, so the green
    // code uses the NORMAL form: lengths {30: 1, 256: 1} via the
    // code-length code.
    val v = new W
    v.b(1, 14).b(0, 14).b(0, 1).b(0, 3)
    v.b(0, 1); v.b(0, 1).b(0, 1)
    // normal green code. code-length-code: we need clc symbols {0, 1}:
    // lengths over 19-symbol clc alphabet: sym0 (len 0s) -> 1 bit,
    // sym1 (len 1) -> 1 bit? We emit tokens: [1 @30] requires runs of
    // zeros (17/18) too. Use clc lengths: 0->2, 1->2, 17->2, 18->2
    // (complete: 4 x 2 bits). ClcOrder = 17,18,0,1,... so num=4+? we
    // need entries up to index of symbol 1 in order = position 9.
    // ClcOrder: [17,18,0,1,2,3,4,5,16,6,...]; symbols 17,18,0,1 sit at
    // positions 0-3 → num_code_lengths = 4 → write 4-4=0.
    v.b(0, 1) // normal code
    v.b(0, 4) // num_code_lengths - 4 = 0 → entries for 17, 18, 0, 1
    v.b(2, 3).b(2, 3).b(2, 3).b(2, 3) // all four clc lengths = 2
    v.b(0, 1) // no max_symbol
    // canonical clc codes (symbols ascending): 0->00, 1->01, 17->10, 18->11
    // tokens: zeros(30) = 18(+ext 30-11=19 in 7 bits), 1@30,
    //         zeros(225) = 18(138, ext 127), 18(87, ext 76), 1@256
    v.code(3, 2).b(19, 7) // 18: 30 zeros
    v.code(1, 2) // length 1 at symbol 30
    v.code(3, 2).b(127, 7) // 18: 138 zeros (31..168)
    v.code(3, 2).b(76, 7) // 18: 87 zeros (169..255)
    v.code(1, 2) // length 1 at symbol 256
    v.code(3, 2).b(12, 7) // 18: 23 zeros (257..279 — the decoder reads
    // tokens until the FULL 280-symbol alphabet is covered)
    simple1(v, 200); simple1(v, 40); simple1(v, 255) // red, blue, alpha
    simple1(v, 1) // distance code: symbol 1 → prefix value 2 → plane (1,0)
    // pixels: literal (green code 0 = symbol 30), then backref
    // (green code 1 = symbol 256 → length prefix 0 → length 1;
    //  distance symbol 0-bit → plane code 2 → dist = max(1, 0*2+1) = 1)
    v.code(0, 1) // literal green 30 (r/b/a 0-bit)
    v.code(1, 1) // backref
    val img = WebpCodec.decode(v.wrap())
    assert(img.width == 2 && img.height == 1 && img.channels == 3)
    val px = (0 until 2).map(i =>
      (img.pixels(3 * i) & 0xff, img.pixels(3 * i + 1) & 0xff, img.pixels(3 * i + 2) & 0xff))
    assert(px == Seq((200, 30, 40), (200, 30, 40)),
      "plane code 2 must copy the left neighbor")
  }

  private def mkPixels(w: Int, h: Int, ch: Int, seed: Int): Array[Byte] =
    Array.tabulate(w * h * ch) { i =>
      ((seed * 31 + (i / ch) * 7 + (i % ch) * 55) % 256).toByte
    }

  test("round trips: literals, subtract-green, LZ77+cache across shapes") {
    for {
      mode <- Seq(0, 1, 3)
      ch <- Seq(3, 4)
      (w, h) <- Seq((1, 1), (13, 9), (32, 16), (7, 31))
    } {
      val px = mkPixels(w, h, ch, seed = mode * 11 + w)
      val wire = WebpCodec.encode(w, h, ch, px, mode = mode)
      val img = WebpCodec.decode(wire)
      assert(img.width == w && img.height == h, s"mode $mode ${w}x$h")
      assert(img.channels == ch || (ch == 4 && img.channels == 3 &&
        px.grouped(4).forall(p => (p(3) & 0xff) == 0xff)))
      if (img.channels == ch)
        assert(img.pixels.toSeq == px.toSeq, s"mode $mode ch=$ch ${w}x$h")
    }
  }

  test("round trips: color-indexing incl. sub-byte bundling (2/4/16/256 colors)") {
    for ((nColors, w, h) <- Seq((2, 19, 7), (4, 17, 5), (16, 23, 9), (200, 21, 6))) {
      val px = Array.tabulate(w * h * 3) { i =>
        val pix = i / 3
        val idx = (pix * 7 + pix / w) % nColors
        (Seq(idx * 37, idx * 59 + 17, idx * 83 + 29)(i % 3) % 256).toByte
      }
      val wire = WebpCodec.encode(w, h, 3, px, mode = 2)
      val img = WebpCodec.decode(wire)
      assert(img.pixels.toSeq == px.toSeq, s"$nColors colors ${w}x$h")
    }
  }

  test("round trips: predictor transform, ALL 14 modes") {
    for (pm <- 0 to 13) {
      val w = 21; val h = 17
      val px = mkPixels(w, h, 3, seed = pm)
      val wire = WebpCodec.encode(w, h, 3, px, mode = 4, predMode = pm)
      assert(WebpCodec.decode(wire).pixels.toSeq == px.toSeq, s"predictor $pm")
    }
  }

  test("round trips: color transform") {
    for (seed <- 1 to 3) {
      val w = 18; val h = 12
      val px = mkPixels(w, h, 3, seed)
      val wire = WebpCodec.encode(w, h, 3, px, mode = 5)
      assert(WebpCodec.decode(wire).pixels.toSeq == px.toSeq, s"seed $seed")
    }
  }

  test("round trips: META PREFIX CODES (two-group tile checkerboard)") {
    // wide enough for several 16-px tiles so both groups carry pixels;
    // heights crossing tile boundaries; tiny images degrade to 1 tile
    for ((w, h) <- Seq((40, 20), (33, 17), (16, 16), (5, 3))) {
      val px = mkPixels(w, h, 3, seed = w + h)
      val wire = WebpCodec.encode(w, h, 3, px, mode = 6)
      val img = WebpCodec.decode(wire)
      assert(img.pixels.toSeq == px.toSeq, s"meta ${w}x$h")
    }
  }

  test("RGBA with real alpha survives, opaque RGBA narrows to RGB") {
    val w = 9; val h = 6
    val px = Array.tabulate(w * h * 4)(i =>
      (if (i % 4 == 3) 100 + (i / 4) % 100 else (i * 13) % 256).toByte)
    val img = WebpCodec.decode(WebpCodec.encode(w, h, 4, px))
    assert(img.channels == 4 && img.pixels.toSeq == px.toSeq)
    val opaque = px.clone()
    (0 until w * h).foreach(i => opaque(i * 4 + 3) = 0xff.toByte)
    val img2 = WebpCodec.decode(WebpCodec.encode(w, h, 4, opaque))
    assert(img2.channels == 3)
  }

  test("fail-loud: container, lossy VP8, truncation, trailing bits, meta codes") {
    assert(intercept[IllegalArgumentException](
      WebpCodec.decode("RIFFxxxxWAVE".getBytes)).getMessage.contains("WEBP"))
    // relabel the chunk as lossy VP8
    val wire = WebpCodec.encode(4, 4, 3, mkPixels(4, 4, 3, 1))
    val lossy = wire.clone(); lossy(15) = ' '
    assert(intercept[IllegalArgumentException](WebpCodec.decode(lossy))
      .getMessage.contains("VP8L only"))
    // truncation mid-stream
    assert(intercept[IllegalArgumentException](
      WebpCodec.decode(java.util.Arrays.copyOf(wire, wire.length - 2))) != null)
    // a meta-bit set with no entropy-image data behind it fails loud
    val w = new W
    w.b(0, 14).b(0, 14).b(0, 1).b(0, 3)
    w.b(0, 1) // no transforms
    w.b(0, 1) // no cache
    w.b(1, 1) // meta prefix codes present, then nothing
    assert(intercept[IllegalArgumentException](WebpCodec.decode(w.wrap())) != null)
    // bad signature byte
    val sig = wire.clone(); sig(20) = 0x2e
    assert(intercept[IllegalArgumentException](WebpCodec.decode(sig))
      .getMessage.contains("signature"))
  }

  test("VP8X still container: round trip, canvas mismatch rejects") {
    for (ch <- Seq(3, 4); (w, h) <- Seq((5, 4), (17, 9))) {
      val px = mkPixels(w, h, ch, seed = w + ch)
      val wire = WebpCodec.encode(w, h, ch, px, mode = 1, vp8x = true)
      assert(new String(wire, "ISO-8859-1").contains("VP8X"))
      val img = WebpCodec.decode(wire)
      assert(img.width == w && img.height == h)
      if (img.channels == ch) assert(img.pixels.toSeq == px.toSeq)
    }
    // canvas/stream mismatch: bump canvas width-minus-one (payload
    // offset 20 = VP8X data start, bytes 24-26 hold width-1 LE)
    val wire = WebpCodec.encode(5, 4, 3, mkPixels(5, 4, 3, 2), vp8x = true)
    val bad = wire.clone(); bad(24) = 9
    assert(intercept[IllegalArgumentException](WebpCodec.decode(bad))
      .getMessage.contains("canvas"))
    // frames() on a still VP8X rejects toward decode()
    assert(intercept[IllegalArgumentException](WebpCodec.frames(wire))
      .getMessage.contains("ANIMATED"))
  }

  test("animated WebP: composited frames match a test-side recompute") {
    val (cw, chh) = (20, 18)
    def cell(g: Int, x: Int, y: Int): Int = (7 * g * 31 + x * 7 + y * 13) % 250
    def rgb(i: Int): Seq[Byte] = Seq(((i * 37) % 256).toByte,
      ((i * 59 + 17) % 256).toByte, ((i * 83 + 29) % 256).toByte)
    def framePx(g: Int, ox: Int, oy: Int, fw: Int, fh: Int): Array[Byte] =
      (0 until fw * fh).flatMap(k =>
        rgb(cell(g, ox + k % fw, oy + k / fw))).toArray
    val rects = Seq((0, 0, cw, chh), (2, 4, 8, 8), (10, 6, 8, 8), (4, 2, 8, 8))
    val frames = rects.zipWithIndex.map { case ((ox, oy, fw, fh), g) =>
      WebpCodec.AnimFrameSpec(ox, oy, fw, fh, 3, framePx(g, ox, oy, fw, fh),
        durationMs = 33, noBlend = g % 2 == 0, disposeBg = false,
        mode = g % 7)
    }
    val wire = WebpCodec.encodeAnim(cw, chh, frames, loop = 2)
    assert(new String(wire, "ISO-8859-1").contains("ANIM"))
    val got = WebpCodec.frames(wire)
    assert(got.length == 4)
    got.zipWithIndex.foreach { case (img, f) =>
      assert(img.width == cw && img.height == chh && img.channels == 3)
      // composited pixel = most recent frame whose rect covers it
      for (y <- 0 until chh; x <- 0 until cw) {
        val g = (0 to f).reverse.find { gg =>
          val (ox, oy, fw, fh) = rects(gg)
          x >= ox && x < ox + fw && y >= oy && y < oy + fh
        }.get
        val want = rgb(cell(g, x, y))
        val at = (y * cw + x) * 3
        assert(img.pixels.slice(at, at + 3).toSeq == want,
          s"frame $f pixel ($x,$y) from frame $g")
      }
    }
    // decode() on an animated container points at frames()
    assert(intercept[IllegalArgumentException](WebpCodec.decode(wire))
      .getMessage.contains("frames()"))
  }

  test("animated WebP: dispose-to-background clears the rect to transparent") {
    val full = WebpCodec.AnimFrameSpec(0, 0, 8, 8, 3,
      Array.fill[Byte](8 * 8 * 3)(100), 33, disposeBg = false)
    val patch = WebpCodec.AnimFrameSpec(2, 2, 4, 4, 3,
      Array.fill[Byte](4 * 4 * 3)(7), 33, disposeBg = true)
    val tail = WebpCodec.AnimFrameSpec(0, 6, 8, 2, 3,
      Array.fill[Byte](8 * 2 * 3)(50), 33)
    val got = WebpCodec.frames(WebpCodec.encodeAnim(8, 8, Seq(full, patch, tail)))
    assert(got.length == 3)
    // frame 1 shows the patch; frame 2 must show TRANSPARENT (not the
    // frame-0 pixels) where the disposed patch sat
    assert(got(1).channels == 3 && got(1).pixels((2 * 8 + 2) * 3) == 7)
    assert(got(2).channels == 4, "disposal hole makes the snapshot RGBA")
    val at = (2 * 8 + 2) * 4
    assert(got(2).pixels(at + 3) == 0, "disposed rect is transparent")
    assert(got(2).pixels((7 * 8 + 1) * 4 + 3) == -1 &&
      got(2).pixels((7 * 8 + 1) * 4) == 50, "tail row painted opaque")
  }

  test("animated fail-loud: odd offsets, ANMF order, fractional alpha, ALPH") {
    val f0 = WebpCodec.AnimFrameSpec(0, 0, 6, 6, 3,
      Array.fill[Byte](6 * 6 * 3)(1), 33)
    assert(intercept[IllegalArgumentException](WebpCodec.encodeAnim(6, 6,
      Seq(f0.copy(x = 1, width = 4, height = 4,
        pixels = Array.fill[Byte](48)(0))))).getMessage.contains("even"))
    // fractional alpha under blend method 0 rejects by name
    val semiPx = Array.tabulate[Byte](4 * 4 * 4)(i =>
      if (i % 4 == 3) 128.toByte else 9)
    val anim = WebpCodec.encodeAnim(6, 6, Seq(
      f0, WebpCodec.AnimFrameSpec(0, 0, 4, 4, 4, semiPx, 33, noBlend = false)))
    assert(intercept[IllegalArgumentException](WebpCodec.frames(anim))
      .getMessage.contains("alpha"))
    // ALPH chunk rejects by name through decode()
    val still = WebpCodec.encode(4, 4, 3, mkPixels(4, 4, 3, 5))
    val alph = new java.io.ByteArrayOutputStream()
    alph.write(still, 0, 12)
    alph.write("ALPH".getBytes("ISO-8859-1")); alph.write(2)
    alph.write(0); alph.write(0); alph.write(0)
    alph.write(0); alph.write(0)
    alph.write(still, 12, still.length - 12)
    // fix the RIFF size
    val ab = alph.toByteArray
    val riff = ab.length - 8
    ab(4) = (riff & 0xff).toByte; ab(5) = ((riff >> 8) & 0xff).toByte
    ab(6) = ((riff >> 16) & 0xff).toByte; ab(7) = ((riff >> 24) & 0xff).toByte
    assert(intercept[IllegalArgumentException](WebpCodec.decode(ab))
      .getMessage.contains("ALPH"))
  }

  test("synthesizeWebps → decodeWebps matches an independent recompute") {
    val docs = spark.range(0, 24).toDF("doc_id")
    val got = BinaryPipeline.decodeWebps(MediaFixtures.synthesizeWebps(docs))
      .orderBy(col("doc_id")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val w = (10 + id % 11).toInt
      val h = (8 + id % 9).toInt
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(3) == 3)
      var rs = 0L; var gs = 0L; var bs = 0L; var ws = 0L
      var i = 0
      while (i < w * h * 3) {
        val v =
          if (id % 7 == 2) {
            val j = ((id * 37 + (i / 3) * 13L) % 16).toInt
            (i % 3) match {
              case 0 => (j * 37) % 256
              case 1 => (j * 59 + 17) % 256
              case _ => (j * 83 + 29) % 256
            }
          } else ((id * 37 + i * 11L) % 256).toInt
        if (i % 3 == 0) rs += v else if (i % 3 == 1) gs += v else bs += v
        ws += (i + 1).toLong * v
        i += 1
      }
      assert(r.getLong(4) == rs && r.getLong(5) == gs && r.getLong(6) == bs &&
        r.getLong(7) == ws, s"doc $id (mode ${id % 7})")
    }
  }
}
