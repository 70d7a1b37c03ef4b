package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, GifCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GifCodec: decode against a HAND-PACKED byte-level fixture whose LZW
  * stream is literal codes with interleaved clears (independently
  * packable by the test, so encoder/decoder symmetric bugs can't hide),
  * encode→decode round trips across palette sizes / interlace /
  * transparency / KwKwK runs, and the fail-loud contract. */
class GifCodecSpec extends AnyFunSuite with SparkSpec {

  /** Hand-built 2x2 GIF, 4-color palette, pixels (1,2,3,0). The LZW
    * stream is [clear,1,clear,2,clear,3,clear,0,end] — the clears pin
    * every code to 3 bits, so the test can pack the bits itself (LSB
    * first) without reimplementing dictionary growth. */
  private def handFixture: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { w8(v); w8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(2); le16(2)
    w8(0x81)       // GCT present, 2^(1+1) = 4 entries
    w8(0); w8(0)
    // palette: red, green, blue, white
    out.write(Array[Byte](-1, 0, 0, 0, -1, 0, 0, 0, -1, -1, -1, -1))
    w8(0x2c); le16(0); le16(0); le16(2); le16(2); w8(0)
    w8(2)          // LZW min code size
    val codes = Seq(4, 1, 4, 2, 4, 3, 4, 0, 5) // clear=4, end=5
    var buf = 0; var bits = 0
    val lzw = new java.io.ByteArrayOutputStream()
    codes.foreach { c =>
      buf |= c << bits; bits += 3
      while (bits >= 8) { lzw.write(buf & 0xff); buf >>= 8; bits -= 8 }
    }
    if (bits > 0) lzw.write(buf & 0xff)
    val data = lzw.toByteArray
    w8(data.length); out.write(data); w8(0)
    w8(0x3b)
    out.toByteArray
  }

  test("hand-packed fixture: exact palette-expanded pixels") {
    val img = GifCodec.decode(handFixture)
    assert(img.width == 2 && img.height == 2)
    assert(img.colorType == 2 && img.channels == 3 && img.bitDepth == 8)
    assert(img.pixels.toSeq == Seq[Byte](
      0, -1, 0, /* idx1 green */ 0, 0, -1, /* idx2 blue */
      -1, -1, -1, /* idx3 white */ -1, 0, 0 /* idx0 red */))
  }

  test("encode→decode round-trips across palette sizes, dims, interlace, transparency") {
    val rnd = new scala.util.Random(19)
    for (nPal <- Seq(2, 4, 16, 250); interlace <- Seq(false, true)) {
      val w = 40; val h = 30 // big enough to grow the code width repeatedly
      val pal = Array.fill(nPal * 3)(rnd.nextInt(256).toByte)
      val idx = Array.fill(w * h)(rnd.nextInt(nPal).toByte)
      val img = GifCodec.decode(GifCodec.encode(w, h, pal, idx, interlace))
      assert(img.width == w && img.height == h && img.channels == 3,
        s"nPal=$nPal interlace=$interlace")
      val expected = idx.flatMap(i => pal.slice(3 * (i & 0xff), 3 * (i & 0xff) + 3))
      assert(img.pixels.toSeq == expected.toSeq, s"nPal=$nPal interlace=$interlace")
    }
    // transparency: GCE index decodes to RGBA with alpha 0 on that index
    val pal = Array[Byte](10, 20, 30, 40, 50, 60)
    val idx = Array[Byte](0, 1, 1, 0)
    val img = GifCodec.decode(GifCodec.encode(2, 2, pal, idx, transparentIdx = Some(1)))
    assert(img.channels == 4 && img.colorType == 6)
    assert(img.pixels.grouped(4).map(_(3) & 0xff).toSeq == Seq(255, 0, 0, 255))
    assert(img.pixels.grouped(4).map(_.take(3).toSeq).toSeq ==
      idx.map(i => pal.slice(3 * i, 3 * i + 3).toSeq).toSeq)
    // KwKwK: constant runs force code == avail immediately
    val run = GifCodec.decode(GifCodec.encode(16, 4, pal, Array.fill(64)(1.toByte)))
    assert(run.pixels.grouped(3).forall(_.toSeq == Seq[Byte](40, 50, 60)))
    // odd geometry interlace (ragged pass rows)
    for ((w, h) <- Seq((1, 1), (3, 5), (7, 9))) {
      val ix = Array.tabulate(w * h)(i => (i % 2).toByte)
      val back = GifCodec.decode(GifCodec.encode(w, h, pal, ix, interlace = true))
      assert(back.pixels.toSeq ==
        ix.flatMap(i => pal.slice(3 * i, 3 * i + 3)).toSeq, s"${w}x$h interlaced")
    }
  }

  test("fail-loud contract: signature, animation, sub-frame, truncation, pixel accounting") {
    val pal = Array[Byte](1, 2, 3, 4, 5, 6)
    val good = GifCodec.encode(3, 2, pal, Array[Byte](0, 1, 0, 1, 0, 1))
    // bad signature
    val sig = good.clone(); sig(4) = '6'.toByte
    assert(intercept[IllegalArgumentException](GifCodec.decode(sig))
      .getMessage.contains("signature"))
    // second image descriptor = animation, out of scope: splice the whole
    // image section (descriptor..data terminator) in again before trailer
    val imgStart = good.indexWhere(_ == 0x2c)
    val section = good.slice(imgStart, good.length - 1)
    val anim = good.take(good.length - 1) ++ section ++ Array(0x3b.toByte)
    val eAnim = intercept[IllegalArgumentException](GifCodec.decode(anim))
    assert(eAnim.getMessage.contains("animated"), eAnim.getMessage)
    // sub-rectangle frame: patch the descriptor's width down (no checksums
    // in GIF, so the descriptor lies about coverage)
    val sub = good.clone(); sub(imgStart + 5) = 2
    val eSub = intercept[IllegalArgumentException](GifCodec.decode(sub))
    assert(eSub.getMessage.contains("logical screen"), eSub.getMessage)
    // truncated mid-data
    val trunc = good.take(good.length - 4)
    intercept[IllegalArgumentException](GifCodec.decode(trunc))
    // trailer before any image
    val noImg = good.take(13 + 6) ++ Array(0x3b.toByte) // header + GCT(2 entries→ wait)
    intercept[IllegalArgumentException](GifCodec.decode(noImg))
    // encoder refuses out-of-palette indices
    assert(intercept[IllegalArgumentException](
      GifCodec.encode(1, 1, pal, Array[Byte](5))).getMessage.contains("palette"))
  }

  test("animated frames(): compositing over disposal 1/2, transparency, reserved disposal loud") {
    // 2x2 screen, 4-color palette; background index 0 = (10,20,30)
    val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    def rgb(i: Int) = Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2))
    // frame 0: opaque [1,1,2,2], disposal 1
    // frame 1: index 3 everywhere except a transparent hole (index 0
    //          declared transparent) at pixel 0 → hole shows frame 0's
    //          pixel (disposal 1 kept the canvas)
    // frame 2: opaque [2,2,1,1], disposal 2 (restore to background)
    // frame 3: all-transparent → shows the BACKGROUND everywhere
    val anim = GifCodec.encodeAnim(2, 2, pal, Seq(
      (Array[Byte](1, 1, 2, 2), None, 1),
      (Array[Byte](0, 3, 3, 3), Some(0), 1),
      (Array[Byte](2, 2, 1, 1), None, 2),
      (Array[Byte](0, 0, 0, 0), Some(0), 1)))
    val fs = GifCodec.frames(anim)
    assert(fs.length == 4)
    assert(fs.forall(f => f.width == 2 && f.height == 2 && f.channels == 3))
    assert(fs(0).pixels.toSeq == (rgb(1) ++ rgb(1) ++ rgb(2) ++ rgb(2)))
    assert(fs(1).pixels.toSeq == (rgb(1) ++ rgb(3) ++ rgb(3) ++ rgb(3)),
      "hole must show the prior canvas, not the transparent entry's color")
    assert(fs(2).pixels.toSeq == (rgb(2) ++ rgb(2) ++ rgb(1) ++ rgb(1)))
    assert(fs(3).pixels.toSeq == (rgb(0) ++ rgb(0) ++ rgb(0) ++ rgb(0)),
      "disposal 2 must restore the background before the next frame")
    // decode() keeps its still-image contract on the same bytes
    assert(intercept[IllegalArgumentException](GifCodec.decode(anim))
      .getMessage.contains("animated"))
    // disposal 3 (restore-previous, round 17): flip frame 0's disposal
    // to 3 — its own snapshot is unchanged, but the canvas returns to
    // the PRE-FRAME state (background), so frame 1's transparent hole
    // now shows the background instead of frame 0's pixel
    val d3 = anim.clone()
    val gce1 = anim.indexWhere(_ == 0x21.toByte)
    d3(gce1 + 3) = ((d3(gce1 + 3) & ~0x1c) | (3 << 2)).toByte
    val fs3 = GifCodec.frames(d3)
    assert(fs3(0).pixels.toSeq == fs(0).pixels.toSeq,
      "disposal 3 must not change the frame's own snapshot")
    assert(fs3(1).pixels.toSeq == (rgb(0) ++ rgb(3) ++ rgb(3) ++ rgb(3)),
      "after restore-to-previous the hole must show the background")
    // reserved disposal values (4-7) fail loud
    val d4 = anim.clone()
    d4(gce1 + 3) = ((d4(gce1 + 3) & ~0x1c) | (4 << 2)).toByte
    assert(intercept[IllegalArgumentException](GifCodec.frames(d4))
      .getMessage.contains("reserved"))
    // …but a STILL image with a stray disposal-3 GCE keeps decoding:
    // disposal only means anything to the compositing path
    val still = GifCodec.encode(2, 2, pal, Array[Byte](1, 2, 3, 0),
      transparentIdx = Some(0))
    val still3 = still.clone()
    val gceS = still.indexWhere(_ == 0x21.toByte)
    still3(gceS + 3) = (still3(gceS + 3) | (3 << 2)).toByte
    assert(GifCodec.decode(still3).pixels.toSeq == GifCodec.decode(still).pixels.toSeq)
    // a single-frame animated call still works (frames ⊇ decode's scope)
    val one = GifCodec.encode(2, 2, pal, Array[Byte](1, 2, 3, 0))
    assert(GifCodec.frames(one).head.pixels.toSeq ==
      (rgb(1) ++ rgb(2) ++ rgb(3) ++ rgb(0)))
    // encoder guards: reserved disposal values reject
    assert(intercept[IllegalArgumentException](GifCodec.encodeAnim(2, 2, pal,
      Seq((Array[Byte](1, 1, 2, 2), None, 4)))).getMessage.contains("disposal"))
  }

  test("disposal-3 matrix: restore-to-previous over patches, nesting with 1 and 2") {
    // 4x4 screen. Frame 0 full index-1 (keep). Frame 1: 2x2 patch of 2
    // at (1,1), DISPOSAL 3 — visible in its own snapshot only. Frame 2:
    // 1x1 patch of 3 at (0,0), keep — frame 1's patch must be GONE
    // under it. Frame 3: 2x2 patch of 3 at (1,1) with disposal 2 —
    // after it the rect goes to BACKGROUND, not to the pre-frame state.
    // Frame 4: empty-change patch showing the post-disposal-2 canvas.
    val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    def rgb(i: Int) = Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2))
    import graft.multimodal.GifCodec.AnimFrame
    val anim = GifCodec.encodeAnimFrames(4, 4, pal, Seq(
      AnimFrame(0, 0, 4, 4, Array.fill[Byte](16)(1), None, 1),
      AnimFrame(1, 1, 2, 2, Array[Byte](2, 2, 2, 2), None, 3),
      AnimFrame(0, 0, 1, 1, Array[Byte](3), None, 1),
      AnimFrame(1, 1, 2, 2, Array[Byte](3, 3, 3, 3), None, 2),
      AnimFrame(0, 0, 1, 1, Array[Byte](0), Some(0), 1)))
    val fs = GifCodec.frames(anim)
    def px(img: graft.multimodal.PngCodec.PngImage, x: Int, y: Int) =
      Seq(img.pixels(3 * (y * 4 + x)), img.pixels(3 * (y * 4 + x) + 1),
        img.pixels(3 * (y * 4 + x) + 2))
    assert(px(fs(1), 1, 1) == rgb(2) && px(fs(1), 2, 2) == rgb(2),
      "the disposal-3 frame shows its own pixels")
    assert(px(fs(2), 1, 1) == rgb(1) && px(fs(2), 2, 2) == rgb(1),
      "restore-to-previous must erase the patch for the NEXT frame")
    assert(px(fs(2), 0, 0) == rgb(3))
    assert(px(fs(3), 1, 1) == rgb(3), "frame 3 paints over the restored canvas")
    assert(px(fs(4), 1, 1) == rgb(0) && px(fs(4), 2, 2) == rgb(0),
      "disposal 2 after a disposal-3 frame restores to BACKGROUND")
    assert(px(fs(4), 0, 0) == rgb(3), "pixels outside the rects persist")
  }

  test("PATCH frames: sub-rect compositing, rect-scoped disposal 2, still-decode stays strict") {
    // 4x4 screen; frame 0 full (all index 1), frame 1 a 2x2 patch of
    // index 2 at (1,1), frame 2 a 1x2 patch of index 3 at (2,0) with
    // disposal 2, frame 3 an EMPTY-change patch (all-transparent 1x1)
    // showing that frame 2's rect was restored to background
    val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    def rgb(i: Int) = Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2))
    import graft.multimodal.GifCodec.AnimFrame
    val anim = GifCodec.encodeAnimFrames(4, 4, pal, Seq(
      AnimFrame(0, 0, 4, 4, Array.fill[Byte](16)(1), None, 1),
      AnimFrame(1, 1, 2, 2, Array[Byte](2, 2, 2, 2), None, 1),
      AnimFrame(2, 0, 1, 2, Array[Byte](3, 3), None, 2),
      AnimFrame(0, 0, 1, 1, Array[Byte](0), Some(0), 1)))
    val fs = GifCodec.frames(anim)
    assert(fs.length == 4 && fs.forall(f => f.width == 4 && f.height == 4))
    def px(img: graft.multimodal.PngCodec.PngImage, x: Int, y: Int) =
      Seq(img.pixels(3 * (y * 4 + x)), img.pixels(3 * (y * 4 + x) + 1),
        img.pixels(3 * (y * 4 + x) + 2))
    // frame 1: patch at (1,1)-(2,2) over the index-1 canvas
    assert(px(fs(1), 0, 0) == rgb(1) && px(fs(1), 1, 1) == rgb(2) &&
      px(fs(1), 2, 2) == rgb(2) && px(fs(1), 3, 3) == rgb(1))
    // frame 2: column patch at (2,0)-(2,1); frame 1's patch persists
    assert(px(fs(2), 2, 0) == rgb(3) && px(fs(2), 2, 1) == rgb(3) &&
      px(fs(2), 1, 1) == rgb(2))
    // frame 3: disposal 2 restored ONLY frame 2's rect to background
    // (index 0); everything else persists
    assert(px(fs(3), 2, 0) == rgb(0) && px(fs(3), 2, 1) == rgb(0),
      "frame 2's rect must be background-restored")
    assert(px(fs(3), 1, 1) == rgb(2) && px(fs(3), 0, 0) == rgb(1),
      "pixels outside the disposed rect must persist")
    // the still-image decode contract is unchanged: a sub-rect FIRST
    // frame still rejects (no compositing pass to place it on)
    val subStill = GifCodec.encodeAnimFrames(4, 4, pal,
      Seq(AnimFrame(1, 1, 2, 2, Array[Byte](2, 2, 2, 2), None, 1)))
    assert(intercept[IllegalArgumentException](GifCodec.decode(subStill))
      .getMessage.contains("logical screen"))
    // out-of-bounds patch rect fails loud in the encoder and decoder
    assert(intercept[IllegalArgumentException](GifCodec.encodeAnimFrames(4, 4, pal,
      Seq(AnimFrame(3, 3, 2, 2, Array[Byte](1, 1, 1, 1), None, 1))))
      .getMessage.contains("exceeds"))
  }

  test("format-agnostic dispatch: imageTileFeatures and resize accept GIF rows") {
    import spark.implicits._
    val pal = Array.tabulate(24)(i => (i * 10).toByte)
    val gif = GifCodec.encode(8, 8, pal, Array.tabulate(64)(i => (i % 8).toByte))
    val media = Seq((5L, gif)).toDF("doc_id", "content")
    val f = BinaryPipeline.imageTileFeatures(media, gx = 2, gy = 2).collect()
    assert(f.length == 1 && f(0).getLong(4) == 3 && f(0).getSeq[Double](1).length == 12)
    val resized = BinaryPipeline.resizeImages(media, 4, 4).collect()
    assert(resized.length == 1 && resized(0).getLong(2) == 4)
  }

  test("synthesizeGifs → decodeGifs matches an independent recompute incl. weighted checksum") {
    import spark.implicits._
    val docs = (0L until 20L).toDF("doc_id")
    val out = BinaryPipeline.decodeGifs(MediaFixtures.synthesizeGifs(docs))
      .orderBy("doc_id").collect()
    assert(out.length == 20)
    out.foreach { r =>
      val id = r.getLong(0)
      val w = (10 + id % 13).toInt; val h = (8 + id % 11).toInt
      val ch = if (id % 5 == 2) 4 else 3
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(3) == ch, s"doc $id")
      def palv(j: Long, c: Int): Long = c match {
        case 0 => (id * 17 + j * 29) % 256
        case 1 => (id * 19 + j * 31) % 256
        case _ => (id * 23 + j * 37) % 256
      }
      var sums = Array.fill(4)(0L); var weighted = 0L
      for (i <- 0 until w * h; c <- 0 until ch) {
        val ix = (id * 31 + i * 7L) % 8
        val v = if (c == 3) (if (ix == 0) 0L else 255L) else palv(ix, c)
        sums(c) += v
        weighted += (i.toLong * ch + c + 1) * v
      }
      assert(r.getLong(4) == sums(0) && r.getLong(5) == sums(1) &&
        r.getLong(6) == sums(2) && r.getLong(7) == sums(3), s"doc $id sums")
      assert(r.getLong(8) == weighted, s"doc $id weighted")
    }
  }
}
