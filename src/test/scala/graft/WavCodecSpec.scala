package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, WavCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WavCodec: decode against a HAND-AUTHORED byte-level fixture (built
  * independently of the encoder, so symmetric bugs can't hide),
  * encode→decode round trips across depths/channels, ancillary-chunk
  * skipping with RIFF word alignment, the fail-loud contract, and the
  * per-window feature math on a hand-computed stream. */
class WavCodecSpec extends AnyFunSuite with SparkSpec {

  /** Hand-built 16-bit stereo WAV: 3 frames, samples L/R =
    * (100,-200), (-1,0), (32767,-32768); an odd-length ancillary
    * 'fact'-like chunk rides between fmt and data to exercise the
    * word-alignment skip. */
  private def handFixture: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    val dataLen = 3 * 2 * 2
    // riff size: 4(WAVE) + (8+16 fmt) + (8+3+1 junk incl pad) + (8+dataLen)
    w("RIFF"); le32(4 + 24 + 12 + 8 + dataLen); w("WAVE")
    w("fmt "); le32(16)
    le16(1); le16(2); le32(44100); le32(44100 * 4); le16(4); le16(16)
    w("junk"); le32(3); out.write(Array[Byte](9, 9, 9)); out.write(0) // pad byte
    w("data"); le32(dataLen)
    Seq(100, -200, -1, 0, 32767, -32768).foreach(le16)
    out.toByteArray
  }

  test("hand-authored fixture: exact samples, ancillary odd chunk skipped with pad") {
    val a = WavCodec.decode(handFixture)
    assert(a.sampleRate == 44100 && a.channels == 2 && a.bitsPerSample == 16)
    assert(a.frames == 3)
    assert(a.samples.toSeq == Seq(100, -200, -1, 0, 32767, -32768))
  }

  test("encode→decode round-trips 8/16-bit x mono/stereo exactly") {
    val rnd = new scala.util.Random(11)
    for (bits <- Seq(8, 16); ch <- Seq(1, 2)) {
      val lim = if (bits == 8) 128 else 32768
      val samples = Array.fill(37 * ch)(rnd.nextInt(2 * lim) - lim)
      val a = WavCodec.decode(WavCodec.encode(16000, ch, bits, samples))
      assert(a.sampleRate == 16000 && a.channels == ch && a.bitsPerSample == bits,
        s"bits=$bits ch=$ch")
      assert(a.frames == 37 && a.samples.toSeq == samples.toSeq, s"bits=$bits ch=$ch")
    }
  }

  test("fail-loud contract: magic, non-PCM, geometry contradictions, partial frames, truncation") {
    val good = WavCodec.encode(8000, 2, 16, Array(1, 2, 3, 4))
    // bad magic
    val sig = good.clone(); sig(9) = 'X'.toByte
    assert(intercept[IllegalArgumentException](WavCodec.decode(sig))
      .getMessage.contains("RIFF/WAVE"))
    // format 3 became REAL IEEE-float support in round 16: a 16-bit PCM
    // file relabeled as float now fails on float's own depth guard
    val fl = good.clone(); fl(20) = 3
    assert(intercept[IllegalArgumentException](WavCodec.decode(fl))
      .getMessage.contains("32 only"))
    // a genuinely unknown format code still names itself
    val unk = good.clone(); unk(20) = 0x55
    assert(intercept[IllegalArgumentException](WavCodec.decode(unk))
      .getMessage.contains("format 85"))
    // extensible became REAL support in round 17: a 16-byte fmt chunk
    // relabeled 0xFFFE fails on the extension's own size guard
    val ext = good.clone(); ext(20) = 0xfe.toByte; ext(21) = 0xff.toByte
    assert(intercept[IllegalArgumentException](WavCodec.decode(ext))
      .getMessage.contains("want >= 40"))
    // block align contradicting channels x depth
    val ba = good.clone(); ba(32) = 3
    assert(intercept[IllegalArgumentException](WavCodec.decode(ba))
      .getMessage.contains("block align"))
    // 24-bit became REAL support in round 17 — an odd depth still rejects
    val b20 = good.clone(); b20(34) = 20
    val e20 = intercept[IllegalArgumentException](WavCodec.decode(b20))
    assert(e20.getMessage.contains("20 bits"), e20.getMessage)
    // data not whole frames: shrink data chunk len by 1 (and riff size)
    val part = good.clone()
    part(40) = (part(40) - 1).toByte // data len LSB (44-byte header: len at 40)
    val ePart = intercept[IllegalArgumentException](WavCodec.decode(part))
    assert(ePart.getMessage.contains("whole frames"), ePart.getMessage)
    // truncated file: RIFF size runs past EOF
    val trunc = good.take(good.length - 2)
    assert(intercept[IllegalArgumentException](WavCodec.decode(trunc))
      .getMessage.contains("file has"))
    // encoder range checks
    assert(intercept[IllegalArgumentException](
      WavCodec.encode(8000, 1, 8, Array(200))).getMessage.contains("out of"))
  }

  test("mu-law (G.711): expansion formula, compress inverse, format-7 decode") {
    import graft.multimodal.WavCodec.{mulawExpand, mulawCompress}
    // spec anchors: 0xFF is +0, 0x7F is -0 (the zero fold), 0x80 is the
    // most negative code at 16-bit scale
    assert(mulawExpand(0xff) == 0 && mulawExpand(0x7f) == 0)
    assert(mulawExpand(0x00) == -32124 && mulawExpand(0x80) == 32124)
    // compress is the exact inverse on the expander's output set,
    // except -0 which folds to the positive zero code
    for (c <- 0 to 255 if c != 0x7f)
      assert(mulawCompress(mulawExpand(c)) == c, f"code 0x$c%02X")
    // the negative half (codes 0x00-0x7E) rises monotonically toward 0
    val mags = (0 to 126).map(c => mulawExpand(c))
    assert(mags.zip(mags.tail).forall { case (a, b) => a < b }, "monotone negative half")
    // format-7 file decodes through the same reader, expanded samples
    val codes = Array.tabulate(40)(i => ((i * 31 + 7) % 256).toByte)
    val a = WavCodec.decode(WavCodec.encodeMulaw(8000, 1, codes))
    assert(a.format == 7 && a.bitsPerSample == 8 && a.channels == 1 && a.frames == 40)
    assert(a.samples.toSeq == codes.map(b => mulawExpand(b & 0xff)).toSeq)
    // a 16-bit mu-law header is nonsense and rejects
    val bad = WavCodec.encodeMulaw(8000, 1, codes).clone()
    bad(34) = 16
    assert(intercept[IllegalArgumentException](WavCodec.decode(bad))
      .getMessage.contains("G.711"))
  }

  test("A-law (G.711): expansion formula, compress inverse, format-6 decode") {
    import graft.multimodal.WavCodec.{alawExpand, alawCompress}
    // spec anchors: the two codes nearest zero (no zero fold) and the
    // extremes at 16-bit scale; sign convention is mu-law's MIRROR
    assert(alawExpand(0xd5) == 8 && alawExpand(0x55) == -8)
    assert(alawExpand(0xaa) == 32256 && alawExpand(0x2a) == -32256)
    // compress is the exact inverse on the full code set (no fold)
    for (c <- 0 to 255)
      assert(alawCompress(alawExpand(c)) == c, f"code 0x$c%02X")
    // TOTAL over arbitrary 16-bit samples: compress quantizes to the
    // nearest code's segment — expand∘compress error bounded by the
    // segment step, sign always preserved
    val rnd = new scala.util.Random(31)
    for (_ <- 0 until 2000) {
      val v = rnd.nextInt(65536) - 32768
      val back = alawExpand(alawCompress(v))
      assert(v == 0 || (v > 0) == (back > 0), s"sign flipped for $v -> $back")
      val step = 16 << math.max(0,
        (31 - Integer.numberOfLeadingZeros(math.max(1, math.abs(v)))) - 7)
      assert(math.abs(back - math.max(-32767, v)) <= step,
        s"quantization error for $v -> $back exceeds step $step")
    }
    // format-6 file decodes through the same reader, expanded samples
    val codes = Array.tabulate(40)(i => ((i * 29 + 3) % 256).toByte)
    val a = WavCodec.decode(WavCodec.encodeMulaw(8000, 1, codes, format = 6))
    assert(a.format == 6 && a.channels == 1 && a.frames == 40)
    assert(a.samples.toSeq == codes.map(b => alawExpand(b & 0xff)).toSeq)
    // A-law samples are never zero (the format has no zero code)
    assert(a.samples.forall(_ != 0))
  }

  test("IMA ADPCM (format 0x11): hand-stepped recursion, clamps, stereo interleave, fail-loud") {
    // mono block, blockAlign 12 → 17 samples: header (pred 0, idx 0),
    // first byte 0xF7 (low nibble 7, then F), rest nibble 0. Expected
    // samples hand-stepped from the published algorithm:
    //   n=7 (step 7):  delta 0+1+3+7 = 11 → 11, idx 8
    //   n=F (step 16): delta 2+4+8+16 = 30, sign → −19, idx 16
    //   then 14 zero nibbles: delta = step>>3, idx decays by 1
    val payload = Array[Byte](0xf7.toByte, 0, 0, 0, 0, 0, 0, 0)
    val mono = WavCodec.decode(WavCodec.encodeAdpcm(8000, 1, 12,
      Seq((Array(0), Array(0), payload))))
    assert(mono.format == 0x11 && mono.bitsPerSample == 4 && mono.channels == 1)
    assert(mono.frames == 17)
    assert(mono.samples.toSeq == Seq(0, 11, -19, -15, -12, -9, -6, -4, -2,
      0, 2, 4, 5, 6, 7, 8, 9))
    // clamps: pred 32000 at idx 88 (step 32767) + nibble 7 pins 32767;
    // pred −32000 + nibble F pins −32768; idx pins [0, 88]
    val hi = WavCodec.decode(WavCodec.encodeAdpcm(8000, 1, 12,
      Seq((Array(32000), Array(88), Array[Byte](0x07, 0, 0, 0, 0, 0, 0, 0)))))
    assert(hi.samples(1) == 32767 && hi.samples(2) == 32767)
    val lo = WavCodec.decode(WavCodec.encodeAdpcm(8000, 1, 12,
      Seq((Array(-32000), Array(88), Array[Byte](0xff.toByte, 0, 0, 0, 0, 0, 0, 0)))))
    assert(lo.samples(1) == -32768 && lo.samples(2) == -32768)
    // stereo: 4-byte groups round-robin; ch0 stays flat at idx 0,
    // ch1 decays its index from 10 — interleave must keep them apart
    val st = WavCodec.decode(WavCodec.encodeAdpcm(8000, 2, 16,
      Seq((Array(100, -50), Array(0, 10), new Array[Byte](8)))))
    assert(st.channels == 2 && st.frames == 9)
    assert(st.samples.grouped(2).map(_(0)).toSeq == Seq.fill(9)(100))
    assert(st.samples.grouped(2).map(_(1)).toSeq ==
      Seq(-50, -48, -46, -44, -43, -42, -41, -40, -39))
    // per-block predictor reset: block 2's header restarts the recursion
    val two = WavCodec.decode(WavCodec.encodeAdpcm(8000, 1, 12, Seq(
      (Array(1000), Array(20), new Array[Byte](8)),
      (Array(-7), Array(0), new Array[Byte](8)))))
    assert(two.frames == 34 && two.samples(17) == -7)
    // fail-loud: foreign ADPCM format, spb mismatch, header index/reserved,
    // partial blocks (fmt fields at 20+, data chunk at 40, header at 48)
    val good = WavCodec.encodeAdpcm(8000, 1, 12, Seq((Array(0), Array(0), payload)))
    // format 2 became REAL MS ADPCM support in round 16, so an IMA file
    // relabeled as format 2 now fails on MS's own fmt-chunk geometry
    val ms = good.clone(); ms(20) = 2
    assert(intercept[IllegalArgumentException](WavCodec.decode(ms))
      .getMessage.contains("MS ADPCM fmt chunk"))
    val spb = good.clone(); spb(38) = (spb(38) + 1).toByte
    assert(intercept[IllegalArgumentException](WavCodec.decode(spb))
      .getMessage.contains("samples/block"))
    val idx = good.clone(); idx(50) = 99.toByte
    assert(intercept[IllegalArgumentException](WavCodec.decode(idx))
      .getMessage.contains("step index 99"))
    val res = good.clone(); res(51) = 1
    assert(intercept[IllegalArgumentException](WavCodec.decode(res))
      .getMessage.contains("reserved"))
    val part = good.clone(); part(44) = (part(44) - 1).toByte
    assert(intercept[IllegalArgumentException](WavCodec.decode(part))
      .getMessage.contains("whole"))
    // encoder guards
    assert(intercept[IllegalArgumentException](WavCodec.encodeAdpcm(8000, 1, 11,
      Seq((Array(0), Array(0), payload)))).getMessage.contains("block align"))
    assert(intercept[IllegalArgumentException](WavCodec.encodeAdpcm(8000, 1, 12,
      Seq((Array(0), Array(89), payload)))).getMessage.contains("[0,88]"))
  }

  test("synthesizeAdpcmWavs → decodeWavSegments matches an independent recompute") {
    import spark.implicits._
    val ids = Seq(2L, 7L, 11L).toDF("doc_id")
    val got = BinaryPipeline.decodeWavSegments(
        MediaFixtures.synthesizeAdpcmWavs(ids), winFrames = 160, hopFrames = 80)
      .orderBy("doc_id", "seg_idx")
      .select("doc_id", "seg_idx", "n_frames", "sq_sum", "zero_crossings")
      .as[(Long, Long, Long, Long, Long)].collect()
    // independent replay of the synthesis formulas through a LOCAL
    // re-implementation of the IMA recursion (imaStep is the unit under
    // test above; here the BLOCK/window plumbing is what's checked)
    val want = Seq(2L, 7L, 11L).flatMap { id =>
      val nBlocks = (4 + id % 5).toInt
      val samples = (0 until nBlocks).flatMap { b =>
        var pred = ((id * 37 + b * 101L) % 4001).toInt - 2000
        var idx = ((id + b * 7L) % 89).toInt
        Seq(pred) ++ (0 until 64).map { k =>
          val nib = ((id * 31 + b * 17 + k * 7L) % 16).toInt
          val (p, ni) = WavCodec.imaStep(pred, idx, nib)
          pred = p; idx = ni
          p
        }
      }
      val nf = samples.length
      val nWin = math.max(1, math.ceil(nf / 80.0).toInt)
      (0 until nWin).map { wi =>
        val win = samples.slice(wi * 80, math.min(nf, wi * 80 + 160))
        val zc = (wi * 80 + 1 until math.min(nf, wi * 80 + 160)).count(i =>
          (samples(i - 1) >= 0) != (samples(i) >= 0))
        (id, wi.toLong, win.length.toLong,
          win.map(v => v.toLong * v).sum, zc.toLong)
      }
    }
    assert(got.toSeq == want)
  }

  test("MS ADPCM (format 0x02): hand-stepped two-tap recursion, headers-as-samples, fail-loud") {
    // hand-stepped from the published algorithm: predictor pair 0
    // (c1 256, c2 0 → predictor = s1), delta 16, s1 = 100, s2 = -50.
    //   sample0 = -50 (iSamp2 first), sample1 = 100
    //   nibble 1 (HIGH of 0x17): 100 + 1·16 = 116; delta → max(16, 230·16/256)=16? no: 230*16/256 = 14 → 16
    //   nibble 7 (LOW):          116 + 7·16 = 228; delta → 614·16/256 = 38
    val one = WavCodec.decode(WavCodec.encodeMsAdpcm(8000, 1, 8,
      Seq((Array(0), Array(16), Array(100), Array(-50), Array[Byte](0x17)))))
    assert(one.format == 2 && one.bitsPerSample == 4 && one.frames == 4)
    assert(one.samples.toSeq == Seq(-50, 100, 116, 228), one.samples.toSeq)
    // negative-predictor truncation: pair 1 (512, -256), s1 = -3, s2 = 2:
    // predictor = (-1536 - 512)/256 = -2048/256 = -8 exactly; then with
    // s1 = -1, s2 = -3: (-512 + 768)/256 = 1; nibble 8 (= -8): 1 - 8·16 = -127
    val neg = WavCodec.decode(WavCodec.encodeMsAdpcm(8000, 1, 8,
      Seq((Array(1), Array(16), Array(-3), Array(2), Array[Byte](0x78.toByte)))))
    // nibble 7: -8 + 7·16 = 104; delta → 614·16/256 = 38
    // nibble 8: predictor = (104·512 − (−3)·256)/256 = (53248 + 768)/256 = 211
    //           sample = 211 − 8·38 = −93
    assert(neg.samples.toSeq == Seq(2, -3, 104, -93), neg.samples.toSeq)
    // independent recompute over the synthesis corpus (the gate's
    // recursion, re-expressed locally)
    import spark.implicits._
    val ids = Seq(0L, 5L, 9L).toDF("doc_id")
    val got = BinaryPipeline.decodeWavSegments(
        MediaFixtures.synthesizeMsAdpcmWavs(ids), winFrames = 160, hopFrames = 80)
      .orderBy("doc_id", "seg_idx")
      .select("doc_id", "seg_idx", "n_frames", "sq_sum", "zero_crossings")
      .as[(Long, Long, Long, Long, Long)].collect()
    val coefs = WavCodec.MsStdCoefs
    val remap = Array(0, 1, 2, 3, 13, 14, 15, 0, 4, 1, 12, 2, 6, 3, 10, 15)
    val want = Seq(0L, 5L, 9L).flatMap { id =>
      val nBlocks = (3 + id % 4).toInt
      val samples = (0 until nBlocks).flatMap { b =>
        val (c1, c2) = coefs(((id + b) % 7).toInt)
        var delta = (16 + (id * 13 + b * 7L) % 1000)
        var s1 = ((id * 37 + b * 101L) % 4001).toInt - 2000
        var s2 = ((id * 41 + b * 59L) % 4001).toInt - 2000
        Seq(s2, s1) ++ (0 until 64).map { k =>
          val nib = remap(((id * 31 + b * 17 + k * 7L) % 16).toInt)
          val signed = if (nib >= 8) nib - 16 else nib
          val p = (s1.toLong * c1 + s2.toLong * c2) / 256
          val sm = math.max(-32768L, math.min(32767L, p + signed * delta)).toInt
          delta = math.max(16L, WavCodec.MsAdaptTable(nib) * delta / 256)
          s2 = s1; s1 = sm
          sm
        }
      }
      val nf = samples.length
      val nWin = math.max(1, math.ceil(nf / 80.0).toInt)
      (0 until nWin).map { wi =>
        val win = samples.slice(wi * 80, math.min(nf, wi * 80 + 160))
        val zc = (wi * 80 + 1 until math.min(nf, wi * 80 + 160)).count(i =>
          (samples(i - 1) >= 0) != (samples(i) >= 0))
        (id, wi.toLong, win.length.toLong,
          win.map(v => v.toLong * v).sum, zc.toLong)
      }
    }
    assert(got.toSeq == want, s"first got=${got.take(2).toSeq} want=${want.take(2)}")
    // fail-loud: predictor beyond the coef table; zero initial delta
    val good = WavCodec.encodeMsAdpcm(8000, 1, 8,
      Seq((Array(0), Array(16), Array(0), Array(0), Array[Byte](0))))
    val badPred = good.clone()
    val dataAt = new String(good, "ISO-8859-1").indexOf("data") + 8
    badPred(dataAt) = 9
    assert(intercept[IllegalArgumentException](WavCodec.decode(badPred))
      .getMessage.contains("predictor 9"))
    val zeroDelta = good.clone()
    zeroDelta(dataAt + 1) = 0; zeroDelta(dataAt + 2) = 0
    assert(intercept[IllegalArgumentException](WavCodec.decode(zeroDelta))
      .getMessage.contains("delta"))
  }

  test("IEEE-float WAV (format 3): exact k/32768 round trip, scale pins, fail-loud") {
    // exactly-representable floats recover their integers bit-for-bit
    val vals = Array(0, 1, -1, 100, -2000, 32767, -32768)
    val dec = WavCodec.decode(WavCodec.encodeFloat(16000, 1, vals))
    assert(dec.format == 3 && dec.bitsPerSample == 32 && dec.channels == 1)
    assert(dec.samples.toSeq == vals.toSeq)
    // the ±1.0 convention: hand-planted 0.5f must decode as 16384
    // (the ×32768 scale — a ×32767 decoder would give 16384 too? no:
    // rint(0.5·32767) = 16384 as well, so pin with 0.25f → 8192 vs
    // 8192 (both) and -1.0f → -32768 vs -32767, which DOES separate)
    val stereo = WavCodec.encodeFloat(8000, 2, Array(0, 0, 0, 0))
    val dataAt = new String(stereo, "ISO-8859-1").indexOf("data") + 8
    val planted = stereo.clone()
    val bits = java.lang.Float.floatToIntBits(-1.0f)
    planted(dataAt) = (bits & 0xff).toByte
    planted(dataAt + 1) = ((bits >> 8) & 0xff).toByte
    planted(dataAt + 2) = ((bits >> 16) & 0xff).toByte
    planted(dataAt + 3) = ((bits >> 24) & 0xff).toByte
    assert(WavCodec.decode(planted).samples(0) == -32768,
      "full-scale -1.0 must clamp at the x32768 convention")
    // NaN / out-of-range floats fail loud
    val nan = stereo.clone()
    val nb = java.lang.Float.floatToIntBits(Float.NaN)
    nan(dataAt) = (nb & 0xff).toByte; nan(dataAt + 1) = ((nb >> 8) & 0xff).toByte
    nan(dataAt + 2) = ((nb >> 16) & 0xff).toByte
    nan(dataAt + 3) = ((nb >> 24) & 0xff).toByte
    assert(intercept[IllegalArgumentException](WavCodec.decode(nan))
      .getMessage.contains("finite"))
    // 64-bit float declaration rejects
    val f64 = stereo.clone()
    f64(34) = 64 // bits/sample field
    assert(intercept[IllegalArgumentException](WavCodec.decode(f64))
      .getMessage.contains("32 only"))
    // the written file carries the spec's non-PCM shape (cbSize + fact)
    assert(new String(stereo, "ISO-8859-1").contains("fact"))
  }

  test("WAVE_FORMAT_EXTENSIBLE + 24-bit PCM: wrapper + depth round trips, fail-loud") {
    val rnd = new scala.util.Random(17)
    // 24-bit samples at native scale, extensible and plain containers
    for (ch <- Seq(1, 2); ext <- Seq(false, true)) {
      val samples = Array.fill(23 * ch)(rnd.nextInt(1 << 24) - (1 << 23))
      val a = WavCodec.decode(WavCodec.encode(48000, ch, 24, samples,
        extensible = ext))
      assert(a.bitsPerSample == 24 && a.channels == ch && a.format == 1,
        s"ch=$ch ext=$ext")
      assert(a.samples.toSeq == samples.toSeq, s"ch=$ch ext=$ext")
    }
    // the wrapper is results-invisible at 16-bit too
    val s16 = Array(100, -200, 32767, -32768)
    assert(WavCodec.decode(WavCodec.encode(8000, 2, 16, s16, extensible = true))
      .samples.toSeq == s16.toSeq)
    val ext = WavCodec.encode(8000, 1, 24, Array(1, -1, 8388607, -8388608),
      extensible = true)
    // GUID tail corruption fails loud (not a KSDATAFORMAT subtype)
    val badGuid = ext.clone()
    badGuid(20 + 26 + 5) = 0x77.toByte // a tail byte inside the GUID
    assert(intercept[IllegalArgumentException](WavCodec.decode(badGuid))
      .getMessage.contains("KSDATAFORMAT"))
    // unsupported SubFormat (e.g. 6 = A-law under extensible) fails loud
    val badSub = ext.clone()
    badSub(20 + 24) = 6
    assert(intercept[IllegalArgumentException](WavCodec.decode(badSub))
      .getMessage.contains("SubFormat"))
    // padded container (wValidBitsPerSample < container bits) fails loud
    val padded = ext.clone()
    padded(20 + 18) = 20 // valid bits 24 → 20
    assert(intercept[IllegalArgumentException](WavCodec.decode(padded))
      .getMessage.contains("wValidBitsPerSample"))
    // 24-bit under a non-PCM format fails loud: relabel a plain 24-bit
    // file's format tag as mu-law — the depth guard names the limit
    val plain24 = WavCodec.encode(8000, 1, 24, Array(5, -5))
    val mulaw24 = plain24.clone()
    mulaw24(20) = 7
    assert(intercept[IllegalArgumentException](WavCodec.decode(mulaw24))
      .getMessage.contains("24 bits/sample unsupported"))
    // encoder range pin
    intercept[IllegalArgumentException](
      WavCodec.encode(8000, 1, 24, Array(1 << 23)))
  }

  test("32-bit integer PCM: native-scale round trip, plain and extensible") {
    val samples = Array(0, 1, -1, 1 << 24, -(1 << 24), Int.MaxValue, Int.MinValue)
    for (ext <- Seq(false, true)) {
      val a = WavCodec.decode(WavCodec.encode(48000, 1, 32, samples,
        extensible = ext))
      assert(a.bitsPerSample == 32 && a.format == 1, s"ext=$ext")
      assert(a.samples.toSeq == samples.toSeq, s"ext=$ext")
    }
    // 32-bit under G.711 still rejects
    val p = WavCodec.encode(8000, 1, 32, Array(5, -5))
    val bad = p.clone(); bad(20) = 6
    assert(intercept[IllegalArgumentException](WavCodec.decode(bad))
      .getMessage.contains("32 bits/sample unsupported"))
  }

  test("ADPCM byte-rate tolerance: ±1 byte/s rounding accepted, larger drift rejects") {
    // a conforming encoder that rounded nAvgBytesPerSec UP must decode;
    // patch the byteRate field of a valid IMA ADPCM file by +1 / +2
    val block = (Array(100), Array(3), Array.tabulate(4)(i => (i * 17).toByte))
    val wav = WavCodec.encodeAdpcm(8000, 1, 8, Seq(block))
    def withByteRate(delta: Int): Array[Byte] = {
      val c = wav.clone()
      val at = 28 // fmt payload starts at 20; byteRate at +8
      val cur = (c(at) & 0xff) | ((c(at + 1) & 0xff) << 8) |
        ((c(at + 2) & 0xff) << 16) | ((c(at + 3) & 0xff) << 24)
      val v = cur + delta
      c(at) = v.toByte; c(at + 1) = (v >> 8).toByte
      c(at + 2) = (v >> 16).toByte; c(at + 3) = (v >> 24).toByte
      c
    }
    WavCodec.decode(withByteRate(1)) // rounding-up encoder: accepted
    WavCodec.decode(withByteRate(-1))
    assert(intercept[IllegalArgumentException](WavCodec.decode(withByteRate(2)))
      .getMessage.contains("byte rate"), "drift beyond rounding must reject")
  }

  test("decodeWavSegments: hand-computed energy and zero crossings on a tiny stream") {
    import spark.implicits._
    // mono 16-bit, 5 frames: 3, -4, 5, 0, -2 — win 4, hop 2 → 3 windows
    //   w0 frames 0-3: sq = 9+16+25+0 = 50; zc at (3,-4),(-4,5) = 2 ((5,0): 0>=0, no cross)
    //   w1 frames 2-4: sq = 25+0+4 = 29;    zc at (0,-2) = 1
    //   w2 frame  4:   sq = 4;              zc = 0
    val wav = WavCodec.encode(8000, 1, 16, Array(3, -4, 5, 0, -2))
    val media = Seq((7L, wav)).toDF("doc_id", "content")
    val rows = BinaryPipeline.decodeWavSegments(media, winFrames = 4, hopFrames = 2)
      .orderBy("seg_idx").collect()
    assert(rows.length == 3)
    assert(rows.map(r => (r.getLong(1), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq ==
      Seq((0L, 4L, 50L, 2L), (1L, 3L, 29L, 1L), (2L, 1L, 4L, 0L)))
    assert(rows.forall(r => r.getLong(2) == 8000 && r.getLong(3) == 1 && r.getLong(4) == 16))
  }

  test("synthesizeWavs → decodeWavSegments matches an independent recompute") {
    import spark.implicits._
    val docs = (0L until 8L).toDF("doc_id")
    val out = BinaryPipeline.decodeWavSegments(MediaFixtures.synthesizeWavs(docs))
      .orderBy("doc_id", "seg_idx").collect()
    out.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val ch = (1 + id % 2).toInt
      val bits = if (id % 3 == 0) 8 else 16
      val nf = (400 + id % 257).toInt
      def s(i: Int, c: Int): Long = {
        val raw = id * 31 + i * 7L + c * 13L
        if (bits == 8) raw % 256 - 128 else raw % 4001 - 2000
      }
      assert(rows.length == math.ceil(nf / 80.0).toInt, s"doc $id window count")
      rows.foreach { r =>
        val w = r.getLong(1).toInt
        val frames = (w * 80) until math.min(nf, w * 80 + 160)
        val sq = frames.map(i => (0 until ch).map(c => s(i, c) * s(i, c)).sum).sum
        val zc = frames.drop(1).count(i => (s(i - 1, 0) >= 0) != (s(i, 0) >= 0))
        assert(r.getLong(6) == sq && r.getLong(7) == zc, s"doc $id win $w")
      }
    }
  }
}
