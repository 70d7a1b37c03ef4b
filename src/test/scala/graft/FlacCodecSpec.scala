package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, FlacCodec, WavCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FlacCodec: decode against INDEPENDENTLY-COMPUTED byte fixtures (the
  * bit layout, CRC-8/CRC-16 and MD5 worked out by a separate reference
  * implementation, so encoder-consistent wire bugs cannot hide), encode
  * →decode round trips across bit depths / channels / block sizes /
  * subframe+stereo strategies, the in-band integrity gates (CRC and
  * MD5 tamper detection), and the fail-loud contract. */
class FlacCodecSpec extends AnyFunSuite with SparkSpec {

  /** Mono 8-bit, 4 samples [10, −3, 7, 0], one VERBATIM-subframe frame;
    * STREAMINFO MD5, header CRC-8 (0x35) and frame CRC-16 all computed
    * by an independent reference implementation. */
  private val handVerbatim: Array[Byte] = Array(
    0x66, 0x4C, 0x61, 0x43, 0x80, 0x00, 0x00, 0x22, 0x00, 0x10, 0x00, 0x10,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0xF4, 0x00, 0x70, 0x00, 0x00,
    0x00, 0x04, 0x71, 0xBF, 0x45, 0xA9, 0xA3, 0xA6, 0x0D, 0xEF, 0xBB, 0xF9,
    0x5F, 0x14, 0x43, 0x57, 0xB1, 0x3A, 0xFF, 0xF8, 0x60, 0x02, 0x00, 0x03,
    0x35, 0x02, 0x0A, 0xFD, 0x07, 0x00, 0x4A, 0x69).map(_.toByte)

  /** Mono 8-bit, 4 samples [10, 12, 13, 11], FIXED order 1 + rice
    * param 2 — pins warmup placement, residual zigzag and the
    * difference-polynomial reconstruction. */
  private val handFixed: Array[Byte] = Array(
    0x66, 0x4C, 0x61, 0x43, 0x80, 0x00, 0x00, 0x22, 0x00, 0x10, 0x00, 0x10,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0xF4, 0x00, 0x70, 0x00, 0x00,
    0x00, 0x04, 0x98, 0xD6, 0x59, 0xF3, 0xAF, 0x51, 0xE8, 0x70, 0xFD, 0x90,
    0x2A, 0x43, 0x3A, 0xEC, 0x5B, 0x6F, 0xFF, 0xF8, 0x60, 0x02, 0x00, 0x03,
    0x35, 0x12, 0x0A, 0x00, 0x93, 0x70, 0x38, 0xE7).map(_.toByte)

  test("hand fixtures: verbatim and fixed-order-1 frames, no encoder involved") {
    val a = FlacCodec.decode(handVerbatim)
    assert(a.sampleRate == 8000 && a.channels == 1 && a.bitsPerSample == 8)
    assert(a.frames == 4 && a.samples.toSeq == Seq(10, -3, 7, 0))
    val b = FlacCodec.decode(handFixed)
    assert(b.samples.toSeq == Seq(10, 12, 13, 11))
  }

  test("encode→decode round trips: depths x channels x block sizes x strategies") {
    for {
      bits <- Seq(8, 16, 24)
      channels <- Seq(1, 2)
      blockSize <- Seq(192, 256)
      strategy <- 0L until 4L
    } {
      val frames = 500
      val lim = 1 << (bits - 1)
      val samples = Array.tabulate(frames * channels) { k =>
        ((k * 2654435761L + strategy * 97) % (2L * lim)).toInt - lim
      }
      val wire = FlacCodec.encode(8000, channels, bits, samples,
        blockSize = blockSize, strategy = strategy)
      val back = FlacCodec.decode(wire)
      assert(back.sampleRate == 8000 && back.channels == channels &&
        back.bitsPerSample == bits && back.frames == frames)
      assert(back.samples.toSeq == samples.toSeq,
        s"bits=$bits ch=$channels bs=$blockSize strat=$strategy")
    }
  }

  test("CONSTANT subframes and smooth signals (rice-heavy path) round-trip") {
    // constant channel → CONSTANT subframe; ramp → tiny residuals
    val n = 400
    val samples = Array.tabulate(n * 2) { k =>
      if (k % 2 == 0) 42 else (k / 2) % 1000 - 500
    }
    for (strategy <- 0L until 4L) {
      val wire = FlacCodec.encode(16000, 2, 16, samples, strategy = strategy)
      assert(FlacCodec.decode(wire).samples.toSeq == samples.toSeq)
    }
  }

  test("in-band integrity: CRC-8, CRC-16 and MD5 tamper all reject") {
    val samples = Array.tabulate(300)(i => (i * 37) % 200 - 100)
    val wire = FlacCodec.encode(8000, 1, 16, samples)
    // MD5 tamper (STREAMINFO bytes 26-41)
    val badMd5 = wire.clone(); badMd5(30) = (badMd5(30) ^ 0x01).toByte
    assert(intercept[IllegalArgumentException](FlacCodec.decode(badMd5))
      .getMessage.contains("MD5"))
    // frame-header CRC-8: flip a bit in the first frame's header region
    // (the byte right after the fLaC+streaminfo block is the sync byte)
    val fStart = 4 + 4 + 34
    val badH = wire.clone(); badH(fStart + 4) = (badH(fStart + 4) ^ 0x01).toByte
    val eH = intercept[IllegalArgumentException](FlacCodec.decode(badH))
    assert(eH.getMessage.contains("CRC-8") || eH.getMessage.contains("expected"),
      eH.getMessage)
    // frame-body corruption lands in CRC-16 (or an upstream body check)
    val badB = wire.clone(); badB(wire.length - 3) = (badB(wire.length - 3) ^ 0x40).toByte
    assert(intercept[IllegalArgumentException](FlacCodec.decode(badB)) != null)
    // truncation
    assert(intercept[IllegalArgumentException](
      FlacCodec.decode(java.util.Arrays.copyOf(wire, wire.length - 4))) != null)
    // not FLAC
    assert(intercept[IllegalArgumentException](
      FlacCodec.decode("RIFFxxxx".getBytes("ISO-8859-1")))
      .getMessage.contains("fLaC"))
  }

  test("metadata blocks after STREAMINFO skip; STREAMINFO-first enforced") {
    val samples = Array.tabulate(120)(i => i % 100 - 50)
    val wire = FlacCodec.encode(8000, 1, 8, samples, blockSize = 64)
    // splice a PADDING block (type 1, 6 bytes) between STREAMINFO and
    // the first frame; clear STREAMINFO's last-block flag
    val head = wire.slice(0, 42)
    head(4) = 0x00 // STREAMINFO no longer last
    val pad = Array[Byte](0x81.toByte, 0, 0, 6, 0, 0, 0, 0, 0, 0)
    val spliced = head ++ pad ++ wire.drop(42)
    assert(FlacCodec.decode(spliced).samples.toSeq ==
      FlacCodec.decode(wire).samples.toSeq)
    // a stream whose first block is not STREAMINFO rejects
    val noSi = wire.clone(); noSi(4) = 0x81.toByte // relabel as padding
    assert(intercept[IllegalArgumentException](FlacCodec.decode(noSi))
      .getMessage.contains("STREAMINFO"))
  }

  test("synthesizeFlacs windows decode IDENTICALLY to synthesizeWavs windows") {
    // lossless invariance is the oracle's premise: the FLAC corpus must
    // produce the exact same window-feature rows as the PCM WAV corpus
    val docs = spark.range(0, 24).toDF("doc_id")
    val a = BinaryPipeline.decodeWavSegments(MediaFixtures.synthesizeFlacs(docs),
        winFrames = 160, hopFrames = 80)
      .orderBy(col("doc_id"), col("seg_idx")).collect().toSeq
    val b = BinaryPipeline.decodeWavSegments(MediaFixtures.synthesizeWavs(docs),
        winFrames = 160, hopFrames = 80)
      .orderBy(col("doc_id"), col("seg_idx")).collect().toSeq
    assert(a == b)
  }
}
