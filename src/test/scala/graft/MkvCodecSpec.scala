package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, MkvCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MkvCodec: a HAND-BUILT EBML fixture (every vint and element laid out
  * by the test, no encoder involved), encode→videoFrames round trips,
  * track selection past an audio track, cluster splits, and the
  * fail-loud contract (unknown-size elements, lacing, non-MJPEG video
  * codecs, bad DocType, child overrun, by-name rejections). */
class MkvCodecSpec extends AnyFunSuite with SparkSpec {

  /** Hand vint-size (marker in the first byte). */
  private def sz1(v: Int): Seq[Int] = Seq(0x80 | v) // 1-byte sizes < 127

  /** Hand-built minimal matroska file: EBML header with DocType,
    * segment with Info, one V_MJPEG track (number 2), one cluster with
    * one SimpleBlock whose payload is `frame`. */
  private def handMkv(frame: Array[Byte], docType: String = "matroska",
                      codec: String = "V_MJPEG",
                      blockFlags: Int = 0x80): Array[Byte] = {
    val out = scala.collection.mutable.Buffer.empty[Int]
    def bytes(s: String): Seq[Int] = s.getBytes("US-ASCII").map(_ & 0xff).toSeq
    def el(id: Seq[Int], body: Seq[Int]): Seq[Int] = id ++ sz1(body.length) ++ body
    val hdr = el(Seq(0x1a, 0x45, 0xdf, 0xa3),
      el(Seq(0x42, 0x82), bytes(docType)) ++ el(Seq(0x42, 0xf7), Seq(1)))
    val info = el(Seq(0x15, 0x49, 0xa9, 0x66),
      el(Seq(0x2a, 0xd7, 0xb1), Seq(0x0f, 0x42, 0x40)) ++ // scale 1e6
        el(Seq(0x44, 0x89), Seq(0x42, 0x20, 0x00, 0x00))) // 40.0f ticks
    val track = el(Seq(0x16, 0x54, 0xae, 0x6b),
      el(Seq(0xae),
        el(Seq(0xd7), Seq(2)) ++ el(Seq(0x83), Seq(1)) ++
          el(Seq(0x86), bytes(codec)) ++
          el(Seq(0xe0), el(Seq(0xb0), Seq(8)) ++ el(Seq(0xba), Seq(8)))))
    val block = Seq(0x82, 0x00, 0x00, blockFlags) ++ // track 2, ts 0, flags
      frame.map(_ & 0xff).toSeq
    val cluster = el(Seq(0x1f, 0x43, 0xb6, 0x75),
      el(Seq(0xe7), Seq(0)) ++ el(Seq(0xa3), block))
    val seg = el(Seq(0x18, 0x53, 0x80, 0x67), info ++ track ++ cluster)
    (hdr ++ seg).foreach(out += _)
    out.map(_.toByte).toArray
  }

  test("hand-built EBML fixture: header, track walk, SimpleBlock payload") {
    val frame = Array[Byte](10, 20, 30, 40, 50)
    val wire = handMkv(frame)
    val got = MkvCodec.videoFrames(wire)
    assert(got.length == 1 && got.head.toSeq == frame.toSeq)
    val m = MkvCodec.decodeMeta(wire)
    assert(m.docType == "matroska" && m.width == 8 && m.height == 8)
    assert(m.codecId == "V_MJPEG" && m.trackCount == 1 && m.frameCount == 1)
    assert(m.durationMs == 40, s"40 ticks at 1e6 ns, got ${m.durationMs}")
    // webm DocType passes the gate too
    assert(MkvCodec.decodeMeta(handMkv(frame, docType = "webm")).docType == "webm")
  }

  test("encode→videoFrames round trips frames across cluster splits + audio") {
    for (n <- Seq(1, 3, 7); per <- Seq(1, 2, 3); audio <- Seq(false, true)) {
      val frames = (0 until n).map(f => Array.tabulate[Byte](40 + f)(i =>
        ((f * 31 + i * 7) % 256).toByte))
      val wire = MkvCodec.encode(frames, 24, 16, perCluster = per,
        withAudioTrack = audio)
      val got = MkvCodec.videoFrames(wire)
      assert(got.length == n, s"n=$n per=$per audio=$audio")
      got.zip(frames).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
      val m = MkvCodec.decodeMeta(wire)
      assert(m.width == 24 && m.height == 16 &&
        m.trackCount == (if (audio) 2 else 1))
      assert(m.durationMs == n * 40L)
    }
  }

  test("fail-loud: lacing, codec, DocType, unknown size, overrun, VP8 by name") {
    val frame = Array[Byte](1, 2, 3)
    // lacing bits set on the video block
    assert(intercept[IllegalArgumentException](MkvCodec.videoFrames(
      handMkv(frame, blockFlags = 0x86))).getMessage.contains("lacing"))
    // VP8 video track rejects BY NAME
    assert(intercept[IllegalArgumentException](MkvCodec.videoFrames(
      handMkv(frame, codec = "V_VP8"))).getMessage.contains("V_VP8"))
    // unsupported DocType
    assert(intercept[IllegalArgumentException](MkvCodec.videoFrames(
      handMkv(frame, docType = "tank"))).getMessage.contains("tank"))
    // unknown-size element rejects by name: patch the Segment size vint
    val good = MkvCodec.encode(Seq(frame), 4, 4)
    val segAt = {
      // find 0x18538067 (Segment id)
      val idx = good.indices.find(i => i + 4 <= good.length &&
        (good(i) & 0xff) == 0x18 && (good(i + 1) & 0xff) == 0x53 &&
        (good(i + 2) & 0xff) == 0x80 && (good(i + 3) & 0xff) == 0x67).get
      idx + 4
    }
    val unk = good.clone(); unk(segAt) = 0xff.toByte
    // 0xFF = 1-byte all-ones size = unknown; the remaining segment bytes
    // no longer line up, but the unknown-size reject must fire FIRST
    assert(intercept[IllegalArgumentException](MkvCodec.videoFrames(unk))
      .getMessage.contains("unknown-size"))
    // child overruns its parent
    val bad = good.clone(); bad(segAt) = 0x81.toByte // segment claims 1 byte
    assert(intercept[IllegalArgumentException](MkvCodec.videoFrames(bad)) != null)
    // truncation
    assert(intercept[IllegalArgumentException](MkvCodec.videoFrames(
      java.util.Arrays.copyOf(good, good.length - 2))) != null)
  }

  test("synthesizeMkvs → decodeFrameTiles matches the JPEG formula recompute") {
    val docs = spark.range(0, 12).toDF("doc_id")
    val got = BinaryPipeline.decodeFrameTiles(
        MediaFixtures.synthesizeMkvs(docs), stride = 2)
      .orderBy(col("doc_id"), col("frame_idx")).collect()
    var n = 0
    (0L until 12L).foreach { id =>
      val w = 24 + id % 13; val h = 16 + id % 11
      val ch = if (id % 2 == 0) 1 else 3
      val nf = (3 + id % 4).toInt
      (0 until nf).filter(_ % 2 == 0).foreach { f =>
        val r = got(n); n += 1
        assert(r.getLong(0) == id && r.getLong(1) == f)
        assert(r.getLong(2) == w && r.getLong(3) == h && r.getLong(4) == ch)
        // the flat-block recipe bounds every pixel (and so every tile
        // average) to 128 ± 78; exact equality is the oracle's job
        val feats = r.getSeq[Double](5)
        assert(feats.length == 4 * ch)
        assert(feats.forall(v => v >= 50 && v <= 206), s"id=$id f=$f")
      }
    }
    assert(n == got.length)
  }
}
