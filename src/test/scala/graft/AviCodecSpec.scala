package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{AviCodec, BinaryPipeline, JpegCodec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AviCodec: container walk against a HAND-AUTHORED RIFF layout
  * (including a rec-interleave list, an audio chunk, JUNK padding and
  * odd-size alignment — laid out by the test, independent of the
  * encoder), encode→extract round trips, player-shape conformance of
  * the written headers, and the fail-loud contract. */
class AviCodecSpec extends AnyFunSuite with SparkSpec {

  private def frame(seed: Int): Array[Byte] =
    JpegCodec.encode(16, 8, 1, Array.tabulate(128)(i =>
      (128 + 3 * ((seed * 31 + (i / 8) * 7) % 53 - 26)).toByte), quality = 90)

  /** Hand-built AVI: hdrl skipped as an opaque LIST, movi holding one
    * direct 00dc frame, a rec list with a second frame plus an audio
    * 01wb chunk, and an odd-sized JUNK chunk exercising alignment. */
  private def handFixture(f1: Array[Byte], f2: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    def bytesOf(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream(); f(b); b.toByteArray
    }
    def sub(b: java.io.ByteArrayOutputStream, id: String, body: Array[Byte]): Unit = {
      b.write(id.getBytes("US-ASCII"))
      val n = body.length
      b.write(n & 0xff); b.write((n >> 8) & 0xff)
      b.write((n >> 16) & 0xff); b.write((n >>> 24) & 0xff)
      b.write(body, 0, body.length)
      if (n % 2 == 1) b.write(0)
    }
    val rec = bytesOf { b =>
      b.write("rec ".getBytes("US-ASCII"))
      sub(b, "01wb", Array[Byte](1, 2, 3)) // audio: skipped, odd size
      sub(b, "00dc", f2)
    }
    val movi = bytesOf { b =>
      b.write("movi".getBytes("US-ASCII"))
      sub(b, "00dc", f1)
      sub(b, "LIST", rec)
    }
    val body = bytesOf { b =>
      b.write("AVI ".getBytes("US-ASCII"))
      sub(b, "JUNK", Array[Byte](9, 9, 9)) // odd-size padding chunk
      sub(b, "LIST", movi)
    }
    w("RIFF"); le32(body.length); out.write(body, 0, body.length)
    out.toByteArray
  }

  test("hand-authored container: direct + rec-list frames recovered, audio/JUNK skipped") {
    val (f1, f2) = (frame(1), frame(2))
    val frames = AviCodec.videoFrames(handFixture(f1, f2))
    assert(frames.length == 2)
    assert(frames(0).toSeq == f1.toSeq && frames(1).toSeq == f2.toSeq)
    // each recovered payload decodes as a real JPEG
    frames.foreach(JpegCodec.decode(_))
  }

  test("encode→extract round trip; the written file has the player headers") {
    val fs = (0 until 5).map(frame)
    val avi = AviCodec.encode(fs, 16, 8)
    assert(AviCodec.isAvi(avi))
    val back = AviCodec.videoFrames(avi)
    assert(back.length == 5)
    back.zip(fs).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    val s = new String(avi, "ISO-8859-1")
    assert(s.contains("hdrl") && s.contains("avih") && s.contains("strh") &&
      s.contains("MJPG") && s.contains("idx1"), "player header surface missing")
  }

  test("fail-loud contract: preamble, truncation, chunk overrun, empty movi") {
    val avi = AviCodec.encode(Seq(frame(3)), 16, 8)
    val sig = avi.clone(); sig(9) = 'X'.toByte
    assert(intercept[IllegalArgumentException](AviCodec.videoFrames(sig))
      .getMessage.contains("RIFF/AVI"))
    assert(intercept[IllegalArgumentException](
      AviCodec.videoFrames(avi.take(avi.length - 4)))
      .getMessage.contains("declares"))
    // a movi with no video chunks
    val noVid = handFixture(frame(1), frame(2))
    val gutted = new String(noVid, "ISO-8859-1")
      .replace("00dc", "09dc") // stream 9: not stream 0's video
      .getBytes("ISO-8859-1")
    assert(intercept[IllegalArgumentException](AviCodec.videoFrames(gutted))
      .getMessage.contains("no stream-0 video"))
    // trailing residue inside a parent range: 2-7 leftover bytes are a
    // truncated final chunk header and reject loud; a single leftover
    // byte is word-alignment slack and stays legal
    def withMoviTail(tail: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      def le32(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >>> 24) & 0xff)
      }
      val f = frame(4)
      val pad = f.length % 2
      val moviLen = 4 + 8 + f.length + pad + tail
      w("RIFF"); le32(4 + 8 + moviLen)
      w("AVI "); w("LIST"); le32(moviLen); w("movi")
      w("00dc"); le32(f.length); out.write(f, 0, f.length)
      (0 until pad + tail).foreach(_ => out.write(0))
      out.toByteArray
    }
    assert(AviCodec.videoFrames(withMoviTail(0)).length == 1)
    assert(AviCodec.videoFrames(withMoviTail(1)).length == 1)
    val eRes = intercept[IllegalArgumentException](
      AviCodec.videoFrames(withMoviTail(4)))
    assert(eRes.getMessage.contains("residue"), eRes.getMessage)
  }

  test("synthesizeAvis → decodeFrameTiles equals the bare-MJPEG pipeline (container invariance)") {
    import spark.implicits._
    val docs = (0L until 12L).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      BinaryPipeline.decodeFrameTiles(df, stride = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Double](5).toList)).toSet
    assert(rows(MediaFixtures.synthesizeAvis(docs)) ==
      rows(MediaFixtures.synthesizeMjpegs(docs)),
      "AVI-wrapped frames diverged from the bare concatenated-JPEG stream")
  }
}
