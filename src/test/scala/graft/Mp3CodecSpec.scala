package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, Mp3Codec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mp3Codec: a HAND-BUILT tag+frame fixture (bytes laid out by the
  * test), encode→decodeMeta round trips across the corpus rotations,
  * ID3v1 fallback precedence, and the fail-loud contract (including the
  * by-name audio-decode rejection). */
class Mp3CodecSpec extends AnyFunSuite with SparkSpec {

  test("hand-built fixture: v2.3 tag + two CBR frames, no encoder involved") {
    val out = new java.io.ByteArrayOutputStream()
    // ID3v2.3 header, tag body = one TIT2 frame "Hi" (latin-1)
    val frameBody = Array[Byte](0, 'H', 'i') // enc 0 + text
    val tagLen = 10 + frameBody.length
    out.write('I'); out.write('D'); out.write('3'); out.write(3); out.write(0)
    out.write(0) // flags
    out.write(0); out.write(0); out.write(tagLen >> 7); out.write(tagLen & 0x7f)
    out.write('T'); out.write('I'); out.write('T'); out.write('2')
    out.write(0); out.write(0); out.write(0); out.write(frameBody.length)
    out.write(0); out.write(0) // frame flags
    out.write(frameBody, 0, frameBody.length)
    // two MPEG-1 Layer III frames: 128 kbit @ 44100, stereo, no padding
    // header FF FB 90 00; frameLen = 144000*128/44100 = 417
    (0 until 2).foreach { _ =>
      out.write(0xFF); out.write(0xFB); out.write(0x90); out.write(0x00)
      (4 until 417).foreach(k => out.write(k & 0xff))
    }
    val m = Mp3Codec.decodeMeta(out.toByteArray)
    assert(m.sampleRate == 44100 && m.channels == 2 && m.frameCount == 2)
    assert(m.audioBytes == 834 && m.durationMs == 2 * 1152 * 1000 / 44100)
    assert(m.title.contains("Hi") && m.artist.isEmpty)
  }

  test("encode→decodeMeta round trips across versions/encodings/rates/v1") {
    for {
      srIdx <- 0 to 2
      mono <- Seq(false, true)
      // (v24, v22, footer): v2.3, v2.4, v2.4+footer, v2.2
      (v24, v22, footer) <- Seq((false, false, false), (true, false, false),
        (true, false, true), (false, true, false))
      (utf8, utf16) <- Seq((false, false), (true, false), (false, true))
      id3v1 <- Seq(false, true)
      if !(v22 && utf8) // ID3v2.2 has no UTF-8 encoding
    } {
      val n = 23
      val wire = Mp3Codec.encode("T", "A", "Al", srIdx, mono,
        f => 1 + (f % 14), n, v24 = v24, v22 = v22, footer = footer,
        utf8 = utf8, utf16 = utf16,
        id3v1 = id3v1, payloadSeed = 7)
      val m = Mp3Codec.decodeMeta(wire)
      assert(m.sampleRate == Seq(44100, 48000, 32000)(srIdx))
      assert(m.channels == (if (mono) 1 else 2) && m.frameCount == n)
      assert(m.title.contains("T") && m.artist.contains("A") && m.album.contains("Al"))
      assert(m.durationMs == n.toLong * 1152 * 1000 / m.sampleRate)
    }
  }

  test("hand-built v2.2 fixture: 3-char frame ids, 3-byte sizes, no frame flags") {
    val out = new java.io.ByteArrayOutputStream()
    // ID3v2.2 header, tag body = TT2 "Hi" + TP1 "Me" (latin-1)
    val tagLen = 2 * (6 + 3) // two frames: 6-byte header + enc byte + 2 chars
    out.write('I'); out.write('D'); out.write('3'); out.write(2); out.write(0)
    out.write(0) // flags
    out.write(0); out.write(0); out.write(tagLen >> 7); out.write(tagLen & 0x7f)
    out.write('T'); out.write('T'); out.write('2')
    out.write(0); out.write(0); out.write(3) // size 3: enc + "Hi"
    out.write(0); out.write('H'); out.write('i')
    out.write('T'); out.write('P'); out.write('1')
    out.write(0); out.write(0); out.write(3)
    out.write(0); out.write('M'); out.write('e')
    // one MPEG-1 Layer III frame: 128 kbit @ 44100, stereo → 417 bytes
    out.write(0xFF); out.write(0xFB); out.write(0x90); out.write(0x00)
    (4 until 417).foreach(k => out.write(k & 0xff))
    val m = Mp3Codec.decodeMeta(out.toByteArray)
    assert(m.sampleRate == 44100 && m.frameCount == 1)
    assert(m.title.contains("Hi") && m.artist.contains("Me") && m.album.isEmpty)
  }

  test("v2.4 footer: skipped when declared; flag without 3DI rejects; v2.3 flag rejects") {
    val wire = Mp3Codec.encode("T", "A", "B", 0, mono = true, _ => 5, 6,
      v24 = true, footer = true)
    assert(Mp3Codec.decodeMeta(wire).title.contains("T"))
    // corrupt the footer magic: flag set but no '3DI' at tag end
    val tagSize = 10 + (((wire(8) & 0x7f) << 7) | (wire(9) & 0x7f))
    val bad = wire.clone(); bad(tagSize) = 'X'
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(bad))
      .getMessage.contains("footer"))
    // a v2.3 header with the 0x10 bit rejects by name (undefined there)
    val v23 = Mp3Codec.encode("T", "A", "B", 0, mono = true, _ => 5, 6)
    val flag23 = v23.clone(); flag23(5) = 0x10.toByte
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(flag23))
      .getMessage.contains("footer flag unsupported"))
    // v2.2 compression flag (0x40) rejects by name
    val v22 = Mp3Codec.encode("T", "A", "B", 0, mono = true, _ => 5, 6,
      v22 = true)
    val comp = v22.clone(); comp(5) = 0x40.toByte
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(comp))
      .getMessage.contains("compression"))
  }

  test("ID3v1 fallback: used when v2 lacks the field, v2 wins otherwise") {
    // encoder writes both v2 and v1 with the same strings; strip the v2
    // tag to leave only frames + v1 and the v1 fields must surface
    val wire = Mp3Codec.encode("V2title", "V2artist", "V2album", 0, mono = true,
      _ => 5, 8, id3v1 = true)
    val m = Mp3Codec.decodeMeta(wire)
    assert(m.title.contains("V2title"))
    // drop the leading v2 tag (header says its size)
    val tagSize = 10 + (((wire(8) & 0x7f) << 7) | (wire(9) & 0x7f))
    val noV2 = java.util.Arrays.copyOfRange(wire, tagSize, wire.length)
    val m1 = Mp3Codec.decodeMeta(noV2)
    assert(m1.title.contains("V2title") && m1.artist.contains("V2artist"),
      "ID3v1 fields must surface when no v2 tag is present")
    assert(m1.frameCount == m.frameCount)
  }

  test("fail-loud: layer/version/bitrate/unsync/encoding/truncation/decode") {
    val good = Mp3Codec.encode("t", "a", "b", 0, mono = false, _ => 9, 4)
    val tagSize = 10 + (((good(8) & 0x7f) << 7) | (good(9) & 0x7f))
    def patchHeader(bit: Int, value: Int, width: Int): Array[Byte] = {
      val c = good.clone()
      var h = ((c(tagSize) & 0xff) << 24) | ((c(tagSize + 1) & 0xff) << 16) |
        ((c(tagSize + 2) & 0xff) << 8) | (c(tagSize + 3) & 0xff)
      h = (h & ~(((1 << width) - 1) << bit)) | (value << bit)
      c(tagSize) = ((h >>> 24) & 0xff).toByte
      c(tagSize + 1) = ((h >>> 16) & 0xff).toByte
      c(tagSize + 2) = ((h >>> 8) & 0xff).toByte
      c(tagSize + 3) = (h & 0xff).toByte
      c
    }
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(
      patchHeader(17, 2, 2))).getMessage.contains("Layer II"))
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(
      patchHeader(19, 2, 2))).getMessage.contains("MPEG-2"))
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(
      patchHeader(12, 0, 4))).getMessage.contains("free-format"))
    // unsynchronisation flag
    val unsync = good.clone(); unsync(5) = 0x80.toByte
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(unsync))
      .getMessage.contains("unsynchronisation"))
    // reserved text encoding byte (enc 1 = UTF-16 became supported)
    val enc9 = good.clone(); enc9(20) = 9
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(enc9))
      .getMessage.contains("encoding"))
    // enc 1 without a BOM rejects
    val enc1 = good.clone(); enc1(20) = 1
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(enc1))
      .getMessage.contains("BOM"))
    // truncated final frame
    assert(intercept[IllegalArgumentException](Mp3Codec.decodeMeta(
      java.util.Arrays.copyOf(good, good.length - 3)))
      .getMessage.contains("runs past"))
    // full audio decode rejects by name
    assert(intercept[IllegalArgumentException](Mp3Codec.decode(good))
      .getMessage.contains("hybrid filterbank"))
  }

  test("synthesizeMp3s → decodeMp3Meta matches the formula recompute") {
    val docs = spark.range(0, 24).toDF("doc_id")
    val got = BinaryPipeline.decodeMp3Meta(MediaFixtures.synthesizeMp3s(docs))
      .orderBy(col("doc_id")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val sr = Seq(44100, 48000, 32000)((id % 3).toInt)
      val nf = 20 + id % 17
      assert(r.getLong(1) == sr && r.getLong(2) == (if (id % 2 == 1) 1 else 2))
      assert(r.getLong(3) == nf)
      // the V1L3 bitrate table, restated independently
      val table = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
        224, 256, 320)
      val expectBytes = (0L until nf).map { f =>
        val br = table((1 + ((id + f) % 14)).toInt)
        144000L * br / sr + (if (id % 3 == 0 && f % 2 == 1) 1 else 0)
      }.sum
      assert(r.getLong(4) == expectBytes, s"audio bytes of $id")
      assert(r.getLong(5) == nf * 1152L * 1000L / sr)
      assert(r.getString(6) == s"Title${id % 7}")
      assert(r.getString(7) == s"Artist${id % 5}")
      assert(r.getString(8) == s"Album${id % 3}")
    }
  }
}
