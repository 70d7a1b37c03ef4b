package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.{BinaryPipeline, JpegCodec, Mp4Codec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mp4Codec: ISO-BMFF box walk against a HAND-AUTHORED layout (boxes,
  * sample tables and a multi-sample chunk laid out by the test,
  * independent of the encoder — including a co64 offset table and a
  * 2-samples-per-chunk stsc run the encoder never emits),
  * encode→extract round trips, and the fail-loud contract (fragmented
  * files, foreign codecs, inconsistent tables). */
class Mp4CodecSpec extends AnyFunSuite with SparkSpec {

  private def frame(seed: Int): Array[Byte] =
    JpegCodec.encode(16, 8, 1, Array.tabulate(128)(i =>
      (128 + 3 * ((seed * 31 + (i / 8) * 7) % 53 - 26)).toByte), quality = 90)

  private def be16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write((v >> 8) & 0xff); b.write(v & 0xff)
  }
  private def be32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write(((v >> 24) & 0xff).toInt); b.write(((v >> 16) & 0xff).toInt)
    b.write(((v >> 8) & 0xff).toInt); b.write((v & 0xff).toInt)
  }
  private def bytesOf(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(); f(b); b.toByteArray
  }
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] = bytesOf { b =>
    be32(b, 8L + payload.length); b.write(tpe.getBytes("US-ASCII"))
    b.write(payload, 0, payload.length)
  }

  /** Hand-built MP4: 3 frames in TWO chunks (2 + 1 — a real stsc run
    * change), co64 64-bit offsets, an mjpa sample entry, and a `free`
    * box between mdat and moov. */
  private def handFixture(f1: Array[Byte], f2: Array[Byte], f3: Array[Byte]): Array[Byte] = {
    val ftyp = box("ftyp", bytesOf { b =>
      b.write("isom".getBytes("US-ASCII")); be32(b, 0)
      b.write("isom".getBytes("US-ASCII"))
    })
    val mdat = box("mdat", f1 ++ f2 ++ f3)
    val chunk1At = ftyp.length + 8L
    val chunk2At = chunk1At + f1.length + f2.length
    val entry = bytesOf { b =>
      be32(b, 86L); b.write("mjpa".getBytes("US-ASCII"))
      (0 until 6).foreach(_ => b.write(0)); be16(b, 1)
      be16(b, 0); be16(b, 0); (0 until 3).foreach(_ => be32(b, 0))
      be16(b, 16); be16(b, 8)
      be32(b, 0x00480000L); be32(b, 0x00480000L); be32(b, 0); be16(b, 1)
      (0 until 32).foreach(_ => b.write(0)); be16(b, 24); be16(b, 0xffff)
    }
    def full(tpe: String, p: Array[Byte]): Array[Byte] =
      box(tpe, bytesOf { b => be32(b, 0); b.write(p, 0, p.length) })
    val stbl = box("stbl", bytesOf { b =>
      Seq(
        full("stsd", bytesOf { x => be32(x, 1); x.write(entry, 0, entry.length) }),
        full("stts", bytesOf { x => be32(x, 1); be32(x, 3); be32(x, 1) }),
        // run 1: chunks 1.. have 2 samples; run 2: chunks 2.. have 1
        full("stsc", bytesOf { x =>
          be32(x, 2); be32(x, 1); be32(x, 2); be32(x, 1)
          be32(x, 2); be32(x, 1); be32(x, 1) }),
        full("stsz", bytesOf { x =>
          be32(x, 0); be32(x, 3)
          Seq(f1, f2, f3).foreach(f => be32(x, f.length.toLong)) }),
        box("co64", bytesOf { x =>
          be32(x, 0); be32(x, 2)
          Seq(chunk1At, chunk2At).foreach { off =>
            be32(x, off >> 32); be32(x, off & 0xffffffffL) } })
      ).foreach(x => b.write(x, 0, x.length))
    })
    val minf = box("minf", stbl)
    val hdlr = full("hdlr", bytesOf { b =>
      be32(b, 0); b.write("vide".getBytes("US-ASCII"))
      (0 until 3).foreach(_ => be32(b, 0)); b.write(0)
    })
    val mdia = box("mdia", hdlr ++ minf)
    val trak = box("trak", mdia)
    val moov = box("moov", trak)
    ftyp ++ mdat ++ box("free", Array[Byte](1, 2, 3)) ++ moov
  }

  test("hand-authored container: co64 + 2-sample chunk + mjpa entry all recovered") {
    val (f1, f2, f3) = (frame(1), frame(2), frame(3))
    val frames = Mp4Codec.videoFrames(handFixture(f1, f2, f3))
    assert(frames.length == 3)
    assert(frames(0).toSeq == f1.toSeq && frames(1).toSeq == f2.toSeq &&
      frames(2).toSeq == f3.toSeq)
    frames.foreach(JpegCodec.decode(_))
  }

  test("encode→extract round trip; the written file opens as a player-shaped MP4") {
    val fs = (0 until 5).map(frame)
    val mp4 = Mp4Codec.encode(fs, 16, 8)
    assert(Mp4Codec.isMp4(mp4))
    val back = Mp4Codec.videoFrames(mp4)
    assert(back.length == 5)
    back.zip(fs).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    val s = new String(mp4, "ISO-8859-1")
    assert(s.contains("moov") && s.contains("trak") && s.contains("vide") &&
      s.contains("stsd") && s.contains("jpeg") && s.contains("stco") &&
      s.contains("mvhd"), "player header surface missing")
  }

  test("fail-loud contract: preamble, fragmented, foreign codec, table inconsistency") {
    val mp4 = Mp4Codec.encode(Seq(frame(3)), 16, 8)
    // not an MP4
    assert(intercept[IllegalArgumentException](
      Mp4Codec.videoFrames("RIFFxxxxAVI ".getBytes("US-ASCII")))
      .getMessage.contains("ftyp"))
    // mvex in moov with NO moof fragments: no addressable samples → loud
    val s0 = new String(mp4, "ISO-8859-1")
    val moovAt0 = s0.indexOf("moov") - 4
    val mvex = box("mvex", box("trex", bytesOf { b =>
      be32(b, 0); be32(b, 1); be32(b, 1); be32(b, 0); be32(b, 0); be32(b, 0)
    }))
    val withMvex = {
      val moovLen = ((mp4(moovAt0) & 0xff) << 24) | ((mp4(moovAt0 + 1) & 0xff) << 16) |
        ((mp4(moovAt0 + 2) & 0xff) << 8) | (mp4(moovAt0 + 3) & 0xff)
      val grown = mp4.take(moovAt0) ++ mp4.slice(moovAt0, moovAt0 + moovLen) ++
        mvex ++ mp4.drop(moovAt0 + moovLen)
      val nl = moovLen + mvex.length
      grown(moovAt0) = ((nl >> 24) & 0xff).toByte
      grown(moovAt0 + 1) = ((nl >> 16) & 0xff).toByte
      grown(moovAt0 + 2) = ((nl >> 8) & 0xff).toByte
      grown(moovAt0 + 3) = (nl & 0xff).toByte
      grown
    }
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(withMvex))
      .getMessage.contains("no moof"))
    // foreign codec: patch the sample-entry fourcc to avc1
    val s = new String(mp4, "ISO-8859-1")
    val avc = s.replaceFirst("jpeg", "avc1").getBytes("ISO-8859-1")
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(avc))
      .getMessage.contains("avc1"))
    // box overrun: corrupt the moov size to run past EOF
    val moovAt = s.indexOf("moov") - 4
    val over = mp4.clone()
    over(moovAt) = 0x7f.toByte
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(over))
      .getMessage.contains("past its parent"))
    // table-vs-box mismatch: stsz claiming 2 samples in a 1-entry box
    val szAt = s.indexOf("stsz")
    val more = mp4.clone()
    more(szAt + 4 + 8 + 3) = 2 // sample_count 1 → 2
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(more))
      .getMessage.contains("table bytes"))
    // stsc/stsz inconsistency: zero samples-per-chunk leaves the walk
    // unable to place the declared sample
    val scAt = s.indexOf("stsc")
    val zeroSpc = mp4.clone()
    zeroSpc(scAt + 4 + 12 + 3) = 0 // first run's samples_per_chunk 1 → 0
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(zeroSpc))
      .getMessage.contains("inconsistent"))
    // no vide track: patch the handler type
    val noVid = s.replaceFirst("vide", "soun").getBytes("ISO-8859-1")
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(noVid))
      .getMessage.contains("vide"))
  }

  test("FRAGMENTED MP4: moof/tfhd/trun walk round trips; addressing + truncation fail loud") {
    val fs = (1 to 5).map(frame)
    // 1, 2 and 5 frames per fragment (multi-fragment and multi-sample-
    // per-trun shapes) must all recover the same payload bytes
    for (fpf <- Seq(1, 2, 5)) {
      val frag = Mp4Codec.encode(fs, 16, 8, framesPerFragment = fpf)
      val got = Mp4Codec.videoFrames(frag)
      assert(got.length == 5, s"fpf=$fpf")
      got.zip(fs).foreach { case (g, e) => assert(g.toSeq == e.toSeq, s"fpf=$fpf") }
    }
    // container invariance: fragmented and progressive twins agree
    val prog = Mp4Codec.videoFrames(Mp4Codec.encode(fs, 16, 8))
    val frag = Mp4Codec.videoFrames(Mp4Codec.encode(fs, 16, 8, framesPerFragment = 2))
    prog.zip(frag).foreach { case (p, f) => assert(p.toSeq == f.toSeq) }

    val bytes = Mp4Codec.encode(fs, 16, 8, framesPerFragment = 2)
    val s = new String(bytes, "ISO-8859-1")
    // tfhd with NEITHER base-data-offset NOR default-base-is-moof:
    // clear the flags word of the first tfhd
    val tfhdAt = s.indexOf("tfhd") + 4
    val noBase = bytes.clone()
    noBase(tfhdAt + 3) = 0 // flags 0x020000 → 0
    assert(intercept[IllegalArgumentException] {
      // patching the flag removes 0x020000; payload shrinks by nothing
      noBase(tfhdAt + 1) = 0
      Mp4Codec.videoFrames(noBase)
    }.getMessage.contains("default-base-is-moof"))
    // trun sample-size table truncated: claim one more sample
    val trunAt = s.indexOf("trun") + 4
    val more = bytes.clone()
    more(trunAt + 7) = 3 // sample_count 2 → 3
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(more))
      .getMessage.contains("table bytes"))
    // a trun slice running past EOF: point the data offset past the end
    val bad = bytes.clone()
    bad(trunAt + 8) = 0x7f.toByte // huge positive data_offset
    assert(intercept[IllegalArgumentException](Mp4Codec.videoFrames(bad))
      .getMessage.contains("EOF"))
    // a PROGRESSIVE file with a stray EMPTY moof still decodes its stbl
    // samples (hybrids are legal; an empty fragment adds nothing)
    val hybrid = Mp4Codec.encode(fs, 16, 8) ++ box("moof", Array.empty[Byte])
    assert(Mp4Codec.videoFrames(hybrid).length == 5)
  }

  test("synthesizeMp4s → decodeFrameTiles equals the bare-MJPEG pipeline (container invariance)") {
    import spark.implicits._
    val ids = Seq(3L, 4L, 9L).toDF("doc_id")
    val viaMp4 = BinaryPipeline.decodeFrameTiles(
        MediaFixtures.synthesizeMp4s(ids), stride = 2)
      .orderBy("doc_id", "frame_idx")
      .select("doc_id", "frame_idx", "width", "height", "components", "features")
      .collect()
    val viaMjpeg = BinaryPipeline.decodeFrameTiles(
        MediaFixtures.synthesizeMjpegs(ids), stride = 2)
      .orderBy("doc_id", "frame_idx")
      .select("doc_id", "frame_idx", "width", "height", "components", "features")
      .collect()
    assert(viaMp4.length == viaMjpeg.length && viaMp4.nonEmpty)
    viaMp4.zip(viaMjpeg).foreach { case (a, b) => assert(a == b) }
  }
}
