package graft

import graft.fixtures.MediaFixtures
import graft.multimodal.BinaryPipeline
import graft.pipeline.PdfCodec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PdfCodec.extractImages (round 19 — the scanned-document modality):
  * encode→extract round trips across all three carrier filters, a
  * hand-assembled Form-XObject nesting fixture, the text/image split on
  * image-only PDFs, corpus-vs-formula agreement, and the fail-loud
  * contract (BI inline images, ImageMask, Decode arrays, unknown
  * colorspaces, filters after the image filter). */
class PdfImageSpec extends AnyFunSuite with SparkSpec {

  private def grayRamp(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate[Byte](w * h)(i => ((seed * 31 + i * 7) % 256).toByte)

  private def rgbRamp(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate[Byte](w * h * 3)(i => ((seed * 31 + i * 7) % 256).toByte)

  /** Per-8x8-block-constant pixels — the flat-block recipe whose
    * quality-90 JPEG reconstruction is exact (the q_image_jpeg gate). */
  private def flatBlocks(w: Int, h: Int, ch: Int, seed: Int): Array[Byte] = {
    val px = new Array[Byte](w * h * ch)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
      px((y * w + x) * ch + c) =
        (128 + 3 * ((seed * 31 + (x / 8) * 7 + (y / 8) * 13) % 53 - 26)).toByte
    px
  }

  private def bilevel(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate[Byte](w * h) { i =>
      val x = i % w; val y = i / w
      (if ((seed * 37 + x * 7 + y * 13) % 5 < 2) 0 else 255).toByte
    }

  test("encode→extractImages round trips Flate / DCT / CCITT exactly") {
    val pages = Seq(
      PdfCodec.ImagePageSpec(9, 7, 1, grayRamp(9, 7, 3), "Flate"),
      PdfCodec.ImagePageSpec(6, 5, 3, rgbRamp(6, 5, 4), "Flate"),
      PdfCodec.ImagePageSpec(24, 16, 1, flatBlocks(24, 16, 1, 5), "DCT"),
      PdfCodec.ImagePageSpec(26, 18, 3, flatBlocks(26, 18, 3, 6), "DCT"),
      PdfCodec.ImagePageSpec(21, 13, 1, bilevel(21, 13, 7), "CCITT", ccittG4 = true),
      PdfCodec.ImagePageSpec(18, 11, 1, bilevel(18, 11, 8), "CCITT", ccittG4 = false))
    val wire = PdfCodec.encodeImagePdf(pages)
    val asStr = new String(wire, "ISO-8859-1")
    assert(asStr.contains("/Subtype /Image") && asStr.contains("/DCTDecode") &&
      asStr.contains("/CCITTFaxDecode") && asStr.contains("/K -1") &&
      asStr.contains("/EncodedByteAlign true"))
    val imgs = PdfCodec.extractImages(wire)
    assert(imgs.length == pages.length)
    imgs.zip(pages).zipWithIndex.foreach { case ((im, spec), i) =>
      assert(im.page == i && im.name == "Im0")
      assert(im.width == spec.width && im.height == spec.height &&
        im.channels == spec.channels, s"page $i geometry")
      assert(im.pixels.toSeq == spec.pixels.toSeq, s"page $i pixels")
    }
    // an image-only PDF extracts EMPTY text (the pre-round-19 behavior
    // stays: images are not text) while extractImages carries the payload
    assert(PdfCodec.extractText(wire) == Seq.fill(pages.length)(""))
  }

  test("hand-assembled Form XObject: the image is found through the form") {
    // page content invokes /Fm0; the FORM's content invokes /Im0 — the
    // walk must recurse with the form's own resources
    val px = grayRamp(5, 4, 9)
    val img = PdfCodec.encodeImagePdf(
      Seq(PdfCodec.ImagePageSpec(5, 4, 1, px, "Flate")))
    // splice: rename the page's XObject dict to hold the form, and wrap
    // the original content in a form object. Simplest correct route:
    // assemble the whole file by hand.
    val imgData = {
      // reuse the encoder's Flate bytes by extracting object 5's stream
      val s = new String(img, "ISO-8859-1")
      val at = s.indexOf("/Subtype /Image")
      val st = s.indexOf("stream\n", at) + 7
      val en = s.indexOf("\nendstream", at)
      java.util.Arrays.copyOfRange(img, st, en)
    }
    val out = new java.io.ByteArrayOutputStream()
    val offs = scala.collection.mutable.Buffer.empty[Int]
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    def obj(body: String): Unit = { offs += out.size(); w(body) }
    w("%PDF-1.4\n")
    obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    obj("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    obj("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 5 4] " +
      "/Resources << /XObject << /Fm0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n")
    val pageContent = "q 5 0 0 4 0 0 cm /Fm0 Do Q"
    obj(s"4 0 obj\n<< /Length ${pageContent.length} >>\nstream\n$pageContent\nendstream\nendobj\n")
    val formContent = "/Im0 Do"
    obj(s"5 0 obj\n<< /Type /XObject /Subtype /Form /BBox [0 0 5 4] " +
      s"/Resources << /XObject << /Im0 6 0 R >> >> " +
      s"/Length ${formContent.length} >>\nstream\n$formContent\nendstream\nendobj\n")
    offs += out.size()
    w(s"6 0 obj\n<< /Type /XObject /Subtype /Image /Width 5 /Height 4 " +
      s"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode " +
      s"/Length ${imgData.length} >>\nstream\n")
    out.write(imgData)
    w("\nendstream\nendobj\n")
    val xrefAt = out.size()
    w("xref\n0 7\n0000000000 65535 f \n")
    offs.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    val imgs = PdfCodec.extractImages(out.toByteArray)
    assert(imgs.length == 1 && imgs.head.name == "Im0" && imgs.head.page == 0)
    assert(imgs.head.pixels.toSeq == px.toSeq)
  }

  test("/Indexed palette: hex + stream lookups round trip; clamp; rejects") {
    // ≤256-distinct-color RGB pages re-expressed as palettes must decode
    // to the SAME pixels as their direct-RGB twins
    val px = rgbRamp(6, 5, 4)
    val direct = PdfCodec.extractImages(PdfCodec.encodeImagePdf(
      Seq(PdfCodec.ImagePageSpec(6, 5, 3, px, "Flate"))))
    for (form <- Seq("hex", "stream")) {
      val wire = PdfCodec.encodeImagePdf(
        Seq(PdfCodec.ImagePageSpec(6, 5, 3, px, "Flate", indexed = form)))
      val asStr = new String(wire, "ISO-8859-1")
      assert(asStr.contains("/Indexed /DeviceRGB"), s"$form wire form")
      assert((form == "stream") == asStr.contains("0 R]"), s"$form lookup kind")
      val got = PdfCodec.extractImages(wire)
      assert(got.length == 1 && got.head.channels == 3)
      assert(got.head.pixels.toSeq == direct.head.pixels.toSeq,
        s"$form palette decode must equal the direct-RGB decode")
    }
    // hand-assembled: an out-of-range index CLAMPS to hival (§8.6.6.3)
    val idxData = graft.pipeline.PdfCodec.deflate(Array[Byte](0, 1, 2, 3))
    val out = new java.io.ByteArrayOutputStream()
    val offs = scala.collection.mutable.Buffer.empty[Int]
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    def obj(body: String): Unit = { offs += out.size(); w(body) }
    w("%PDF-1.4\n")
    obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    obj("2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n")
    obj("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 2 2] " +
      "/Resources << /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>\nendobj\n")
    val pc = "q 2 0 0 2 0 0 cm /Im0 Do Q"
    obj(s"4 0 obj\n<< /Length ${pc.length} >>\nstream\n$pc\nendstream\nendobj\n")
    offs += out.size()
    w(s"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 2 /Height 2 " +
      s"/ColorSpace [/Indexed /DeviceRGB 2 <0A141E28323C46505A>] " +
      s"/BitsPerComponent 8 /Filter /FlateDecode " +
      s"/Length ${idxData.length} >>\nstream\n")
    out.write(idxData)
    w("\nendstream\nendobj\n")
    val xrefAt = out.size()
    w("xref\n0 6\n0000000000 65535 f \n")
    offs.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    val clamped = PdfCodec.extractImages(out.toByteArray)
    assert(clamped.head.pixels.toSeq == Seq[Byte](
      10, 20, 30, 40, 50, 60, 70, 80, 90, 70, 80, 90),
      "index 3 with hival 2 must clamp to the last palette entry")
    // fail-loud: non-RGB base by name; hival/palette length mismatch
    val hexWire = PdfCodec.encodeImagePdf(
      Seq(PdfCodec.ImagePageSpec(6, 5, 3, px, "Flate", indexed = "hex")))
    val hs = new String(hexWire, "ISO-8859-1")
    def patched(from: String, to: String): Array[Byte] = {
      assert(hs.contains(from) && from.length == to.length)
      hs.replace(from, to).getBytes("ISO-8859-1")
    }
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(
      patched("/Indexed /DeviceRGB", "/Indexed /DeviceXYB")))
      .getMessage.contains("DeviceXYB"))
    // hival patched down (same char count) → palette length mismatch
    val hival = px.grouped(3).map(_.toSeq).toSet.size - 1
    assert(hival >= 10, "fixture needs a 2-digit hival")
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(
      patched(s"/DeviceRGB $hival <", s"/DeviceRGB ${hival - 1} <".padTo(s"/DeviceRGB $hival <".length, ' '))))
      .getMessage.contains("lookup holds"))
  }

  test("BI inline images: raw + AHx round trip; out-of-scope forms reject") {
    val gray = grayRamp(9, 7, 5)
    val rgb = rgbRamp(5, 4, 6)
    val wire = PdfCodec.encodeImagePdf(Seq(
      PdfCodec.ImagePageSpec(9, 7, 1, gray, "INLINE"),
      PdfCodec.ImagePageSpec(5, 4, 3, rgb, "INLINEAHX"),
      PdfCodec.ImagePageSpec(6, 5, 1, grayRamp(6, 5, 7), "Flate")))
    val s = new String(wire, "ISO-8859-1")
    assert(s.contains(" BI /W 9") && s.contains("/F /AHx ID"))
    val imgs = PdfCodec.extractImages(wire)
    assert(imgs.length == 3)
    assert(imgs(0).name == "BI" && imgs(0).channels == 1 &&
      imgs(0).pixels.toSeq == gray.toSeq, "raw inline gray")
    assert(imgs(1).name == "BI" && imgs(1).channels == 3 &&
      imgs(1).pixels.toSeq == rgb.toSeq, "AHx inline RGB")
    assert(imgs(2).name == "Im0", "XObject pages still walk after inline ones")
    // inline pages carry no text and don't disturb the text walk
    assert(PdfCodec.extractText(wire) == Seq("", "", ""))
    // out-of-scope inline forms reject BY NAME (length-preserving patches)
    def patched(from: String, to: String): Array[Byte] = {
      assert(s.contains(from) && from.length == to.length, s"patch '$from'")
      s.replace(from, to).getBytes("ISO-8859-1")
    }
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(
      patched("/CS /G /BPC 8 ID", "/CS /G /BPC 4 ID")))
      .getMessage.contains("/BPC 4"))
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(
      patched("/F /AHx ID", "/F /Fl  ID")))
      .getMessage.contains("/Fl"))
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(
      patched("/CS /RGB ", "/CS /XYZ ")))
      .getMessage.contains("/XYZ"))
  }

  test("fail-loud: BI, ImageMask, Decode array, colorspace, trailing filter") {
    val px = grayRamp(5, 4, 2)
    val good = PdfCodec.encodeImagePdf(
      Seq(PdfCodec.ImagePageSpec(5, 4, 1, px, "Flate")))
    val s = new String(good, "ISO-8859-1")
    def patched(from: String, to: String): Array[Byte] = {
      assert(s.contains(from), s"fixture must contain '$from'")
      s.replace(from, to).getBytes("ISO-8859-1")
    }
    // BI inline image in the content stream rejects BY NAME. The patch
    // keeps the content length: "q 5 0 0 4 0 0 cm /Im0 Do Q" is 26 chars
    // and so is "BI ID Q                   " — but BI needs tokens, so
    // patch the Do into a BI sequence of identical length
    val biBytes = patched("cm /Im0 Do Q", "cm BI  ID  Q")
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(biBytes))
      .getMessage.contains("inline image"))
    // /ImageMask true
    val mask = patched("/BitsPerComponent 8", "/ImageMask true /B 8")
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(mask))
      .getMessage.contains("ImageMask"))
    // custom /Decode array
    val dec = patched("/BitsPerComponent 8", "/Decode [0 1 ] /BC 8")
    val e = intercept[IllegalArgumentException](PdfCodec.extractImages(dec))
    assert(e.getMessage.contains("/Decode") || e.getMessage.contains("BitsPerComponent"))
    // unsupported colorspace
    val cmyk = patched("/ColorSpace /DeviceGray ", "/ColorSpace /DeviceCMYK")
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(cmyk))
      .getMessage.contains("DeviceCMYK"))
    // a filter AFTER the image filter is structural nonsense
    val dct = PdfCodec.encodeImagePdf(
      Seq(PdfCodec.ImagePageSpec(8, 8, 1, flatBlocks(8, 8, 1, 3), "DCT")))
    val s2 = new String(dct, "ISO-8859-1")
    val chained = s2.replace("/Filter /DCTDecode",
      "/Filter [/DCTDecode /FlateDecode ]").getBytes("ISO-8859-1")
    assert(intercept[IllegalArgumentException](PdfCodec.extractImages(chained))
      .getMessage.contains("after the"))
  }

  test("synthesizeImagePdfs → decodePdfImages matches the formula recompute") {
    val docs = spark.range(0, 18).toDF("doc_id")
    val got = BinaryPipeline.decodePdfImages(MediaFixtures.synthesizeImagePdfs(docs))
      .orderBy(col("doc_id"), col("page")).collect()
    var n = 0
    (0L until 18L).foreach { id =>
      val nPages = (1 + id % 3).toInt
      (0 until nPages).foreach { p =>
        val r = got(n); n += 1
        assert(r.getLong(0) == id && r.getLong(1) == p)
        val k = id + p
        (k % 3) match {
          case 0 =>
            val w = 4 + k % 13; val h = 3 + k % 11
            val ch = if (k % 2 == 0) 1 else 3
            assert(r.getLong(2) == w && r.getLong(3) == h && r.getLong(4) == ch)
            val sums = new Array[Long](3)
            (0 until (w * h * ch).toInt).foreach(i =>
              sums(i % ch.toInt) += (id * 31 + p * 11 + i * 7L) % 256)
            assert(r.getLong(5) == sums(0) && r.getLong(6) == sums(1) &&
              r.getLong(7) == sums(2), s"flate sums id=$id p=$p")
          case 1 =>
            val w = (24 + k % 13).toInt; val h = (16 + k % 11).toInt
            val ch = if (k % 2 == 0) 1 else 3
            assert(r.getLong(2) == w && r.getLong(3) == h && r.getLong(4) == ch)
            var sum = 0L
            for (y <- 0 until h; x <- 0 until w)
              sum += 128 + 3 * ((k * 31 + (x / 8) * 7 + (y / 8) * 13L) % 53 - 26)
            assert(r.getLong(5) == sum, s"dct r_sum id=$id p=$p")
            assert(r.getLong(6) == (if (ch == 3) sum else 0L))
            assert(r.getLong(7) == (if (ch == 3) sum else 0L))
          case _ =>
            val w = (17 + k % 16).toInt; val h = (13 + k % 12).toInt
            assert(r.getLong(2) == w && r.getLong(3) == h && r.getLong(4) == 1)
            var sum = 0L
            for (y <- 0 until h; x <- 0 until w)
              if ((k * 37 + x * 7L + y * 13L) % 5 >= 2) sum += 255
            assert(r.getLong(5) == sum, s"ccitt r_sum id=$id p=$p")
            assert(r.getLong(6) == 0 && r.getLong(7) == 0)
        }
      }
    }
    assert(n == got.length)
  }
}
