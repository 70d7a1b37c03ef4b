package graft

import graft.pipeline.{HtmlText, WarcCodec, WarcPipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WarcCodec + HtmlText: hand-built record bytes (laid out by the
  * test), digest tamper detection, gzip member-per-record vs bare
  * transport identity, HTTP splitting, chunked transfer decoding,
  * content-encoding gzip, charset resolution (header → meta sniff →
  * strict UTF-8), content-type gating, the HTML extraction rule set,
  * and the fail-loud contract. */
class WarcSpec extends AnyFunSuite with SparkSpec {

  test("HtmlText: tags, drops, entities, blocks, title, leniency rules") {
    val (t1, ti1) = HtmlText.extractWithTitle(
      "<!DOCTYPE html><html><head><title>My&nbsp;Page</title>" +
        "<style>p{}</style><script>if(1<2){alert('<p>')}</script></head>" +
        "<body><!-- no --><p>Hello <b>bold</b> world</p>" +
        "<div>Line&#50;&#x41; &amp; &lt;tag&gt;</div></body></html>")
    assert(ti1 == "My Page")
    assert(t1 == "Hello bold world Line2A & <tag>")
    // unclosed script drops to EOF (the browser rule)
    assert(HtmlText.extract("a<script>var x = 1; b c") == "a")
    // a '<' that opens no tag is literal; malformed entity stays literal
    assert(HtmlText.extract("1 < 2 &not-an-entity; &#; &#x;") ==
      "1 < 2 &not-an-entity; &#; &#x;")
    // block tags separate words; inline tags do not
    assert(HtmlText.extract("a<br>b<i>c</i>d") == "a bcd")
    // whitespace collapse incl. tabs/CR/LF/VT
    assert(HtmlText.extract(" a\t\tb\r\nc\u000bd  ") == "a b c d")
    // HTML5 tokenizer edges: tags open on ASCII alpha only (non-ASCII
    // '<X' stays text); '</' + non-letter is a bogus comment eaten to '>'
    assert(HtmlText.extract("a<Über>y") == "a<Über>y")
    assert(HtmlText.extract("x a<δ<3 y") == "x a<δ<3 y")
    // ...while '<b y' (ASCII letter, never closed) IS an unterminated
    // tag, dropped to EOF exactly as a browser drops it
    assert(HtmlText.extract("x a<δ<b y") == "x a<δ")
    assert(HtmlText.extract("I </3 broken> hearts") == "I hearts")
    // escape is the exact inverse over &<> text
    val s = "x & y < z > w"
    assert(HtmlText.extract("<p>" + HtmlText.escape(s) + "</p>") == s)
    // the curated high-frequency named references decode (round 20);
    // anything outside the set stays literal by the leniency rule
    assert(HtmlText.extract("A&mdash;B&hellip; &ldquo;q&rdquo; &euro;5 &copy;X") ==
      "A—B… “q” €5 ©X")
    assert(HtmlText.extract("3&times;4&ne;13 &rarr; ok") == "3×4≠13 → ok")
    assert(HtmlText.extract("&notinset; &zzz;") == "&notinset; &zzz;")
  }

  test("hand-built WARC record: headers, strict accounting, payload digest") {
    val body = "<p>Hi</p>"
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
    val digest = WarcCodec.base32(
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(body.getBytes("UTF-8")))
    val rec = "WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:1>\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "WARC-Target-URI: https://x.test/\r\n" +
      s"WARC-Payload-Digest: sha1:$digest\r\n" +
      "Content-Type: application/http;msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n" + http + "\r\n\r\n"
    val rs = WarcCodec.records(rec.getBytes("UTF-8"))
    assert(rs.length == 1)
    val r = rs.head
    assert(r.warcType == "response" && r.httpStatus.contains(200))
    assert(r.targetUri.contains("https://x.test/") && r.digestVerified)
    assert(new String(r.payload, "UTF-8") == body)
    // tamper with one payload byte: the digest must catch it
    val bytes = rec.getBytes("UTF-8")
    val at = rec.indexOf("<p>Hi</p>")
    bytes(at + 3) = 'J'
    assert(intercept[IllegalArgumentException](WarcCodec.records(bytes))
      .getMessage.contains("digest mismatch"))
    // truncation (missing final CRLFs) rejects
    assert(intercept[IllegalArgumentException](WarcCodec.records(
      rec.getBytes("UTF-8").dropRight(3))) != null)
    // unsupported digest algorithm rejects by name
    val md5d = rec.replace(s"sha1:$digest", "md5:ABCD")
    assert(intercept[IllegalArgumentException](WarcCodec.records(
      md5d.getBytes("UTF-8"))).getMessage.contains("md5"))
    // bad version rejects
    assert(intercept[IllegalArgumentException](WarcCodec.records(
      rec.replace("WARC/1.0", "WARC/0.9").getBytes("UTF-8")))
      .getMessage.contains("0.9"))
    // non-numeric Content-Length / HTTP status reject through the
    // codec's documented IllegalArgumentException surface (not NFE)
    val badLen = rec.replace(s"Content-Length: ${http.length}",
      "Content-Length: lots")
    assert(intercept[IllegalArgumentException](WarcCodec.records(
      badLen.getBytes("UTF-8"))).getMessage.contains("not a number"))
    val badStatus = rec.replace("HTTP/1.1 200 OK", "HTTP/1.1 2OO OK")
    assert(intercept[IllegalArgumentException](WarcCodec.records(
      badStatus.getBytes("UTF-8"))).getMessage.contains("not a number"))
  }

  private def respBytes(headers: Seq[(String, String)],
                        body: Array[Byte]): Array[Byte] =
    WarcCodec.encodeHttp(Seq(
      WarcCodec.HttpResp("https://x.test/", 200, headers, body)), gzip = false)

  private def onlyResp(warc: Array[Byte]): WarcCodec.WarcRecord =
    WarcCodec.records(warc).filter(_.warcType == "response") match {
      case Seq(r) => r
      case rs => fail(s"want 1 response, got ${rs.length}")
    }

  test("chunked transfer decoding: framing, extensions, trailers, rejects") {
    val body = ("alpha " * 60).getBytes("UTF-8") // multiple 100-byte chunks
    val wire = WarcCodec.chunkEncode(body, 100)
    val rec = onlyResp(respBytes(Seq(
      "Content-Type" -> "text/plain; charset=utf-8",
      "Transfer-Encoding" -> "chunked"), wire))
    assert(java.util.Arrays.equals(rec.payload, body),
      "dechunked payload must equal the original body")
    // chunk extension after ';' tolerated; trailer field after 0-chunk too
    val ext = ("6;name=v\r\nabcdef\r\n0\r\nX-Trail: 1\r\n\r\n").getBytes("UTF-8")
    val r2 = onlyResp(respBytes(Seq(
      "Content-Type" -> "text/plain; charset=utf-8",
      "Transfer-Encoding" -> "chunked"), ext))
    assert(new String(r2.payload, "UTF-8") == "abcdef")
    // framing violations reject loud
    def bad(b: String): String = intercept[IllegalArgumentException](
      onlyResp(respBytes(Seq("Content-Type" -> "text/plain",
        "Transfer-Encoding" -> "chunked"), b.getBytes("UTF-8")))).getMessage
    assert(bad("zz\r\nabc\r\n0\r\n\r\n").contains("chunk-size"))
    assert(bad("3\r\nabcd\r\n0\r\n\r\n").contains("CRLF")) // data overruns size
    assert(bad("6\r\nabcdef\r\n0\r\n\r\nextra").contains("past the final chunk"))
    assert(bad("ff\r\nabc\r\n0\r\n\r\n").contains("past the body"))
    // digest covers the body AS STORED: tampering a chunked byte is caught
    val digestedWire = WarcCodec.chunkEncode("hello hello".getBytes("UTF-8"), 4)
    val full = respBytes(Seq("Content-Type" -> "text/plain",
      "Transfer-Encoding" -> "chunked"), digestedWire)
    val at = new String(full, "ISO-8859-1").lastIndexOf("hell")
    full(at) = 'J'
    assert(intercept[IllegalArgumentException](WarcCodec.records(full))
      .getMessage.contains("digest mismatch"))
    // any other transfer coding rejects BY NAME
    assert(intercept[IllegalArgumentException](onlyResp(respBytes(
      Seq("Transfer-Encoding" -> "gzip, chunked"), "x".getBytes("UTF-8"))))
      .getMessage.contains("gzip, chunked"))
  }

  test("content-encoding: gzip inflates strictly, others reject by name") {
    val body = ("<p>compressed body</p>" * 10).getBytes("UTF-8")
    val rec = onlyResp(respBytes(Seq(
      "Content-Type" -> "text/html; charset=utf-8",
      "Content-Encoding" -> "gzip"), WarcCodec.gzipEncode(body)))
    assert(java.util.Arrays.equals(rec.payload, body))
    // gzip + chunked stack in RFC order (CE first, TE over it)
    val stacked = WarcCodec.chunkEncode(WarcCodec.gzipEncode(body), 50)
    val r2 = onlyResp(respBytes(Seq(
      "Content-Type" -> "text/html; charset=utf-8",
      "Content-Encoding" -> "gzip",
      "Transfer-Encoding" -> "chunked"), stacked))
    assert(java.util.Arrays.equals(r2.payload, body))
    // declared gzip without gzip magic rejects
    assert(intercept[IllegalArgumentException](onlyResp(respBytes(
      Seq("Content-Encoding" -> "gzip"), "plainbytes".getBytes("UTF-8"))))
      .getMessage.contains("gzip"))
    // deflate is the RFC 9110 zlib meaning: round trips strictly
    val zl = onlyResp(respBytes(Seq(
      "Content-Type" -> "text/html; charset=utf-8",
      "Content-Encoding" -> "deflate"), WarcCodec.zlibEncode(body)))
    assert(java.util.Arrays.equals(zl.payload, body))
    // a RAW deflate body mislabeled as deflate rejects loud
    val raw = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(body); d.finish()
      val bo = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
      d.end(); bo.toByteArray
    }
    assert(intercept[IllegalArgumentException](onlyResp(respBytes(
      Seq("Content-Encoding" -> "deflate"), raw)))
      .getMessage.contains("raw-deflate"))
    // ADLER-32 tamper is caught by the strict inflater
    val zbad = WarcCodec.zlibEncode(body)
    zbad(zbad.length - 1) = (zbad(zbad.length - 1) ^ 1).toByte
    assert(intercept[IllegalArgumentException](onlyResp(respBytes(
      Seq("Content-Encoding" -> "deflate"), zbad)))
      .getMessage.contains("corrupt"))
    // brotli & friends reject by name
    assert(intercept[IllegalArgumentException](onlyResp(respBytes(
      Seq("Content-Encoding" -> "br"), "x".getBytes("UTF-8"))))
      .getMessage.contains("'br'"))
    // deflate-bomb guard: the inflation cap fails loud by name
    val big = new Array[Byte](4096) // zeros compress ~1000:1
    var blob = WarcCodec.gzipEncode(big)
    (0 until 3).foreach(_ => blob = blob ++ WarcCodec.gzipEncode(big))
    assert(intercept[IllegalArgumentException](
      WarcCodec.gunzipAll(blob, maxInflated = 8192))
      .getMessage.contains("cap"))
  }

  test("charset resolution: header, meta sniff, strict UTF-8, rejects") {
    import WarcCodec.HttpCharset
    // HTTP header param wins
    val sjis = "日本語テスト".getBytes("Shift_JIS")
    val (t1, c1) = HttpCharset.decodeText(sjis,
      Some("text/html; charset=Shift_JIS"))
    assert(t1 == "日本語テスト" && c1 == "shift_jis")
    // meta sniff when the header has no charset
    val metaDoc = ("<html><head><meta charset='windows-1252'></head>" +
      "<body>café</body></html>").getBytes("windows-1252")
    val (t2, c2) = HttpCharset.decodeText(metaDoc, Some("text/html"))
    assert(t2.contains("café") && c2 == "windows-1252")
    // http-equiv form sniffs too
    val equivDoc = ("<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=shift_jis\"></head><body>" +
      new String("テスト".getBytes("Shift_JIS"), "ISO-8859-1") +
      "</body></html>").getBytes("ISO-8859-1")
    val (t3, c3) = HttpCharset.decodeText(equivDoc, None)
    assert(t3.contains("テスト") && c3 == "shift_jis")
    // undeclared valid UTF-8 passes strict validation
    val (t4, c4) = HttpCharset.decodeText("Σπάρκ".getBytes("UTF-8"), None)
    assert(t4 == "Σπάρκ" && c4 == "utf-8")
    // undeclared INVALID UTF-8 rejects loud (no silent U+FFFD mojibake)
    assert(intercept[IllegalArgumentException](HttpCharset.decodeText(
      Array[Byte](0x48, 0xff.toByte, 0xfe.toByte), None))
      .getMessage.contains("not valid"))
    // declared charset with malformed bytes rejects loud
    assert(intercept[IllegalArgumentException](HttpCharset.decodeText(
      Array[Byte](0x82.toByte), Some("text/html; charset=shift_jis")))
      .getMessage.contains("shift_jis"))
    // charsets outside the vetted alias table reject by name
    assert(intercept[IllegalArgumentException](HttpCharset.decodeText(
      "x".getBytes("UTF-8"), Some("text/html; charset=utf-7")))
      .getMessage.contains("utf-7"))
    // WHATWG mapping: iso-8859-1 labels decode as windows-1252
    val (_, c5) = HttpCharset.decodeText("plain".getBytes("UTF-8"),
      Some("text/html; charset=ISO-8859-1"))
    assert(c5 == "windows-1252")
    // every remaining vetted alias family round-trips strictly
    for ((label, jdk, sample) <- Seq(
        ("euc-jp", "EUC-JP", "日本語"),
        ("gb2312", "GBK", "中文测试"),
        ("big5", "Big5", "中文測試"),
        ("euc-kr", "EUC-KR", "한국어"))) {
      val (t, c) = HttpCharset.decodeText(sample.getBytes(jdk),
        Some(s"text/html; charset=$label"))
      assert(t == sample, s"$label text")
      // canonical labels: gb2312 folds into the gbk family
      assert(c == (if (label == "gb2312") "gbk" else label), s"$label canon")
    }
    // BOM outranks every declaration and is CONSUMED, never text
    val (t6, c6) = HttpCharset.decodeText(
      Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "abc".getBytes("UTF-8"),
      Some("text/html; charset=shift_jis"))
    assert(t6 == "abc" && c6 == "utf-8", "UTF-8 BOM beats the header, no U+FEFF")
    val (t7, c7) = HttpCharset.decodeText(
      Array[Byte](0xff.toByte, 0xfe.toByte) ++ "Σπ".getBytes("UTF-16LE"), None)
    assert(t7 == "Σπ" && c7 == "utf-16le")
    val (t8, c8) = HttpCharset.decodeText(
      Array[Byte](0xfe.toByte, 0xff.toByte) ++ "xy".getBytes("UTF-16BE"), None)
    assert(t8 == "xy" && c8 == "utf-16be")
    // a truncated UTF-16 payload under a BOM rejects loud
    assert(intercept[IllegalArgumentException](HttpCharset.decodeText(
      Array[Byte](0xff.toByte, 0xfe.toByte, 0x41), None))
      .getMessage.contains("not valid"))
  }

  test("revisit records: headers-only, referred digest NOT checked vs stored") {
    val body = "<p>original body</p>".getBytes("UTF-8")
    val origDigest = WarcCodec.base32(
      java.security.MessageDigest.getInstance("SHA-1").digest(body))
    val wire = WarcCodec.encodeHttp(Seq(
      WarcCodec.HttpResp("https://x.test/a", 200,
        Seq("Content-Type" -> "text/html; charset=utf-8"), body),
      WarcCodec.HttpResp("https://x.test/a", 200,
        Seq("Content-Type" -> "text/html; charset=utf-8"),
        Array.emptyByteArray, revisit = Some(origDigest))), gzip = false)
    val recs = WarcCodec.records(wire)
    assert(recs.count(_.warcType == "response") == 1)
    val rv = recs.find(_.warcType == "revisit").get
    // the digest names the ORIGINAL payload; the stored body is EMPTY —
    // verifying one against the other (the pre-round-20 behavior)
    // would reject every real revisit record
    assert(rv.payloadDigest.contains(origDigest))
    assert(rv.payload.isEmpty && !rv.digestVerified)
    assert(rv.refersTo.isDefined && rv.httpStatus.contains(200))
    val resp = recs.find(_.warcType == "response").get
    assert(resp.payloadDigest.contains(origDigest),
      "resolution key: revisit digest == original's digest")
    // an unsupported revisit profile rejects by name
    val s = new String(wire, "ISO-8859-1")
    val from = "/warc/1.1/revisit/identical-payload-digest"
    val to = "/warc/1.1/revisit/server-not-modified-xxxx"
    assert(from.length == to.length)
    assert(intercept[IllegalArgumentException](WarcCodec.records(
      s.replace(from, to).getBytes("ISO-8859-1")))
      .getMessage.contains("server-not-modified"))
    // a revisit without any digest rejects loud
    val noDigest = s.replace("WARC-Payload-Digest: sha1:" + origDigest,
      "WARC-Payload-DigXst: sha1:" + origDigest) // both records' headers
    assert(intercept[IllegalArgumentException](WarcCodec.records(
      noDigest.getBytes("ISO-8859-1")))
      .getMessage.contains("without a payload digest"))
  }

  test("encode→records round trips; gzip members and bare agree") {
    val pages = (0 until 3).map(i =>
      WarcCodec.Page(s"https://x.test/$i", 200,
        s"<html><body><p>page $i &amp; more</p></body></html>"))
    val gz = WarcCodec.encode(pages, gzip = true)
    val bare = WarcCodec.encode(pages, gzip = false)
    assert(WarcCodec.isGzip(gz) && !WarcCodec.isGzip(bare))
    val a = WarcCodec.records(gz)
    val b = WarcCodec.records(bare)
    assert(a.length == 7 && b.length == 7) // warcinfo + 3 x (req + resp)
    assert(a.map(_.warcType) == b.map(_.warcType))
    val resp = a.filter(_.warcType == "response")
    assert(resp.forall(_.digestVerified))
    assert(resp.map(r => new String(r.payload, "UTF-8")) ==
      pages.map(_.html))
    assert(a.count(_.warcType == "request") == 3)
  }

  test("synthesizeWarcs → extractWarcs: charset legs, gating, chunked") {
    val docs = spark.createDataFrame(Seq(
      (0L, "hello  world"),                     // utf-8 hdr, CE gzip, binary extra
      (1L, "a & b < c\t\ttabbed"),              // shift_jis hdr, chunked, plain extra
      (2L, ""),                                 // cp1252 meta-sniffed
      (3L, "line one\nline two\r\nline three")  // utf-8 undeclared, chunked, binary extra
    )).toDF("doc_id", "text")
    val rows = WarcPipeline.extractWarcs(WarcPipeline.synthesizeWarcs(docs))
      .orderBy(col("doc_id"), col("rec_idx")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rec_idx")) ->
        r).toMap
    def md5(s: String): String =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s.getBytes("UTF-8"))
    def check(id: Long, idx: Long, kind: String, charset: String,
              title: String, text: String): Unit = {
      val r = rows((id, idx))
      assert(r.getAs[String]("kind") == kind, s"($id,$idx) kind")
      assert(r.getAs[String]("charset") == charset, s"($id,$idx) charset")
      assert(r.getAs[String]("title") == title, s"($id,$idx) title")
      assert(r.getAs[Long]("text_len") ==
        text.codePointCount(0, text.length), s"($id,$idx) len")
      assert(r.getAs[String]("text_md5") == md5(text), s"($id,$idx) md5")
      assert(r.getAs[Boolean]("digest_ok"), s"($id,$idx) digest")
    }
    check(0, 0, "html", "utf-8", "Doc 0", "hello world")
    check(1, 0, "html", "shift_jis", "Doc 1",
      "a & b < c tabbed 日本語テスト")
    check(2, 0, "html", "windows-1252", "Doc 2", "café déjà-vu")
    check(3, 0, "html", "utf-8", "Doc 3",
      "line one line two line three Σπάρκ §")
    check(1, 1, "plain", "utf-8", "", "a & b < c tabbed")
    // binary rows: gated out of text extraction, byte metrics reported
    Seq(0L, 3L).foreach { id =>
      val r = rows((id, 1L))
      assert(r.getAs[String]("kind") == "binary" &&
        r.getAs[String]("text_md5") == "" && r.getAs[Long]("text_len") == 0)
      assert(r.getAs[Long]("byte_len") == 73)
      val want = "%PDF-1.4\n".getBytes("UTF-8").map(_ & 0xff).sum +
        (0 until 64).map(i => (id * 7 + i * 13) % 256).sum
      assert(r.getAs[Long]("byte_sum") == want, s"doc $id byte_sum")
    }
    assert(rows((2L, 0L)).getAs[Long]("n_records") == 3)
    assert(rows((0L, 0L)).getAs[Long]("n_records") == 5)
    assert(rows.size == 7)
  }

  test("resolveRevisits: captures sharing a digest resolve the same under any partitioning") {
    import spark.implicits._
    // two responses carry digest d1 with different titles and text; the
    // revisit naming d1 must inherit the same one whatever the layout
    val rows = Seq(
      (1L, 200L, "https://a/1", "response", "utf-8", "Beta", 40L, "md5-beta", "d1"),
      (2L, 200L, "https://a/2", "response", "utf-8", "Alpha", 30L, "md5-alpha", "d1"),
      (3L, 200L, "https://a/3", "response", "utf-8", "Gamma", 50L, "md5-gamma", "d2"),
      (4L, 200L, "https://a/1", "revisit", "", "", 0L, "", "d1"),
      (5L, 200L, "https://a/3", "revisit", "", "", 0L, "", "d2"),
      (6L, 200L, "https://a/9", "revisit", "", "", 0L, "", "d9"))
      .toDF("doc_id", "status", "url", "kind", "charset", "title", "text_len", "text_md5",
        "payload_digest")
    def resolved(layout: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
      WarcPipeline.resolveRevisits(layout).orderBy(col("doc_id")).collect().toSeq
    val one = resolved(rows.repartition(1))
    val three = resolved(rows.orderBy(col("doc_id").desc).repartition(3, col("doc_id")))
    assert(one == three, s"$one vs $three")
    // the least of the inherited columns wins; the unresolvable d9 drops
    val byId = one.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(byId(4L).getAs[String]("title") == "Alpha" &&
      byId(4L).getAs[String]("text_md5") == "md5-alpha" &&
      byId(4L).getAs[String]("kind") == "response")
    assert(byId(5L).getAs[String]("title") == "Gamma")
  }
}
