package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Queries.QueryDef
import graft.functions.{LangFunctions, PromptFunctions, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Knn}
import graft.fixtures.MediaFixtures
import graft.multimodal.BinaryPipeline
import graft.pipeline.{ArchivePipeline, Embedder, PdfPipeline, Summarizer, WarcPipeline}

/** SURVEY.md §2.1 pipeline + §2.2 dedup/text-analysis query gates.
  * Chunking parameters are scaled (maxLen=200, lookback=60 vs the
  * reference's 7500/300) so the test corpus (47–558 chars/doc) actually
  * exercises multi-chunk splitting; the algorithm is parameter-identical.
  */
object QueriesPipeline {

  private val canon =
    """lower(trim(regexp_replace(replace(text, chr(10), ' '), '[\s\x0b]{2,}', ' ', 'g')))"""

  /** DuckDB replay of TextFunctions.chunkText as a recursive CTE
    * (validated char-for-char against the reference algorithm). */
  private def chunkCte(maxLen: Int, lb: Int): String = {
    val start = maxLen - lb
    s"""WITH RECURSIVE norm AS (
       |  SELECT doc_id, regexp_replace(replace(text, chr(10), ' '), '[\\s\\x0b]{2,}', ' ', 'g') AS t FROM documents
       |), ch(doc_id, idx, chunk, rest) AS (
       |  SELECT doc_id, -1, CAST(NULL AS VARCHAR), t FROM norm
       |  UNION ALL
       |  SELECT doc_id, idx+1,
       |    CASE WHEN length(rest) > $maxLen
       |      THEN substr(rest, 1, $start + length(regexp_extract(substr(rest, ${start + 2}, $lb), '^(.*[.。;；!！?？])', 1)))
       |      ELSE rest END,
       |    CASE WHEN length(rest) > $maxLen
       |      THEN substr(rest, ${start + 1} + length(regexp_extract(substr(rest, ${start + 2}, $lb), '^(.*[.。;；!！?？])', 1)))
       |      ELSE NULL END
       |  FROM ch WHERE rest IS NOT NULL
       |), chunks AS (SELECT doc_id, idx AS chunk_idx, chunk FROM ch WHERE chunk IS NOT NULL)""".stripMargin
  }

  /** Status table CTE over chunks (mirrors PdfPipeline.statusTable). */
  private def statusCte(maxLen: Int, lb: Int): String =
    chunkCte(maxLen, lb) + s""",
       |st AS (
       |  SELECT md5(d.source || '_' || c.doc_id || '.pdf' || '#' || CAST(c.chunk_idx + 1 AS BIGINT)) AS id,
       |    d.source || '_' || c.doc_id || '.pdf' AS filename,
       |    CAST(c.chunk_idx + 1 AS BIGINT) AS pagenumber,
       |    CASE ((c.doc_id * 7 + c.chunk_idx) % 23)
       |      WHEN 0 THEN 'failed_db_insertion'
       |      WHEN 1 THEN 'retry_oai_invocation'
       |      WHEN 2 THEN 'finish_oai_invocation'
       |      ELSE 'completed' END AS status
       |  FROM chunks c JOIN documents d USING (doc_id))""".stripMargin

  private def docsChunks(s: org.apache.spark.sql.SparkSession, d: String) =
    PdfPipeline.chunkRows(Tables.documents(s, d), maxLen = 200, lookback = 60)

  /** Shared end-to-end search: normalize → chunk → md5-featurizer embed →
    * cosine top-5 vs chunk cid=0. The vote vector is computed ROW-LOCAL
    * (native digest expression, dense form) and scored with the codegen'd
    * VecDot kernel against the broadcast 1-row query — the whole search
    * is a narrow scan into `TakeOrderedAndProject`, ZERO wide shuffles.
    * Bit-identical to the explode+groupBy oracle formulation because vote
    * sums and dot products are integer-valued. */
  private def e2eHits(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.{EmbedExpressions, VectorExpressions}
    val chunks = docsChunks(s, d)
      .select(PdfPipeline.chunkCid().as("cid"), col("chunk"))
    val scored = chunks
      .select(col("cid"),
        EmbedExpressions.md5EmbedVotes(lower(trim(col("chunk"))), 16, dense = true).as("__v"))
      .withColumn("__n", sqrt(VectorExpressions.vecDot(col("__v"), col("__v"))))
    val q = scored.where(col("cid") === 0)
      .select(col("__v").as("__qv"), col("__n").as("__nq"))
    scored.crossJoin(broadcast(q))
      .where(col("__n") > 0)
      .select(col("cid"),
        round(VectorExpressions.vecDot(col("__v"), col("__qv")) / (col("__n") * col("__nq")), 4).as("cos"))
      .orderBy(col("cos").desc, col("cid")).limit(5)
  }

  /** The reference's full serve loop, per hit: top-5 search → chunk text +
    * blob metadata join-back (hits broadcast) → summary prompt →
    * deterministic extractive summary
    * (SSEOpenAIController.java:142-198). */
  private def servedHits(s: org.apache.spark.sql.SparkSession, d: String,
                         query: String): org.apache.spark.sql.DataFrame = {
    val chunks = docsChunks(s, d)
      .select(col("doc_id"), col("source"), col("chunk_idx"),
        PdfPipeline.chunkCid().as("cid"), col("chunk"))
    // single source of truth for the status/store/serve join key
    val (fileName, page, chunkId) = PdfPipeline.chunkIdCols()
    chunks.join(broadcast(e2eHits(s, d)), "cid")
      .select(col("cid"), col("cos"),
        fileName.as("filename"), page.as("pagenumber"),
        chunkId.as("id"),
        PromptFunctions.blobPageUrl(lit("documentsearch1"), lit("pdfs"), fileName, page).as("url"),
        md5(PromptFunctions.summaryPrompt(col("chunk"), lit(query))).as("prompt_md5"),
        Summarizer.extractiveSummary(col("chunk"), query).as("summary"))
  }

  /** DuckDB replay of the full serve loop (chunk → embed → top-5 → prompt
    * → KWIC summary), ending in a `served` CTE. The vote vectors are
    * DENSE (a zero-filled (cid × 16-bucket) grid), mirroring the
    * row-local dense-votes Spark side: every chunk with nonzero norm is
    * scored, including zero-overlap chunks at cos 0 — an inner join on
    * touched buckets only would drop those candidates and diverge on
    * corpora where fewer than 5 chunks share a bucket with the query. */
  private def serveCte(query: String): String = {
    val q3 = "\"\"\""
    chunkCte(200, 60) + s""",
       |ch2 AS (SELECT doc_id, chunk_idx, doc_id*1000000 + chunk_idx AS cid, chunk FROM chunks),
       |cgrid AS (SELECT cid, i AS b FROM ch2, unnest(range(0, 16)) AS t(i)),
       |t AS (SELECT cid, unnest(string_split(lower(trim(chunk)), ' ')) AS tok FROM ch2),
       |hh AS (SELECT cid, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM t),
       |v0 AS (SELECT cid, h % 16 AS b,
       |        sum(CASE WHEN (h // 16) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
       |      FROM hh GROUP BY 1, 2),
       |v AS (SELECT g.cid, g.b, coalesce(v0.v, 0.0) AS v
       |      FROM cgrid g LEFT JOIN v0 ON v0.cid = g.cid AND v0.b = g.b),
       |vn AS (SELECT cid, b, v, sqrt(sum(v*v) OVER (PARTITION BY cid)) AS n FROM v),
       |q AS (SELECT b, v AS qv, n AS nq FROM vn WHERE cid = 0),
       |hits AS (
       |  SELECT a.cid, round(sum(a.v * q.qv) / (max(a.n) * max(q.nq)), 4) AS cos
       |  FROM vn a JOIN q USING (b) GROUP BY a.cid
       |  HAVING max(a.n) > 0 ORDER BY cos DESC, a.cid LIMIT 5),
       |serve AS (
       |  SELECT h.cid, h.cos, c.chunk,
       |    d.source || '_' || c.doc_id || '.pdf' AS filename,
       |    CAST(c.chunk_idx + 1 AS BIGINT) AS pagenumber
       |  FROM hits h JOIN ch2 c ON c.cid = h.cid JOIN documents d ON d.doc_id = c.doc_id),
       |served AS (
       |  SELECT cid, cos, filename, pagenumber,
       |    md5(filename || '#' || pagenumber) AS id,
       |    'https://documentsearch1.blob.core.windows.net/pdfs/' || filename || '#page=' || pagenumber AS url,
       |    md5('$q3 ' || chunk || ' $q3 ' || chr(10) || chr(10) ||
       |        'こちらのドキュメントの中から "$query" に関して説明している箇所を抜き出してください。') AS prompt_md5,
       |    -- coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''
       |    substr(coalesce(array_to_string(regexp_extract_all(
       |      lower(trim(regexp_replace(replace(chunk, chr(10), ' '), '[\\s\\x0b]{2,}', ' ', 'g'))),
       |      '(\\S+ ){0,4}$query( \\S+){0,4}'), ' ... '), ''), 1, 300) AS summary
       |  FROM serve)""".stripMargin
  }

  /** MinHash/shingle CTE prefix (mirrors TextFunctions.wordShingles +
    * Dedup.minhashSignature/bandKeys with numPerm=16, bands=8, r=2). */
  private val lshCte =
    s"""WITH w AS (
       |  SELECT doc_id, string_split($canon, ' ') AS w FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
       |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
       |    ELSE [array_to_string(w, ' ')] END) AS sh FROM w
       |), sig AS (
       |  SELECT doc_id, sh, [list_min([md5(s || '#' || j) for s in sh]) for j in range(0, 16)] AS sig FROM sh
       |), bands AS (
       |  SELECT doc_id, CAST(b AS BIGINT) AS band_id, md5(sig[b*2+1] || '|' || sig[b*2+2]) AS band_key
       |  FROM sig, unnest(range(0, 8)) AS t(b)
       |), ok AS (
       |  -- mirrors Dedup.candidatePairs' maxBucket=1000 degenerate-bucket guard
       |  SELECT band_id, band_key FROM bands GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a
       |  JOIN ok USING (band_id, band_key)
       |  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), ver AS (
       |  SELECT id1, id2,
       |    round(len(list_intersect(s1.sh, s2.sh))::DOUBLE
       |      / (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))), 4) AS jaccard
       |  FROM cand JOIN sh s1 ON s1.doc_id = cand.id1 JOIN sh s2 ON s2.doc_id = cand.id2)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    "q_ingest_docs" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          expr("octet_length(text)").cast("long").as("byte_len"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source, lang, CAST(n_chars AS BIGINT) AS n_chars,
             |  CAST(strlen(text) AS BIGINT) AS byte_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q_pdf_pages" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        PdfPipeline.extractPages(docs, pageSize = 200)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(text, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(text, i*200 + 1, 200)) AS page_md5
             |FROM documents, unnest(range(0, CAST(ceil(length(text) / 200.0) AS INT))) AS t(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // ARCHIVE INGEST — ZIP + USTAR TAR (round 19 — the delivery
    // formats document corpora and dataset dumps ship in; both walks
    // verify the format's own in-band integrity fields on EVERY entry:
    // ZIP central-directory CRC-32 vs the inflated data, TAR header
    // checksums). Per-doc archives carry 1-3 member files holding
    // 100-code-point text slices; ZIP (stored+deflate mix, EOCD
    // comment leg) on even ids, TAR on odd — the oracle replays names,
    // UTF-8 byte sizes and content md5 straight from substr(text),
    // so wire rotation is results-invisible and a CRC slip, an
    // inflate bug or a header misread breaks the hash.
    "q_archive_extract" -> QueryDef(
      (s, d) => ArchivePipeline.extractArchives(
          ArchivePipeline.synthesizeArchives(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("entry_idx")),
      Some("""SELECT doc_id, CAST(t.k AS BIGINT) AS entry_idx,
             |  'doc' || CAST(doc_id AS VARCHAR) || '/part' ||
             |    CAST(t.k AS VARCHAR) || '.txt' AS name,
             |  CAST(strlen(substr(text, CAST(t.k*100+1 AS INT), 100))
             |    AS BIGINT) AS size,
             |  md5(substr(text, CAST(t.k*100+1 AS INT), 100)) AS content_md5
             |FROM documents, unnest(range(0, 1 + doc_id % 3)) t(k)
             |ORDER BY doc_id, entry_idx""".stripMargin)),

    // SCANNED-PDF SIMILARITY CAPSTONE (round 19 — VERDICT r18 #3's
    // "feeds q_knn_image_*" half): images extracted FROM PDF pages join
    // the engine's standard tile-feature KNN space — decode → featurize
    // → rank end-to-end over the scanned-document modality. Only the
    // provably-exact RGB legs rank (Flate pages at (id+p)%6 == 3, DCT
    // flat-block pages at (id+p)%6 == 1); the oracle recomputes the
    // features AND the cosine ranking from the synthesis formulas
    // alone.
    "q_knn_pdf_image" -> QueryDef(
      (s, d) => {
        val feats = BinaryPipeline.pdfImageTileFeatures(
            MediaFixtures.synthesizeImagePdfs(Tables.documents(s, d)),
            gx = 2, gy = 2)
          .where((col("doc_id") + col("page")) % 6 === 3 ||
                 (col("doc_id") + col("page")) % 6 === 1)
          .select((col("doc_id") * 4 + col("page")).as("vec_id"),
            col("features").as("embedding"))
          // decode the PDF image corpus ONCE (see q_knn_image): the
          // query-side filter cannot cross the codec mapPartitions stage
          .localCheckpoint(true)
        val q = feats.where(col("vec_id") === 9) // doc 2 page 1: Flate RGB
        graft.operators.Knn.topK(feats, q, graft.operators.Knn.Cosine, 5)
      },
      Some("""WITH pg AS (
             |  SELECT doc_id, CAST(t.p AS BIGINT) AS p, doc_id + t.p AS k
             |  FROM documents, unnest(range(0, 1 + doc_id % 3)) t(p)
             |),
             |sel AS (
             |  SELECT doc_id, p, k, k % 6 AS leg6,
             |    CASE WHEN k % 6 = 3 THEN 4 + k % 13 ELSE 24 + k % 13 END AS w,
             |    CASE WHEN k % 6 = 3 THEN 3 + k % 11 ELSE 16 + k % 11 END AS h
             |  FROM pg WHERE k % 6 IN (1, 3)
             |),
             |px AS (
             |  SELECT doc_id, p, w, h,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE WHEN leg6 = 3
             |      THEN (doc_id*31 + p*11 + ((y*w + x)*3 + c) * 7) % 256
             |      ELSE 128 + 3*(((k*31 + (x//8)*7 + (y//8)*13) % 53) - 26)
             |    END AS v
             |  FROM sel, unnest(range(0, w)) gx(x), unnest(range(0, h)) gy(y),
             |       unnest(range(0, 3)) gc(c)
             |),
             |f AS (SELECT doc_id*4 + p AS vec_id, list(mv ORDER BY dim) AS emb
             |  FROM (SELECT doc_id, p, dim, avg(v) AS mv
             |        FROM px GROUP BY doc_id, p, dim)
             |  GROUP BY doc_id, p)
             |SELECT e.vec_id,
             |  round(1 - list_cosine_similarity(e.emb, q.emb), 4) AS dist
             |FROM f e CROSS JOIN (SELECT emb FROM f WHERE vec_id = 9) q
             |ORDER BY dist, vec_id LIMIT 5""".stripMargin)),

    // WARC CRAWL INGEST + HTML TEXT EXTRACTION (round 19; hardened
    // round 20 per VERDICT r19 #1 — the wire format web-scale training
    // corpora arrive in: Common Crawl ships member-per-record .warc.gz;
    // that per-member independence is what makes a 100 TB crawl
    // SPLITTABLE). Structurally-real WARC files are synthesized per
    // document (warcinfo + request/response records, HTTP messages
    // embedded, SHA-1 payload digests stamped; gzip and bare
    // transports, WARC/1.0 and 1.1 rotated results-invisibly), then
    // extracted through the full path — record walk with strict
    // Content-Length accounting, gzip members, HTTP split, PAYLOAD
    // DIGEST VERIFICATION (the format's own in-band oracle),
    // TRANSFER-ENCODING chunked dechunk (odd ids), CONTENT-ENCODING
    // gzip (id%5==0), CHARSET RESOLUTION (HTTP header Shift_JIS on
    // id%4==1, meta-sniffed windows-1252 on id%4==2, undeclared
    // strict-validated UTF-8 on id%4==3 — each leg carrying a
    // non-ASCII marker the oracle replays, so a mojibake changes the
    // hash), CONTENT-TYPE GATING (application/pdf binary responses on
    // id%3==0 report byte metrics and never reach HtmlText; text/plain
    // on id%3==1 collapses without tag-stripping), and HtmlText
    // tag-strip/entity-decode/whitespace-collapse. The oracle replays
    // text + markers straight from the text column: extraction must
    // invert the wrap, the wire codings and the charset exactly.
    "q_warc_extract" -> QueryDef(
      // payload_digest (sha1-base32, the revisit-resolution join key)
      // drops here: DuckDB has no sha1 to replay it; the digest path
      // is gated by the codec's own verification + q_e2e_crawl's
      // resolution join instead
      (s, d) => WarcPipeline.extractWarcs(
          WarcPipeline.synthesizeWarcs(Tables.documents(s, d)))
        .drop("payload_digest")
        .orderBy(col("doc_id"), col("rec_idx")),
      Some("""WITH t AS (
             |  SELECT doc_id, trim(regexp_replace(text, '[\s\x0b]+', ' ', 'g')) AS t
             |  FROM documents
             |), m AS (
             |  SELECT d.doc_id, CAST(0 AS BIGINT) AS rec_idx, 'html' AS kind,
             |    CASE WHEN d.doc_id % 8 = 7 THEN 'utf-16le'
             |      WHEN d.doc_id % 4 = 1 THEN 'shift_jis'
             |      WHEN d.doc_id % 4 = 2 THEN 'windows-1252'
             |      ELSE 'utf-8' END AS charset,
             |    'Doc ' || CAST(d.doc_id AS VARCHAR) AS title,
             |    CASE d.doc_id % 4
             |      WHEN 1 THEN trim(t.t || ' 日本語テスト')
             |      WHEN 2 THEN trim(t.t || ' café déjà-vu')
             |      WHEN 3 THEN trim(t.t || ' Σπάρκ §')
             |      ELSE t.t END AS txt,
             |    'https://example.org/doc/' || CAST(d.doc_id AS VARCHAR) AS url,
             |    CAST(0 AS BIGINT) AS byte_len, CAST(0 AS BIGINT) AS byte_sum
             |  FROM documents d JOIN t USING (doc_id)
             |), b AS (
             |  SELECT doc_id, CAST(1 AS BIGINT) AS rec_idx, 'binary' AS kind,
             |    '' AS charset, '' AS title, NULL AS txt,
             |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
             |      || '/raw.pdf' AS url,
             |    CAST(73 AS BIGINT) AS byte_len,
             |    CAST(457 + sum((doc_id * 7 + r.i * 13) % 256) AS BIGINT) AS byte_sum
             |  FROM documents, unnest(range(0, 64)) r(i)
             |  WHERE doc_id % 3 = 0
             |  GROUP BY doc_id
             |), p AS (
             |  SELECT d.doc_id, CAST(1 AS BIGINT) AS rec_idx, 'plain' AS kind,
             |    'utf-8' AS charset, '' AS title, t.t AS txt,
             |    'https://example.org/doc/' || CAST(d.doc_id AS VARCHAR)
             |      || '/plain.txt' AS url,
             |    CAST(0 AS BIGINT) AS byte_len, CAST(0 AS BIGINT) AS byte_sum
             |  FROM documents d JOIN t USING (doc_id)
             |  WHERE d.doc_id % 3 = 1
             |), u AS (
             |  SELECT * FROM m UNION ALL SELECT * FROM b UNION ALL SELECT * FROM p
             |)
             |SELECT doc_id, rec_idx,
             |  CAST(CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 5 END AS BIGINT) AS n_records,
             |  CAST(CASE WHEN rec_idx = 0 AND doc_id % 7 = 6
             |    THEN 404 ELSE 200 END AS BIGINT) AS status, url, TRUE AS digest_ok,
             |  kind, charset, title,
             |  CAST(CASE WHEN kind = 'binary' THEN 0 ELSE length(txt) END AS BIGINT) AS text_len,
             |  CASE WHEN kind = 'binary' THEN '' ELSE md5(txt) END AS text_md5,
             |  byte_len, byte_sum
             |FROM u
             |ORDER BY doc_id, rec_idx""".stripMargin)),

    // CRAWL → PDF COMPOSITION (round 20): the reference's blob-PDF
    // domain ARRIVING OVER THE CRAWL EDGE — application/pdf WARC
    // responses carry REAL one-page PDFs (Flate on even ids, bare on
    // odd; chunked transfer on odd ids) whose payloads run the
    // engine's own PdfCodec text extraction end-to-end. The oracle
    // replays each page straight from substr(text): a record-framing,
    // dechunk, content-type or PDF-decode slip breaks the hash.
    "q_warc_pdf" -> QueryDef(
      (s, d) => WarcPipeline.extractPdfPayloads(
          WarcPipeline.synthesizeWarcs(Tables.documents(s, d),
            binaryPdf = true))
        .orderBy(col("doc_id"), col("page_no")),
      Some("""SELECT doc_id, CAST(1 AS BIGINT) AS page_no,
             |  CAST(length(substr(text, 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(text, 1, 200)) AS page_md5
             |FROM documents WHERE doc_id % 3 = 0
             |ORDER BY doc_id""".stripMargin)),

    // IMAGE-XOBJECT extraction (round 19, VERDICT r18 #3 — the
    // scanned-document modality): image-ONLY PDFs (whose text
    // extraction is legitimately empty) are synthesized in-engine —
    // 1-3 pages per doc, each carrying one image XObject rotating
    // /FlateDecode raw samples, /DCTDecode (the provably-exact
    // flat-8x8-block JPEG recipe) and /CCITTFaxDecode (G4 and
    // byte-aligned MH legs) — then every image is decoded through the
    // full sample path (filters, predictors, JpegCodec, CcittCodec)
    // and reduced to geometry + per-channel sums. The oracle replays
    // the (doc_id, page) pixel formulas byte-blind, so a wrong filter
    // parse, a CCITT BlackIs1 slip or a JPEG coefficient bug breaks
    // the hash.
    "q_pdf_images" -> QueryDef(
      (s, d) => BinaryPipeline.decodePdfImages(
          MediaFixtures.synthesizeImagePdfs(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("page")),
      Some("""WITH pg AS (
             |  SELECT doc_id, CAST(t.p AS BIGINT) AS p, doc_id + t.p AS k
             |  FROM documents, unnest(range(0, 1 + doc_id % 3)) t(p)
             |),
             |g AS (
             |  SELECT doc_id, p, k, k % 3 AS leg,
             |    CASE k % 3 WHEN 0 THEN 4 + k % 13 WHEN 1 THEN 24 + k % 13 ELSE 17 + k % 16 END AS w,
             |    CASE k % 3 WHEN 0 THEN 3 + k % 11 WHEN 1 THEN 16 + k % 11 ELSE 13 + k % 12 END AS h,
             |    CASE WHEN k % 3 = 2 THEN 1 WHEN k % 2 = 0 THEN 1 ELSE 3 END AS ch
             |  FROM pg
             |),
             |fl AS (
             |  SELECT doc_id, p, w, h, ch,
             |    SUM(CASE WHEN i % ch = 0 THEN (doc_id*31 + p*11 + i*7) % 256 ELSE 0 END) AS r_sum,
             |    SUM(CASE WHEN ch = 3 AND i % ch = 1 THEN (doc_id*31 + p*11 + i*7) % 256 ELSE 0 END) AS g_sum,
             |    SUM(CASE WHEN ch = 3 AND i % ch = 2 THEN (doc_id*31 + p*11 + i*7) % 256 ELSE 0 END) AS b_sum
             |  FROM g, unnest(range(0, w*h*ch)) t(i) WHERE leg = 0
             |  GROUP BY doc_id, p, w, h, ch
             |),
             |dc AS (
             |  SELECT doc_id, p, w, h, ch, SUM(v) AS r_sum,
             |    SUM(CASE WHEN ch = 3 THEN v ELSE 0 END) AS g_sum,
             |    SUM(CASE WHEN ch = 3 THEN v ELSE 0 END) AS b_sum
             |  FROM (
             |    SELECT doc_id, p, w, h, ch,
             |      128 + 3*(((k*31 + ((i % w) // 8)*7 + ((i // w) // 8)*13) % 53) - 26) AS v
             |    FROM g, unnest(range(0, w*h)) t(i) WHERE leg = 1)
             |  GROUP BY doc_id, p, w, h, ch
             |),
             |cc AS (
             |  SELECT doc_id, p, w, h, ch,
             |    SUM(CASE WHEN (k*37 + (i % w)*7 + (i // w)*13) % 5 >= 2 THEN 255 ELSE 0 END) AS r_sum,
             |    0 AS g_sum, 0 AS b_sum
             |  FROM g, unnest(range(0, w*h)) t(i) WHERE leg = 2
             |  GROUP BY doc_id, p, w, h, ch
             |)
             |SELECT doc_id, p AS page, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(ch AS BIGINT) AS channels,
             |  CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
             |  CAST(b_sum AS BIGINT) AS b_sum
             |FROM (SELECT * FROM fl UNION ALL SELECT * FROM dc UNION ALL SELECT * FROM cc)
             |ORDER BY doc_id, page""".stripMargin)),

    // Real-PDF round trip (round 7): each document is rendered to an
    // ACTUAL PDF in-engine (classic xref, Flate-compressed content
    // streams, one page per 200 chars) and decoded back through the full
    // parser — object scan, page tree, FlateDecode, BT/ET text ops — so
    // the oracle hash gates the real extraction path on real PDF bytes,
    // not the pagination stub. Oracle = the same page derivation straight
    // from the text column: extraction must be lossless.
    "q_pdf_decode" -> QueryDef(
      (s, d) => {
        val pdfs = PdfPipeline.synthesizePdfs(Tables.documents(s, d), pageSize = 200)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(text, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(text, i*200 + 1, 200)) AS page_md5
             |FROM documents, unnest(range(0, CAST(ceil(length(text) / 200.0) AS INT))) AS t(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // ENCRYPTED round trip (round 10, VERDICT r9 #3): the same page
    // derivation, but every PDF is AES-128-encrypted under the standard
    // security handler with an EMPTY user password (spec §7.6 — the
    // permissions-only encryption many generators emit; PDFBox opens
    // these transparently in Function.java:90-132). The decoder derives
    // the file key (Algorithm 2), verifies /U (Algorithm 6), and
    // decrypts every stream with its per-object key (Algorithm 1)
    // before the Flate stage — skip any step and every page hashes
    // wrong or fails to inflate.
    "q_pdf_encrypted" -> QueryDef(
      (s, d) => {
        val pdfs = PdfPipeline.synthesizePdfs(Tables.documents(s, d),
          pageSize = 200, encryptMode = Some("aes-128"))
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(text, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(text, i*200 + 1, 200)) AS page_md5
             |FROM documents, unnest(range(0, CAST(ceil(length(text) / 200.0) AS INT))) AS t(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // AES-256 / PDF 2.0 (round 14): V5/R6 empty-password decryption over
    // the MODERN 1.5 layout — the hardened hash-2.B key derivation, /U
    // validation, /UE key unwrap and /Perms integrity check all run per
    // file, the encrypted ObjStm is decrypted with the 32-byte file key
    // (Algorithm 1.A, no per-object salt), and only then does structure
    // expansion see plaintext. PDFBox opens these files transparently
    // (Function.java:90-132); the oracle replays the page text.
    "q_pdf_encrypted_v5" -> QueryDef(
      (s, d) => {
        val pdfs = PdfPipeline.synthesizeModernPdfs(Tables.documents(s, d),
          pageSize = 200, encryptMode = Some("aes-256"))
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(text, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(text, i*200 + 1, 200)) AS page_md5
             |FROM documents, unnest(range(0, CAST(ceil(length(text) / 200.0) AS INT))) AS t(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // /Differences round trip (round 10): the synthesized fonts remap
    // two byte codes through /Encoding /Differences glyph names (Euro,
    // bullet) and the content streams carry the CODES — the shape a real
    // subset font emits. The decoder must resolve the glyph list to
    // produce the Unicode text; skipping it (Latin-1 passthrough) would
    // hash-mismatch every page containing 'e' or 't'.
    "q_pdf_differences" -> QueryDef(
      (s, d) => {
        val pdfs = PdfPipeline.synthesizePdfs(Tables.documents(s, d), pageSize = 200,
          differences = Seq(('e', 200, "Euro"), ('t', 201, "bullet")))
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(replace(replace(substr(text, i*200 + 1, 200),
             |    'e', '€'), 't', '•')) AS BIGINT) AS page_len,
             |  md5(replace(replace(substr(text, i*200 + 1, 200),
             |    'e', '€'), 't', '•')) AS page_md5
             |FROM documents, unnest(range(0, CAST(ceil(length(text) / 200.0) AS INT))) AS t(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // PDF 1.5 round trip (round 9): same page derivation as
    // q_pdf_decode but the synthesized bytes use the MODERN layout —
    // structure dicts packed in a /Type /ObjStm object stream, indexed
    // by a binary cross-reference stream — so the ObjStm expansion path
    // is hash-gated end to end. A decoder without it finds no catalog,
    // no pages, and returns zero rows for every document.
    "q_pdf_objstm" -> QueryDef(
      (s, d) => {
        val pdfs = PdfPipeline.synthesizeModernPdfs(Tables.documents(s, d), pageSize = 200)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(text, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(text, i*200 + 1, 200)) AS page_md5
             |FROM documents, unnest(range(0, CAST(ceil(length(text) / 200.0) AS INT))) AS t(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // PNG-predictor round trip (round 10, VERDICT r9 #2): the same
    // modern-PDF shape, but every stream (content, ObjStm, xref) is
    // /Predictor 12-coded — per-row filter bytes cycling
    // Up/Sub/Paeth/Average/None, the §7.4.4.4 layout virtually every
    // real PDF ≥ 1.5 writer emits for its xref stream (PDFBox handles
    // it inside Function.java:90-132). A decoder that skipped
    // de-prediction would hash-mismatch every page.
    "q_pdf_predictor" -> QueryDef(
      (s, d) => {
        val pdfs = PdfPipeline.synthesizeModernPdfs(Tables.documents(s, d),
          pageSize = 200, predictor = 12)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(text, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(text, i*200 + 1, 200)) AS page_md5
             |FROM documents, unnest(range(0, CAST(ceil(length(text) / 200.0) AS INT))) AS t(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // Composite-font (CJK) round trip (round 9, VERDICT r8 #4): the
    // document text gets deterministic CJK characters injected
    // (translate — same function both engines), is rendered to a REAL
    // Type0/Identity-H PDF whose content streams carry sequential
    // subset CODES (not code points) with a /ToUnicode CMap, and is
    // decoded back through font resolution + CMap mapping. A decoder
    // that skipped the CMap would hash-mismatch every row — this is
    // the gate on the path PDFBox covers for the reference's own
    // Japanese corpus (Function.java:90-132).
    "q_pdf_cjk" -> QueryDef(
      (s, d) => {
        val cjk = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeioust", "亜江意尾宇寿田").as("text"))
        val pdfs = PdfPipeline.synthesizeCidPdfs(cjk, pageSize = 200)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeioust', '亜江意尾宇寿田') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // EMBEDDED /Encoding CMap decode (round 14): mixed 1/2-byte codes —
    // ASCII shows as single bytes, the CJK substitutions as 2-byte codes
    // from 0x8140 (the RKSJ shape) — through the variable-width
    // tokenizer, the width-keyed ToUnicode and the codespace validation.
    // A decoder that pairs bytes blindly (the Identity assumption)
    // garbles every ASCII run, so the page-md5 hash certifies the whole
    // embedded-CMap read path on real bytes.
    "q_pdf_cmap" -> QueryDef(
      (s, d) => {
        val mixed = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "亜江意尾宇").as("text"))
        val pdfs = PdfPipeline.synthesizeCmapPdfs(mixed, pageSize = 200)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', '亜江意尾宇') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // PREDEFINED-CMap decode (round 15): the same mixed-text corpus, but
    // the synthesized Type0 font NAMES /90ms-RKSJ-H — no embedded
    // /Encoding stream, no /ToUnicode — so the content strings carry
    // real Shift-JIS bytes and the only way back to text is the engine's
    // built-in predefined-CMap table (the file shape that dominates real
    // Japanese corpora; PDFBox opens them via its bundled
    // cmap-resources, reference Function.java:90-132). The oracle is
    // byte-blind: it replays the TEXT formulas only, so a decoder that
    // mis-tokenizes Shift-JIS or mis-maps any code hash-mismatches.
    // Round 17: odd docs name /Ext-RKSJ-H — the other common Japanese
    // registration — whose decode must coincide with 90ms-RKSJ-H's, so
    // both carried names ride the same byte-blind oracle.
    "q_pdf_cmap_predef" -> QueryDef(
      (s, d) => {
        val mixed = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "亜江意尾宇").as("text"))
        val pdfs = PdfPipeline.synthesizeCmapPredefPdfs(mixed, pageSize = 200,
          altCmapName = Some("Ext-RKSJ-H"))
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', '亜江意尾宇') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // The CHINESE-locale predefined CMap (round 15): /GBK-EUC-H — GBK
    // byte codes under Adobe-GB1's codespaces, decoded through the
    // built-in JDK-GBK table. Same byte-blind oracle shape; a decoder
    // that mixed up the locale tables (or their codespaces) would
    // garble every substituted character.
    "q_pdf_cmap_gbk" -> QueryDef(
      (s, d) => {
        val mixed = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "中文数据检").as("text"))
        val pdfs = PdfPipeline.synthesizeCmapPredefPdfs(mixed, pageSize = 200,
          cmapName = "GBK-EUC-H")
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', '中文数据检') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // UTF16 predefined CMap decode (round 16): the same mixed corpus
    // plus a SUPPLEMENTARY-PLANE suffix (CJK Ext B 𠮷 U+20BB7 and 𠀋
    // U+2000B — 4-byte surrogate-pair codes no UCS2 form can carry),
    // named /UniJIS-UTF16-H — the shape modern Japanese office exports
    // write. Pages split by CODE POINTS on both sides, so the oracle's
    // substr() paging replays exactly; a decoder that tokenized
    // surrogate halves as two 2-byte codes (or split a pair across
    // pages) would hash-mismatch every affected page.
    "q_pdf_cmap_utf16" -> QueryDef(
      (s, d) => {
        val mixed = Tables.documents(s, d).select(col("doc_id"),
          concat(translate(col("text"), "aeiou", "亜江意尾宇"),
            lit(" 𠮷𠀋")).as("text"))
        val pdfs = PdfPipeline.synthesizeCmapPredefPdfs(mixed, pageSize = 200,
          cmapName = "UniJIS-UTF16-H")
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id,
             |        translate(text, 'aeiou', '亜江意尾宇') || ' 𠮷𠀋' AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // VERTICAL predefined CMap (round 16): the same corpus through
    // /90ms-RKSJ-V — the writing-mode alias of the round-15 horizontal
    // gate. Code→Unicode is writing-mode independent (a -V CMap differs
    // only in /WMode and rotated-glyph CID routing), so this carries
    // q_pdf_cmap_predef's oracle VERBATIM: the alias must be
    // results-invisible, the container-invariance convention.
    "q_pdf_cmap_vertical" -> QueryDef(
      (s, d) => {
        val mixed = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "亜江意尾宇").as("text"))
        val pdfs = PdfPipeline.synthesizeCmapPredefPdfs(mixed, pageSize = 200,
          cmapName = "90ms-RKSJ-V")
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', '亜江意尾宇') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // GLYPH-PROGRAM decode (round 16): the corpus rendered through a
    // SYMBOLIC simple TrueType subset font — NO /ToUnicode, NO
    // /Encoding, byte codes assigned by first appearance (private to
    // the font) — so the only route back to text is the embedded
    // /FontFile2 program's cmap: the (3,0) symbol subtable's
    // code→glyph leg inverted against the (3,1) Unicode subtable
    // (TrueTypeFont.symbolCodeToUnicode; PDFBox resolves this class
    // inside the reference's Function.java:90-132 — the last
    // fail-loud extraction class a real corpus hits at rate). The
    // oracle is byte-blind: a decoder that assumes Latin-1, skips the
    // program, or mis-inverts any glyph hash-mismatches every page.
    // Greek substitutions keep the text outside Latin-1 so a
    // pass-through decode can't even type-check as the same string.
    "q_pdf_fontprog" -> QueryDef(
      (s, d) => {
        val greeked = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "αβγδε").as("text"))
        val pdfs = PdfPipeline.synthesizeFontProgPdfs(greeked, pageSize = 200)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', 'αβγδε') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // CFF / Type1C glyph-program decode (round 16 extra): the SAME
    // subset-font shape as q_pdf_fontprog but the embedded program is a
    // COMPACT FONT FORMAT /FontFile3 — the other half of real subset
    // corpora (Type1-lineage fonts). The only route back to text is the
    // four-hop code→gid (embedded Encoding) → SID (charset) → name
    // (String INDEX) → Unicode derivation; the oracle is byte-blind and
    // shared with the TrueType gate, so the two programs must agree on
    // every page hash — a cross-FORMAT identity like progressive ==
    // baseline JPEG.
    "q_pdf_cff" -> QueryDef(
      (s, d) => {
        val greeked = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "αβγδε").as("text"))
        val pdfs = PdfPipeline.synthesizeFontProgPdfs(greeked, pageSize = 200,
          cff = true)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', 'αβγδε') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // OpenType-wrapped glyph-program decode (round 16 extra): the same
    // subset-font shape, but /FontFile3 /Subtype /OpenType — an 'OTTO'
    // sfnt wrapping CFF outlines, whose cmap the TrueType path reads
    // (outlines are irrelevant to extraction). The THIRD program format
    // under the SAME byte-blind oracle: TrueType, bare CFF and
    // OpenType-wrapped must all hash-agree on every page.
    "q_pdf_otf" -> QueryDef(
      (s, d) => {
        val greeked = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "αβγδε").as("text"))
        val pdfs = PdfPipeline.synthesizeFontProgPdfs(greeked, pageSize = 200,
          otto = true)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', 'αβγδε') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    // Type 1 (/FontFile) glyph-program decode (round 17): the FOURTH
    // program format under the SAME byte-blind oracle — the eexec-
    // encrypted PostScript dialect PDFBox decodes transparently inside
    // the reference's extraction loop (pre-2005 corpora are full of
    // them). The only route back to text is the clear-text builtin
    // /Encoding array plus the eexec-decrypted /CharStrings glyph
    // inventory (Type1Font): TrueType, bare CFF, OpenType-wrapped and
    // Type 1 must all hash-agree on every page, so a bug in any one
    // format breaks its gate against the shared oracle.
    "q_pdf_type1" -> QueryDef(
      (s, d) => {
        val greeked = Tables.documents(s, d).select(col("doc_id"),
          translate(col("text"), "aeiou", "αβγδε").as("text"))
        val pdfs = PdfPipeline.synthesizeFontProgPdfs(greeked, pageSize = 200,
          type1 = true)
        PdfPipeline.extractPagesPdf(pdfs)
          .select(col("doc_id"), col("page_no"),
            length(col("page_text")).cast("long").as("page_len"),
            md5(col("page_text")).as("page_md5"))
          .orderBy(col("doc_id"), col("page_no"))
      },
      Some("""SELECT doc_id, CAST(i + 1 AS BIGINT) AS page_no,
             |  CAST(length(substr(t, i*200 + 1, 200)) AS BIGINT) AS page_len,
             |  md5(substr(t, i*200 + 1, 200)) AS page_md5
             |FROM (SELECT doc_id, translate(text, 'aeiou', 'αβγδε') AS t
             |      FROM documents),
             |  unnest(range(0, CAST(ceil(length(t) / 200.0) AS INT))) AS u(i)
             |ORDER BY doc_id, page_no""".stripMargin)),

    "q_chunk_split" -> QueryDef(
      (s, d) => docsChunks(s, d)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(chunkCte(200, 60) + """
             |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             |  CAST(length(chunk) AS BIGINT) AS chunk_len, md5(chunk) AS chunk_md5
             |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Oracle-gated embedding: bag-of-tokens hashing trick with md5-derived
    // buckets/signs (cross-engine reproducible: hex→int via Spark conv /
    // DuckDB '0x' cast), L2-normalized, sparse (doc_id, bucket, val) rows.
    // The votes are computed ROW-LOCAL by a native digest expression
    // (Md5EmbedExpr) — no token explode, no shuffle at all; the DuckDB
    // oracle replays the explode+groupBy formulation, which is
    // bit-identical because vote sums are integers. The 16-element HOF
    // norm runs once per doc over a tiny array (cold).
    // Chunk→document pooling: 10 consecutive vectors play a document's
    // chunks; elementwise DECIMAL sum-pool is order-independent exact.
    // The FINAL projection is a rounded DOUBLE (not DECIMAL): the sum
    // stays decimal internally for order-independence, but DECIMAL
    // output columns serialize differently across engines in the driver
    // hasher.  The round runs IN DECIMAL SPACE (exact, half-away ties
    // identical on both engines) and only then casts to DOUBLE —
    // rounding after the cast is tie-unstable at the 5th digit.
    // The re-assembled vector form is spec-gated (PipelineSpec).
    "q_pool_embeddings" -> QueryDef(
      (s, d) => graft.pipeline.Embedder.poolToDocuments(
          Tables.embeddings(s, d).select(expr("vec_id div 10").as("doc_id"),
            col("embedding")), "doc_id")
        .select(col("doc_id"), col("dim").cast("long").as("dim"),
          round(col("pooled"), 4).cast("double").as("pooled"))
        .orderBy(col("doc_id"), col("dim")),
      Some("""SELECT vec_id // 10 AS doc_id,
             |  CAST(dim - 1 AS BIGINT) AS dim,
             |  CAST(round(sum(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))), 4) AS DOUBLE) AS pooled
             |FROM (SELECT vec_id, unnest(embedding) AS v,
             |        generate_subscripts(embedding, 1) AS dim FROM embeddings)
             |GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin)),

    "q_embed_md5" -> QueryDef(
      (s, d) => {
        val v = graft.functions.EmbedExpressions.md5EmbedVotes(
          TextFunctions.canonicalText(col("text")), 16)
        val n = sqrt(expr(
          "aggregate(__v, cast(0.0 as double), (acc, x) -> acc + coalesce(x * x, cast(0.0 as double)))"))
        Tables.documents(s, d)
          .select(col("doc_id"), v.as("__v"))
          .select(col("doc_id"), n.as("__n"), posexplode(col("__v")).as(Seq("bucket", "v")))
          .where(col("v").isNotNull && col("__n") > 0)
          .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
            round(col("v") / col("__n"), 4).as("val"))
          .orderBy(col("doc_id"), col("bucket"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
              |  FROM (SELECT doc_id, unnest(string_split($canon, ' ')) AS t FROM documents)),
              |votes AS (
              |  SELECT doc_id, h % 16 AS b,
              |    sum(CASE WHEN (h // 16) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
              |  FROM toks GROUP BY 1, 2),
              |norms AS (SELECT doc_id, sqrt(sum(v*v)) AS n FROM votes GROUP BY 1)
              |SELECT doc_id, CAST(b AS BIGINT) AS bucket, round(v / n, 4) AS val
              |FROM votes JOIN norms USING (doc_id) WHERE n > 0
              |ORDER BY doc_id, bucket""".stripMargin)),

    // CAPSTONE: the reference's entire serving path, end to end and
    // oracle-replayable — normalize → chunk → embed (md5 featurizer) →
    // cosine top-5 "most similar chunks to chunk 0". Every stage is the
    // cross-engine-reproducible variant, so the DuckDB oracle replays
    // PDF-pipeline + vector search as one SQL pipeline.
    // Oracle = the serve CTE's dense-grid `hits` (unreferenced CTEs after
    // `hits` are never evaluated by DuckDB).
    "q_e2e_search" -> QueryDef(
      (s, d) => e2eHits(s, d).select(col("cid"), col("cos")),
      Some(serveCte("spark") + """
             |SELECT cid, cos FROM hits ORDER BY cos DESC, cid""".stripMargin)),

    // Per-hit LLM summary stage (SSEOpenAIController.java:142-198), chat
    // model stubbed as a deterministic KWIC extractive summary — exactly
    // what the reference's prompt asks the model for. Column formulation
    // (codegen'd regexp); the batched external-call shape is
    // Summarizer.summarize, proven equivalent in SummarizerSpec.
    "q_summarize" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          Summarizer.snippetCount(col("text"), "spark").cast("long").as("n_snippets"),
          Summarizer.extractiveSummary(col("text"), "spark").as("summary"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CAST(len(regexp_extract_all($canon, '(\\S+ ){0,4}spark( \\S+){0,4}')) AS BIGINT) AS n_snippets,
              |  substr(coalesce(array_to_string(regexp_extract_all($canon, '(\\S+ ){0,4}spark( \\S+){0,4}'), ' ... '), ''), 1, 300) AS summary
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // The COMPLETE serve loop — the reference's last unported stage:
    // normalize → chunk → embed → cosine top-5 → per-hit blob link +
    // summary prompt + deterministic summary (the whole
    // requestOpenAIToGetSummaryAndSendMessageToClient path as one plan).
    "q_e2e_serve" -> QueryDef(
      (s, d) => servedHits(s, d, "spark")
        .orderBy(col("cos").desc, col("cid")),
      Some(serveCte("spark") + """
             |SELECT cid, cos, filename, pagenumber, id, url, prompt_md5, summary
             |FROM served ORDER BY cos DESC, cid""".stripMargin)),

    // The SSE event stream those hits produce: create-area → create-link →
    // add-message JSON per hit, in the reference's emission order
    // (SSEOpenAIController.java:188-247 + entities/Create*InHTML.java).
    "q_serve_events" -> QueryDef(
      (s, d) => Summarizer.serveEvents(servedHits(s, d, "spark"))
        .select(col("cid"), col("cos"), col("ev_seq"), col("payload"))
        .orderBy(col("cos").desc, col("cid"), col("ev_seq")),
      Some(serveCte("spark") + """
             |-- string fields JSON-escaped (backslash then quote),
             |-- mirroring Summarizer.jsonEsc
             |SELECT cid, cos, CAST(0 AS BIGINT) AS ev_seq,
             |  '{"type":"create","id":"' || replace(replace(id, '\', '\\'), '"', '\"') || '"}' AS payload FROM served
             |UNION ALL
             |SELECT cid, cos, 1,
             |  '{"type":"createLink","id":"' || replace(replace(id, '\', '\\'), '"', '\"') || '","link":"' || replace(replace(url, '\', '\\'), '"', '\"') ||
             |  '","pageNumber":' || pagenumber || ',"fileName":"' || replace(replace(filename, '\', '\\'), '"', '\"') || '"}' FROM served
             |UNION ALL
             |SELECT cid, cos, 2,
             |  '{"type":"addMessage","id":"' || replace(replace(id, '\', '\\'), '"', '\"') || '","content":"' || replace(replace(summary, '\', '\\'), '"', '\"') || '"}' FROM served
             |ORDER BY cos DESC, cid, ev_seq""".stripMargin)),

    // Token-delta SSE replay: each hit's summary re-emitted as fixed
    // 16-codepoint addMessage deltas (spaces masked
    // <SPECIAL_WHITE_SPACE>, the reference's client-side marker) in the
    // reference emission order, closed by a complete event carrying the
    // lossless concatenation. Pure-column ⇒ full DuckDB replay.
    "q_serve_deltas" -> QueryDef(
      (s, d) => Summarizer.serveEventsDelta(servedHits(s, d, "spark"))
        .select(col("cid"), col("cos"), col("ev_seq"), col("payload"))
        .orderBy(col("cos").desc, col("cid"), col("ev_seq")),
      Some(serveCte("spark") + """
             |SELECT cid, cos, CAST(0 AS BIGINT) AS ev_seq,
             |  '{"type":"create","id":"' || replace(replace(id, '\', '\\'), '"', '\"') || '"}' AS payload FROM served
             |UNION ALL
             |SELECT cid, cos, 1,
             |  '{"type":"createLink","id":"' || replace(replace(id, '\', '\\'), '"', '\"') || '","link":"' || replace(replace(url, '\', '\\'), '"', '\"') ||
             |  '","pageNumber":' || pagenumber || ',"fileName":"' || replace(replace(filename, '\', '\\'), '"', '\"') || '"}' FROM served
             |UNION ALL
             |SELECT cid, cos, 2 + i,
             |  '{"type":"addMessage","id":"' || replace(replace(id, '\', '\\'), '"', '\"') || '","content":"' ||
             |  replace(replace(replace(substr(summary, CAST(i * 16 + 1 AS INT), 16), ' ', '<SPECIAL_WHITE_SPACE>'), '\', '\\'), '"', '\"') || '"}'
             |FROM served, unnest(range(0, CAST(ceil(length(summary) / 16.0) AS BIGINT))) AS t(i)
             |UNION ALL
             |SELECT cid, cos, 2 + CAST(ceil(length(summary) / 16.0) AS BIGINT),
             |  '{"type":"complete","id":"' || replace(replace(id, '\', '\\'), '"', '\"') || '","content":"' || replace(replace(summary, '\', '\\'), '"', '\"') || '"}' FROM served
             |ORDER BY cos DESC, cid, ev_seq""".stripMargin)),

    // Embedding stub: model call not SQL-expressible → rows-only gate;
    // structural invariants (dim, unit norm) checked in specs.
    "q_embed_docs" -> QueryDef(
      (s, d) => {
        val emb = Embedder.embed(
          Tables.documents(s, d).select(col("doc_id"), col("text")), textCol = "text")
        emb.select(col("doc_id"), size(col("embedding")).cast("long").as("dim"),
            round(VectorFunctions.norm(col("embedding")), 4).as("norm"))
          .orderBy(col("doc_id"))
      },
      None),

    // Status WRITE-BACK composition: one pipeline pass emits the store
    // rows AND the per-stage transition log (Function.java:135-211's
    // interleaved updateStatus calls). The oracle replays the injected
    // outcome function and the full emission order.
    "q_pipeline_transitions" -> QueryDef(
      (s, d) => PdfPipeline.runWithStatus(Tables.documents(s, d), maxLen = 200, lookback = 60)
        ._2.orderBy(col("id"), col("seq")),
      Some(chunkCte(200, 60) + """,
             |st0 AS (
             |  SELECT md5(d.source || '_' || c.doc_id || '.pdf' || '#' || CAST(c.chunk_idx + 1 AS BIGINT)) AS id,
             |    d.source || '_' || c.doc_id || '.pdf' AS filename,
             |    CAST(c.chunk_idx + 1 AS BIGINT) AS pagenumber,
             |    (c.doc_id * 7 + c.chunk_idx) % 23 AS phase
             |  FROM chunks c JOIN documents d USING (doc_id)),
             |tr AS (
             |  SELECT id, filename, pagenumber,
             |    CASE WHEN phase = 0 THEN ['page_separate_finished','finish_oai_invocation','failed_db_insertion']
             |         WHEN phase = 1 THEN ['page_separate_finished','retry_oai_invocation','retry_oai_invocation','retry_oai_invocation']
             |         WHEN phase = 2 THEN ['page_separate_finished','finish_oai_invocation']
             |         WHEN phase = 3 THEN ['page_separate_finished','retry_oai_invocation','finish_oai_invocation','finish_db_insertion','completed']
             |         ELSE ['page_separate_finished','finish_oai_invocation','finish_db_insertion','completed'] END AS log
             |  FROM st0)
             |SELECT id, filename, pagenumber, CAST(i - 1 AS BIGINT) AS seq, log[i] AS status
             |FROM tr, unnest(range(1, len(log)+1)) AS s(i)
             |ORDER BY id, seq""".stripMargin)),

    // The store rows the same pass produced: exactly the chunks whose log
    // reaches finish_db_insertion (embedding values come from the stubbed
    // model → identity columns oracle-checked, vector checked in specs).
    "q_pipeline_store" -> QueryDef(
      (s, d) => PdfPipeline.runWithStatus(Tables.documents(s, d), maxLen = 200, lookback = 60)
        ._1.select(col("id"), col("filename"), col("pagenumber"),
          md5(col("origntext")).as("origntext_md5"))
        .orderBy(col("id")),
      Some(chunkCte(200, 60) + """,
             |st0 AS (
             |  SELECT md5(d.source || '_' || c.doc_id || '.pdf' || '#' || CAST(c.chunk_idx + 1 AS BIGINT)) AS id,
             |    d.source || '_' || c.doc_id || '.pdf' AS filename,
             |    CAST(c.chunk_idx + 1 AS BIGINT) AS pagenumber,
             |    (c.doc_id * 7 + c.chunk_idx) % 23 AS phase, c.chunk AS chunk
             |  FROM chunks c JOIN documents d USING (doc_id))
             |SELECT id, filename, pagenumber, md5(chunk) AS origntext_md5
             |FROM st0 WHERE phase NOT IN (0, 1, 2)
             |ORDER BY id""".stripMargin)),

    "q_status_lifecycle" -> QueryDef(
      (s, d) => PdfPipeline.statusTable(docsChunks(s, d))
        .groupBy(col("status")).agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("status")),
      Some(statusCte(200, 60) + """
             |SELECT status, count(*) AS n FROM st GROUP BY status ORDER BY status""".stripMargin)),

    "q_status_registered" -> QueryDef(
      (s, d) => PdfPipeline.registered(PdfPipeline.statusTable(docsChunks(s, d)))
        .select(col("id"), col("filename"), col("pagenumber"), col("status")),
      Some(statusCte(200, 60) + """
             |SELECT id, filename, pagenumber, status FROM st
             |WHERE status = 'completed' ORDER BY filename, pagenumber""".stripMargin)),

    // Cosmos getAllDocuments (`SELECT * FROM c`,
    // BlobUploadDetector/src/main/java/com/yoshio3/CosmosDBUtil.java:77-93);
    // ordered by id here for determinism.
    "q_status_all" -> QueryDef(
      (s, d) => PdfPipeline.statusTable(docsChunks(s, d))
        .select(col("id"), col("filename"), col("pagenumber"), col("status"))
        .orderBy(col("id")),
      Some(statusCte(200, 60) + """
             |SELECT id, filename, pagenumber, status FROM st ORDER BY id""".stripMargin)),

    "q_status_failed" -> QueryDef(
      (s, d) => PdfPipeline.failed(PdfPipeline.statusTable(docsChunks(s, d)))
        .select(col("id"), col("filename"), col("pagenumber"), col("status")),
      Some(statusCte(200, 60) + """
             |SELECT id, filename, pagenumber, status FROM st
             |WHERE status != 'completed' ORDER BY filename, pagenumber""".stripMargin)),

    "q_prompt_build" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          PromptFunctions.summaryPrompt(TextFunctions.normalizeText(col("text")),
            lit("vector search")).as("prompt"))
        .orderBy(col("doc_id")),
      Some("SELECT doc_id, '" + "\"\"\" ' || regexp_replace(replace(text, chr(10), ' '), '[\\s\\x0b]{2,}', ' ', 'g') || ' \"\"\" ' || chr(10) || chr(10) || '" +
        "こちらのドキュメントの中から \"vector search\" に関して説明している箇所を抜き出してください。' AS prompt " +
        "FROM documents ORDER BY doc_id")),

    "q_doc_link" -> QueryDef(
      (s, d) => PdfPipeline.registered(PdfPipeline.statusTable(docsChunks(s, d)))
        .select(col("filename"), col("pagenumber"),
          PromptFunctions.blobPageUrl(lit("documentsearch1"), lit("pdfs"),
            col("filename"), col("pagenumber")).as("url")),
      Some(statusCte(200, 60) + """
             |SELECT filename, pagenumber,
             |  'https://documentsearch1.blob.core.windows.net/pdfs/' || filename || '#page=' || pagenumber AS url
             |FROM st WHERE status = 'completed' ORDER BY filename, pagenumber""".stripMargin)),

    // ── dedup / similarity family ────────────────────────────────────
    "q_shingles" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFunctions.wordShingles(col("text"))).cast("long").as("n_shingles"),
          md5(concat_ws("|", array_sort(TextFunctions.wordShingles(col("text"))))).as("sh_hash"))
        .orderBy(col("doc_id")),
      Some(s"""WITH w AS (SELECT doc_id, string_split($canon, ' ') AS w FROM documents),
              |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
              |  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
              |  ELSE [array_to_string(w, ' ')] END) AS sh FROM w)
              |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
              |  md5(array_to_string(list_sort(sh), '|')) AS sh_hash
              |FROM sh ORDER BY doc_id""".stripMargin)),

    "q_minhash_sig" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.wordShingles(col("text")).as("__sh"))
        .select(col("doc_id"),
          md5(array_join(Dedup.minhashSignature(col("__sh"), 16), "|")).as("sig_hash"))
        .orderBy(col("doc_id")),
      Some(s"""WITH w AS (SELECT doc_id, string_split($canon, ' ') AS w FROM documents),
              |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
              |  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
              |  ELSE [array_to_string(w, ' ')] END) AS sh FROM w)
              |SELECT doc_id,
              |  md5(array_to_string([list_min([md5(s || '#' || j) for s in sh]) for j in range(0, 16)], '|')) AS sig_hash
              |FROM sh ORDER BY doc_id""".stripMargin)),

    "q_dedup_minhash_lsh" -> QueryDef(
      (s, d) => Dedup.minhashLsh(Tables.documents(s, d), threshold = 0.8)
        .orderBy(col("id1"), col("id2")),
      Some(lshCte + """
             |SELECT id1, id2, jaccard FROM ver WHERE jaccard >= 0.8 ORDER BY id1, id2""".stripMargin)),

    "q_ngram_jaccard" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.jaccardVerify(Dedup.candidatePairs(docs), docs)
          .where(col("jaccard") >= 0.3)
          .orderBy(col("id1"), col("id2"))
      },
      Some(lshCte + """
             |SELECT id1, id2, jaccard FROM ver WHERE jaccard >= 0.3 ORDER BY id1, id2""".stripMargin)),

    // EXACT set-similarity self-join via prefix filtering (AllPairs):
    // complete recall at the threshold, where minhashLsh's banding is
    // probabilistic — the oracle is the TRUE all-pairs Jaccard ≥ t,
    // which no LSH-replay CTE could certify.
    "q_jaccard_join" -> QueryDef(
      (s, d) => Dedup.prefixJaccardJoin(Tables.documents(s, d), threshold = 0.8)
        .orderBy(col("id1"), col("id2")),
      Some(s"""WITH w AS (
             |  SELECT doc_id, string_split($canon, ' ') AS w FROM documents
             |), sh AS (
             |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
             |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
             |    ELSE [array_to_string(w, ' ')] END) AS sh FROM w
             |), t AS (
             |  SELECT doc_id, len(sh)::DOUBLE AS l, unnest(sh) AS g FROM sh
             |), i AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::DOUBLE AS n,
             |    max(a.l) AS la, max(b.l) AS lb
             |  FROM t a JOIN t b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |-- EXACT threshold in scaled-integer space, mirroring the
             |-- operator's i*10^6 >= T*u verify (a rounded gate would
             |-- diverge for borderline pairs at the 4th decimal)
             |SELECT id1, id2, round(n / (la + lb - n), 4) AS jaccard FROM i
             |WHERE CAST(n AS BIGINT) * 1000000 >= 800000 * CAST(la + lb - n AS BIGINT)
             |ORDER BY id1, id2""".stripMargin)),

    // apply the dedup: survivors after greedy drop of every pair's
    // higher id (keep-lowest-id policy)
    "q_dedup_apply" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val losers = Dedup.minhashLsh(docs, threshold = 0.8)
          .select(col("id2").as("doc_id")).distinct()
        docs.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(lshCte + """
             |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
             |WHERE doc_id NOT IN (SELECT id2 FROM ver WHERE jaccard >= 0.8)
             |ORDER BY doc_id""".stripMargin)),

    // Embedding near-dup, LSH-blocked SCALE path (the registered/benched
    // query — the exhaustive O(n²) form survives only as DedupSpec's
    // ground truth). Input plants re-encoded duplicates (corpus ∪ id+100k
    // copy — the re-crawled-document case): identical vectors land in
    // identical buckets in every table, so LSH recall on the qualifying
    // pairs is exactly 1 and the exhaustive DuckDB oracle stays hash-exact.
    // The 0.9999 threshold admits only those pairs (random 64-d vectors
    // never reach cos 0.9999 naturally).
    // Near-dup CLUSTERING: connected components (union-find on the
    // driver for a pair set this small) over the LSH pair graph (id, component=min id of the cluster) —
    // the canonical-group step after pairwise dedup. Oracle = recursive
    // transitive closure + min.
    "q_dedup_components" -> QueryDef(
      (s, d) => Dedup.components(Dedup.minhashLsh(Tables.documents(s, d), threshold = 0.8))
        .orderBy(col("id")),
      Some(lshCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + """,
             |p AS (SELECT id1, id2 FROM ver WHERE jaccard >= 0.8),
             |e AS (SELECT id1 AS src, id2 AS dst FROM p UNION SELECT id2, id1 FROM p),
             |reach(id, label) AS (
             |  SELECT src, src FROM e
             |  UNION
             |  SELECT e.src, reach.label FROM e JOIN reach ON reach.id = e.dst)
             |SELECT id, min(label) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // Leakage-free split: the split key is the near-dup CLUSTER
    // representative (component min id; unclustered docs represent
    // themselves), so no cluster straddles train/test. Oracle replays
    // LSH pairs → recursive components → the md5 hash gate on the
    // representative.
    "q_split_leakfree" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"))
        operators.Sampling.leakFreeSplit(docs,
            Dedup.minhashLsh(Tables.documents(s, d), threshold = 0.8),
            testPercent = 20, salt = "leak-split")
          .orderBy(col("doc_id"))
      },
      Some(lshCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + """,
             |p AS (SELECT id1, id2 FROM ver WHERE jaccard >= 0.8),
             |e AS (SELECT id1 AS src, id2 AS dst FROM p UNION SELECT id2, id1 FROM p),
             |reach(id, label) AS (
             |  SELECT src, src FROM e
             |  UNION
             |  SELECT e.src, reach.label FROM e JOIN reach ON reach.id = e.dst),
             |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
             |rep AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
             |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
             |SELECT doc_id,
             |  CASE WHEN ('0x' || substr(md5('leak-split' || CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 100 < 20
             |       THEN 'test' ELSE 'train' END AS split
             |FROM rep ORDER BY doc_id""".stripMargin)),

    "q_dedup_embedding" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val dup = e.unionAll(e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        Dedup.embeddingNearDupLsh(dup, threshold = 0.9999, nbits = 16, tables = 4)
          .orderBy(col("id1"), col("id2"))
      },
      Some("""WITH input AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings)
             |SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
             |FROM input a JOIN input b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.9999
             |ORDER BY id1, id2""".stripMargin)),

    "q_knn_batch" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
        Knn.topKBatch(e, q, Knn.L2, k = 3).orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 8),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    round(list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
             |  FROM embeddings e CROSS JOIN q),
             |r AS (SELECT qid, vec_id, dist,
             |  row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM scored)
             |SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3
             |ORDER BY qid, rn""".stripMargin)),

    // ── text analysis ────────────────────────────────────────────────
    // Vocabulary building: corpus-wide token frequencies (the precursor
    // to tokenizer training) — explode + one groupBy, map-side combine.
    "q_vocab" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(explode(split(TextFunctions.canonicalText(col("text")), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).cast("long").as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(30),
      Some(s"""SELECT token, count(*) AS freq
              |FROM (SELECT unnest(string_split($canon, ' ')) AS token FROM documents)
              |GROUP BY token ORDER BY freq DESC, token LIMIT 30""".stripMargin)),

    // PII redaction over docs with injected (deterministic) PII so the
    // patterns actually fire on the synthetic corpus
    "q_pii_redact" -> QueryDef(
      (s, d) => {
        val dirty = concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call 555-123-4567 see https://example.com/a?b=1 end"))
        Tables.documents(s, d)
          .select(col("doc_id"), TextFunctions.redactPii(dirty).as("__r"))
          .select(col("doc_id"), md5(col("__r")).as("redacted_md5"),
            size(regexp_extract_all(col("__r"), lit("<(EMAIL|PHONE|URL)>"), lit(0)))
              .cast("long").as("n_redactions"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH dirty AS (
             |  SELECT doc_id, text || ' contact user' || doc_id ||
             |    '@example.com or call 555-123-4567 see https://example.com/a?b=1 end' AS t
             |  FROM documents),
             |r AS (SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(t,
             |    'https?://[^ ]+', '<URL>', 'g'),
             |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |    '\b[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS rt
             |  FROM dirty)
             |SELECT doc_id, md5(rt) AS redacted_md5,
             |  CAST(len(regexp_extract_all(rt, '<(EMAIL|PHONE|URL)>')) AS BIGINT) AS n_redactions
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition: duplicate word-3gram fraction
    "q_repetition" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.duplicateShingleRatio(col("text")).as("dup_ratio"))
        .orderBy(col("doc_id")),
      Some(s"""WITH w AS (SELECT doc_id, string_split($canon, ' ') AS w FROM documents),
              |sh AS (SELECT doc_id, len(w) AS nw, len(list_distinct(CASE WHEN len(w) >= 3
              |  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
              |  ELSE [array_to_string(w, ' ')] END)) AS nd FROM w)
              |SELECT doc_id, round(1.0 - nd::DOUBLE / greatest(nw - 2, 1), 6) AS dup_ratio
              |FROM sh ORDER BY doc_id""".stripMargin)),

    "q_lang_id" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), LangFunctions.langId(col("text")).as("pred_lang"),
          col("lang"),
          when(LangFunctions.langId(col("text")) === col("lang"), 1L).otherwise(0L).as("correct"))
        .orderBy(col("doc_id")),
      Some(s"""WITH h AS (SELECT doc_id, lang,
              |  len(regexp_extract_all($canon, '\\b(the|and|of|to|in|is|for|with)\\b')) AS en,
              |  len(regexp_extract_all($canon, '\\b(der|die|das|und|ist|nicht|mit|ein)\\b')) AS de,
              |  len(regexp_extract_all($canon, '\\b(el|la|los|las|que|es|un|una|para)\\b')) AS es,
              |  len(regexp_extract_all($canon, '\\b(le|la|les|des|est|un|une|dans|pour)\\b')) AS fr,
              |  len(regexp_extract_all($canon, '(的|是|在|了|和|有)')) AS zh
              |FROM documents),
              |p AS (SELECT doc_id, lang,
              |  CASE WHEN zh > 0 THEN 'zh'
              |       WHEN en >= de AND en >= es AND en >= fr THEN 'en'
              |       WHEN de >= es AND de >= fr THEN 'de'
              |       WHEN es >= fr THEN 'es'
              |       ELSE 'fr' END AS pred_lang
              |FROM h)
              |SELECT doc_id, pred_lang, lang,
              |  CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS BIGINT) AS correct
              |FROM p ORDER BY doc_id""".stripMargin)),

    "q_quality_score" -> QueryDef(
      (s, d) => {
        val c = col("text")
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextFunctions.wsTokenCount(c).cast("long").as("n_words"),
            // nullif guards: Spark 0/0 → NULL, DuckDB 0/0 → NaN; with a
            // NULL divisor both engines agree on NULL for empty text
            round(LangFunctions.punctCount(c).cast("double")
              / nullif(length(TextFunctions.canonicalText(c)), lit(0)), 6).as("punct_ratio"),
            round(TextFunctions.stopwordHits(c, LangFunctions.EnStop).cast("double")
              / nullif(TextFunctions.wsTokenCount(c), lit(0)), 6).as("stop_ratio"),
            LangFunctions.qualityScore(c).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH f AS (SELECT doc_id,
              |  len(string_split($canon, ' ')) AS words,
              |  length($canon) AS chars,
              |  len(regexp_extract_all($canon, '[.,;:!?。！？；]')) AS punct,
              |  len(regexp_extract_all($canon, '\\b(the|and|of|to|in|is|for|with)\\b')) AS stop
              |FROM documents)
              |SELECT doc_id, CAST(words AS BIGINT) AS n_words,
              |  round(punct::DOUBLE / nullif(chars, 0), 6) AS punct_ratio,
              |  round(stop::DOUBLE / nullif(words, 0), 6) AS stop_ratio,
              |  round((CASE WHEN words >= 20 AND words <= 1000 THEN 0.4 ELSE 0.0 END)
              |      + (CASE WHEN stop::DOUBLE / words >= 0.05 THEN 0.3 ELSE 0.0 END)
              |      + (CASE WHEN punct::DOUBLE / chars <= 0.1 THEN 0.3 ELSE 0.0 END), 1) AS quality
              |FROM f ORDER BY doc_id""".stripMargin))
  )
}
