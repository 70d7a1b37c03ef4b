package graft

import org.apache.spark.sql.functions._
import graft.Queries.QueryDef
import graft.operators.{BloomJoin, Bpe, Curation}

/** Corpus-curation + join-pruning query gates (round 3): cross-document
  * boilerplate detection, per-domain quota caps, the deterministic
  * training-order shuffle, and Bloom-pruned joins. Every query here has a
  * DuckDB oracle; the Bloom oracle is the PLAIN join — pruning must be
  * invisible in the result.
  */
object QueriesCuration {

  private val canon =
    """lower(trim(regexp_replace(replace(text, chr(10), ' '), '[\s\x0b]{2,}', ' ', 'g')))"""

  /** DuckDB replay of wordShingles(text, 2) → per-doc distinct bigram CTE
    * (same construction as QueriesPipeline's shingle oracles), plus the
    * rate-threshold boilerplate set (df ≥ ceil(6% of corpus)). */
  private val ngramCte =
    s"""WITH w AS (SELECT doc_id, string_split($canon, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 2
       |  THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
       |  ELSE [array_to_string(w, ' ')] END) AS sh FROM w),
       |g AS (SELECT doc_id, unnest(sh) AS ngram FROM sh),
       |bp AS (SELECT ngram FROM g GROUP BY ngram
       |  HAVING count(*) >= ceil(0.06 * (SELECT count(*) FROM documents)))""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // ── cross-document boilerplate: n-gram document frequency ────────
    "q_boilerplate" -> QueryDef(
      (s, d) => Curation.boilerplateRatio(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some(ngramCte + """
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |  CAST(count(bp.ngram) AS BIGINT) AS n_boiler,
        |  round(count(bp.ngram)::DOUBLE / count(*), 4) AS bp_ratio
        |FROM g LEFT JOIN bp ON g.ngram = bp.ngram
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    "q_boilerplate_filter" -> QueryDef(
      (s, d) => Curation.filterBoilerplate(Tables.documents(s, d), maxRatio = 0.4)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id")),
      Some(ngramCte + """
        |, r AS (SELECT g.doc_id, count(bp.ngram)::DOUBLE / count(*) AS ratio
        |  FROM g LEFT JOIN bp ON g.ngram = bp.ngram GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
        |FROM documents d JOIN r ON d.doc_id = r.doc_id
        |WHERE round(r.ratio, 4) <= 0.4 ORDER BY d.doc_id""".stripMargin)),

    // ── URL canonicalization (round 19 — the crawl-dedup stage in
    // front of URL-level exact dedup and per-domain capping): RFC 3986
    // §6 syntax normalization as a NATIVE Catalyst expression (also on
    // the SQL surface as url_canonical). Five URL shapes are built by
    // formula — case-mangled scheme/host, default and explicit ports,
    // dot segments, unreserved %7E/%41 decodes, reserved %2F kept with
    // uppercased hex, fragments, userinfo, empty paths, doubled
    // slashes — and the oracle replays the EXPECTED canonical string
    // from the same formulas without ever running the canonicalizer:
    // a case slip, a mis-popped dot segment or a decoded reserved
    // octet breaks the hash.
    "q_url_canonical" -> QueryDef(
      (s, d) => {
        val raw = expr("""CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN concat('HTTP://ExAmPle', doc_id % 7, '.COM:80/a/./b', doc_id, '/../c%7e', doc_id)
          WHEN 1 THEN concat('https://Example', doc_id % 7, '.com:443/p/q', doc_id, '?x=%3a', doc_id, '&y=2#frag', doc_id)
          WHEN 2 THEN concat('http://host', doc_id % 7, '.org')
          WHEN 3 THEN concat('https://u', doc_id, '@Host', doc_id % 7, '.NET:8443/%41b%2Fc', doc_id)
          ELSE concat('http://www.site', doc_id % 7, '.com/a//b', doc_id, '/.')
          END""")
        Tables.documents(s, d)
          .select(col("doc_id"), raw.as("raw_url"))
          .select(col("doc_id"),
            graft.functions.UrlCanonicalExpr.column(col("raw_url")).as("canonical"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE CAST(doc_id % 5 AS INT)
             |    WHEN 0 THEN concat('http://example', doc_id % 7, '.com/a/c~', doc_id)
             |    WHEN 1 THEN concat('https://example', doc_id % 7, '.com/p/q', doc_id, '?x=%3A', doc_id, '&y=2')
             |    WHEN 2 THEN concat('http://host', doc_id % 7, '.org/')
             |    WHEN 3 THEN concat('https://u', doc_id, '@host', doc_id % 7, '.net:8443/Ab%2Fc', doc_id)
             |    ELSE concat('http://www.site', doc_id % 7, '.com/a//b', doc_id, '/')
             |  END AS canonical
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── robots.txt compliance gate (round 19): RFC 9309 evaluation as
    // a native expression (robots_allowed on SQL too). The RULE SET is
    // constant — a blanket-disallow graftbot group plus a '*' group
    // exercising longest-match, allow-precedence, '*' wildcards and
    // the '$' anchor — while the tested (agent, path) pair and the
    // file's COSMETICS (comments, blank lines, field case, unknown
    // fields) rotate by id, so the oracle is a pure CASE on id classes
    // and parse robustness is results-invisible. A wrong longest-match
    // tiebreak, a broken wildcard or a group-selection slip flips
    // decisions and breaks the hash.
    "q_robots" -> QueryDef(
      (s, d) => {
        val robots = expr("""CASE WHEN doc_id % 2 = 0 THEN
            concat('# graft crawl policy\n', 'User-agent: graftbot\n',
              'Disallow: /\n', '\n', 'User-agent: *\n',
              'Crawl-delay: 3\n', 'Disallow: /private\n',
              'Allow: /private/pub\n', 'Disallow: /cgi*bin\n',
              'Disallow: /end$\n')
          ELSE
            concat('USER-AGENT: graftbot\n', 'disallow: /\n',
              'User-Agent: *\n', 'Disallow: /private # hands off\n',
              'ALLOW: /private/pub\n', 'Disallow: /cgi*bin\n',
              'Sitemap: https://x.test/s.xml\n', 'Disallow: /end$\n')
          END""")
        // agent by id%2, path by (id/2)%6 — INDEPENDENT axes (round 20,
        // ADVICE r19: path-by-id%6 under agent-by-id%2 left the
        // '/cgi*bin' wildcard and '/end$' anchor unreachable at the
        // decision level — every odd-id path class now evaluates under
        // the '*' group, so a broken wildcard or anchor flips rows)
        val agent = expr(
          "CASE WHEN doc_id % 2 = 0 THEN 'GraftBot/1.0' ELSE 'crawler9000' END")
        val path = expr("""CASE CAST((doc_id DIV 2) % 6 AS INT)
          WHEN 0 THEN '/private/x' WHEN 1 THEN '/private/pub/y'
          WHEN 2 THEN '/cgi-data/bin' WHEN 3 THEN '/end'
          WHEN 4 THEN concat('/end', doc_id) ELSE '/other' END""")
        Tables.documents(s, d)
          .select(col("doc_id"), agent.as("agent"), path.as("path"),
            graft.functions.RobotsAllowedExpr.column(robots, agent, path)
              .as("allowed"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'GraftBot/1.0'
             |       ELSE 'crawler9000' END AS agent,
             |  CASE CAST((doc_id // 2) % 6 AS INT)
             |    WHEN 0 THEN '/private/x' WHEN 1 THEN '/private/pub/y'
             |    WHEN 2 THEN '/cgi-data/bin' WHEN 3 THEN '/end'
             |    WHEN 4 THEN concat('/end', doc_id) ELSE '/other' END AS path,
             |  (doc_id % 2 = 1 AND (doc_id // 2) % 6 IN (1, 4, 5)) AS allowed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── CRAWL-CURATION CAPSTONE (round 20, VERDICT r19 #7): the real
    // ingest-edge path END-TO-END in one oracle-gated pipeline — WARC
    // records (a crawl plus its RE-CRAWLED copy at id+100000) through
    // record framing / digest verification / transfer + content
    // decoding / charset resolution / content-type gating, the target
    // URIs re-messied (HTTPS://Example.ORG:443) and RFC 3986
    // canonicalized, an RFC 9309 robots gate whose '*' group blocks
    // the binary (.pdf$ wildcard-anchor) and plain-text
    // (/doc/*/plain.txt wildcard) responses and allows /doc/, then
    // EXACT DEDUP across the two crawls (min-doc_id canonical,
    // min_by single-shuffle). The oracle replays text + markers from
    // the documents table, the canonical URLs from the id formula, and
    // the dedup groups generically — a slip in ANY stage (a leaked
    // chunk header, a mojibake, a wrong port drop, a robots tiebreak,
    // a dedup key) breaks the hash.
    "q_e2e_crawl" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val crawl = docs.unionAll(docs.select(
          (col("doc_id") + 100000).as("doc_id"), col("text")))
        // the RE-CRAWL writes REVISIT records (headers-only, digest
        // naming the original stored payload — the Common Crawl shape).
        // MATERIALIZED once (localCheckpoint): the resolution operator
        // reads the extraction from three sides — without the cut, the
        // whole codec walk re-runs per consumer (6 scans in the plan),
        // the classic multi-consumer re-computation trap; at 100 TB
        // extraction lands in a store before resolution for the same
        // reason
        val rows = graft.pipeline.WarcPipeline.extractWarcs(
          graft.pipeline.WarcPipeline.synthesizeWarcs(crawl,
            revisitDelta = 100000L)).localCheckpoint(true)
        val robotsTxt = "User-agent: graftbot\nDisallow: /\n\n" +
          "User-agent: *\nDisallow: /*.pdf$\n" +
          "Disallow: /doc/*/plain.txt\nAllow: /doc/\n"
        // REVISIT RESOLUTION first (the library operator): content is
        // addressed by payload digest from the full extraction —
        // curation applies to each crawl row itself, never to the
        // content store. At 100 TB this is the digest-keyed shuffle
        // join every crawl dedup pipeline runs — no cartesian, no
        // collect.
        graft.pipeline.WarcPipeline.resolveRevisits(rows)
          .withColumn("raw_url",
            concat(lit("HTTPS://Example.ORG:443"), expr("substring(url, 20)")))
          .withColumn("url",
            graft.functions.UrlCanonicalExpr.column(col("raw_url")))
          .withColumn("allowed", graft.functions.RobotsAllowedExpr.column(
            lit(robotsTxt), lit("trainer9000"),
            expr("substring(url, 20)")))
          .where(col("allowed") && col("status") === 200)
          .groupBy(col("text_md5"))
          .agg(min(col("doc_id")).as("doc_id"),
            expr("min_by(url, doc_id)").as("url"),
            count(lit(1)).as("n_copies"),
            expr("min_by(text_len, doc_id)").as("text_len"))
          .select(col("doc_id"), col("url"), col("n_copies"),
            col("text_len"), col("text_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, trim(regexp_replace(text, '[\s\x0b]+', ' ', 'g')) AS t
             |  FROM documents
             |), x AS (
             |  SELECT d.doc_id,
             |    CASE d.doc_id % 4
             |      WHEN 1 THEN trim(t.t || ' 日本語テスト')
             |      WHEN 2 THEN trim(t.t || ' café déjà-vu')
             |      WHEN 3 THEN trim(t.t || ' Σπάρκ §')
             |      ELSE t.t END AS txt
             |  FROM documents d JOIN t USING (doc_id)
             |), u AS (
             |  -- the 404 legs (id%7==6 in BOTH crawls) never reach curation
             |  SELECT doc_id, txt FROM x WHERE doc_id % 7 <> 6
             |  UNION ALL SELECT doc_id + 100000, txt FROM x
             |    WHERE (doc_id + 100000) % 7 <> 6
             |)
             |SELECT min(doc_id) AS doc_id,
             |  'https://example.org/doc/' || CAST(min(doc_id) AS VARCHAR) AS url,
             |  count(*) AS n_copies,
             |  CAST(length(txt) AS BIGINT) AS text_len,
             |  md5(txt) AS text_md5
             |FROM u GROUP BY txt
             |ORDER BY doc_id""".stripMargin)),

    // ── per-domain quota cap (crawl-mixture curation) ────────────────
    "q_domain_cap" -> QueryDef(
      (s, d) => Curation.capPerGroup(Tables.documents(s, d),
          groupCol = "source", orderCol = "doc_id", quota = 10)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id")),
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn <= 10
             |ORDER BY source, doc_id""".stripMargin)),

    // ── deterministic global shuffle (training example order) ────────
    "q_corpus_shuffle" -> QueryDef(
      (s, d) => Curation.deterministicShuffle(Tables.documents(s, d),
          keyCol = "doc_id", salt = "epoch0")
        .select(col("doc_id"), col("shuffle_key")),
      Some("""SELECT doc_id, md5('epoch0' || CAST(doc_id AS VARCHAR)) AS shuffle_key
             |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin)),

    // ── incremental dedup against the persisted LSH index ────────────
    // Corpus = documents (indexed once); batch = re-crawled copies
    // (doc_id%7=0, must match their originals at jaccard 1) + gibberish
    // novels (doc_id%7=1, must match nothing). Oracle replays the whole
    // pipeline: banding on both frames, the bucket_key fold, the
    // index-side hot-bucket guard, and cross-frame exact Jaccard.
    "q_dedup_incremental" -> QueryDef(
      (s, d) => {
        import graft.operators.DedupIndex
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val copies = docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        val novels = docs.where(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(md5(col("doc_id").cast("string")), lit(" "),
              md5((col("doc_id") + 1).cast("string"))).as("text"))
        // per-SF path + table name: re-runs in one process OVERWRITE in
        // place, and neither other SFs nor other processes share the dir
        val tag = math.abs(d.hashCode).toString
        val idxDir = Fixtures.scratchDir("didx", d)
        Fixtures.memo(s"dedup_idx:$d") {
          DedupIndex.writeIndex(docs, s"q_dedup_idx_$tag", idxDir)
          idxDir
        }
        DedupIndex.searchIndex(s, s"q_dedup_idx_$tag", copies.unionAll(novels), docs, 0.8)
          .orderBy(col("batch_id"), col("corpus_id"))
      },
      Some(s"""WITH batch AS (
              |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
              |  UNION ALL
              |  SELECT doc_id + 2000000 AS doc_id,
              |    md5(CAST(doc_id AS VARCHAR)) || ' ' || md5(CAST(doc_id + 1 AS VARCHAR)) AS text
              |  FROM documents WHERE doc_id % 7 = 1),
              |cw AS (SELECT doc_id, string_split($canon, ' ') AS w FROM documents),
              |csh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
              |  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
              |  ELSE [array_to_string(w, ' ')] END) AS sh FROM cw),
              |csig AS (SELECT doc_id, sh,
              |  [list_min([md5(s || '#' || j) for s in sh]) for j in range(0, 16)] AS sig FROM csh),
              |cbands AS (SELECT doc_id,
              |  md5(CAST(b AS VARCHAR) || ':' || md5(sig[b*2+1] || '|' || sig[b*2+2])) AS bucket_key
              |  FROM csig, unnest(range(0, 8)) AS t(b)),
              |ok AS (SELECT bucket_key FROM cbands GROUP BY 1 HAVING count(*) <= 1000),
              |bw AS (SELECT doc_id, string_split($canon, ' ') AS w FROM batch),
              |bsh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
              |  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
              |  ELSE [array_to_string(w, ' ')] END) AS sh FROM bw),
              |bsig AS (SELECT doc_id, sh,
              |  [list_min([md5(s || '#' || j) for s in sh]) for j in range(0, 16)] AS sig FROM bsh),
              |bbands AS (SELECT doc_id,
              |  md5(CAST(b AS VARCHAR) || ':' || md5(sig[b*2+1] || '|' || sig[b*2+2])) AS bucket_key
              |  FROM bsig, unnest(range(0, 8)) AS t(b)),
              |cand AS (SELECT DISTINCT bb.doc_id AS batch_id, cb.doc_id AS corpus_id
              |  FROM bbands bb JOIN cbands cb USING (bucket_key) JOIN ok USING (bucket_key)),
              |ver AS (SELECT batch_id, corpus_id,
              |    round(len(list_intersect(b.sh, c.sh))::DOUBLE
              |      / (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))), 4) AS jaccard
              |  FROM cand JOIN bsh b ON b.doc_id = cand.batch_id
              |  JOIN csh c ON c.doc_id = cand.corpus_id)
              |SELECT batch_id, corpus_id, jaccard FROM ver WHERE jaccard >= 0.8
              |ORDER BY batch_id, corpus_id""".stripMargin)),

    // ── approximate top-k: one-pass mergeable DataSketches frequent
    // items (fixed memory, no second scan) — the complement to
    // q_heavy_hitters when exactness can be traded for a single pass.
    // Oracle-able HERE because the test vocabulary (31 tokens) is far
    // below the sketch's tracking capacity, so estimates are exact and
    // k=5 sits on a strict count boundary at every SF (no tie
    // ambiguity); production-scale vocabularies make it approximate.
    "q_topk_sketch" -> QueryDef(
      (s, d) => {
        val tok = Tables.documents(s, d).select(
          explode(split(graft.functions.TextFunctions.canonicalText(col("text")), " "))
            .as("word"))
        tok.agg(expr("approx_top_k(word, 5, 1024)").as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.item").as("word"), col("e.count").cast("long").as("cnt"))
          .orderBy(col("cnt").desc, col("word"))
      },
      Some(s"""SELECT word, CAST(count(*) AS BIGINT) AS cnt
              |FROM (SELECT unnest(string_split($canon, ' ')) AS word FROM documents)
              |GROUP BY word ORDER BY cnt DESC, word LIMIT 5""".stripMargin)),

    // ── heavy hitters: vocabulary tokens above a rate threshold ──────
    // Oracle is the PLAIN group-by-having — the CMS pre-filter may only
    // drop keys the HAVING would drop anyway (estimates never
    // undercount). Rate threshold (0.4% of all tokens) keeps the result
    // the same ~30 Zipf-head words at every SF.
    "q_heavy_hitters" -> QueryDef(
      (s, d) => {
        val tok = Tables.documents(s, d).select(
          explode(split(graft.functions.TextFunctions.canonicalText(col("text")), " "))
            .as("word"))
        operators.HeavyHitters.exactByRate(tok, "word", 0.004)
          .select(col("word"), col("cnt").cast("long").as("cnt"))
          .orderBy(col("cnt").desc, col("word"))
      },
      Some(s"""WITH tok AS (SELECT unnest(string_split($canon, ' ')) AS word
              |  FROM documents), t AS (SELECT count(*) AS n FROM tok)
              |SELECT word, CAST(count(*) AS BIGINT) AS cnt
              |FROM tok, t GROUP BY word, t.n
              |HAVING count(*) >= ceil(0.004 * t.n)
              |ORDER BY cnt DESC, word""".stripMargin)),

    // ── Bloom-pruned selective join: revenue of high-value orders ────
    // Oracle is the PLAIN join — the Bloom pass may only drop rows the
    // join would drop anyway.
    "q_bloom_join" -> QueryDef(
      (s, d) => {
        val sel = Tables.orders(s, d)
          .where(col("o_totalprice") > 450000)
          .select(col("o_orderkey"), col("o_orderpriority"))
        val items = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("__rev"))
        BloomJoin.prunedJoin(items, sel, "o_orderkey", expectedItems = 1 << 16)
          .groupBy(col("o_orderpriority"))
          .agg(round(sum(col("__rev")), 2).as("revenue"),
               count(lit(1)).cast("long").as("n_items"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 450000
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ── range join: clicks within each purchase's 1-hour window ──────
    "q_range_join" -> QueryDef(
      (s, d) => {
        import graft.operators.RangeJoin
        val ev = Tables.events(s, d)
        val sec = expr("ts div 1000000000") // ts arrives as long nanos
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("value"), sec.as("sec"))
        val windows = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            sec.as("w_start"), (sec + 3600).as("w_end"))
        RangeJoin.pointInInterval(clicks, "sec", windows, "w_start", "w_end",
            bucketWidth = 3600)
          .groupBy(col("purchase_id"))
          .agg(count(lit(1)).cast("long").as("n_clicks"),
            round(sum(col("value")), 4).as("click_value"))
          .orderBy(col("purchase_id"))
      },
      Some("""WITH e AS (SELECT event_id, event_type, value,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
             |c AS (SELECT event_id AS click_id, value, sec FROM e WHERE event_type = 'click'),
             |p AS (SELECT event_id AS purchase_id, sec AS w_start, sec + 3600 AS w_end
             |  FROM e WHERE event_type = 'purchase')
             |SELECT purchase_id, count(*) AS n_clicks, round(sum(c.value), 4) AS click_value
             |FROM c JOIN p ON c.sec BETWEEN p.w_start AND p.w_end
             |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin)),

    // ── interval-overlap join: error windows hitting purchase windows ─
    "q_interval_overlap" -> QueryDef(
      (s, d) => {
        import graft.operators.RangeJoin
        val ev = Tables.events(s, d)
        val sec = expr("ts div 1000000000")
        val pur = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), sec.as("ps"), (sec + 3600).as("pe"))
        val err = ev.where(col("event_type") === "error")
          .select(col("event_id").as("error_id"), sec.as("es"), (sec + 1800).as("ee"))
        RangeJoin.intervalOverlap(pur, "ps", "pe", err, "es", "ee", bucketWidth = 3600)
          .groupBy(col("purchase_id"))
          .agg(count(lit(1)).cast("long").as("n_errors"))
          .orderBy(col("purchase_id"))
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
             |p AS (SELECT event_id AS purchase_id, sec AS ps, sec + 3600 AS pe
             |  FROM e WHERE event_type = 'purchase'),
             |r AS (SELECT event_id AS error_id, sec AS es, sec + 1800 AS ee
             |  FROM e WHERE event_type = 'error')
             |SELECT purchase_id, count(*) AS n_errors
             |FROM p JOIN r ON ps <= ee AND es <= pe
             |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin)),

    // ── Z-order layout key (Morton interleave of range buckets) ──────
    // ── small-file compaction: spray → compact → identical content ───
    // The oracle is the plain table: a rewrite that changes ANY row (or
    // drops/duplicates one in the swap) hash-mismatches. File-count
    // behavior is CompactionSpec's job.
    "q_compact" -> QueryDef(
      (s, d) => {
        import graft.sources.Compaction
        val dir = Fixtures.scratchDir("compact", d)
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        docs.repartition(32).write.mode("overwrite").parquet(dir)
        Compaction.compact(s, dir, targetBytes = 256L * 1024 * 1024)
        s.read.parquet(dir)
          .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q_zorder" -> QueryDef(
      (s, d) => {
        import graft.operators.ZOrder
        val zx = ZOrder.rangeId(col("n_chars"), 0, 1023, 8)
        val zy = pmod(col("doc_id"), lit(256)).cast("long")
        Tables.documents(s, d)
          .select(col("doc_id"), zx.as("zx"), zy.as("zy"),
            ZOrder.interleave(zx, zy, 8).cast("long").as("zval"))
          .orderBy(col("doc_id"))
      },
      Some {
        val terms = (0 until 8).map(i =>
          s"((zx >> $i) & 1) * ${1L << (2 * i)} + ((zy >> $i) & 1) * ${1L << (2 * i + 1)}")
          .mkString(" + ")
        s"""WITH z AS (SELECT doc_id,
           |  least(255, greatest(0, CAST(floor(n_chars * 256 / 1024.0) AS BIGINT))) AS zx,
           |  -- pmod semantics (Spark side): non-negative for negative ids too
           |  ((doc_id % 256) + 256) % 256 AS zy FROM documents)
           |SELECT doc_id, zx, zy, CAST($terms AS BIGINT) AS zval
           |FROM z ORDER BY doc_id""".stripMargin
      }),

    // ── capstone: full curation chain + per-stage yield manifest ─────
    "q_curate_pipeline" -> QueryDef(
      (s, d) => {
        val stages = Seq(
          Curation.Stage("lang_en", df => df.where(col("lang") === "en")),
          Curation.Stage("length_band", df => df.where(col("n_chars").between(100, 400))),
          Curation.Stage("boilerplate", df => Curation.filterBoilerplate(df, maxRatio = 0.4)),
          Curation.Stage("domain_cap", df => Curation.capPerGroup(df, "source", "doc_id", 20)),
          Curation.Stage("epoch_shuffle", df => Curation.deterministicShuffle(df, "doc_id")))
        val (_, manifest) = Curation.runPipeline(Tables.documents(s, d), stages)
        manifest
          .select(col("stage_idx").cast("long").as("stage_idx"), col("stage"),
            col("rows_in").cast("long").as("rows_in"),
            col("rows_out").cast("long").as("rows_out"))
          .orderBy(col("stage_idx"))
      },
      Some(s"""WITH s1 AS (SELECT * FROM documents WHERE lang = 'en'),
              |s2 AS (SELECT * FROM s1 WHERE n_chars BETWEEN 100 AND 400),
              |w AS (SELECT doc_id, string_split($canon, ' ') AS w FROM s2),
              |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 2
              |  THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
              |  ELSE [array_to_string(w, ' ')] END) AS sh FROM w),
              |g AS (SELECT doc_id, unnest(sh) AS ngram FROM sh),
              |bp AS (SELECT ngram FROM g GROUP BY ngram
              |  HAVING count(*) >= ceil(0.06 * (SELECT count(*) FROM s2))),
              |r AS (SELECT g.doc_id, count(bp.ngram)::DOUBLE / count(*) AS ratio
              |  FROM g LEFT JOIN bp ON g.ngram = bp.ngram GROUP BY g.doc_id),
              |s3 AS (SELECT s2.* FROM s2 JOIN r ON s2.doc_id = r.doc_id
              |  WHERE round(r.ratio, 4) <= 0.4),
              |s4 AS (SELECT * FROM (SELECT *,
              |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              |  FROM s3) WHERE rn <= 20)
              |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
              |  CAST(rows_in AS BIGINT) AS rows_in, CAST(rows_out AS BIGINT) AS rows_out
              |FROM (
              |  SELECT 0 AS stage_idx, 'lang_en' AS stage,
              |    (SELECT count(*) FROM documents) AS rows_in, (SELECT count(*) FROM s1) AS rows_out
              |  UNION ALL SELECT 1, 'length_band', (SELECT count(*) FROM s1), (SELECT count(*) FROM s2)
              |  UNION ALL SELECT 2, 'boilerplate', (SELECT count(*) FROM s2), (SELECT count(*) FROM s3)
              |  UNION ALL SELECT 3, 'domain_cap', (SELECT count(*) FROM s3), (SELECT count(*) FROM s4)
              |  UNION ALL SELECT 4, 'epoch_shuffle', (SELECT count(*) FROM s4), (SELECT count(*) FROM s4))
              |ORDER BY stage_idx""".stripMargin)),

    // ── column profiling (corpus QA before/after each transform) ─────
    "q_profile" -> QueryDef(
      (s, d) => graft.operators.Profile.profile(
          Tables.documents(s, d), Seq("lang", "source", "n_chars"))
        .orderBy(col("column")),
      Some("""SELECT * FROM (
             |  SELECT 'lang' AS "column", count(*) AS n_rows,
             |    count(*) - count(lang) AS n_null, count(DISTINCT lang) AS n_distinct,
             |    (SELECT CAST(lang AS VARCHAR) FROM documents WHERE lang IS NOT NULL
             |     GROUP BY lang ORDER BY count(*) DESC, lang DESC LIMIT 1) AS top_value,
             |    (SELECT count(*) FROM documents WHERE lang IS NOT NULL
             |     GROUP BY lang ORDER BY count(*) DESC, lang DESC LIMIT 1) AS top_count
             |  FROM documents
             |  UNION ALL
             |  SELECT 'n_chars', count(*), count(*) - count(n_chars), count(DISTINCT n_chars),
             |    (SELECT CAST(n_chars AS VARCHAR) FROM documents WHERE n_chars IS NOT NULL
             |     GROUP BY n_chars ORDER BY count(*) DESC, CAST(n_chars AS VARCHAR) DESC LIMIT 1),
             |    (SELECT count(*) FROM documents WHERE n_chars IS NOT NULL
             |     GROUP BY n_chars ORDER BY count(*) DESC, CAST(n_chars AS VARCHAR) DESC LIMIT 1)
             |  FROM documents
             |  UNION ALL
             |  SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source),
             |    (SELECT CAST(source AS VARCHAR) FROM documents WHERE source IS NOT NULL
             |     GROUP BY source ORDER BY count(*) DESC, source DESC LIMIT 1),
             |    (SELECT count(*) FROM documents WHERE source IS NOT NULL
             |     GROUP BY source ORDER BY count(*) DESC, source DESC LIMIT 1)
             |  FROM documents)
             |ORDER BY "column"""".stripMargin)),

    // ── snapshot drift monitor: first vs second time-half of the event
    // stream, value histogram over [0,100)×20. The drift flag is the
    // cross-multiplied integer relative test — no division, no floats —
    // so the report gates hash-exact.
    "q_drift" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d).select(expr("ts div 1000").as("tsu"), col("value"))
        val r = ev.agg(min(col("tsu")), max(col("tsu"))).head()
        val cutoff = (r.getLong(0) + r.getLong(1)) / 2
        graft.operators.Drift.histogramDrift(
            ev.where(col("tsu") < cutoff), ev.where(col("tsu") >= cutoff),
            "value", lo = 0, hi = 100, buckets = 20, thresholdPct = 5)
          .select(col("bucket"), col("n_a"), col("n_b"),
            col("drifted").cast("long").as("drifted"))
          .orderBy(col("bucket"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS tsu, value FROM events),
             |p AS (SELECT (min(tsu) + max(tsu)) // 2 AS cutoff FROM ev),
             |bk AS (SELECT CASE WHEN value < 0 THEN -1
             |              WHEN value >= 100 THEN 20
             |              ELSE least(CAST(floor((CAST(value AS DOUBLE) - 0) / 5.0) AS BIGINT), 19) END AS bucket,
             |         tsu < (SELECT cutoff FROM p) AS is_a
             |       FROM ev),
             |ha AS (SELECT bucket, count(*) AS n_a FROM bk WHERE is_a GROUP BY 1),
             |hb AS (SELECT bucket, count(*) AS n_b FROM bk WHERE NOT is_a GROUP BY 1),
             |j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket,
             |        coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
             |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
             |t AS (SELECT CAST((SELECT sum(n_a) FROM j) AS BIGINT) AS tot_a,
             |             CAST((SELECT sum(n_b) FROM j) AS BIGINT) AS tot_b)
             |SELECT bucket, n_a, n_b,
             |  CAST(CASE WHEN n_a = 0 THEN n_b > 0
             |       ELSE 100 * abs(n_a * tot_b - n_b * tot_a) > 5 * n_a * tot_b END
             |  AS BIGINT) AS drifted
             |FROM j CROSS JOIN t ORDER BY bucket""".stripMargin)),

    // ── exact outlier scan: events beyond 1.5σ of their event_type mean,
    // flag computed in cross-multiplied fixed-point integers (no float
    // mean/variance/sqrt) — DECIMAL(38) on Spark, HUGEINT in DuckDB,
    // bit-identical either way.
    "q_anomaly" -> QueryDef(
      (s, d) => graft.operators.Drift.anomalies(
          Tables.events(s, d), "event_type", "value", kNum = 3, kDen = 2)
        .where(col("anomalous"))
        .select(col("event_id"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy(col("event_id")),
      Some("""WITH e AS (SELECT event_id, event_type, value,
             |             CAST(floor(value * 1000000) AS HUGEINT) AS x6 FROM events),
             |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             |        CAST(sum(x6) AS HUGEINT) AS s,
             |        CAST(sum(x6 * x6) AS HUGEINT) AS ss
             |      FROM e GROUP BY 1)
             |SELECT event_id, event_type, round(value, 4) AS value
             |FROM e JOIN m USING (event_type)
             |WHERE 4 * (x6 * n - s) * (x6 * n - s) > 9 * (n * ss - s * s)
             |ORDER BY event_id""".stripMargin)),

    // ── key-skew report before a big join/groupBy: top-10 heaviest
    // order keys by customer with exact integer basis-point shares.
    "q_key_skew" -> QueryDef(
      (s, d) => graft.operators.Profile.keySkew(
          Tables.orders(s, d), "o_custkey", topN = 10)
        .select(col("key"), col("n"), col("total"), col("share_bp")),
      Some("""WITH c AS (SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS n
             |          FROM orders GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
             |SELECT key, n, total, (n * 10000) // total AS share_bp
             |FROM c CROSS JOIN t
             |ORDER BY n DESC, key LIMIT 10""".stripMargin)),

    // ── incremental aggregate (materialized-view) maintenance: fold the
    // second time-half's summary into the first's — the result must be
    // IDENTICAL to aggregating the whole table (decimal sums are order-
    // independent), so the oracle is the direct one-shot aggregation.
    // Decimal arithmetic stays INTERNAL; the final projection is a
    // rounded DOUBLE per gate convention (DECIMAL output columns
    // serialize differently across engines in the driver hasher).
    "q_incr_agg" -> QueryDef(
      (s, d) => {
        import graft.operators.IncrementalAgg
        val ev = Tables.events(s, d)
          .select(col("event_type"), expr("ts div 1000").as("tsu"), col("value"))
        val r = ev.agg(min(col("tsu")), max(col("tsu"))).head()
        val cutoff = (r.getLong(0) + r.getLong(1)) / 2
        val s1 = IncrementalAgg.summarize(ev.where(col("tsu") < cutoff),
          Seq("event_type"), "value")
        val s2 = IncrementalAgg.summarize(ev.where(col("tsu") >= cutoff),
          Seq("event_type"), "value")
        IncrementalAgg.withAverage(IncrementalAgg.fold(s1, s2, Seq("event_type")))
          .select(col("event_type"), col("n"),
            round(col("sum_v"), 4).cast("double").as("sum_v"),
            round(col("min_v"), 4).cast("double").as("min_v"),
            round(col("max_v"), 4).cast("double").as("max_v"),
            round(col("avg_v"), 4).cast("double").as("avg_v"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_v,
             |  CAST(round(min(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS min_v,
             |  CAST(round(max(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS max_v,
             |  CAST(round(CAST(round(sum(CAST(value AS DECIMAL(18,6))) / count(*), 6)
             |       AS DECIMAL(28,6)), 4) AS DOUBLE) AS avg_v
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

    ,
    // Mergeable KLL quantile view (round 8): the per-group p50/p95 the
    // (n, sum, min, max) state can't answer without rescanning history —
    // three independently sketched batches fold to one sketch per group.
    // Rows-only by design: KLL estimates are stable within the rank-error
    // bound, not bit-stable (sketch bytes depend on partition order);
    // IncrementalAggSpec gates estimates against exact quantiles.
    "q_incr_quantile" -> QueryDef(
      (s, d) => {
        import graft.operators.IncrementalAgg
        val ev = Tables.events(s, d)
          .select(col("event_type").as("k"), (col("value") * 1000).cast("bigint").as("v"))
        val batches = (0 until 3).map(i => ev.where(pmod(col("v"), lit(3)) === i))
        val folded = IncrementalAgg.foldQuantile(
          batches.map(b => IncrementalAgg.summarizeQuantile(b, Seq("k"), "v"))
            .reduce(_ unionByName _), Seq("k"))
        IncrementalAgg.quantilesOf(folded, Seq(0.5, 0.95))
          .orderBy(col("k"))
      }, None)

    ,
    // ── Bloom-pruned ANTI join: incremental dedup of a new crawl
    // against the already-ingested corpus (a deterministic 60% sample
    // plays the "seen" set). Oracle = plain NOT IN.
    "q_bloom_anti" -> QueryDef(
      (s, d) => {
        import graft.functions.TextFunctions.fingerprint
        import graft.operators.Sampling
        val docs = Tables.documents(s, d)
        val newDocs = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
        val seen = Sampling.deterministicSample(docs, "doc_id", 60)
          .select(fingerprint(col("text")).as("fp"))
        BloomJoin.prunedAntiJoin(newDocs, seen, "fp", expectedItems = 1 << 16)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH fp AS (SELECT doc_id, md5($canon) AS fp FROM documents),
              |seen AS (SELECT fp FROM fp
              |  WHERE ('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 60)
              |SELECT doc_id FROM fp WHERE fp NOT IN (SELECT fp FROM seen)
              |ORDER BY doc_id""".stripMargin)),

    // ── BPE training + tokenization (rows-only; the iterative merge
    // loop has no SQL replay — BpeSpec pins exact merges against a
    // Spark-free reference implementation) ───────────────────────────
    "q_bpe_merges" -> QueryDef(
      (s, d) => {
        import s.implicits._
        Bpe.trainMerges(Tables.documents(s, d), k = 8).zipWithIndex
          .map { case ((a, b), i) => (i.toLong, a, b, a + b) }
          .toDF("rank", "pair_a", "pair_b", "merged")
          .orderBy(col("rank"))
      }, None),

    "q_bpe_tokenize" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        // build the vocabulary ONCE: training and tokenization share it
        // (localCheckpoint: reused across the k merge jobs + the join)
        val vocab = Bpe.wordVocab(docs).localCheckpoint(true)
        val merges = Bpe.trainMergesFromVocab(vocab, k = 8)
        Bpe.tokenize(docs, merges, vocab = Some(vocab))
          .orderBy(col("doc_id"))
      }, None),

    // Deflate compression-ratio quality signal (Gopher/FineWeb-style):
    // repetitive/templated text compresses well below natural prose;
    // high-entropy noise sits near 1. Rows-only (no zlib in the oracle);
    // CompressSpec pins the ratio against a direct Deflater replay and
    // the ordering invariant (repetitive < prose < noise).
    "q_compress_ratio" -> QueryDef(
      (s, d) => {
        import graft.functions.CompressExpressions
        Tables.documents(s, d)
          .select(col("doc_id"),
            round(CompressExpressions.deflateRatio(col("text")), 4).as("ratio"))
          .withColumn("keep", col("ratio").between(0.2, 1.1))
          .orderBy(col("doc_id"))
      }, None),

    // Unigram-LM tokenizer (Kudo 2018 / SentencePiece, the OTHER subword
    // family) — rows-only like BPE: the seed→EM→prune loop has no SQL
    // replay; UnigramSpec pins Viterbi segmentations against brute-force
    // enumeration over all segmentations and planted-piece recovery.
    "q_unigram_tokenize" -> QueryDef(
      (s, d) => {
        import graft.operators.Unigram
        val docs = Tables.documents(s, d)
        val model = Unigram.train(docs, vocabSize = 800)
        Unigram.tokenize(docs, model).orderBy(col("doc_id"))
      }, None),

    // ── cross-document exact repeated-substring coverage (Lee et al.
    // 2022) ── planted full-document copies (doc_id % 11) guarantee
    // duplicated spans at every SF; the oracle replays the k-gram
    // inventory, the distinct-doc df gate, and the monotone-end span
    // merge (covered = k + Σ min(k, gap)).
    "q_dup_spans" -> QueryDef(
      (s, d) => {
        import graft.operators.Dedup
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val withCopies = docs.unionAll(docs.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        Dedup.duplicatedSpanCoverage(withCopies, k = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH input AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
              |w AS (SELECT doc_id, string_split($canon, ' ') AS w FROM input),
              |g AS (SELECT doc_id, len(w) AS nw,
              |        unnest([{'pos': i, 'gh': md5(array_to_string(w[i+1:i+8], ' '))}
              |                for i in range(0, len(w) - 7)]) AS p
              |      FROM w WHERE len(w) >= 8),
              |g2 AS (SELECT doc_id, nw, p.pos AS pos, p.gh AS gh FROM g),
              |hot AS (SELECT gh FROM g2 GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
              |d AS (SELECT doc_id, nw, pos FROM g2 WHERE gh IN (SELECT gh FROM hot)),
              |c AS (SELECT doc_id, nw, pos,
              |        lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM d)
              |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
              |  CAST(count(*) AS BIGINT) AS dup_positions,
              |  CAST(sum(CASE WHEN prev IS NULL THEN 8 ELSE least(8, pos - prev) END) AS BIGINT)
              |    AS covered_tokens,
              |  round(CAST(sum(CASE WHEN prev IS NULL THEN 8 ELSE least(8, pos - prev) END)
              |    AS DOUBLE) / nw, 4) AS dup_ratio
              |FROM c GROUP BY doc_id, nw ORDER BY doc_id""".stripMargin)),

    // ── the span filter applied: survivors of dup_ratio ≤ 0.5 ──────
    // (planted full copies score 1.0 on both sides of the pair, so the
    // copies AND their originals drop; partially-overlapping docs stay)
    "q_filter_dup_spans" -> QueryDef(
      (s, d) => {
        import graft.operators.Dedup
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val withCopies = docs.unionAll(docs.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        Dedup.filterDuplicatedSpans(withCopies, maxRatio = 0.5, k = 8)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH input AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
              |w AS (SELECT doc_id, string_split($canon, ' ') AS w FROM input),
              |g AS (SELECT doc_id, len(w) AS nw,
              |        unnest([{'pos': i, 'gh': md5(array_to_string(w[i+1:i+8], ' '))}
              |                for i in range(0, len(w) - 7)]) AS p
              |      FROM w WHERE len(w) >= 8),
              |g2 AS (SELECT doc_id, nw, p.pos AS pos, p.gh AS gh FROM g),
              |hot AS (SELECT gh FROM g2 GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
              |d AS (SELECT doc_id, nw, pos FROM g2 WHERE gh IN (SELECT gh FROM hot)),
              |c AS (SELECT doc_id, nw, pos,
              |        lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM d),
              |cov AS (SELECT doc_id,
              |    round(CAST(sum(CASE WHEN prev IS NULL THEN 8 ELSE least(8, pos - prev) END)
              |      AS DOUBLE) / nw, 4) AS dup_ratio
              |  FROM c GROUP BY doc_id, nw)
              |SELECT doc_id FROM input
              |WHERE doc_id NOT IN (SELECT doc_id FROM cov WHERE dup_ratio > 0.5)
              |ORDER BY doc_id""".stripMargin)),

    // ── span CUTTING: rebuild text minus the duplicated spans ────────
    // (the aggressive Lee et al. variant). Oracle replays islands →
    // interval bounds → the per-word membership filter; output text is
    // canonicalized on both sides by construction.
    "q_cut_spans" -> QueryDef(
      (s, d) => {
        import graft.operators.Dedup
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val withCopies = docs.unionAll(docs.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        Dedup.cutDuplicatedSpans(withCopies, k = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH input AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
              |w AS (SELECT doc_id, string_split($canon, ' ') AS wd FROM input),
              |g AS (SELECT doc_id,
              |        unnest([{'pos': i, 'gh': md5(array_to_string(wd[i+1:i+8], ' '))}
              |                for i in range(0, len(wd) - 7)]) AS p
              |      FROM w WHERE len(wd) >= 8),
              |g2 AS (SELECT doc_id, p.pos AS pos, p.gh AS gh FROM g),
              |hot AS (SELECT gh FROM g2 GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
              |d AS (SELECT doc_id, pos FROM g2 WHERE gh IN (SELECT gh FROM hot)),
              |c AS (SELECT doc_id, pos,
              |        lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM d),
              |isl AS (SELECT doc_id, pos,
              |    sum(CASE WHEN prev IS NULL OR pos > prev + 7 THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS isl
              |  FROM c),
              |iv AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 7 AS e
              |       FROM isl GROUP BY doc_id, isl),
              |ivs AS (SELECT doc_id, list({'s': s, 'e': e}) AS ivs FROM iv GROUP BY doc_id)
              |SELECT w.doc_id,
              |  coalesce(array_to_string([wd[i+1] for i in range(0, len(wd))
              |    if ivs.ivs IS NULL OR len(list_filter(ivs.ivs, x -> i >= x['s'] AND i <= x['e'])) = 0],
              |    ' '), '') AS clean_text
              |FROM w LEFT JOIN ivs USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // ── SemDeDup-style semantic dedup: cosine pairs blocked by k-means
    // cell ── oracle-able at threshold 0.9999 because in this fixture
    // only IDENTICAL vectors (the planted +100000 copies) reach it, and
    // an identical pair can never be split across cells (same vector ⇒
    // same nearest centroid), so cell blocking is lossless and the
    // exhaustive cosine join is a valid oracle. NOTE this is a verified
    // property of the fixture (tri-SF checked), not of the threshold: a
    // DISTINCT pair at rounded cos ≥ 0.9999 could cross cells. It is the
    // same assumption q_dedup_embedding's LSH-blocked gate has relied on
    // since round 2 (LSH recall < 1 for near-but-not-identical pairs).
    "q_dedup_semantic" -> QueryDef(
      (s, d) => {
        import graft.operators.{Dedup, IvfIndex}
        val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val dup = e.unionAll(e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        val model = IvfIndex.train(dup, k = 16, iters = 2)
        Dedup.semanticNearDup(dup, model, threshold = 0.9999)
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

    // Fuzzy entity-resolution join: every customer-name pair within
    // Levenshtein distance 1, via FastSS deletion-neighborhood blocking
    // (candidate set provably complete for d=1, then levenshtein-verified).
    // The oracle is the EXHAUSTIVE quadratic join — blocking must be
    // invisible in the result. Subset by key mod so the oracle's pair
    // count stays DuckDB-feasible at every SF.
    "q_fuzzy_join" -> QueryDef(
      (s, d) => {
        val cust = Tables.customer(s, d)
          .where(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"))
        // maxBucket surfaced here (not buried in the operator default):
        // its safe value scales with corpus size — raise with SF.
        graft.operators.FuzzyJoin.selfJoinDist1(cust, "c_custkey", "c_name",
            maxBucket = 100000)
          .select(col("a_id"), col("b_id"), col("dist"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH s AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 = 0)
             |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
             |FROM s a JOIN s b ON a.c_custkey < b.c_custkey
             |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
             |  AND levenshtein(a.c_name, b.c_name) <= 1
             |ORDER BY a_id, b_id""".stripMargin)),

    // Distance-2 fuzzy join — FastSS with two-deletion neighborhoods,
    // same exhaustive-quadratic oracle discipline (blocking must be
    // invisible). Tighter key-mod subset: the d<=2 candidate space is
    // larger and customer names share long common prefixes.
    "q_fuzzy_join2" -> QueryDef(
      (s, d) => {
        val cust = Tables.customer(s, d)
          .where(col("c_custkey") % 20 === 0)
          .select(col("c_custkey"), col("c_name"))
        graft.operators.FuzzyJoin.selfJoinDist2(cust, "c_custkey", "c_name",
            maxBucket = 100000)
          .select(col("a_id"), col("b_id"), col("dist"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH s AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 20 = 0)
             |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
             |FROM s a JOIN s b ON a.c_custkey < b.c_custkey
             |WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
             |  AND levenshtein(a.c_name, b.c_name) <= 2
             |ORDER BY a_id, b_id""".stripMargin)),

    // Two-table record linkage: a "dirty feed" subset matched against a
    // disjoint "reference" subset of customer names at distance <= 2 —
    // the A-vs-B variant of the fuzzy join, same exhaustive oracle
    // discipline (blocking invisible, no within-side pairs by shape).
    "q_fuzzy_link" -> QueryDef(
      (s, d) => {
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        val dirty = cust.where(col("c_custkey") % 20 === 0)
        val ref = cust.where(col("c_custkey") % 20 === 1)
        graft.operators.FuzzyJoin.linkJoin(dirty, ref,
            "c_custkey", "c_name", "c_custkey", "c_name",
            maxDist = 2, maxBucket = 100000)
          .select(col("a_id"), col("b_id"), col("dist"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH a AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 20 = 0),
             |b AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 20 = 1)
             |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
             |FROM a CROSS JOIN b
             |WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
             |  AND levenshtein(a.c_name, b.c_name) <= 2
             |ORDER BY a_id, b_id""".stripMargin)),

    // PageRank (fixed-point integer) over the supplier→part bipartite
    // graph — link-graph centrality as a curation signal. Every
    // iteration is exact int64 arithmetic (floor division + exact sums),
    // so DuckDB replays the full 3-iteration power method hash-exact via
    // chained CTEs. Parts never link out ⇒ their whole mass is dangling,
    // exercising the redistribution path on real data.
    "q_pagerank" -> QueryDef(
      (s, d) => {
        val e = Tables.lineitem(s, d).select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + 1000000L).cast("long").as("dst"))
        graft.operators.PageRank.ranks(e, iters = 3)
          .orderBy(col("r").desc, col("node")).limit(100)
      },
      Some("""WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
             |                  CAST(1000000 + l_partkey AS BIGINT) AS dst FROM lineitem),
             |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
             |p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
             |o AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
             |r0 AS (SELECT node, (SELECT 1000000000000 // n FROM p) AS r FROM nodes),
             |i1 AS (
             |  SELECT nd.node, (SELECT (15 * 1000000000000) // (100 * n) FROM p)
             |    + (85 * (coalesce(inf.s, 0)
             |      + (SELECT (SELECT CAST(coalesce(sum(pr.r), 0) AS BIGINT) FROM r0 pr
             |                 WHERE pr.node NOT IN (SELECT src FROM e)) // n FROM p))) // 100 AS r
             |  FROM nodes nd LEFT JOIN (
             |    SELECT e.dst AS node, CAST(sum(pr.r // o.deg) AS BIGINT) AS s
             |    FROM e JOIN r0 pr ON e.src = pr.node JOIN o ON o.src = e.src GROUP BY 1) inf
             |    ON nd.node = inf.node),
             |i2 AS (
             |  SELECT nd.node, (SELECT (15 * 1000000000000) // (100 * n) FROM p)
             |    + (85 * (coalesce(inf.s, 0)
             |      + (SELECT (SELECT CAST(coalesce(sum(pr.r), 0) AS BIGINT) FROM i1 pr
             |                 WHERE pr.node NOT IN (SELECT src FROM e)) // n FROM p))) // 100 AS r
             |  FROM nodes nd LEFT JOIN (
             |    SELECT e.dst AS node, CAST(sum(pr.r // o.deg) AS BIGINT) AS s
             |    FROM e JOIN i1 pr ON e.src = pr.node JOIN o ON o.src = e.src GROUP BY 1) inf
             |    ON nd.node = inf.node),
             |i3 AS (
             |  SELECT nd.node, (SELECT (15 * 1000000000000) // (100 * n) FROM p)
             |    + (85 * (coalesce(inf.s, 0)
             |      + (SELECT (SELECT CAST(coalesce(sum(pr.r), 0) AS BIGINT) FROM i2 pr
             |                 WHERE pr.node NOT IN (SELECT src FROM e)) // n FROM p))) // 100 AS r
             |  FROM nodes nd LEFT JOIN (
             |    SELECT e.dst AS node, CAST(sum(pr.r // o.deg) AS BIGINT) AS s
             |    FROM e JOIN i2 pr ON e.src = pr.node JOIN o ON o.src = e.src GROUP BY 1) inf
             |    ON nd.node = inf.node)
             |SELECT node, r FROM i3 ORDER BY r DESC, node LIMIT 100""".stripMargin))
  )
}
