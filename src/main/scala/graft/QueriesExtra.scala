package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.QueryDef
import graft.functions.{TextFunctions, VectorFunctions, WinnowExpressions}
import graft.fixtures.MediaFixtures
import graft.multimodal.BinaryPipeline
import graft.operators.{AnnLsh, Hnsw, IvfIndex, ProductQuantizer, Quantize, SimHash}

/** SURVEY.md §2.2 approximate operators (rows-only gates — semantics not
  * portable to ANSI SQL; accuracy is spec-gated against exact ground
  * truth) + multimodal metadata (oracle-gated). */
object QueriesExtra {

  /** Shared oracle for the L2 exact-degeneration gates: brute-force
    * per-query KNN with the engine-wide 4dp-rounded distance and
    * (dist, vec_id) tie-break — the `ORDER BY embedding <-> ? LIMIT k`
    * shape of pgvector (SSEOpenAIController.java:315-316), batched. */
  private val annExactL2Sql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
      |scored AS (
      |  SELECT q.qid, e.vec_id,
      |    round(list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
      |  FROM embeddings e CROSS JOIN q),
      |ranked AS (SELECT qid, vec_id, dist,
      |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      |  FROM scored)
      |SELECT qid, vec_id, dist, rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // ── Index fixtures ──────────────────────────────────────────────────
  // One build per memo key, written under the scratch dir named after the
  // key: Fixtures.scratchDir is stable per (name, sf dir), so two keys
  // never share a dir, and the dirs go with the JVM.

  /** The index fixture `key` over sf dir `d`: `write` fills its scratch
    * dir once per JVM ([[Fixtures.memo]]), or on every call with `fresh`
    * ([[Fixtures.rebuild]], the `*_build` gates). */
  private def indexFixture(key: String, d: String, fresh: Boolean = false)
                          (write: String => Unit): String = {
    val dir = Fixtures.scratchDir(key, d)
    def build: String = { write(dir); dir }
    if (fresh) Fixtures.rebuild(s"$key:$d")(build) else Fixtures.memo(s"$key:$d")(build)
  }

  private def ivfK8(e: DataFrame, d: String): IvfIndex.Model =
    Fixtures.memo(s"ivf_model_k8_i2:$d") { IvfIndex.train(e, k = 8, iters = 2) }
  private def ivfK16(e: DataFrame, d: String): IvfIndex.Model =
    Fixtures.memo(s"ivf_model_k16_i3:$d") { IvfIndex.train(e, k = 16, iters = 3) }

  private def ivfDeleteIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_delete_idx", d) { dr => IvfIndex.writeIndex(e, ivfK8(e, d), dr) }

  private def ivfUpsertIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_upsert_idx", d) { dr =>
      IvfIndex.writeIndex(e, IvfIndex.train(e, k = 8, iters = 2), dr)
    }

  /** Cosine store: its model is trained on the normalized corpus. */
  private def ivfCosIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_cos_idx", d) { dr =>
      val en = e.withColumn("embedding", VectorFunctions.l2Normalize(col("embedding")))
      IvfIndex.writeIndex(e, IvfIndex.train(en, k = 16, iters = 2), dr, metric = "cosine")
    }

  /** The plain L2 store the IP, L1 and filtered searches share. */
  private def ivfIpIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_ip_idx", d) { dr =>
      IvfIndex.writeIndex(e, IvfIndex.train(e, k = 16, iters = 2), dr)
    }

  private def ivfSqIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_sq_idx", d) { dr =>
      val (mn, mx) = Quantize.scalarRange(e)
      IvfIndex.writeIndex(e, ivfK16(e, d), dr, IvfIndex.Codec.Sq8(mn, mx))
    }

  private def ivfHalfIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_half_idx", d) { dr =>
      IvfIndex.writeIndex(e, ivfK16(e, d), dr, IvfIndex.Codec.Half)
    }

  private def ivfHalfFiltIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_half_filt_idx", d) { dr =>
      IvfIndex.writeIndex(e, IvfIndex.train(e, k = 16, iters = 2), dr, IvfIndex.Codec.Half)
    }

  private def ivfSubIdx(e: DataFrame, d: String): String =
    indexFixture("ivf_sub_idx", d) { dr =>
      IvfIndex.writeIndex(e, IvfIndex.trainSub(e, subDim = 16, k = 16, iters = 3), dr,
        IvfIndex.Codec.Prefix(16))
    }

  private def ivfBinIdxK8(e: DataFrame, d: String): String =
    indexFixture("ivf_bin_idx_k8", d) { dr =>
      IvfIndex.writeIndex(e, ivfK8(e, d), dr, IvfIndex.Codec.Binary)
    }

  private def ivfBinIdxK16(e: DataFrame, d: String): String =
    indexFixture("ivf_bin_idx_k16", d) { dr =>
      IvfIndex.writeIndex(e, ivfK16(e, d), dr, IvfIndex.Codec.Binary)
    }

  /** IVF-PQ store: 8 coarse cells, residual codes m = 16 × ksub = 16.
    * `fresh` retrains the coarse model too. */
  private def ivfpqIdx(e: DataFrame, d: String, fresh: Boolean = false): String =
    indexFixture("ivfpq_idx", d, fresh) { dr =>
      val ivf = if (fresh) IvfIndex.train(e, k = 8, iters = 2) else ivfK8(e, d)
      IvfIndex.writeIndex(e, ivf, dr,
        IvfIndex.Codec.Pq(ProductQuantizer.trainResidual(e, ivf, m = 16, ksub = 16, iters = 10)))
    }

  private def hnswShardedIdx(e: DataFrame, d: String, fresh: Boolean = false): String =
    indexFixture("hnsw_sharded_idx", d, fresh) { dr =>
      Hnsw.writeIndexSharded(e, numShards = 4, dr)
    }

  private def hnswRoutedIdx(e: DataFrame, d: String): String =
    indexFixture("hnsw_routed_idx", d) { dr => Hnsw.writeIndexRouted(e, numShards = 4, dr) }

  /** A flat quantized store: `codec` over the one-centroid model at the
    * origin — one `cell=0` dir, searched at nprobe 1. */
  private def flatStore(key: String, e: DataFrame, d: String)(codec: => IvfIndex.Codec): String =
    indexFixture(key, d) { dr =>
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      IvfIndex.writeIndex(e, IvfIndex.Model(Array(Array.fill(dim)(0.0))), dr, codec)
    }

  private def sq8FlatIdx(e: DataFrame, d: String): String =
    flatStore("sq8_flat_idx", e, d) {
      val (mn, mx) = Quantize.scalarRange(e)
      IvfIndex.Codec.Sq8(mn, mx)
    }

  private def binaryFlatIdx(e: DataFrame, d: String): String =
    flatStore("binary_flat_idx", e, d)(IvfIndex.Codec.Binary)

  private def halfFlatIdx(e: DataFrame, d: String): String =
    flatStore("half_flat_idx", e, d)(IvfIndex.Codec.Half)

  /** Plain PQ (m = 16 × ksub = 16, trained on the raw vectors): at the
    * origin a residual is the vector, so these are plain-PQ codes. */
  private def pqFlatIdx(e: DataFrame, d: String): String =
    flatStore("pq_flat_idx", e, d) {
      IvfIndex.Codec.Pq(Fixtures.memo(s"pq_model:$d") {
        ProductQuantizer.train(e, m = 16, ksub = 16, iters = 10)
      })
    }

  /** The single-query search of the flat quantized stores: query vec_id
    * 0, `(vec_id, dist)` nearest first. */
  private def flatKnn(s: SparkSession, dir: String, e: DataFrame, k: Int,
                      overfetch: Int): DataFrame =
    IvfIndex.searchIndex(s, dir,
        e.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding")),
        k, nprobe = 1, metric = "l2", overfetch = overfetch)
      .orderBy(col("rn")).select(col("vec_id"), col("dist"))

  val defs: Map[String, QueryDef] = Map(

    // SimHash near-dup pairs, ORACLE-GATED (round 12): FNV-1a and the
    // bit-vote signature are replayed in DuckDB integer SQL (HUGEINT
    // mod-2^64 arithmetic for the unsigned multiply, signed xor for the
    // byte fold), the banding guard is complete for hamming ≤ 3, and the
    // oracle ranks TRUE all-pairs — so the 4×16-bit pigeonhole's recall
    // is certified, not assumed. ASCII projection (bytes == code points)
    // keeps the char-based oracle sound, the q_frame_sample convention.
    "q_dedup_simhash" -> QueryDef(
      (s, d) => {
        val a = Tables.documents(s, d)
          .select(col("doc_id"), regexp_replace(col("text"), "[^\\x00-\\x7F]", "?").as("text"))
        // maxBucket lifted to the corpus size: the oracle ranks TRUE
        // all-pairs, so the gate config must be the complete-banding
        // degeneration — a hot 16-bit chunk bucket past the production
        // cap would otherwise fail the hash gate by DESIGN (dropped
        // pairs). The capped production twin is the operator default;
        // droppedBuckets() is its monitoring hook.
        SimHash.nearDupPairs(a, maxHamming = 3, maxBucket = Int.MaxValue)
          .orderBy(col("id1"), col("id2"))
      },
      Some("""WITH a AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS text FROM documents),
             |w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(replace(text, chr(10), ' '), '[\s\x0b]{2,}', ' ', 'g'))), ' ') AS w FROM a),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
             |  THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]
             |  ELSE [array_to_string(w, ' ')] END) AS sh FROM w),
             |tok AS (SELECT doc_id, unnest(sh) AS t FROM sh),
             |fnv AS (SELECT doc_id, list_reduce(
             |  list_prepend(CAST(-3750763034362895579 AS BIGINT),
             |    list_transform(range(1, length(t)+1), i -> CAST(ord(substr(t, i, 1)) AS BIGINT))),
             |  (acc, b) -> CAST(
             |    CASE WHEN ((CASE WHEN xor(acc, b) < 0
             |                THEN CAST(xor(acc, b) AS HUGEINT) + 18446744073709551616::HUGEINT
             |                ELSE CAST(xor(acc, b) AS HUGEINT) END) * 1099511628211::HUGEINT)
             |              % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT
             |    THEN ((CASE WHEN xor(acc, b) < 0
             |                THEN CAST(xor(acc, b) AS HUGEINT) + 18446744073709551616::HUGEINT
             |                ELSE CAST(xor(acc, b) AS HUGEINT) END) * 1099511628211::HUGEINT)
             |              % 18446744073709551616::HUGEINT - 18446744073709551616::HUGEINT
             |    ELSE ((CASE WHEN xor(acc, b) < 0
             |                THEN CAST(xor(acc, b) AS HUGEINT) + 18446744073709551616::HUGEINT
             |                ELSE CAST(xor(acc, b) AS HUGEINT) END) * 1099511628211::HUGEINT)
             |              % 18446744073709551616::HUGEINT
             |    END AS BIGINT)) AS h FROM tok),
             |uh AS (SELECT doc_id, CASE WHEN h < 0
             |    THEN CAST(h AS HUGEINT) + 18446744073709551616::HUGEINT
             |    ELSE CAST(h AS HUGEINT) END AS u FROM fnv),
             |votes AS (SELECT doc_id, b,
             |    SUM(CASE WHEN (u // (1::HUGEINT << CAST(b AS INT))) % 2 = 1 THEN 1 ELSE -1 END) AS v
             |  FROM uh, range(0, 64) AS r(b) GROUP BY doc_id, b),
             |sig AS (SELECT doc_id,
             |    CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
             |      THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS simhash
             |  FROM (SELECT doc_id, COALESCE(SUM(CASE WHEN v > 0
             |      THEN (1::HUGEINT << CAST(b AS INT)) ELSE 0::HUGEINT END), 0::HUGEINT) AS s
             |    FROM votes GROUP BY doc_id)),
             |pairs AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2,
             |    CAST(bit_count(xor(s1.simhash, s2.simhash)) AS BIGINT) AS hamming
             |  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id)
             |SELECT id1, id2, hamming FROM pairs WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin)),

    "q_ann_lsh" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        AnnLsh.topK(e, q, k = 3).orderBy(col("qid"), col("rn"))
      },
      None),

    // Partition-surgical DELETE gate (round 11): a dedicated store
    // fixture is built once, every residue-class id is deleted through
    // deleteFromIndex (idempotent — re-invocations are no-ops against
    // the memoized store), and the surviving id set must hash-match the
    // complement — the whole affected-cell discovery / anti-join /
    // staged-swap path under the DuckDB signal.
    "q_ivf_delete" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfDeleteIdx(e, d)
        IvfIndex.deleteFromIndex(s, dir,
          e.where(col("vec_id") % 7 === 0).select(col("vec_id")))
        s.read.parquet(dir).select(col("vec_id")).orderBy(col("vec_id"))
      },
      Some("SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0 ORDER BY vec_id")),

    // Atomic index UPSERT gate (round 12): the reference's re-uploaded
    // blob (Function.java:71-88) at the index tier — a batch of CHANGED
    // vectors (%7, transformed) plus NEW ids (%13, negated, shifted ids)
    // goes through one StagedSwap-manifested delete+insert, and the full
    // post-upsert store must hash-match the oracle's recomputed corpus
    // element-by-element. Idempotent (re-running the same batch
    // converges), so bench reps replay cleanly.
    "q_ivf_upsert" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val dir = ivfUpsertIdx(e, d)
        val updated = e.where(col("vec_id") % 7 === 0)
          .select(col("vec_id"),
            transform(col("embedding"), x => x * lit(0.5) + lit(0.25)).as("embedding"))
        val fresh = e.where(col("vec_id") % 13 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"))
        IvfIndex.upsertIndex(s, dir, updated.unionByName(fresh))
        s.read.parquet(dir)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"),
            round(col("v"), 6).as("val"))
          .orderBy(col("vec_id"), col("dim"))
      },
      Some("""WITH post AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id % 7 <> 0
             |  UNION ALL
             |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x*0.5 + 0.25)
             |  FROM embeddings WHERE vec_id % 7 = 0
             |  UNION ALL
             |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> -x)
             |  FROM embeddings WHERE vec_id % 13 = 0)
             |SELECT vec_id, CAST(dim - 1 AS BIGINT) AS dim, round(CAST(v AS DOUBLE), 6) AS val
             |FROM (SELECT vec_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim FROM post)
             |ORDER BY vec_id, dim""".stripMargin)),

    // LSH exact-degeneration gate (round 11): nbits = 0 puts every row
    // in one bucket per table, so the candidate set is the whole corpus
    // and the rerank IS exact cosine top-k — hash-gating the bucketing /
    // dedup / rerank plumbing of the random-hyperplane path, the same
    // move as the IVF-family _exact twins.
    "q_ann_lsh_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        // tables = 1: with zero planes every table is the same single
        // bucket — more tables only multiply redundant candidate pairs
        AnnLsh.topK(e, q, k = 5, nbits = 0, tables = 1).orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
             |  FROM embeddings e CROSS JOIN q),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, cos, rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // Data-quality gate over the TPC-H slice: row-local checks in ONE
    // aggregation pass + key-uniqueness + referential integrity, each
    // one report row — the dbt-test/Deequ shape. The range check is
    // chosen to FAIL on the data (l_discount runs past 0.05) so the
    // violation path is exercised, not just zeros.
    "q_quality_checks" -> QueryDef(
      (s, d) => {
        import graft.operators.Quality
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
        Quality.report(Seq(
          Quality.rowChecks(li, Seq(
            Quality.notNull("l_orderkey"),
            Quality.inRange("l_discount", 0.0, 0.05),
            Quality.accepted("l_returnflag", Seq("A", "N", "R")))),
          Quality.unique(ord, Seq("o_orderkey")),
          Quality.referential(li, "l_orderkey", ord, "o_orderkey")))
          .select(col("check").as("check_name"), col("total"),
            col("violations"), col("pass"))
      },
      Some("""SELECT check_name, total, violations, violations = 0 AS pass FROM (
             |  SELECT 'not_null(l_orderkey)' AS check_name, count(*) AS total,
             |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'range(l_discount,0.0,0.05)', count(*),
             |    CAST(sum(CASE WHEN NOT coalesce(l_discount >= 0.0 AND l_discount <= 0.05, false)
             |             THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'accepted(l_returnflag)', count(*),
             |    CAST(sum(CASE WHEN NOT coalesce(l_returnflag IN ('A', 'N', 'R'), false)
             |             THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'unique(o_orderkey)', CAST(sum(n) AS BIGINT),
             |    CAST(sum(n - 1) AS BIGINT)
             |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
             |  UNION ALL
             |  SELECT 'referential(l_orderkey->o_orderkey)',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(*) FROM lineitem
             |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |)
             |ORDER BY check_name""".stripMargin)),

    // Cosine-metric IVF (pgvector vector_cosine_ops analogue): store
    // holds normalized vectors + a _metric.json sidecar; queries probe
    // by L2 on the unit sphere (order-equivalent), rerank reports
    // cosine distance. Rows-only gate; full-probe == exact cosine KNN
    // and the metric mixing guard are spec-gated (IvfStoreSpec).
    "q_ann_ivf_cos" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfCosIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.IvfIndex.searchIndex(s, dir, q, k = 3, nprobe = 12, metric = "cosine")
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Inner-product IVF search (pgvector vector_ip_ops / <#>): cells
    // probed by L2 (the faiss IVF-IP recipe), rerank by negative IP.
    // Rows-only gate; full-probe == exact IP KNN and the cosine-store
    // guard are spec-gated (IvfStoreSpec).
    "q_ann_ivf_ip" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfIpIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.IvfIndex.searchIndex(s, dir, q, k = 3, nprobe = 12, metric = "ip")
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // HNSW serve-tier graph search: deterministic driver-built graph,
    // broadcast once, beam search per query row on executors. Rows-only
    // gate (graph traversal isn't SQL-expressible); recall/structure/
    // round-trip invariants are spec-gated (HnswSpec).
    "q_ann_hnsw" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val index = Fixtures.memo(s"hnsw_graph:$d") {
          graft.operators.Hnsw.build(e, m = 16, efConstruction = 64)
        }
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.Hnsw.topKBatch(s, index, q, k = 3)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // HNSW iterative filtered search (round 9 — pgvector 0.8 iterative
    // scans on the graph side, pairing q_knn_filtered's IVF variant):
    // allowed ids broadcast as a set, ef escalates executor-locally.
    // Production shape (1/3 selectivity, small initial ef) — rows-gated;
    // stop-at-ef results are beam-order dependent. Invariants + the
    // exact gate live in HnswSpec / q_ann_hnsw_filt_exact.
    "q_ann_hnsw_filt" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val index = Fixtures.memo(s"hnsw_graph:$d") {
          graft.operators.Hnsw.build(e, m = 16, efConstruction = 64)
        }
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        val allowed = e.where(pmod(col("vec_id"), lit(3)) === 0).select(col("vec_id"))
        graft.operators.Hnsw.topKBatchFiltered(s, index, q, allowed, k = 5, ef = 8)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Filtered-HNSW EXACT gate: the allowed set holds 7 ids — fewer
    // than k = 10 — so every query's beam escalation exhausts the graph
    // and the exact filtered-scan fallback returns ALL allowed rows
    // ranked; hash covers the escalate→degenerate path and the
    // broadcast-set filtering.
    "q_ann_hnsw_filt_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val index = Fixtures.memo(s"hnsw_graph:$d") {
          graft.operators.Hnsw.build(e, m = 16, efConstruction = 64)
        }
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        val allowed = e.where(col("vec_id") < 7).select(col("vec_id"))
        graft.operators.Hnsw.topKBatchFiltered(s, index, q, allowed, k = 10, ef = 4)
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
             |f AS (SELECT * FROM embeddings WHERE vec_id < 7),
             |scored AS (
             |  SELECT q.qid, f.vec_id,
             |    round(list_distance(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
             |  FROM f CROSS JOIN q),
             |ranked AS (SELECT qid, vec_id, dist,
             |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, dist, CAST(rn AS BIGINT) AS rn
             |FROM ranked WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)),

    // DBSCAN density clustering (round-7 candidate): cell-blocked
    // eps-pair generation at FULL probe (the exhaustive/oracle setting,
    // spec-pinned equal to all-pairs), degree-based core marking,
    // min-label components over core-core edges, deterministic border
    // assignment (min core-neighbor cluster), noise = -1. The oracle
    // replays the whole pipeline exactly — eps compares on the
    // 4dp-rounded cosine distance on both engines.
    "q_dbscan" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = ivfK8(e, d)
        graft.operators.Clustering.dbscan(e, eps = 0.65, minPts = 3, model, nprobe = 8)
          .orderBy(col("vec_id"))
      },
      Some("""WITH RECURSIVE p AS (
             |  SELECT a.vec_id AS id1, b.vec_id AS id2
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |  WHERE round(1 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) <= 0.65),
             |sym AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
             |cores AS (SELECT a AS id FROM (SELECT a, count(*) + 1 AS n FROM sym GROUP BY a) WHERE n >= 3),
             |ce AS (SELECT id1, id2 FROM p
             |  WHERE id1 IN (SELECT id FROM cores) AND id2 IN (SELECT id FROM cores)),
             |e AS (SELECT id1 AS src, id2 AS dst FROM ce UNION SELECT id2, id1 FROM ce),
             |reach(id, label) AS (
             |  SELECT src, src FROM e
             |  UNION
             |  SELECT e.src, reach.label FROM e JOIN reach ON reach.id = e.dst),
             |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
             |core_clusters AS (
             |  SELECT c.id, coalesce(comp.component, c.id) AS cluster
             |  FROM cores c LEFT JOIN comp ON comp.id = c.id),
             |border AS (
             |  SELECT s.a AS id, min(cc.cluster) AS cluster
             |  FROM sym s JOIN core_clusters cc ON cc.id = s.b
             |  WHERE s.a NOT IN (SELECT id FROM cores)
             |  GROUP BY s.a)
             |SELECT emb.vec_id,
             |  CAST(coalesce(cc.cluster, bo.cluster, -1) AS BIGINT) AS cluster,
             |  CASE WHEN cc.id IS NOT NULL THEN 'core'
             |       WHEN bo.id IS NOT NULL THEN 'border'
             |       ELSE 'noise' END AS role
             |FROM embeddings emb
             |LEFT JOIN core_clusters cc ON cc.id = emb.vec_id
             |LEFT JOIN border bo ON bo.id = emb.vec_id
             |ORDER BY emb.vec_id""".stripMargin)),

    // Cluster-aware subsampling: DBSCAN labels feed the per-group quota
    // cap — at most `quota` docs per density cluster, picked by the
    // salted-md5 shuffle key (content-independent, engine-replayable),
    // noise carved out. The composition every cluster-balanced training
    // mix runs: dedup-by-density, then cap the giants.
    "q_cluster_sample" -> QueryDef(
      (s, d) => {
        import graft.operators.{Clustering, Curation}
        val e = Tables.embeddings(s, d)
        val model = ivfK8(e, d)
        val labeled = Clustering.dbscan(e, eps = 0.65, minPts = 3, model, nprobe = 8)
          .where(col("role") =!= "noise")
          .withColumn("__sk", Curation.shuffleKey(col("vec_id"), "cluster-sample"))
        Curation.capPerGroup(labeled, "cluster", "__sk", quota = 5)
          .select(col("vec_id"), col("cluster"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH RECURSIVE p AS (
             |  SELECT a.vec_id AS id1, b.vec_id AS id2
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |  WHERE round(1 - list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) <= 0.65),
             |sym AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
             |cores AS (SELECT a AS id FROM (SELECT a, count(*) + 1 AS n FROM sym GROUP BY a) WHERE n >= 3),
             |ce AS (SELECT id1, id2 FROM p
             |  WHERE id1 IN (SELECT id FROM cores) AND id2 IN (SELECT id FROM cores)),
             |e AS (SELECT id1 AS src, id2 AS dst FROM ce UNION SELECT id2, id1 FROM ce),
             |reach(id, label) AS (
             |  SELECT src, src FROM e
             |  UNION
             |  SELECT e.src, reach.label FROM e JOIN reach ON reach.id = e.dst),
             |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
             |core_clusters AS (
             |  SELECT c.id, coalesce(comp.component, c.id) AS cluster
             |  FROM cores c LEFT JOIN comp ON comp.id = c.id),
             |border AS (
             |  SELECT s.a AS id, min(cc.cluster) AS cluster
             |  FROM sym s JOIN core_clusters cc ON cc.id = s.b
             |  WHERE s.a NOT IN (SELECT id FROM cores)
             |  GROUP BY s.a),
             |labeled AS (
             |  SELECT id, cluster FROM core_clusters
             |  UNION ALL SELECT id, cluster FROM border),
             |ranked AS (
             |  SELECT id, cluster, row_number() OVER (PARTITION BY cluster
             |    ORDER BY md5('cluster-sample' || CAST(id AS VARCHAR))) AS rn
             |  FROM labeled)
             |SELECT id AS vec_id, CAST(cluster AS BIGINT) AS cluster
             |FROM ranked WHERE rn <= 5 ORDER BY vec_id""".stripMargin)),

    // Sharded HNSW: per-shard graphs built ON EXECUTORS (the scale path
    // past the driver build cap), scatter-gather search with a per-query
    // top-k merge over exact distances. Rows-only gate; recall, exact
    // degeneration at shard-covering ef, determinism, and the per-shard
    // cap are spec-gated (HnswSpec).
    "q_ann_hnsw_sharded" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = hnswShardedIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.Hnsw.searchIndexSharded(s, dir, q, k = 3)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // ROUTED sharded HNSW (round 10, VERDICT r9 #5): shards are k-means
    // cells (semantic assignment), each query probes only its 2 nearest
    // shard centroids — per-query cost O(p), with partition pruning
    // skipping un-probed shard directories. Rows-only (routed recall is
    // corpus-dependent); the recall floor and pruning are spec-pinned in
    // HnswSpec, and the exact-degeneration gate is below.
    "q_ann_hnsw_routed" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = hnswRoutedIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.Hnsw.searchIndexRouted(s, dir, q, k = 3, probeShards = 2)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Routed exact-degeneration gate: probeShards = numShards + covering
    // ef ⇒ the routing tier degenerates to the full scatter-gather and
    // the answer is exact KNN — the whole sidecar/routing/pruning/merge
    // path is hash-verified like every other index read path.
    "q_ann_hnsw_routed_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val dir = hnswRoutedIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.Hnsw.searchIndexRouted(s, dir, q, k = 5, ef = n, probeShards = 4)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // PRODUCTION-path DBSCAN: partial probe (nprobe=2 of k=8 cells) —
    // the configuration a 100 TB run would use, benched under its own
    // committed floor so the production path's cost is tracked, not just
    // the full-probe oracle-parity path above. Rows-only by design
    // (partial-probe recall is not SQL-expressible); the planted-cluster
    // recall floor is spec-pinned in ClusteringSpec.
    "q_dbscan_probed" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = ivfK8(e, d)
        graft.operators.Clustering.dbscan(e, eps = 0.65, minPts = 3, model, nprobe = 2)
          .orderBy(col("vec_id"))
      },
      None),

    // ── ANN EXACT-DEGENERATION ORACLE GATES ──────────────────────────
    // Each index family run at FULL probe (every cell) with a
    // corpus-covering overfetch/beam must return EXACTLY the brute-force
    // KNN answer — the index adds pruning, never error. The specs pin
    // these identities Spark-vs-Spark; these entries put the DuckDB hash
    // signal on the whole index READ path itself (sidecar parsing, cell
    // partition pruning, coarse scan, bounded rerank pushdown), where a
    // silent off-by-one would otherwise only surface as a recall dip.

    // In-memory IVF at full probe == exact cosine top-k.
    "q_ann_ivf_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = ivfK16(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.topK(e, q, model, k = 5, nprobe = 16).orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
             |  FROM embeddings e CROSS JOIN q),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, cos, rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // Persisted IVF-SQ index: full probe + covering overfetch == exact
    // L2 top-k THROUGH the quantized coarse scan and rerank pushdown.
    "q_ann_ivf_sq_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val dir = ivfSqIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 16, metric = "l2", overfetch = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // HALFVEC index (pgvector 0.7 halfvec_l2_ops, round 12): the
    // memory-halving tier — binary16 code column beside the float
    // column, (id, hvec)-only coarse pass in the half domain, bounded
    // float rerank. Rows-only production probe; recall floor and the
    // half round-trip are spec-gated (IvfHalfSpec).
    "q_ann_half" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfHalfIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 3, nprobe = 4, metric = "l2", overfetch = 4)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // HALFVEC exact-degeneration gate: full probe + covering overfetch
    // == exact float L2 top-k THROUGH the binary16 coarse scan and the
    // rerank pushdown — the same oracle every other index family gets.
    "q_ann_half_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val dir = ivfHalfIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 16, metric = "l2", overfetch = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // MATRYOSHKA index (pgvector's subvector-index recipe, MRL
    // embeddings): cells and the coarse pass live in the first-16-dims
    // PREFIX space — the coarse scan deserializes (id, sub) only, a
    // subDim/dim byte cut via parquet column pruning on top of the
    // nprobe/k partition cut — and the full 64-dim float column is read
    // only for the bounded rerank candidates. Rows-only (prefix recall
    // is corpus-dependent); spec pins the column-pruned plan and the
    // exact-degeneration gate is below.
    "q_ann_matryoshka" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfSubIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 3, nprobe = 4, metric = "l2", overfetch = 4)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Matryoshka exact-degeneration gate: full probe + covering
    // overfetch ⇒ exact L2 top-k THROUGH the prefix coarse scan and the
    // bounded rerank pushdown — hash-verified like the other five index
    // read paths.
    "q_ann_matryoshka_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val dir = ivfSubIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 16, metric = "l2", overfetch = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // pgvector 0.8's two headline recipes COMPOSED through SQL: an
    // iterative filtered scan over the subvector (Matryoshka) index —
    // the sub-aware leaf probes cells with the query PREFIX, and the
    // starved predicate (5 survivors < k = 10) forces full-probe
    // exhaustion, so the answer is EXACT over the filtered corpus and
    // the whole prefix-probe/escalate/exhaust path is hash-gated.
    "q_knn_matryoshka_sql" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfSubIdx(e, d)
        val qv = e.where(col("vec_id") === 7)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val vlit = s"array(${qv.map(x => s"${x}D").mkString(",")})"
        GraftFunctions.register(s)
        s.read.parquet(dir).createOrReplaceTempView("ivf_sub_sql_v")
        s.sql(
          s"""SELECT vec_id, round(vec_l2(embedding, $vlit), 4) AS dist
             |FROM ivf_sub_sql_v WHERE vec_id % 97 = 0 AND vec_id < 400
             |ORDER BY vec_l2(embedding, $vlit), vec_id LIMIT 10""".stripMargin)
      },
      Some("""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
             |f AS (SELECT vec_id, embedding FROM embeddings
             |      WHERE vec_id % 97 = 0 AND vec_id < 400)
             |SELECT f.vec_id,
             |  round(list_distance(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
             |FROM f CROSS JOIN q
             |ORDER BY list_distance(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), f.vec_id
             |LIMIT 10""".stripMargin)),

    // Persisted IVF-PQ index: full probe + covering overfetch == exact
    // L2 top-k THROUGH the residual ADC coarse scan and rerank pushdown.
    "q_ann_ivfpq_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val dir = ivfpqIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 8, metric = "l2", overfetch = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // Sharded HNSW: shard-covering beam (ef = corpus) == exact L2 top-k
    // through the executor-built graphs and the scatter-gather merge.
    "q_ann_hnsw_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val dir = hnswShardedIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.Hnsw.searchIndexSharded(s, dir, q, k = 5, ef = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // Sharded HNSW under the TIGHT exactness claim (round 14): ef covers
    // each SHARD (max per-shard node count), not the whole corpus — the
    // per-shard beam finds its local top-k, and the scatter-gather merge
    // alone must reassemble the exact global answer. q_ann_hnsw_exact
    // above pins the looser ef=corpus configuration; this one certifies
    // that a shard-sized beam is already sufficient, which is what the
    // production cost model assumes (per-shard work scales with shard
    // size, never corpus size).
    "q_ann_hnsw_sharded_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = hnswShardedIdx(e, d)
        // the shard-covering ef comes off the store itself (4 rows)
        val maxShard = s.read.parquet(dir).agg(max(col("n"))).head().getLong(0).toInt
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.Hnsw.searchIndexSharded(s, dir, q, k = 5, ef = maxShard)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // HOT-TIER HNSW exactness (round 14): the driver-built broadcast
    // graph (Hnsw.build + topKBatch) was the last ANN read path without
    // a DuckDB hash twin — corpus-covering ef degenerates the beam to
    // exact L2 top-k through the graph traversal, the broadcast and the
    // per-partition search loop.
    "q_ann_hnsw_hot_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val index = Fixtures.memo(s"hnsw_graph:$d") {
          graft.operators.Hnsw.build(e, m = 16, efConstruction = 64)
        }
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        graft.operators.Hnsw.topKBatch(s, index, q, k = 5, ef = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // Cosine-metric store (vectors L2-normalized at write): full probe ==
    // exact cosine-distance top-k; cosine is scale-invariant, so the
    // oracle scores the RAW vectors.
    "q_ann_ivf_cos_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfCosIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 16, metric = "cosine")
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    round(1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
             |  FROM embeddings e CROSS JOIN q),
             |ranked AS (SELECT qid, vec_id, dist,
             |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, dist, rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // Inner-product search on an L2 store: full probe == exact MIPS
    // (ascending −⟨corpus, q⟩) — the nprobe-recall caveat vanishes when
    // every cell is probed.
    "q_ann_ivf_ip_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfIpIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 16, metric = "ip")
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    round(-list_inner_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
             |  FROM embeddings e CROSS JOIN q),
             |ranked AS (SELECT qid, vec_id, dist,
             |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, dist, rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // L1 (pgvector 0.7 <+>) IVF search at partial probe — rows-only
    // (probe recall is the knob); the exact hash signal is the
    // degeneration gate below. Shares the plain-L2 store with the IP
    // family (both rerank a different metric over L2-probed cells).
    "q_ann_ivf_l1" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfIpIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 3, nprobe = 12, metric = "l1")
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // L1 search at full probe == exact Manhattan KNN through the cell
    // pruning and rerank — the <+> degeneration gate.
    "q_ann_ivf_l1_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfIpIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 16, metric = "l1")
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
             |scored AS (
             |  SELECT q.qid, e.vec_id,
             |    round(list_sum([abs(e.embedding[i] - q.embedding[i])
             |      for i in range(1, len(e.embedding) + 1)]), 4) AS dist
             |  FROM embeddings e CROSS JOIN q),
             |ranked AS (SELECT qid, vec_id, dist,
             |    row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, dist, rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    // Iterative FILTERED ANN (round 9 — pgvector 0.8's "iterative index
    // scans"): a relational predicate rides along `ORDER BY emb <=> q
    // LIMIT k`; short results double their probe set until k survivors
    // or full probe. Production shape: moderate 1/3 selectivity, small
    // initial probe — rows-gated (stop-at-k is probe-order dependent),
    // invariants spec-pinned in IvfStoreSpec.
    "q_knn_filtered" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfIpIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndexFiltered(s, dir, q, pmod(col("vec_id"), lit(3)) === 0,
            k = 5, nprobe = 2)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Filtered-search EXACT gate: the predicate keeps only 5 corpus
    // rows (vec_id % 97 = 0 AND vec_id < 400) — fewer than k = 10 — so
    // EVERY query must escalate to the full probe and return ALL
    // matches exactly ranked; the hash gates the whole iterate→widen→
    // degenerate path plus the in-scan predicate placement.
    "q_knn_filtered_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfIpIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndexFiltered(s, dir, q,
            pmod(col("vec_id"), lit(97)) === 0 && col("vec_id") < 400,
            k = 10, nprobe = 1)
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 4),
             |f AS (SELECT * FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < 400),
             |scored AS (
             |  SELECT q.qid, f.vec_id,
             |    round(list_cosine_similarity(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
             |  FROM f CROSS JOIN q),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, cos, CAST(rn AS BIGINT) AS rn
             |FROM ranked WHERE rn <= 10 ORDER BY qid, rn""".stripMargin)),

    // SQL LOWERING of the iterative filtered scan (round 10 — the last
    // pgvector-0.8 planner-parity gap): the SAME starved-filter shape as
    // q_knn_filtered_exact, but expressed as the SQL a pgvector user
    // would port (`WHERE pred ORDER BY emb <-> q LIMIT k` →
    // `WHERE pred ORDER BY vec_l2(...) LIMIT k`). IvfScanRewriteRule
    // plants the probe-escalation leaf (plans.IvfIterativeFilteredScan):
    // 5 survivors < k = 10 forces escalate→full-probe→EXACT, so the hash
    // gates the whole planner path; IvfIterativeScanSpec pins the plan
    // shape and the stop-at-k round. Exact also without the rule
    // attached (plain scan), so the gate never depends on session setup.
    "q_knn_filtered_sql" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfIpIdx(e, d)
        val qv = e.where(col("vec_id") === 7)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        // D suffix: bare decimals parse as DECIMAL(19,19), not double
        val vlit = s"array(${qv.map(x => s"${x}D").mkString(",")})"
        GraftFunctions.register(s)
        s.read.parquet(dir).createOrReplaceTempView("ivf_sql_v")
        s.sql(
          s"""SELECT vec_id, round(vec_l2(embedding, $vlit), 4) AS dist
             |FROM ivf_sql_v WHERE vec_id % 97 = 0 AND vec_id < 400
             |ORDER BY vec_l2(embedding, $vlit), vec_id LIMIT 10""".stripMargin)
      },
      Some("""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
             |f AS (SELECT vec_id, embedding FROM embeddings
             |      WHERE vec_id % 97 = 0 AND vec_id < 400)
             |SELECT f.vec_id,
             |  round(list_distance(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
             |FROM f CROSS JOIN q
             |ORDER BY list_distance(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), f.vec_id
             |LIMIT 10""".stripMargin)),

    // Iterative filtered scan over the HALFVEC store (round 14): the
    // same starved-predicate SQL shape as q_knn_filtered_sql, riding a
    // packed-binary16 store — the rewrite must plant the escalation leaf
    // on this family too (spec-pinned in IvfIterativeScanSpec along with
    // the binary store), and because the user's Sort reranks on the
    // FLOAT column, escalate→exhaustion is EXACT over the filtered
    // corpus: the half tier's precision never leaks into the result.
    "q_knn_half_filtered_sql" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfHalfFiltIdx(e, d)
        val qv = e.where(col("vec_id") === 7)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val vlit = s"array(${qv.map(x => s"${x}D").mkString(",")})"
        GraftFunctions.register(s)
        s.read.parquet(dir).createOrReplaceTempView("ivf_half_sql_v")
        s.sql(
          s"""SELECT vec_id, round(vec_l2(embedding, $vlit), 4) AS dist
             |FROM ivf_half_sql_v WHERE vec_id % 97 = 0 AND vec_id < 400
             |ORDER BY vec_l2(embedding, $vlit), vec_id LIMIT 10""".stripMargin)
      },
      Some("""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
             |f AS (SELECT vec_id, embedding FROM embeddings
             |      WHERE vec_id % 97 = 0 AND vec_id < 400)
             |SELECT f.vec_id,
             |  round(list_distance(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
             |FROM f CROSS JOIN q
             |ORDER BY list_distance(f.embedding::DOUBLE[], q.embedding::DOUBLE[]), f.vec_id
             |LIMIT 10""".stripMargin)),

    // Deterministic hash-bucket sampling — reproducible subsets at any
    // partitioning; the exact md5-bucket construction replays in DuckDB.
    "q_sample_hash" -> QueryDef(
      (s, d) => graft.operators.Sampling
        .deterministicSample(Tables.documents(s, d), "doc_id", percent = 10)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
             |WHERE ('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
             |ORDER BY doc_id""".stripMargin)),

    // MMR diversification rerank (Carbonell & Goldstein 1998): top-10
    // retrieval pool → greedy λ·rel − (1−λ)·max-sim-to-picked, k=5. The
    // greedy is sequential by nature, so it runs driver-local over the
    // BOUNDED serve set (maxCandidates-guarded); the oracle replays it
    // as five unrolled argmax stages. All scores rounded 4dp before
    // comparison, ties by id — hash-exact.
    "q_mmr_rerank" -> QueryDef(
      (s, d) => {
        import graft.functions.VectorFunctions
        val e = Tables.embeddings(s, d)
        val q = broadcast(e.where(col("vec_id") === 7).select(col("embedding").as("qe")))
        val cand = e.crossJoin(q)
          .select(col("vec_id"), col("embedding"),
            round(VectorFunctions.cosineSimilarity(col("embedding"), col("qe")), 4).as("rel"))
          .orderBy(col("rel").desc, col("vec_id")).limit(10)
        graft.operators.Mmr.rerank(cand, lambda = 0.7, k = 5).orderBy(col("rn"))
      },
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 7),
             |cand AS (
             |  SELECT e.vec_id, e.embedding::DOUBLE[] AS emb,
             |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4) AS rel
             |  FROM embeddings e CROSS JOIN q
             |  ORDER BY rel DESC, e.vec_id LIMIT 10),
             |p1 AS (SELECT vec_id, emb, rel AS mmr FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
             |s1 AS (SELECT vec_id, emb FROM p1),
             |r2 AS (SELECT c.vec_id, c.emb,
             |         round(0.7*c.rel - 0.3*(SELECT max(round(list_cosine_similarity(c.emb, s.emb), 4)) FROM s1 s), 4) AS mmr
             |       FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)),
             |p2 AS (SELECT vec_id, emb, mmr FROM r2 ORDER BY mmr DESC, vec_id LIMIT 1),
             |s2 AS (SELECT * FROM s1 UNION ALL SELECT vec_id, emb FROM p2),
             |r3 AS (SELECT c.vec_id, c.emb,
             |         round(0.7*c.rel - 0.3*(SELECT max(round(list_cosine_similarity(c.emb, s.emb), 4)) FROM s2 s), 4) AS mmr
             |       FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM s2)),
             |p3 AS (SELECT vec_id, emb, mmr FROM r3 ORDER BY mmr DESC, vec_id LIMIT 1),
             |s3 AS (SELECT * FROM s2 UNION ALL SELECT vec_id, emb FROM p3),
             |r4 AS (SELECT c.vec_id, c.emb,
             |         round(0.7*c.rel - 0.3*(SELECT max(round(list_cosine_similarity(c.emb, s.emb), 4)) FROM s3 s), 4) AS mmr
             |       FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM s3)),
             |p4 AS (SELECT vec_id, emb, mmr FROM r4 ORDER BY mmr DESC, vec_id LIMIT 1),
             |s4 AS (SELECT * FROM s3 UNION ALL SELECT vec_id, emb FROM p4),
             |r5 AS (SELECT c.vec_id, c.emb,
             |         round(0.7*c.rel - 0.3*(SELECT max(round(list_cosine_similarity(c.emb, s.emb), 4)) FROM s4 s), 4) AS mmr
             |       FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM s4)),
             |p5 AS (SELECT vec_id, emb, mmr FROM r5 ORDER BY mmr DESC, vec_id LIMIT 1)
             |SELECT vec_id, mmr, CAST(1 AS BIGINT) AS rn FROM p1
             |UNION ALL SELECT vec_id, mmr, 2 FROM p2
             |UNION ALL SELECT vec_id, mmr, 3 FROM p3
             |UNION ALL SELECT vec_id, mmr, 4 FROM p4
             |UNION ALL SELECT vec_id, mmr, 5 FROM p5
             |ORDER BY rn""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    // exact-size, probability ∝ weight, deterministic on any engine or
    // partitioning — ln(u)/w keys from salted-md5 uniforms, identical FP
    // op order on both engines, so even the ORDER is hash-exact. Output
    // is id-only (the winning set + rank order), no float columns.
    "q_weighted_sample" -> QueryDef(
      (s, d) => graft.operators.Sampling
        .weightedSample(Tables.documents(s, d), "doc_id", "n_chars", n = 50)
        .select(col("doc_id")),
      Some("""WITH u AS (
             |  SELECT doc_id, n_chars,
             |    (('0x' || substr(md5('graft-wsample' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |      + 0.5) / 4294967296.0 AS u
             |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
             |SELECT doc_id FROM u
             |ORDER BY round(ln(u) / CAST(n_chars AS DOUBLE), 10) DESC, doc_id LIMIT 50""".stripMargin)),

    // IVF ANN (trained coarse quantizer) — approximate, rows-only; recall
    // is spec-gated (ApproxOpsSpec).
    "q_ann_ivf" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = ivfK16(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.topK(e, q, model, k = 3, nprobe = 4).orderBy(col("qid"), col("rn"))
      },
      None),

    // IVF-SQ: quantized persisted IVF index — cell partition pruning ×
    // code-column-only coarse scan × full-precision rerank. Approximate,
    // rows-only; recall + plan shape are spec-gated (IvfStoreSpec).
    "q_ann_ivf_sq" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfSqIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 3, nprobe = 4, metric = "l2")
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Large-x-large KNN JOIN: every left vector gets its top-k right
    // neighbors, neither side broadcast (cell-blocked shuffle join).
    // Approximate, rows-only; recall + plan are spec-gated (IvfStoreSpec).
    "q_knn_join" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = ivfK16(e, d)
        val left = e.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
        val right = e.where(col("vec_id") >= 8)
        IvfIndex.knnJoin(left, right, model, k = 3, nprobe = 6)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // KNN-join degeneration gate: every-cell probing makes the blocked
    // join EXACT (each left row meets every right row), so the whole
    // cell-key shuffle path hash-checks against the brute-force cosine
    // join — the q_ann_*_exact convention extended to the large-x-large
    // shape.
    "q_knn_join_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = ivfK16(e, d)
        val left = e.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
        val right = e.where(col("vec_id") >= 8)
        IvfIndex.knnJoin(left, right, model, k = 3, nprobe = 16)
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH l AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 8),
             |r AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
             |scored AS (
             |  SELECT l.qid, r.vec_id,
             |    round(list_cosine_similarity(r.embedding::DOUBLE[], l.embedding::DOUBLE[]), 4) AS cos
             |  FROM l CROSS JOIN r),
             |ranked AS (SELECT qid, vec_id, cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
             |  FROM scored)
             |SELECT qid, vec_id, cos, rn FROM ranked WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    // IVF-PQ at a narrow probe: the q_ann_ivfpq_idx search on the same
    // 8-cell store, probing 2 cells instead of 4 — coarse cells +
    // product codes over residuals, per-(query, cell) ADC tables,
    // full-precision rerank. Approximate, rows-only;
    // recall/identity/exact-degeneration are spec-gated (PqSpec).
    "q_ann_ivfpq" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, ivfpqIdx(e, d), q, k = 3, nprobe = 2, metric = "l2", overfetch = 8)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // PERSISTED IVF-PQ index (faiss IVFPQ's on-disk shape): cell
    // partition pruning × m-int ADC coarse scan × full-precision rerank
    // with the id-pushdown/semi-join guard. Approximate, rows-only;
    // recall, exact degeneration, and the guard invariant are spec-gated
    // (PqSpec), the planner path in IvfRewriteSpec.
    "q_ann_ivfpq_idx" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfpqIdx(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 3, nprobe = 4, metric = "l2", overfetch = 8)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Product quantization + ADC batch search over the flat (one-cell)
    // PQ store — approximate, rows-only; ADC identity, determinism, and
    // recall are spec-gated (PqSpec).
    "q_ann_pq" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, pqFlatIdx(e, d), q, k = 3, nprobe = 1, metric = "l2",
            overfetch = 8)
          .orderBy(col("qid"), col("rn"))
      },
      None),

    // Plain-PQ exact-degeneration gate (round 11): a corpus-covering
    // overfetch makes the ADC coarse pass rank everything and the
    // full-precision rerank exact — the ADC-table / coarse-scan /
    // rerank plumbing gets the DuckDB hash signal like its IVF-PQ twin.
    "q_ann_pq_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, pqFlatIdx(e, d), q, k = 5, nprobe = 1, metric = "l2",
            overfetch = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // Winnowing (MOSS) fingerprints — native digest expression; oracle
    // replays the identical pipeline with DuckDB list comprehensions.
    "q_winnow" -> QueryDef(
      (s, d) => {
        val fp = WinnowExpressions.winnowFingerprints(
          TextFunctions.canonicalText(col("text")), k = 8, w = 4)
        Tables.documents(s, d)
          .select(col("doc_id"), fp.as("__fp"))
          .select(col("doc_id"), size(col("__fp")).cast("long").as("n_fp"),
            md5(array_join(col("__fp"), "|")).as("fp_hash"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id, lower(trim(regexp_replace(replace(text, chr(10), ' '), '[\s\x0b]{2,}', ' ', 'g'))) AS t FROM documents),
             |h AS (SELECT doc_id, CASE WHEN length(t) < 8 THEN [md5(t)]
             |  ELSE [md5(substr(t, i, 8)) for i in range(1, length(t)-8+2)] END AS hs FROM c),
             |p AS (SELECT doc_id, CASE WHEN len(hs) < 4 THEN [list_min(hs)]
             |  ELSE [list_min(hs[j:j+3]) for j in range(1, len(hs)-4+2)] END AS picks FROM h)
             |SELECT doc_id, CAST(len(list_sort(list_distinct(picks))) AS BIGINT) AS n_fp,
             |  md5(array_to_string(list_sort(list_distinct(picks)), '|')) AS fp_hash
             |FROM p ORDER BY doc_id""".stripMargin)),

    // Frame sampling over binary media (stride > frame ⇒ keyframe shape).
    // frameSample operates on BYTES (the honest media semantic); DuckDB
    // can't hash blob slices, so the gate feeds ASCII-sanitized content
    // (bytes == chars) to keep the char-based oracle sound even if the
    // corpus ever grows multi-byte text.
    "q_frame_sample" -> QueryDef(
      (s, d) => {
        val ascii = regexp_replace(col("text"), "[^\\x00-\\x7F]", "?")
        val media = Tables.documents(s, d)
          .select(col("doc_id"), encode(ascii, "UTF-8").as("content"),
            struct(lit("application/pdf").as("media_type"),
              length(ascii).cast("long").as("declared_bytes")).as("meta"))
        BinaryPipeline.frameSample(media, frameLen = 100, stride = 150)
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some("""WITH a AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS t FROM documents)
             |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(i*150 AS BIGINT) AS byte_offset,
             |  md5(substr(t, i*150 + 1, 100)) AS frame_md5
             |FROM a, unnest(range(0, greatest(1, CAST(ceil(length(t) / 150.0) AS INT)))) AS t2(i)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // HLL++ sketch — engine-specific estimator, so no cross-engine oracle;
    // relative-error bound is spec-gated (ApproxOpsSpec).
    "q_approx_distinct" -> QueryDef(
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).cast("long").as("approx_users"),
          count(lit(1)).cast("long").as("n_events"))
        .orderBy(col("event_type")),
      None),

    // Overlapping audio-window segmentation (hop < segLen): per-segment
    // md5 + stub energy (= sum of byte values; the ASCII projection makes
    // byte == code point so DuckDB replays it with ord()).
    "q_audio_segments" -> QueryDef(
      (s, d) => {
        val ascii = regexp_replace(col("text"), "[^\\x00-\\x7F]", "?")
        val media = Tables.documents(s, d)
          .select(col("doc_id"), encode(ascii, "UTF-8").as("content"),
            struct(lit("audio/wav").as("media_type"),
              length(ascii).cast("long").as("declared_bytes")).as("meta"))
        BinaryPipeline.segmentAudio(media, segLen = 200, hop = 100)
          .orderBy(col("doc_id"), col("seg_idx"))
      },
      Some("""WITH a AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS t FROM documents)
             |SELECT doc_id, CAST(i AS BIGINT) AS seg_idx, CAST(i*100 AS BIGINT) AS byte_offset,
             |  CAST(length(substr(t, i*100 + 1, 200)) AS BIGINT) AS seg_len,
             |  CAST(coalesce(list_sum(list_transform(range(1, length(substr(t, i*100 + 1, 200)) + 1),
             |    j -> ord(substr(substr(t, i*100 + 1, 200), j, 1)))), 0) AS BIGINT) AS energy,
             |  md5(substr(t, i*100 + 1, 200)) AS seg_md5
             |FROM a, unnest(range(0, greatest(1, CAST(ceil(length(t) / 100.0) AS INT)))) AS t2(i)
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // REAL audio decode (round 15, VERDICT r14 #2): deterministic WAVs —
    // RIFF/PCM, 8/16-bit, mono/stereo — are synthesized in-engine from
    // doc_id alone, parsed back by the real RIFF reader, and reduced to
    // per-window INTEGER features: sum of squared samples (energy) and
    // channel-0 zero crossings. The oracle replays sample math from the
    // SAME doc_id formulas without ever seeing the bytes, so any codec
    // bug (sign convention, interleave, block align, window cut) breaks
    // the hash gate. q_audio_segments (the byte-window shape) stays.
    "q_audio_wav" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesizeWavs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH p AS (SELECT doc_id,
             |    1 + doc_id % 2 AS ch,
             |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
             |    8000 + (doc_id % 4) * 4000 AS sr,
             |    400 + doc_id % 257 AS nf FROM documents),
             |w AS (SELECT p.*, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil(nf / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.*, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |s AS (SELECT doc_id, ch, bits, sr, nf, wi, i, c,
             |    CASE WHEN bits = 8 THEN (doc_id*31 + i*7 + c*13) % 256 - 128
             |         ELSE (doc_id*31 + i*7 + c*13) % 4001 - 2000 END AS v,
             |    CASE WHEN bits = 8 THEN (doc_id*31 + (i-1)*7) % 256 - 128
             |         ELSE (doc_id*31 + (i-1)*7) % 4001 - 2000 END AS pv
             |  FROM f, unnest(range(0, ch)) t(c))
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(sr AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
             |  CAST(bits AS BIGINT) AS bits,
             |  CAST(count(DISTINCT i) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN c = 0 AND i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s GROUP BY doc_id, wi, sr, ch, bits
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // MP3 METADATA extraction (round 18, VERDICT r17 #8's metadata-first
    // leg): ID3v2.3/2.4 text frames (latin-1 + UTF-8, syncsafe sizes),
    // trailing ID3v1 blocks, and the MPEG-1 Layer III frame walk —
    // per-frame VBR bitrate indices, padding, the V1L3 bitrate table —
    // all replayed byte-blind from the id formulas. A frame-length slip,
    // a syncsafe misread or a tag-precedence bug breaks the hash; full
    // Layer III audio decode stays out of scope and rejects by name.
    "q_audio_mp3_meta" -> QueryDef(
      (s, d) => BinaryPipeline.decodeMp3Meta(
          MediaFixtures.synthesizeMp3s(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |      ELSE 32000 END AS sr,
             |    CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS ch,
             |    20 + doc_id % 17 AS nf FROM documents),
             |fr AS (SELECT p.*, f,
             |    CASE 1 + (doc_id + f) % 14
             |      WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
             |      WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
             |      WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
             |      WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS br,
             |    CASE WHEN doc_id % 3 = 0 AND f % 2 = 1 THEN 1 ELSE 0 END AS pad
             |  FROM p, unnest(range(0, nf)) t(f))
             |SELECT doc_id,
             |  CAST(sr AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
             |  CAST(nf AS BIGINT) AS frame_count,
             |  CAST(SUM(144000 * br // sr + pad) AS BIGINT) AS audio_bytes,
             |  CAST(nf * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
             |  'Title' || CAST(doc_id % 7 AS VARCHAR) AS title,
             |  'Artist' || CAST(doc_id % 5 AS VARCHAR) AS artist,
             |  'Album' || CAST(doc_id % 3 AS VARCHAR) AS album
             |FROM fr GROUP BY doc_id, sr, ch, nf ORDER BY doc_id""".stripMargin)),

    // OGG container metadata (round 19, VERDICT r18 #6 — the other big
    // crawled-audio family next to MP3): RFC 3533 page walk with every
    // page's CRC-32 verified (the format's own integrity oracle),
    // lacing/packet assembly, and the three common stream mappings'
    // header packets — Vorbis id+comment, OpusHead/OpusTags (granules
    // at 48 kHz minus pre-skip by spec), FLAC-in-Ogg STREAMINFO +
    // VORBIS_COMMENT. The oracle replays the id formulas byte-blind;
    // audio decode stays out of scope and rejects by name.
    "q_audio_ogg_meta" -> QueryDef(
      (s, d) => BinaryPipeline.decodeOggMeta(
          MediaFixtures.synthesizeOggs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'vorbis' WHEN 1 THEN 'opus'
             |    ELSE 'flac' END AS codec,
             |  CAST(CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |    WHEN 2 THEN 32000 ELSE 22050 END AS BIGINT) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
             |  CAST((9600 + (doc_id % 7) * 480) * 1000 //
             |    (CASE WHEN doc_id % 3 = 1 THEN 48000
             |          ELSE CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |            WHEN 2 THEN 32000 ELSE 22050 END END) AS BIGINT) AS duration_ms,
             |  CAST(4 + doc_id % 5 AS BIGINT) AS page_count,
             |  'OggTitle' || CAST(doc_id % 7 AS VARCHAR) AS title,
             |  'OggArtist' || CAST(doc_id % 5 AS VARCHAR) AS artist,
             |  'OggAlbum' || CAST(doc_id % 3 AS VARCHAR) AS album
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // FLAC audio decode (round 18, VERDICT r17 #3): the SAME sample
    // corpus as q_audio_wav losslessly FLAC-encoded in-engine — rice
    // residuals over fixed predictors, CONSTANT/VERBATIM subframes,
    // left/side / right/side / mid/side decorrelation, per-frame
    // CRC-8/CRC-16 and the STREAMINFO MD5 all verified on decode (the
    // format's own IN-BAND oracle). The DuckDB oracle is q_audio_wav's
    // VERBATIM — lossless invariance: decoded windows must be
    // bit-identical to the PCM ones or the hash breaks.
    "q_audio_flac" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesizeFlacs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH p AS (SELECT doc_id,
             |    1 + doc_id % 2 AS ch,
             |    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
             |    8000 + (doc_id % 4) * 4000 AS sr,
             |    400 + doc_id % 257 AS nf FROM documents),
             |w AS (SELECT p.*, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil(nf / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.*, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |s AS (SELECT doc_id, ch, bits, sr, nf, wi, i, c,
             |    CASE WHEN bits = 8 THEN (doc_id*31 + i*7 + c*13) % 256 - 128
             |         ELSE (doc_id*31 + i*7 + c*13) % 4001 - 2000 END AS v,
             |    CASE WHEN bits = 8 THEN (doc_id*31 + (i-1)*7) % 256 - 128
             |         ELSE (doc_id*31 + (i-1)*7) % 4001 - 2000 END AS pv
             |  FROM f, unnest(range(0, ch)) t(c))
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(sr AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
             |  CAST(bits AS BIGINT) AS bits,
             |  CAST(count(DISTINCT i) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN c = 0 AND i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s GROUP BY doc_id, wi, sr, ch, bits
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // G.711 µ-law audio decode (round 15): the telephony-corpus WAV
    // variant — format-7 files with raw 8-bit codes, expanded to 14-bit
    // linear by the pure-integer G.711 formula and windowed through the
    // SAME feature op as PCM. The oracle replays the expansion formula
    // (u = 255−code; mag = (8·(u%16)+132)·2^((u//16)%8) − 132, negative
    // when u ≥ 128) byte-blind, so a table or sign-convention bug breaks
    // the hash.
    "q_audio_mulaw" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesizeMulawWavs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH p AS (SELECT doc_id, 300 + doc_id % 257 AS nf FROM documents),
             |w AS (SELECT p.*, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil(nf / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.*, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |s AS (SELECT doc_id, nf, wi, i,
             |    CASE WHEN (255 - (doc_id*31 + i*7) % 256) >= 128 THEN -1 ELSE 1 END *
             |    ((8 * ((255 - (doc_id*31 + i*7) % 256) % 16) + 132)
             |      * (1 << (((255 - (doc_id*31 + i*7) % 256) // 16) % 8)) - 132) AS v,
             |    CASE WHEN (255 - (doc_id*31 + (i-1)*7) % 256) >= 128 THEN -1 ELSE 1 END *
             |    ((8 * ((255 - (doc_id*31 + (i-1)*7) % 256) % 16) + 132)
             |      * (1 << (((255 - (doc_id*31 + (i-1)*7) % 256) // 16) % 8)) - 132) AS pv
             |  FROM f)
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
             |  CAST(8 AS BIGINT) AS bits,
             |  CAST(count(*) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s GROUP BY doc_id, wi
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // G.711 A-law audio decode (round 15, µ-law's twin — European
    // telephony corpora): format-6 files, codes XOR 0x55 on the wire,
    // segment-0-linear expansion, sign convention MIRRORED vs µ-law
    // (a ≥ 128 is positive). The oracle replays the expansion formula
    // byte-blind; a sign, XOR or segment bug breaks the hash.
    "q_audio_alaw" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesizeAlawWavs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH p AS (SELECT doc_id, 300 + doc_id % 257 AS nf FROM documents),
             |w AS (SELECT p.*, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil(nf / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.*, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |c AS (SELECT doc_id, nf, wi, i,
             |    xor((doc_id*29 + i*13) % 256, 85) AS a,
             |    -- +256 normalization: at i = 0 the i-1 term can go
             |    -- negative (doc 0) and DuckDB's % keeps the sign; the
             |    -- pv value is unused there but must still be computable
             |    xor(((doc_id*29 + (i-1)*13) % 256 + 256) % 256, 85) AS pa
             |  FROM f),
             |s AS (SELECT doc_id, nf, wi, i,
             |    (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
             |    (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
             |          ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1)) END) AS v,
             |    (CASE WHEN pa >= 128 THEN 1 ELSE -1 END) *
             |    (CASE WHEN (pa // 16) % 8 = 0 THEN (pa % 16) * 16 + 8
             |          ELSE ((pa % 16) * 16 + 264) * (1 << ((pa // 16) % 8 - 1)) END) AS pv
             |  FROM c)
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
             |  CAST(8 AS BIGINT) AS bits,
             |  CAST(count(*) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s GROUP BY doc_id, wi
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // IMA ADPCM audio decode (round 16, VERDICT r15 #5): the remaining
    // common compressed WAV wire format in telephony/game corpora —
    // format-0x11 files whose 4-bit nibbles predict samples through the
    // public IMA step table, with per-block predictor reset from the
    // block header. The WIRE content (headers + nibble stream) is
    // formula-synthesized, and the oracle replays the decoder's FULL
    // predictor recursion as a DuckDB recursive CTE over the same
    // public table (restated literally) — so a wrong step entry, a
    // clamp bug, a nibble-order swap or a missed block reset breaks
    // the hash on real decoded samples, not summaries of them.
    "q_audio_adpcm" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesizeAdpcmWavs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH RECURSIVE
             |stept(idx, st) AS (SELECT * FROM (VALUES
             |    (0,7),(1,8),(2,9),(3,10),(4,11),(5,12),(6,13),(7,14),(8,16),(9,17),(10,19),(11,21),(12,23),(13,25),(14,28),(15,31),(16,34),(17,37),(18,41),(19,45),(20,50),(21,55),(22,60),(23,66),(24,73),(25,80),(26,88),(27,97),(28,107),(29,118),(30,130),(31,143),(32,157),(33,173),(34,190),(35,209),(36,230),(37,253),(38,279),(39,307),(40,337),(41,371),(42,408),(43,449),(44,494),(45,544),(46,598),(47,658),(48,724),(49,796),(50,876),(51,963),(52,1060),(53,1166),(54,1282),(55,1411),(56,1552),(57,1707),(58,1878),(59,2066),(60,2272),(61,2499),(62,2749),(63,3024),(64,3327),(65,3660),(66,4026),(67,4428),(68,4871),(69,5358),(70,5894),(71,6484),(72,7132),(73,7845),(74,8630),(75,9493),(76,10442),(77,11487),(78,12635),(79,13899),(80,15289),(81,16818),(82,18500),(83,20350),(84,22385),(85,24623),(86,27086),(87,29794),(88,32767)
             |  ) v(a, b)),
             |p AS (SELECT doc_id, 4 + doc_id % 5 AS nb FROM documents),
             |blk AS (SELECT doc_id, b FROM p, unnest(range(0, nb)) t(b)),
             |step AS (
             |  SELECT doc_id, b, 0 AS k,
             |    CAST((doc_id*37 + b*101) % 4001 - 2000 AS BIGINT) AS pred,
             |    CAST((doc_id + b*7) % 89 AS BIGINT) AS idx
             |  FROM blk
             |  UNION ALL
             |  SELECT s.doc_id, s.b, s.k + 1,
             |    greatest(-32768, least(32767, s.pred +
             |      (CASE WHEN (s.doc_id*31 + s.b*17 + s.k*7) % 16 >= 8
             |            THEN -1 ELSE 1 END) *
             |      ((t.st // 8)
             |       + CASE WHEN (s.doc_id*31 + s.b*17 + s.k*7) % 2 = 1
             |              THEN t.st // 4 ELSE 0 END
             |       + CASE WHEN ((s.doc_id*31 + s.b*17 + s.k*7) % 16) // 2 % 2 = 1
             |              THEN t.st // 2 ELSE 0 END
             |       + CASE WHEN ((s.doc_id*31 + s.b*17 + s.k*7) % 16) // 4 % 2 = 1
             |              THEN t.st ELSE 0 END))),
             |    greatest(0, least(88, s.idx +
             |      CASE (s.doc_id*31 + s.b*17 + s.k*7) % 8
             |        WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
             |        ELSE -1 END))
             |  FROM step s JOIN stept t ON t.idx = s.idx
             |  WHERE s.k < 64),
             |smp AS (SELECT doc_id, b*65 + k AS i, pred AS v FROM step),
             |w AS (SELECT p.doc_id, p.nb*65 AS nf, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil((p.nb*65) / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.doc_id, w.nf, w.wi, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |s2 AS (SELECT f.doc_id, f.wi, f.i, a.v, pb.v AS pv
             |  FROM f JOIN smp a ON a.doc_id = f.doc_id AND a.i = f.i
             |  LEFT JOIN smp pb ON pb.doc_id = f.doc_id AND pb.i = f.i - 1)
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
             |  CAST(4 AS BIGINT) AS bits,
             |  CAST(count(DISTINCT i) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s2 GROUP BY doc_id, wi
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // MS ADPCM audio decode (round 16 extra — the OTHER common
    // compressed WAV format, wave format 0x02): two-tap coefficient
    // prediction (sample = (s1·c1 + s2·c2)/256 + signed_nibble·delta,
    // truncating division) under the public adaptation table, with the
    // block header's iSamp2/iSamp1 AS the first two samples and
    // high-nibble-first packing — every one of those conventions
    // breaks the hash if flipped. The oracle replays the FULL two-tap
    // recursion as a recursive CTE (coefficient pairs and adaptation
    // table restated literally; truncation-toward-zero spelled out,
    // since a floor-division replay would drift on negative
    // predictors).
    "q_audio_msadpcm" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesizeMsAdpcmWavs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH RECURSIVE
             |nibt(r, sgn, ad) AS (SELECT * FROM (VALUES
             |    (0,0,230),(1,1,230),(2,2,230),(3,3,230),(4,-3,230),(5,-2,230),
             |    (6,-1,230),(7,0,230),(8,4,307),(9,1,230),(10,-4,307),(11,2,230),
             |    (12,6,512),(13,3,230),(14,-6,512),(15,-1,230)) v(a, b, c)),
             |p AS (SELECT doc_id, 3 + doc_id % 4 AS nb FROM documents),
             |blk AS (SELECT doc_id, b,
             |    CAST((doc_id + b) % 7 AS BIGINT) AS pred,
             |    CAST(16 + (doc_id*13 + b*7) % 1000 AS BIGINT) AS d0,
             |    CAST((doc_id*37 + b*101) % 4001 - 2000 AS BIGINT) AS is1,
             |    CAST((doc_id*41 + b*59) % 4001 - 2000 AS BIGINT) AS is2
             |  FROM p, unnest(range(0, nb)) t(b)),
             |cf AS (SELECT blk.*,
             |    CASE pred WHEN 0 THEN 256 WHEN 1 THEN 512 WHEN 2 THEN 0
             |      WHEN 3 THEN 192 WHEN 4 THEN 240 WHEN 5 THEN 460
             |      ELSE 392 END AS c1,
             |    CASE pred WHEN 0 THEN 0 WHEN 1 THEN -256 WHEN 2 THEN 0
             |      WHEN 3 THEN 64 WHEN 4 THEN 0 WHEN 5 THEN -208
             |      ELSE -232 END AS c2
             |  FROM blk),
             |step AS (
             |  SELECT doc_id, b, c1, c2, -1 AS k, is1 AS s1, is2 AS s2,
             |    d0 AS delta, CAST(NULL AS BIGINT) AS v
             |  FROM cf
             |  UNION ALL
             |  SELECT s.doc_id, s.b, s.c1, s.c2, s.k + 1,
             |    greatest(-32768, least(32767,
             |      (CASE WHEN s.s1*s.c1 + s.s2*s.c2 >= 0
             |            THEN (s.s1*s.c1 + s.s2*s.c2) // 256
             |            ELSE -((-(s.s1*s.c1 + s.s2*s.c2)) // 256) END) +
             |      t.sgn * s.delta)),
             |    s.s1,
             |    greatest(16, t.ad * s.delta // 256),
             |    greatest(-32768, least(32767,
             |      (CASE WHEN s.s1*s.c1 + s.s2*s.c2 >= 0
             |            THEN (s.s1*s.c1 + s.s2*s.c2) // 256
             |            ELSE -((-(s.s1*s.c1 + s.s2*s.c2)) // 256) END) +
             |      t.sgn * s.delta))
             |  FROM step s JOIN nibt t
             |    ON t.r = (s.doc_id*31 + s.b*17 + (s.k+1)*7) % 16
             |  WHERE s.k < 63),
             |smp AS (
             |  SELECT doc_id, b*66 + 0 AS i, is2 AS v FROM cf
             |  UNION ALL SELECT doc_id, b*66 + 1, is1 FROM cf
             |  UNION ALL SELECT doc_id, b*66 + 2 + k, v FROM step WHERE k >= 0),
             |w AS (SELECT p.doc_id, p.nb*66 AS nf, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil((p.nb*66) / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.doc_id, w.nf, w.wi, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |s2t AS (SELECT f.doc_id, f.wi, f.i, a.v, pb.v AS pv
             |  FROM f JOIN smp a ON a.doc_id = f.doc_id AND a.i = f.i
             |  LEFT JOIN smp pb ON pb.doc_id = f.doc_id AND pb.i = f.i - 1)
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
             |  CAST(4 AS BIGINT) AS bits,
             |  CAST(count(DISTINCT i) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s2t GROUP BY doc_id, wi
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // REAL image decode (PngCodec): deterministic PNGs are synthesized
    // in-engine from doc_id alone (gray/RGB/RGBA, cycling row filters,
    // CRC'd chunks), then decoded for real — inflate, per-row unfilter,
    // geometry validation — and reduced to per-channel pixel sums. The
    // oracle replays geometry + pixel math from the SAME doc_id formulas
    // without ever seeing the bytes, so any codec bug (filter math, CRC,
    // palette, channel order) breaks the hash gate.
    "q_image_decode" -> QueryDef(
      (s, d) => BinaryPipeline.decodeImages(
          MediaFixtures.synthesizeImages(Tables.documents(s, d)))
        .select(col("doc_id"), col("width"), col("height"), col("bit_depth"),
          col("color_type"), col("channels"), col("r_sum"), col("g_sum"),
          col("b_sum"), col("a_sum"))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END AS color_type,
             |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
             |    4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h FROM documents),
             |px AS (SELECT doc_id, color_type, ch, w, h, i, (doc_id*31 + i*7) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) AS t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(8 AS BIGINT) AS bit_depth, CAST(color_type AS BIGINT) AS color_type,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(coalesce(SUM(CASE WHEN i % ch = 0 THEN v END), 0) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch >= 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch >= 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 4 AND i % ch = 3 THEN v END), 0) AS BIGINT) AS a_sum
             |FROM px GROUP BY doc_id, color_type, ch, w, h ORDER BY doc_id""".stripMargin)),

    // Adam7-interlaced + 16-bit PNG decode (round 14): the SAME pixel
    // formulas as q_image_decode, but the files are written in the
    // seven-pass interlaced layout with 16-bit samples (v·257 widening)
    // on odd ids. Interlacing is pure layout and the high-byte reduction
    // inverts the widening exactly, so the oracle below is q_image_decode's
    // with only the bit_depth column changed — any de-interlace scatter
    // or byte-order bug breaks the hash.
    "q_image_interlaced" -> QueryDef(
      (s, d) => BinaryPipeline.decodeImages(
          MediaFixtures.synthesizeImages(Tables.documents(s, d), variantLayout = true))
        .select(col("doc_id"), col("width"), col("height"), col("bit_depth"),
          col("color_type"), col("channels"), col("r_sum"), col("g_sum"),
          col("b_sum"), col("a_sum"))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END AS color_type,
             |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
             |    4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 1 THEN 16 ELSE 8 END AS depth FROM documents),
             |px AS (SELECT doc_id, color_type, ch, w, h, depth, i, (doc_id*31 + i*7) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) AS t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(depth AS BIGINT) AS bit_depth, CAST(color_type AS BIGINT) AS color_type,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(coalesce(SUM(CASE WHEN i % ch = 0 THEN v END), 0) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch >= 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch >= 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 4 AND i % ch = 3 THEN v END), 0) AS BIGINT) AS a_sum
             |FROM px GROUP BY doc_id, color_type, ch, w, h, depth ORDER BY doc_id""".stripMargin)),

    // SUB-BYTE-depth PNG decode (round 17 — 1/2/4-bit gray and palette,
    // the icon/screenshot/scan shapes the 8/16-bit scope refused):
    // filters at bpp=1 over packed rows, MSB-first unpack, gray
    // rescaled by the spec's 255/(2^d−1) replication, palette expanded
    // to RGB; every fifth file Adam7-interlaced so the per-pass packed
    // row widths are exercised too. The oracle replays the sample and
    // palette formulas byte-blind — a bit-order slip, a wrong rescale
    // or a padding-bit leak breaks the sums.
    "q_image_png_lowdepth" -> QueryDef(
      (s, d) => BinaryPipeline.decodeImages(
          MediaFixtures.synthesizeLowDepthPngs(Tables.documents(s, d)))
        .select(col("doc_id"), col("width"), col("height"), col("bit_depth"),
          col("color_type"), col("channels"), col("r_sum"), col("g_sum"),
          col("b_sum"), col("a_sum"))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS d,
             |    doc_id % 2 = 1 AS pal,
             |    6 + doc_id % 13 AS w, 5 + doc_id % 11 AS h FROM documents),
             |s AS (SELECT doc_id, d, pal, w, h, i,
             |    (doc_id*31 + i*7) % (1 << d) AS q
             |  FROM p, unnest(range(0, w*h)) t(i)),
             |px AS (SELECT doc_id, d, pal, w, h, c,
             |    CASE WHEN NOT pal THEN q * (255 // ((1 << d) - 1))
             |         WHEN c = 0 THEN (q*37) % 256
             |         WHEN c = 1 THEN (q*59 + 17) % 256
             |         ELSE (q*83 + 29) % 256 END AS v
             |  FROM s, unnest(range(0, CASE WHEN pal THEN 3 ELSE 1 END)) t(c))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(d AS BIGINT) AS bit_depth,
             |  CAST(CASE WHEN pal THEN 2 ELSE 0 END AS BIGINT) AS color_type,
             |  CAST(CASE WHEN pal THEN 3 ELSE 1 END AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN c = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN c = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(0 AS BIGINT) AS a_sum
             |FROM px GROUP BY doc_id, d, pal, w, h ORDER BY doc_id""".stripMargin)),

    // REAL image resize: synth → decode → nearest-neighbor resample →
    // re-ENCODE → decode AGAIN → per-channel sums. Exercises the full
    // decode/encode round trip twice; the oracle replays the resample's
    // integer source-index math (src = floor(dst·srcDim/dstDim)) from
    // the synthesis formulas without touching a byte.
    "q_image_resize" -> QueryDef(
      (s, d) => BinaryPipeline.decodeImages(
          BinaryPipeline.resizeImages(
            MediaFixtures.synthesizeImages(Tables.documents(s, d)), outW = 5, outH = 4))
        .select(col("doc_id"), col("width"), col("height"), col("color_type"),
          col("channels"), col("r_sum"), col("g_sum"), col("b_sum"), col("a_sum"))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END AS color_type,
             |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
             |    4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h FROM documents),
             |px AS (SELECT doc_id, color_type, ch,
             |    (doc_id*31 + ((((y*h)//4) * w + ((x*w)//5)) * ch + c) * 7) % 256 AS v, c
             |  FROM p, unnest(range(0, 5)) AS gx(x), unnest(range(0, 4)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(5 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
             |  CAST(color_type AS BIGINT) AS color_type, CAST(ch AS BIGINT) AS channels,
             |  CAST(coalesce(SUM(CASE WHEN c = 0 THEN v END), 0) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch >= 3 AND c = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch >= 3 AND c = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 4 AND c = 3 THEN v END), 0) AS BIGINT) AS a_sum
             |FROM px GROUP BY doc_id, color_type, ch ORDER BY doc_id""".stripMargin)),

    // Grid-pooled tile features — the deterministic "image embedding"
    // (per-tile per-channel means, row-major, channels innermost) that
    // drops into the KNN/ANN operators unchanged. Means divide exact
    // integer sums by tile pixel counts, so the oracle's avg() replays
    // them bit-for-bit before the shared 6-dp rounding.
    "q_image_tiles" -> QueryDef(
      (s, d) => BinaryPipeline.imageTileFeatures(
          MediaFixtures.synthesizeImages(Tables.documents(s, d)), gx = 2, gy = 2)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("val"))
        .orderBy(col("doc_id"), col("dim")),
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
             |    4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h FROM documents),
             |px AS (SELECT doc_id, ch,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    (doc_id*31 + ((y*w + x)*ch + c) * 7) % 256 AS v
             |  FROM p, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS val
             |FROM px GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin)),

    // MULTIMODAL similarity search capstone: tile-feature vectors from
    // REAL decoded images feed the engine's standard cosine KNN — the
    // image leg of the similarity-search story end-to-end (decode →
    // featurize → rank), with the oracle recomputing features AND the
    // ranking from the synthesis formulas alone.
    "q_knn_image" -> QueryDef(
      (s, d) => {
        val feats = BinaryPipeline.imageTileFeatures(
            MediaFixtures.synthesizeImages(Tables.documents(s, d)), gx = 2, gy = 2)
          // the feature DIM varies with each image's channel count — KNN
          // compares within a modality, so rank within the RGB group
          .where(col("channels") === 3)
          .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
          // decode ONCE: the query side's filter cannot push through the
          // opaque codec mapPartitions stage, so without the checkpoint
          // the broadcast build re-runs the whole encode+decode pipeline
          .localCheckpoint(true)
        val q = feats.where(col("vec_id") === 1)
        graft.operators.Knn.topK(feats, q, graft.operators.Knn.Cosine, 5)
      },
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
             |    4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h FROM documents WHERE doc_id % 3 = 1),
             |px AS (SELECT doc_id, ch,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    (doc_id*31 + ((y*w + x)*ch + c) * 7) % 256 AS v
             |  FROM p, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c)),
             |f AS (SELECT doc_id, list(m ORDER BY dim) AS emb FROM (
             |    SELECT doc_id, dim, avg(v) AS m FROM px GROUP BY doc_id, dim)
             |  GROUP BY doc_id)
             |SELECT e.doc_id AS vec_id,
             |  round(1 - list_cosine_similarity(e.emb, q.emb), 4) AS dist
             |FROM f e CROSS JOIN (SELECT emb FROM f WHERE doc_id = 1) q
             |ORDER BY dist, vec_id LIMIT 5""".stripMargin)),

    // REAL JPEG decode (JpegCodec, ITU T.81 baseline): deterministic
    // JPEGs are synthesized in-engine from doc_id alone — gray and RGB,
    // 4:4:4 and 4:2:0, with and without restart markers — then decoded
    // for real (marker parse, Huffman, dequant, IDCT, upsample, color
    // convert) and reduced to per-channel pixel sums. The fixtures ride
    // the codec's determinism contract (flat 8×8 luma blocks at values
    // ≡ 128 mod 3 survive the odd quality-90 DC quantizer exactly;
    // neutral chroma is exact), so the oracle replays the DECODE output
    // from the synthesis formulas without seeing a byte — any Huffman /
    // DC-prediction / restart / subsampling / IDCT bug breaks the hash.
    "q_image_jpeg" -> QueryDef(
      (s, d) => BinaryPipeline.decodeJpegs(
          MediaFixtures.synthesizeJpegs(Tables.documents(s, d)))
        .select(col("doc_id"), col("width"), col("height"), col("components"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS comps FROM documents),
             |px AS (SELECT doc_id, comps, w, h,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13) % 53) - 26) AS v
             |  FROM p, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(comps AS BIGINT) AS components,
             |  CAST(SUM(v) AS BIGINT) AS r_sum,
             |  CAST(CASE WHEN comps = 3 THEN SUM(v) ELSE 0 END AS BIGINT) AS g_sum,
             |  CAST(CASE WHEN comps = 3 THEN SUM(v) ELSE 0 END AS BIGINT) AS b_sum
             |FROM px GROUP BY doc_id, comps, w, h ORDER BY doc_id""".stripMargin)),

    // REAL GIF decode (round 15, VERDICT r14 #3): deterministic GIF89a
    // files — 8-color global palette, LZW-compressed indices, 4-pass
    // interlace on id%4==1, GCE transparency (→RGBA) on id%5==2 — are
    // synthesized in-engine from doc_id alone and decoded back through
    // the real LZW/palette/interlace path. Besides per-channel sums the
    // gate carries a POSITION-WEIGHTED checksum Σ (p+1)·buffer[p]: sums
    // are order-blind, so only the weighted term catches an interlace
    // or LZW reordering bug. The oracle replays palette+index formulas
    // byte-blind.
    "q_image_gif" -> QueryDef(
      (s, d) => BinaryPipeline.decodeGifs(
          MediaFixtures.synthesizeGifs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 10 + doc_id % 13 AS w, 8 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 5 = 2 THEN 4 ELSE 3 END AS ch FROM documents),
             |px AS (SELECT doc_id, w, h, ch, i, (doc_id*31 + i*7) % 8 AS ix
             |  FROM p, unnest(range(0, w*h)) t(i)),
             |b AS (SELECT doc_id, w, h, ch, i, c,
             |    CASE c WHEN 0 THEN (doc_id*17 + ix*29) % 256
             |           WHEN 1 THEN (doc_id*19 + ix*31) % 256
             |           WHEN 2 THEN (doc_id*23 + ix*37) % 256
             |           ELSE CASE WHEN ix = 0 THEN 0 ELSE 255 END END AS v
             |  FROM px, unnest(range(0, ch)) t(c))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS g_sum,
             |  CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS b_sum,
             |  CAST(coalesce(SUM(CASE WHEN c = 3 THEN v END), 0) AS BIGINT) AS a_sum,
             |  CAST(SUM((i*ch + c + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)),

    // REAL TIFF decode (round 15, closing the VERDICT r14 "other raster
    // formats" gap): deterministic baseline TIFFs — both byte orders,
    // PackBits on half the corpus, multi-strip splits (RowsPerStrip
    // 1-5), WhiteIsZero storage on a gray slice — synthesized in-engine
    // from doc_id alone. Byte order, compression, strip split and
    // photometric inversion are all LAYOUT: the decoded buffer is
    // identical across them, so ONE formula oracle gates layout
    // invariance for free (the interlaced-PNG convention). The
    // position-weighted checksum catches strip-assembly/PackBits
    // reordering that plain sums can't.
    "q_image_tiff" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesizeTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 9 + doc_id % 13 AS w, 7 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch FROM documents),
             |b AS (SELECT doc_id, w, h, ch, i, (doc_id*37 + i*11) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)),

    // IMAGE DEDUP CAPSTONE (round 14): real decoded images feed the
    // SEMANTIC dedup stack end-to-end — synthesize PNGs, decode, grid-
    // pool tile features, then Dedup.semanticNearDup (IVF-cell-blocked
    // SemDeDup) over the feature vectors. Exact duplicate images are
    // planted by re-id'ing the same CONTENT (+100000), so their decoded
    // features are bit-identical and the pair list is deterministic; the
    // 6-dp/0.999999 threshold admits only such exact-feature duplicates
    // (12-dim quasi-random tile vectors never come that close by
    // accident), and the oracle ranks TRUE all-pairs — cell blocking
    // must be invisible in the result.
    "q_dedup_image" -> QueryDef(
      (s, d) => {
        import graft.operators.{Dedup, IvfIndex}
        // GIF leg (round 15): half the corpus (odd ids) arrives as
        // GIF89a at +400000, so the dedup stack spans a second real
        // decode path on the SAME total corpus size (the JPEG path is
        // gated by q_knn_image_mixed on the same features) — replacing,
        // not doubling: at sf0.1 a doubled corpus at k=8 cells made the
        // cell-blocked Σ|cell|² pair work ~11× (22.5 s). 250-color
        // palettes: the default 8-color mod-8 index cycle collapses tile
        // means to the palette mean, making features near-parallel
        // across ids — accidental 6-dp-cosine pairs would explode and
        // cross IVF cells; 250 colors give PNG-like entropy so the
        // exact-dup-only threshold contract holds.
        val docs = Tables.documents(s, d)
        val png = MediaFixtures.synthesizeImages(docs.where(col("doc_id") % 2 === 0))
        val gif = MediaFixtures.synthesizeGifs(docs.where(col("doc_id") % 2 === 1),
            nColors = 250)
          .select((col("doc_id") + 400000).as("doc_id"), col("content"), col("meta"))
        val media = png.unionAll(gif)
        val dupMedia = media.unionAll(media.select(
          (col("doc_id") + 100000).as("doc_id"), col("content"), col("meta")))
        val feats = BinaryPipeline.imageTileFeatures(dupMedia, gx = 2, gy = 2)
          // feature DIM varies with channel count — dedup within the RGB
          // modality group (the q_knn_image convention)
          .where(col("channels") === 3)
          .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
          // materialize the features ONCE: IVF training alone reads this
          // frame 3× (sample init + 2 k-means sweeps) and the near-dup
          // scan a 4th time — without the checkpoint every pass re-runs
          // the PNG/GIF encode+decode+tile pipeline, the dominant cost
          // (the narrow id+12-float projection is cheap to hold)
          .localCheckpoint(true)
        val model = IvfIndex.train(feats, k = 24, iters = 2)
        Dedup.semanticNearDup(feats, model, threshold = 0.999999, scale = 6)
          .orderBy(col("id1"), col("id2"))
      },
      Some("""WITH p AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
             |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 2 = 0),
             |px AS (SELECT doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    (doc_id*31 + ((y*w + x)*3 + c) * 7) % 256 AS v
             |  FROM p, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, 3)) AS gc(c)),
             |gif_ix AS (SELECT doc_id, w, h, x, y,
             |    (doc_id*31 + (y*w + x)*7) % 250 AS ix
             |  FROM (SELECT doc_id, 10 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
             |        FROM documents WHERE doc_id % 5 != 2 AND doc_id % 2 = 1) g,
             |       unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y)),
             |gif_px AS (SELECT doc_id + 400000 AS doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE c WHEN 0 THEN (doc_id*17 + ix*29) % 256
             |           WHEN 1 THEN (doc_id*19 + ix*31) % 256
             |           ELSE (doc_id*23 + ix*37) % 256 END AS v
             |  FROM gif_ix, unnest(range(0, 3)) AS gc(c)),
             |f0 AS (SELECT doc_id, list(m ORDER BY dim) AS emb FROM (
             |    SELECT doc_id, dim, avg(v) AS m
             |    FROM (SELECT * FROM px UNION ALL SELECT * FROM gif_px)
             |    GROUP BY doc_id, dim)
             |  GROUP BY doc_id),
             |f AS (SELECT doc_id, emb FROM f0
             |  UNION ALL SELECT doc_id + 100000, emb FROM f0)
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
             |FROM f a JOIN f b ON a.doc_id < b.doc_id
             |WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.999999
             |ORDER BY id1, id2""".stripMargin)),

    // FORMAT-AGNOSTIC tile features (round 14): the SAME grid-pooled
    // feature op that serves the PNG gates runs over JPEG bytes — the
    // decode is sniffed per row, so mixed-format corpora feed one
    // KNN/dedup stack. The flat-block fixtures make the lossy decode
    // exact, so the oracle replays the per-tile means (integer sums ÷
    // tile pixel counts via avg(), the q_image_tiles convention) from
    // the synthesis formulas alone.
    "q_image_tiles_jpeg" -> QueryDef(
      (s, d) => BinaryPipeline.imageTileFeatures(
          MediaFixtures.synthesizeJpegs(Tables.documents(s, d)), gx = 2, gy = 2)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch FROM documents),
             |px AS (SELECT doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13) % 53) - 26) AS v
             |  FROM p, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM px GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin)),

    // REAL frame sampling (round 15, VERDICT r14 #5): MJPEG-style
    // concatenated-JPEG streams are synthesized in-engine (3-6 real
    // frames per doc, flat-block contract with a per-frame term), frame
    // boundaries recovered by a real marker walk (not byte search —
    // entropy stuffing respected), every SECOND frame decoded through
    // JpegCodec and featurized by the EXISTING tile pipeline. The oracle
    // replays per-sampled-frame tile means from the formulas byte-blind,
    // closing the last pseudo-feature modality: frameSample (byte
    // windows) keeps its gate, this one decodes.
    "q_frame_decode" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizeMjpegs(Tables.documents(s, d)), stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             |    3 + doc_id % 4 AS nf FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, nf)) t(f) WHERE f % 2 = 0),
             |px AS (SELECT doc_id, w, h, ch, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13 + f*11) % 53) - 26) AS v
             |  FROM fr, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM px GROUP BY doc_id, f, w, h, ch, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // AVI container invariance (round 15): the SAME frames as
    // q_frame_decode, wrapped in a conforming RIFF/AVI (avih + MJPG
    // strl, movi 00dc chunks, idx1) and recovered through the sniffed
    // container walk instead of the bare marker walk. The oracle is
    // q_frame_decode's VERBATIM — the container is pure layout, so any
    // chunk-walk bug (alignment, rec-list recursion, stream filter)
    // breaks the hash while a correct walk is invisible.
    "q_frame_avi" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizeAvis(Tables.documents(s, d)), stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             |    3 + doc_id % 4 AS nf FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, nf)) t(f) WHERE f % 2 = 0),
             |px AS (SELECT doc_id, w, h, ch, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13 + f*11) % 53) - 26) AS v
             |  FROM fr, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM px GROUP BY doc_id, f, w, h, ch, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // MP4/ISO-BMFF container extraction (round 16, VERDICT r15 #4):
    // the SAME frame corpus as q_frame_decode, but wrapped in a
    // conforming MP4 — ftyp/mdat/moov, a vide-handler track, a `jpeg`
    // VisualSampleEntry and the full stts/stsc/stsz/stco sample
    // tables — so the oracle (carried VERBATIM from q_frame_decode,
    // the q_frame_avi convention) gates container invariance: box
    // walk, track selection and the stsc×stco×stsz sample-placement
    // walk must recover byte-identical frame payloads or every tile
    // feature hash-mismatches. MP4 is the wrapper real video corpora
    // overwhelmingly arrive in; fragmented files (moof/mvex) fail loud.
    "q_frame_mp4" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizeMp4s(Tables.documents(s, d)), stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             |    3 + doc_id % 4 AS nf FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, nf)) t(f) WHERE f % 2 = 0),
             |px AS (SELECT doc_id, w, h, ch, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13 + f*11) % 53) - 26) AS v
             |  FROM fr, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM px GROUP BY doc_id, f, w, h, ch, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // MATROSKA container extraction (round 19, VERDICT r18 #5 — the
    // second-most-common crawled video wrapper): the SAME frame corpus
    // as q_frame_avi/q_frame_mp4 wrapped in a real EBML/Matroska file —
    // vint id/size walk, DocType gate, V_MJPEG track selection (an
    // audio track is present to skip on every third doc), keyframe
    // SimpleBlocks across multi-frame clusters. The oracle is carried
    // VERBATIM (container invariance): a vint misread, a wrong track
    // pick or a block-header slip breaks every tile-feature hash.
    "q_frame_mkv" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizeMkvs(Tables.documents(s, d)), stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             |    3 + doc_id % 4 AS nf FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, nf)) t(f) WHERE f % 2 = 0),
             |px AS (SELECT doc_id, w, h, ch, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13 + f*11) % 53) - 26) AS v
             |  FROM fr, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM px GROUP BY doc_id, f, w, h, ch, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // FRAGMENTED MP4 (round 17 — the CMAF/DASH streaming-era shape):
    // the SAME frame corpus as q_frame_mp4 but the moov's stbl is
    // EMPTY and every sample rides moof+mdat fragments (1-3 frames per
    // fragment by doc), resolved through tfhd default-base-is-moof +
    // per-sample-size truns. The oracle is q_frame_mp4's VERBATIM —
    // fragmentation must be results-invisible, like AVI and
    // progressive MP4 before it.
    "q_frame_mp4_frag" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizeMp4s(Tables.documents(s, d), fragmented = true),
          stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
             |    3 + doc_id % 4 AS nf FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, nf)) t(f) WHERE f % 2 = 0),
             |px AS (SELECT doc_id, w, h, ch, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * ch + c AS dim,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13 + f*11) % 53) - 26) AS v
             |  FROM fr, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, ch)) AS gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM px GROUP BY doc_id, f, w, h, ch, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // ANIMATED-GIF frame sampling (round 16, VERDICT r15 #7): multi-
    // frame GIFs routed through the SAME decodeFrameTiles pipeline as
    // MJPEG/AVI/MP4, but each frame arrives COMPOSITED the way a viewer
    // displays it — odd frames carry transparent holes whose composited
    // value is the PREVIOUS frame's pixel (disposal 1) or the
    // background color (disposal 2), both closed-form in the oracle.
    // stride = 1 so the composite frames are actually sampled; a
    // decoder that ignored transparency, skipped the disposal reset or
    // dropped frames hash-mismatches the tile features.
    "q_frame_gif" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizeAnimGifs(Tables.documents(s, d)), stride = 1)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 16 + doc_id % 9 AS w, 16 + doc_id % 7 AS h,
             |    3 + doc_id % 4 AS nf FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, nf)) t(f)),
             |px AS (SELECT doc_id, w, h, f, x, y,
             |    CASE WHEN f % 2 = 0 OR (x + y) % 2 = 1
             |         THEN (doc_id*31 + f*11 + x*7 + y*13) % 250
             |         WHEN doc_id % 2 = 0
             |         THEN (doc_id*31 + (f-1)*11 + x*7 + y*13) % 250
             |         ELSE 0 END AS i
             |  FROM fr, unnest(range(0, w)) gx(x), unnest(range(0, h)) gy(y)),
             |ch AS (SELECT doc_id, w, h, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE c WHEN 0 THEN (i*37) % 256 WHEN 1 THEN (i*59 + 17) % 256
             |           ELSE (i*83 + 29) % 256 END AS v
             |  FROM px, unnest(range(0, 3)) gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM ch GROUP BY doc_id, f, w, h, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // LZW-compressed TIFF (round 16 extra — compression 5 DOMINATES
    // real scanned corpora, and round 15's scope failed loud on it):
    // the SAME pixel corpus as q_image_tiff wired through TIFF-variant
    // LZW (MSB-first, 9-bit start, EARLY code-width change) with
    // horizontal-differencing predictor 2 on odd ids. The oracle is
    // q_image_tiff's VERBATIM — compression must be results-invisible
    // (the container-invariance convention), so an early-change
    // off-by-one, a predictor slip, or a table-reset bug breaks the
    // position-weighted checksum.
    "q_image_tiff_lzw" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesizeLzwTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 9 + doc_id % 13 AS w, 7 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch FROM documents),
             |b AS (SELECT doc_id, w, h, ch, i, (doc_id*37 + i*11) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)),

    // Deflate-compressed TIFF (round 17 — compression 8, the modern
    // scanner default, plus its older 32946 private-tag alias, half the
    // corpus under Predictor 2): the SAME pixel corpus as q_image_tiff /
    // q_image_tiff_lzw, and the oracle is the LZW gate's VERBATIM —
    // compression must be results-invisible, so a predictor slip, a
    // truncated zlib stream, or tag-alias mishandling breaks the hash
    // against the same byte-blind formula.
    "q_image_tiff_deflate" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesizeDeflateTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 9 + doc_id % 13 AS w, 7 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch FROM documents),
             |b AS (SELECT doc_id, w, h, ch, i, (doc_id*37 + i*11) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)),

    // TILED TIFF (round 17 — the §15 layout modern scanners and GIS
    // exporters default to): the SAME pixel corpus as q_image_tiff in
    // 16x16 tiles — the small geometries force zero-padded edge tiles
    // on both axes — under mixed none/LZW/Deflate compression and
    // predictor 2; the oracle is q_image_tiff's VERBATIM, so the tile
    // grid walk, edge cropping, and per-tile predictor must all be
    // results-invisible (the layout-invariance convention).
    "q_image_tiff_tiled" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesizeTiledTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 9 + doc_id % 13 AS w, 7 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch FROM documents),
             |b AS (SELECT doc_id, w, h, ch, i, (doc_id*37 + i*11) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)),

    // BILEVEL (1-bit) TIFF (round 17 — the fax/document-scan sample
    // format; tag 258's DEFAULT is 1, so wild bilevel files often omit
    // it): MSB-first bits with byte-padded rows, expanded to the 8-bit
    // BlackIsZero buffer; the corpus mixes striped and 16x16-TILED
    // layouts, WhiteIsZero (the fax default) and BlackIsZero
    // photometrics, and none/PackBits/Deflate compression — the oracle
    // replays the bit formula byte-blind, so a bit-order slip, a
    // photometric inversion miss, or a padding-bit leak breaks the
    // position-weighted hash.
    "q_image_tiff_bilevel" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesizeBilevelTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 17 + doc_id % 16 AS w, 13 + doc_id % 12 AS h
             |  FROM documents),
             |b AS (SELECT doc_id, w, h, i,
             |    CASE WHEN (doc_id*37 + (i % w)*7 + (i // w)*13) % 5 < 2
             |      THEN 255 ELSE 0 END AS v
             |  FROM p, unnest(range(0, w*h)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(1 AS BIGINT) AS channels,
             |  CAST(SUM(v) AS BIGINT) AS r_sum,
             |  CAST(0 AS BIGINT) AS g_sum, CAST(0 AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // CCITT FAX TIFF (round 18 — G4/T.6 MMR is THE scanned-document
    // compression; a 100 TB document crawl is full of it): the SAME bit
    // raster as q_image_tiff_bilevel re-encoded through the fax coders
    // — G4 2-D MMR (pass/horizontal/vertical modes against the
    // reference line), MH byte-aligned rows, and G3 1-D with EOL codes,
    // striped AND 16x16-tiled, both photometrics. The oracle is
    // q_image_tiff_bilevel's VERBATIM (compression invariance, the
    // LZW/Deflate convention) — a run-table slip, a mode mis-read, a
    // reference-line drift or a photometric miss breaks the
    // position-weighted hash.
    "q_image_tiff_g4" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesizeCcittTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 17 + doc_id % 16 AS w, 13 + doc_id % 12 AS h
             |  FROM documents),
             |b AS (SELECT doc_id, w, h, i,
             |    CASE WHEN (doc_id*37 + (i % w)*7 + (i // w)*13) % 5 < 2
             |      THEN 255 ELSE 0 END AS v
             |  FROM p, unnest(range(0, w*h)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(1 AS BIGINT) AS channels,
             |  CAST(SUM(v) AS BIGINT) AS r_sum,
             |  CAST(0 AS BIGINT) AS g_sum, CAST(0 AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // 16-BIT TIFF (round 17 — the scientific/medical scan depth): the
    // SAME pixel corpus as q_image_tiff widened to v·257 sample pairs
    // in the file's byte order, reduced back by the HIGH byte (the PNG
    // convention), striped and tiled, none/LZW/Deflate rotation — the
    // oracle is q_image_tiff's VERBATIM, so sample depth must be
    // results-invisible like compression and layout before it.
    "q_image_tiff_16bit" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesize16BitTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 9 + doc_id % 13 AS w, 7 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch FROM documents),
             |b AS (SELECT doc_id, w, h, ch, i, (doc_id*37 + i*11) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin)),

    // SUB-BYTE GRAY TIFF (round 17 — 2-bit and 4-bit samples; 4-bit is
    // the 16-level scanner setting): the q_image_tiff_bilevel recipe
    // generalized to deeper sub-byte depths — samples expand by the
    // 255/(2^d−1) replication, photometric 0 takes the complement
    // FIRST (lim−v, not the 8-bit 255−v — a decoder that inverts after
    // scaling is off by the rounding and breaks the hash), striped and
    // tiled layouts, none/LZW/Deflate rotation.
    "q_image_tiff_gray4" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffs(
          MediaFixtures.synthesizeGrayTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 4 END AS d,
             |    15 + doc_id % 14 AS w, 11 + doc_id % 10 AS h FROM documents),
             |b AS (SELECT doc_id, w, h, i,
             |    ((doc_id*31 + (i % w)*5 + (i // w)*11) % (1 << d))
             |      * (255 // ((1 << d) - 1)) AS v
             |  FROM p, unnest(range(0, w*h)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(1 AS BIGINT) AS channels,
             |  CAST(SUM(v) AS BIGINT) AS r_sum,
             |  CAST(0 AS BIGINT) AS g_sum, CAST(0 AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // REAL BMP decode (round 16 extra — the fifth raster leg; BMPs are
    // ubiquitous in older crawls): 8-bit paletted, 24-bit bottom-up and
    // 24-bit TOP-DOWN files in one corpus. The decoded buffer is always
    // packed RGB and the position-weighted checksum is order-sensitive,
    // so a missed bottom-up row flip, a BGR/RGB swap or a palette
    // misread each break the hash.
    "q_image_bmp" -> QueryDef(
      (s, d) => BinaryPipeline.decodeBmps(
          MediaFixtures.synthesizeBmps(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 11 + doc_id % 13 AS w, 9 + doc_id % 11 AS h,
             |    doc_id % 3 AS mode FROM documents),
             |b AS (SELECT doc_id, w, h, i,
             |    CASE WHEN mode = 0 THEN
             |      CASE i % 3
             |        WHEN 0 THEN (((doc_id*37 + (i//3)*13) % 250) * 37) % 256
             |        WHEN 1 THEN (((doc_id*37 + (i//3)*13) % 250) * 59 + 17) % 256
             |        ELSE (((doc_id*37 + (i//3)*13) % 250) * 83 + 29) % 256 END
             |    ELSE (doc_id*37 + i*11) % 256 END AS v
             |  FROM p, unnest(range(0, w*h*3)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS g_sum,
             |  CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // 4-BIT BMP (round 17 — the legacy clip-art shape): two
    // high-nibble-first pixels per byte under a 16-entry palette;
    // uncompressed on even docs and BI_RLE4 (nibble-alternating runs)
    // on odd — one byte-blind oracle covers both wire forms, so a
    // nibble-order slip, a wrong row-padding formula, or an RLE4 run
    // misplacement breaks the position-weighted hash.
    "q_image_bmp4" -> QueryDef(
      (s, d) => BinaryPipeline.decodeBmps(
          MediaFixtures.synthesizeBmp4s(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 11 + doc_id % 13 AS w, 9 + doc_id % 11 AS h
             |  FROM documents),
             |b AS (SELECT doc_id, w, h, i,
             |    CASE i % 3
             |      WHEN 0 THEN (((doc_id*37 + (i//3)*13) % 16) * 37) % 256
             |      WHEN 1 THEN (((doc_id*37 + (i//3)*13) % 16) * 59 + 17) % 256
             |      ELSE (((doc_id*37 + (i//3)*13) % 16) * 83 + 29) % 256 END AS v
             |  FROM p, unnest(range(0, w*h*3)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS g_sum,
             |  CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // IEEE-FLOAT WAV decode (round 16 extra — format 3, the remaining
    // uncompressed wire format): float samples at ±1.0 full scale map
    // to signed linear via rint(f·32768); the corpus writes
    // exactly-representable k/32768 floats so the decode is
    // integer-exact and the oracle replays k byte-blind — a decoder
    // that used the ±32767 scale, skipped rounding, or misread the
    // float bits breaks the hash.
    "q_audio_float" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesizeFloatWavs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
             |    350 + doc_id % 257 AS nf FROM documents),
             |w AS (SELECT p.*, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil(nf / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.*, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |s AS (SELECT doc_id, ch, nf, wi, i, c,
             |    (doc_id*31 + i*7 + c*13) % 4001 - 2000 AS v,
             |    (doc_id*31 + (i-1)*7) % 4001 - 2000 AS pv
             |  FROM f, unnest(range(0, ch)) t(c))
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(16000 AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
             |  CAST(32 AS BIGINT) AS bits,
             |  CAST(count(DISTINCT i) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN c = 0 AND i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s GROUP BY doc_id, wi, ch, nf
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // WAVE_FORMAT_EXTENSIBLE + 24-bit PCM (round 17): every file wears
    // the 0xFFFE wrapper — the container modern recorders default to
    // for >16-bit or multi-channel audio — with the real format in the
    // SubFormat GUID; two thirds of the corpus is 24-bit (native-scale
    // samples in the millions, so a decoder that rescales, drops the
    // third byte, or misreads the GUID breaks sq_sum immediately) and
    // one third 16-bit under the same wrapper (wrapper invisibility).
    "q_audio_24bit" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWavSegments(
          MediaFixtures.synthesize24BitWavs(Tables.documents(s, d)),
          winFrames = 160, hopFrames = 80)
        .orderBy(col("doc_id"), col("seg_idx")),
      Some("""WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
             |    CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 24 END AS bits,
             |    350 + doc_id % 257 AS nf FROM documents),
             |w AS (SELECT p.*, wi FROM p,
             |  unnest(range(0, greatest(1, CAST(ceil(nf / 80.0) AS INT)))) t(wi)),
             |f AS (SELECT w.*, i FROM w,
             |  unnest(range(wi*80, least(nf, wi*80 + 160))) t(i)),
             |s AS (SELECT doc_id, ch, bits, nf, wi, i, c,
             |    CASE WHEN bits = 24
             |      THEN (doc_id*131 + i*29 + c*71) % 10000001 - 5000000
             |      ELSE (doc_id*31 + i*7 + c*13) % 4001 - 2000 END AS v,
             |    CASE WHEN bits = 24
             |      THEN (doc_id*131 + (i-1)*29) % 10000001 - 5000000
             |      ELSE (doc_id*31 + (i-1)*7) % 4001 - 2000 END AS pv
             |  FROM f, unnest(range(0, ch)) t(c))
             |SELECT doc_id, CAST(wi AS BIGINT) AS seg_idx,
             |  CAST(16000 AS BIGINT) AS sample_rate, CAST(ch AS BIGINT) AS channels,
             |  CAST(bits AS BIGINT) AS bits,
             |  CAST(count(DISTINCT i) AS BIGINT) AS n_frames,
             |  CAST(SUM(v*v) AS BIGINT) AS sq_sum,
             |  CAST(coalesce(SUM(CASE WHEN c = 0 AND i > wi*80
             |    AND (pv >= 0) != (v >= 0) THEN 1 END), 0) AS BIGINT) AS zero_crossings
             |FROM s GROUP BY doc_id, wi, ch, bits, nf
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // MULTI-PAGE TIFF (round 16 extra): scanned documents are
    // routinely multi-page, and the round-15 scope failed loud on the
    // second IFD. Each doc's chain carries 2-4 pages of DIFFERENT
    // geometry; the oracle replays per-page pixel formulas byte-blind —
    // a chain walker that dropped pages, reused page-1 geometry, or
    // mis-followed a next-IFD pointer breaks rows or hashes.
    "q_tiff_pages" -> QueryDef(
      (s, d) => BinaryPipeline.decodeTiffPages(
          MediaFixtures.synthesizeMultiTiffs(Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("page_no")),
      Some("""WITH p AS (SELECT doc_id, pg,
             |    9 + (doc_id + pg) % 13 AS w, 7 + (doc_id + pg) % 11 AS h,
             |    CASE WHEN (doc_id + pg) % 2 = 0 THEN 1 ELSE 3 END AS ch
             |  FROM documents, unnest(range(0, 2 + doc_id % 3)) t(pg)),
             |b AS (SELECT doc_id, pg, w, h, ch, i,
             |    (doc_id*37 + pg*53 + i*11) % 256 AS v
             |  FROM p, unnest(range(0, w*h*ch)) t(i))
             |SELECT doc_id, CAST(pg AS BIGINT) AS page_no,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(ch AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 1 THEN v END), 0) AS BIGINT) AS g_sum,
             |  CAST(coalesce(SUM(CASE WHEN ch = 3 AND i % ch = 2 THEN v END), 0) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, pg, w, h, ch
             |ORDER BY doc_id, page_no""".stripMargin)),

    // PATCH-FRAME animated GIF (round 16 extra; round 17 adds the
    // restore-to-previous leg): the wire shape real animated GIFs
    // actually use — frame 0 full-screen, later frames small
    // changed-region patches painted at (left, top) under disposal 1 —
    // so a composited pixel shows the MOST RECENT frame whose rect
    // covers it. Frame 3 carries DISPOSAL 3 (restore-to-previous): its
    // pixels appear in its own snapshot but must vanish from frame 4's,
    // so the oracle's max-g cover set excludes g = 3 except at f = 3. A
    // decoder that ignored patch offsets, painted patches at the
    // origin, skipped compositing, or mishandled the pre-frame restore
    // hash-mismatches the tile features.
    "q_frame_gif_patch" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizePatchGifs(Tables.documents(s, d)), stride = 1)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 16 + doc_id % 9 AS w, 16 + doc_id % 7 AS h
             |  FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, 5)) t(f)),
             |cov AS (SELECT fr.doc_id, fr.w, fr.h, fr.f, x, y, max(g) AS gsel
             |  FROM fr, unnest(range(0, w)) gx(x), unnest(range(0, h)) gy(y),
             |       unnest(range(0, f + 1)) gg(g)
             |  WHERE (g = 0 OR (
             |    x >= (doc_id*7 + g*5) % (w - 8) AND
             |    x <  (doc_id*7 + g*5) % (w - 8) + 8 AND
             |    y >= (doc_id*3 + g*11) % (h - 8) AND
             |    y <  (doc_id*3 + g*11) % (h - 8) + 8))
             |    AND (g != 3 OR g = f)
             |  GROUP BY fr.doc_id, fr.w, fr.h, fr.f, x, y),
             |px AS (SELECT doc_id, w, h, f, x, y,
             |    (doc_id*31 + gsel*11 + x*7 + y*13) % 250 AS i FROM cov),
             |ch AS (SELECT doc_id, w, h, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE c WHEN 0 THEN (i*37) % 256 WHEN 1 THEN (i*59 + 17) % 256
             |           ELSE (i*83 + 29) % 256 END AS v
             |  FROM px, unnest(range(0, 3)) gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM ch GROUP BY doc_id, f, w, h, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // ANIMATED WEBP frame sampling (round 19, VERDICT r18 #1's
    // container half): VP8X/ANIM/ANMF walk with 2-px-unit patch
    // offsets, blend/dispose bits, per-frame VP8L streams rotating all
    // seven encoder wire modes — frames arrive COMPOSITED viewer-style
    // through the same decodeFrameTiles pipeline as GIF/MJPEG/AVI/MP4.
    // The oracle is the patch-GIF closed form: a composited pixel shows
    // the MOST RECENT frame whose rect covers it. A decoder that
    // ignored the 2-px offset units, skipped compositing, misread the
    // blend bit or mis-walked ANMF subchunks hash-mismatches.
    "q_frame_webp" -> QueryDef(
      (s, d) => BinaryPipeline.decodeFrameTiles(
          MediaFixtures.synthesizeAnimWebps(Tables.documents(s, d)), stride = 1)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), posexplode(col("features")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("components"), col("dim").cast("long").as("dim"),
          round(col("v"), 6).as("v"))
        .orderBy(col("doc_id"), col("frame_idx"), col("dim")),
      Some("""WITH p AS (SELECT doc_id, 16 + doc_id % 9 AS w, 16 + doc_id % 7 AS h
             |  FROM documents),
             |fr AS (SELECT p.*, f FROM p, unnest(range(0, 5)) t(f)),
             |cov AS (SELECT fr.doc_id, fr.w, fr.h, fr.f, x, y, max(g) AS gsel
             |  FROM fr, unnest(range(0, w)) gx(x), unnest(range(0, h)) gy(y),
             |       unnest(range(0, f + 1)) gg(g)
             |  WHERE g = 0 OR (
             |    x >= 2 * ((doc_id*7 + g*5) % ((w - 8)//2 + 1)) AND
             |    x <  2 * ((doc_id*7 + g*5) % ((w - 8)//2 + 1)) + 8 AND
             |    y >= 2 * ((doc_id*3 + g*11) % ((h - 8)//2 + 1)) AND
             |    y <  2 * ((doc_id*3 + g*11) % ((h - 8)//2 + 1)) + 8)
             |  GROUP BY fr.doc_id, fr.w, fr.h, fr.f, x, y),
             |px AS (SELECT doc_id, w, h, f, x, y,
             |    (doc_id*31 + gsel*11 + x*7 + y*13) % 250 AS i FROM cov),
             |ch AS (SELECT doc_id, w, h, f,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE c WHEN 0 THEN (i*37) % 256 WHEN 1 THEN (i*59 + 17) % 256
             |           ELSE (i*83 + 29) % 256 END AS v
             |  FROM px, unnest(range(0, 3)) gc(c))
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS components,
             |  CAST(dim AS BIGINT) AS dim, round(avg(v), 6) AS v
             |FROM ch GROUP BY doc_id, f, w, h, dim
             |ORDER BY doc_id, frame_idx, dim""".stripMargin)),

    // CMYK / Adobe YCCK JPEG decode (round 15, VERDICT r14 #4): the
    // print-corpus variant — 4-component baseline files under an Adobe
    // APP14 marker, values stored INVERTED, transform 0 (direct CMYK
    // planes) on even ids and 2 (YCCK — YCbCr over the inverted CMY) on
    // odd ids. Flat blocks with base 127 keep the STORED values ≡ 128
    // (mod 3), so the quality-90 decode is exact per channel and the
    // oracle replays TRUE CMYK sums from the formulas byte-blind. A
    // decoder that skips the inversion, misreads APP14 or misapplies
    // the YCCK inverse breaks the hash.
    "q_image_jpeg_cmyk" -> QueryDef(
      (s, d) => BinaryPipeline.decodeCmykJpegs(
          MediaFixtures.synthesizeCmykJpegs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS tr FROM documents),
             |px AS (SELECT doc_id, w, h, c,
             |    127 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13 +
             |      (CASE WHEN tr = 0 THEN c WHEN c = 3 THEN 3 ELSE 0 END)*17) % 53) - 26) AS v
             |  FROM p, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, 4)) AS gc(c))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(4 AS BIGINT) AS components,
             |  CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS c_sum,
             |  CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS m_sum,
             |  CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS y_sum,
             |  CAST(SUM(CASE WHEN c = 3 THEN v END) AS BIGINT) AS k_sum
             |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // PROGRESSIVE JPEG decode (round 14): the SAME fixtures as
    // q_image_jpeg but written as SOF2 files with the full successive-
    // approximation scan script (DC first at Al=1, DC refinement,
    // per-component AC band first pass at Al=1, AC refinement with EOB
    // runs and correction bits). Successive approximation transmits
    // IDENTICAL quantized coefficients, so the oracle is q_image_jpeg's
    // verbatim — any desync in the band scans, point transforms, EOB-run
    // accounting or correction-bit ordering breaks the hash.
    "q_image_jpeg_prog" -> QueryDef(
      (s, d) => BinaryPipeline.decodeJpegs(
          MediaFixtures.synthesizeJpegs(Tables.documents(s, d), progressive = true))
        .select(col("doc_id"), col("width"), col("height"), col("components"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id,
             |    24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h,
             |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS comps FROM documents),
             |px AS (SELECT doc_id, comps, w, h,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13) % 53) - 26) AS v
             |  FROM p, unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(comps AS BIGINT) AS components,
             |  CAST(SUM(v) AS BIGINT) AS r_sum,
             |  CAST(CASE WHEN comps = 3 THEN SUM(v) ELSE 0 END AS BIGINT) AS g_sum,
             |  CAST(CASE WHEN comps = 3 THEN SUM(v) ELSE 0 END AS BIGINT) AS b_sum
             |FROM px GROUP BY doc_id, comps, w, h ORDER BY doc_id""".stripMargin)),

    // MIXED-FORMAT multimodal KNN (round 14; GIF leg round 15): one
    // feature space over a corpus that is part PNG, part JPEG, part GIF —
    // the format-agnostic tile op featurizes all three (sniffed per row),
    // and the standard cosine KNN ranks across formats in one index. PNG
    // features replay from the pixel formulas, JPEG from the flat-block
    // formulas, GIF from the palette+index formulas; the oracle unions
    // all three and ranks true top-k, so a bias in any decode path (or
    // the dispatch) breaks the hash.
    "q_knn_image_mixed" -> QueryDef(
      (s, d) => {
        // every leg pre-filters to the ids its synthesis formula makes
        // RGB (the oracle's own filters), instead of decoding gray/RGBA
        // rows into the channel gate: PNG id%3==1, JPEG/TIFF odd ids,
        // GIF everything but the id%5==2 transparent (RGBA) slice
        val docs = Tables.documents(s, d)
        val png = MediaFixtures.synthesizeImages(docs.where(col("doc_id") % 3 === 1))
        val jpg = MediaFixtures.synthesizeJpegs(docs.where(col("doc_id") % 2 === 1))
          .select((col("doc_id") + 200000).as("doc_id"), col("content"), col("meta"))
        val gif = MediaFixtures.synthesizeGifs(docs.where(col("doc_id") % 5 =!= 2))
          .select((col("doc_id") + 400000).as("doc_id"), col("content"), col("meta"))
        val tif = MediaFixtures.synthesizeTiffs(docs.where(col("doc_id") % 2 === 1))
          .select((col("doc_id") + 600000).as("doc_id"), col("content"), col("meta"))
        // BMP decodes to RGB regardless of mode (round 16): no filter
        val bmp = MediaFixtures.synthesizeBmps(docs)
          .select((col("doc_id") + 800000).as("doc_id"), col("content"), col("meta"))
        // WebP is always RGB here (round 18 — the SIXTH format leg)
        val webp = MediaFixtures.synthesizeWebps(docs)
          .select((col("doc_id") + 1000000).as("doc_id"), col("content"), col("meta"))
        val feats = BinaryPipeline.imageTileFeatures(
            png.unionAll(jpg).unionAll(gif).unionAll(tif).unionAll(bmp)
              .unionAll(webp),
            gx = 2, gy = 2)
          .where(col("channels") === 3) // the RGB modality group, all formats
          .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
          // decode all six format legs ONCE (see q_knn_image)
          .localCheckpoint(true)
        val q = feats.where(col("vec_id") === 1)
        graft.operators.Knn.topK(feats, q, graft.operators.Knn.Cosine, 5)
      },
      Some("""WITH png_px AS (SELECT doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    (doc_id*31 + ((y*w + x)*3 + c) * 7) % 256 AS v
             |  FROM (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
             |        FROM documents WHERE doc_id % 3 = 1) p,
             |       unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, 3)) AS gc(c)),
             |jpg_px AS (SELECT doc_id + 200000 AS doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    128 + 3*(((doc_id*31 + (x//8)*7 + (y//8)*13) % 53) - 26) AS v
             |  FROM (SELECT doc_id, 24 + doc_id % 13 AS w, 16 + doc_id % 11 AS h
             |        FROM documents WHERE doc_id % 2 = 1) p,
             |       unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, 3)) AS gc(c)),
             |gif_ix AS (SELECT doc_id, w, h, x, y,
             |    (doc_id*31 + (y*w + x)*7) % 8 AS ix
             |  FROM (SELECT doc_id, 10 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
             |        FROM documents WHERE doc_id % 5 != 2) p,
             |       unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y)),
             |gif_px AS (SELECT doc_id + 400000 AS doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE c WHEN 0 THEN (doc_id*17 + ix*29) % 256
             |           WHEN 1 THEN (doc_id*19 + ix*31) % 256
             |           ELSE (doc_id*23 + ix*37) % 256 END AS v
             |  FROM gif_ix, unnest(range(0, 3)) AS gc(c)),
             |tif_px AS (SELECT doc_id + 600000 AS doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    (doc_id*37 + ((y*w + x)*3 + c) * 11) % 256 AS v
             |  FROM (SELECT doc_id, 9 + doc_id % 13 AS w, 7 + doc_id % 11 AS h
             |        FROM documents WHERE doc_id % 2 = 1) p,
             |       unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, 3)) AS gc(c)),
             |bmp_px AS (SELECT did + 800000 AS doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE WHEN did % 3 = 0 THEN
             |      CASE c WHEN 0 THEN (((did*37 + (y*w+x)*13) % 250) * 37) % 256
             |             WHEN 1 THEN (((did*37 + (y*w+x)*13) % 250) * 59 + 17) % 256
             |             ELSE (((did*37 + (y*w+x)*13) % 250) * 83 + 29) % 256 END
             |    ELSE (did*37 + ((y*w + x)*3 + c) * 11) % 256 END AS v
             |  FROM (SELECT doc_id AS did, 11 + doc_id % 13 AS w, 9 + doc_id % 11 AS h
             |        FROM documents) p,
             |       unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, 3)) AS gc(c)),
             |webp_px AS (SELECT doc_id + 1000000 AS doc_id,
             |    (((y*2)//h) * 2 + ((x*2)//w)) * 3 + c AS dim,
             |    CASE WHEN doc_id % 7 = 2 THEN
             |      CASE c WHEN 0 THEN (((doc_id*37 + (y*w + x)*13) % 16) * 37) % 256
             |             WHEN 1 THEN (((doc_id*37 + (y*w + x)*13) % 16) * 59 + 17) % 256
             |             ELSE (((doc_id*37 + (y*w + x)*13) % 16) * 83 + 29) % 256 END
             |    ELSE (doc_id*37 + ((y*w + x)*3 + c) * 11) % 256 END AS v
             |  FROM (SELECT doc_id, 10 + doc_id % 11 AS w, 8 + doc_id % 9 AS h
             |        FROM documents) p,
             |       unnest(range(0, w)) AS gx(x), unnest(range(0, h)) AS gy(y),
             |       unnest(range(0, 3)) AS gc(c)),
             |f AS (SELECT doc_id, list(m ORDER BY dim) AS emb FROM (
             |    SELECT doc_id, dim, avg(v) AS m
             |    FROM (SELECT * FROM png_px UNION ALL SELECT * FROM jpg_px
             |          UNION ALL SELECT * FROM gif_px
             |          UNION ALL SELECT * FROM tif_px
             |          UNION ALL SELECT * FROM bmp_px
             |          UNION ALL SELECT * FROM webp_px)
             |    GROUP BY doc_id, dim)
             |  GROUP BY doc_id)
             |SELECT e.doc_id AS vec_id,
             |  round(1 - list_cosine_similarity(e.emb, q.emb), 4) AS dist
             |FROM f e CROSS JOIN (SELECT emb FROM f WHERE doc_id = 1) q
             |ORDER BY dist, vec_id LIMIT 5""".stripMargin)),

    // WebP VP8L LOSSLESS DECODE (round 18, VERDICT r17 #4 — a top-3
    // web-crawl image format): the corpus rotates ALL SIX wire shapes
    // (plain literals, subtract-green, 16-color bundled palette,
    // LZ77+color-cache, predictor transform over the full mode range,
    // color transform) over the SAME pixel formulas, so the oracle gates
    // lossless invariance — a prefix-code slip, a transform-inverse
    // bug, a distance-map error or a cache-hash mismatch breaks the
    // position-weighted hash.
    "q_image_webp" -> QueryDef(
      (s, d) => BinaryPipeline.decodeWebps(
          MediaFixtures.synthesizeWebps(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH p AS (SELECT doc_id, 10 + doc_id % 11 AS w, 8 + doc_id % 9 AS h
             |  FROM documents),
             |b AS (SELECT doc_id, w, h, i,
             |    CASE WHEN doc_id % 7 = 2 THEN
             |      CASE i % 3
             |        WHEN 0 THEN (((doc_id*37 + (i//3)*13) % 16) * 37) % 256
             |        WHEN 1 THEN (((doc_id*37 + (i//3)*13) % 16) * 59 + 17) % 256
             |        ELSE (((doc_id*37 + (i//3)*13) % 16) * 83 + 29) % 256 END
             |    ELSE (doc_id*37 + i*11) % 256 END AS v
             |  FROM p, unnest(range(0, w*h*3)) t(i))
             |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS r_sum,
             |  CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS g_sum,
             |  CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS b_sum,
             |  CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
             |FROM b GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // EXIF ORIENTATION + CORE TAGS (round 18, VERDICT r17 #5): every
    // corpus JPEG carries a real APP1/Exif segment (TIFF structure in
    // both byte orders, out-of-line ASCII values, Exif sub-IFD pixel
    // dims); the op decodes the raster for TRUE dimensions, parses the
    // APP1, and emits the ORIENTATION-NORMALIZED effective dims —
    // orientations 5-8 (half the corpus) swap width/height, so a reader
    // that ignores the tag transposes the geometry and breaks the hash.
    // The oracle replays every field from the id formulas byte-blind.
    "q_image_exif" -> QueryDef(
      (s, d) => BinaryPipeline.decodeExif(
          MediaFixtures.synthesizeExifJpegs(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(24 + doc_id % 13 AS BIGINT) AS width,
             |  CAST(16 + doc_id % 11 AS BIGINT) AS height,
             |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
             |  CAST(CASE WHEN 1 + doc_id % 8 >= 5 THEN 16 + doc_id % 11
             |            ELSE 24 + doc_id % 13 END AS BIGINT) AS oriented_width,
             |  CAST(CASE WHEN 1 + doc_id % 8 >= 5 THEN 24 + doc_id % 13
             |            ELSE 16 + doc_id % 11 END AS BIGINT) AS oriented_height,
             |  'Maker' || CAST(doc_id % 5 AS VARCHAR) AS make,
             |  'Model' || CAST(doc_id % 7 AS VARCHAR) AS model,
             |  '2024:01:01 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
             |    AS date_time
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q_multimodal_meta" -> QueryDef(
      (s, d) => BinaryPipeline.extractFeatures(BinaryPipeline.asMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("byte_len"), col("content_md5"), col("width"), col("media_type"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len, md5(text) AS content_md5,
             |  CAST(64 + strlen(text) % 1024 AS BIGINT) AS width,
             |  'application/pdf' AS media_type
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Scalar (uint8) quantization of the embedding corpus. The global
    // range comes off the data (2-double driver literal); codes are pure
    // row-local double arithmetic, IEEE-identical in DuckDB, so the gate
    // is hash-exact. The raw array<bigint> column is projected to
    // (size, md5-of-joined) — the comparator can't sort/hash nested
    // arrays (same convention as q_winnow). Recall/reconstruction
    // accuracy is spec-gated (QuantizeSpec).
    "q_quantize_embed" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val (mn, mx) = graft.operators.Quantize.scalarRange(e)
        graft.operators.Quantize.quantize(e, "embedding", mn, mx)
          .select(col("vec_id"), size(col("qvec")).cast("long").as("n_codes"),
            md5(array_join(col("qvec"), "|")).as("code_hash"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH r AS (
             |  SELECT CAST(min(list_aggregate(embedding, 'min')) AS DOUBLE) AS mn,
             |         CAST(max(list_aggregate(embedding, 'max')) AS DOUBLE) AS mx
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> least(255, greatest(0,
             |      CAST(floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0) AS BIGINT)))) AS qvec
             |  FROM embeddings CROSS JOIN r)
             |SELECT vec_id, CAST(len(qvec) AS BIGINT) AS n_codes,
             |  md5(array_to_string(qvec, '|')) AS code_hash
             |FROM q ORDER BY vec_id""".stripMargin)),

    // Quantized-scan KNN over the flat (one-cell) SQ8 store: coarse
    // top-k·c in the integer code domain, then full-precision rerank of
    // the candidates. Every stage deterministic
    // (integer qdist / rounded exact dist, id tiebreaks), so DuckDB
    // replays the whole pipeline — quantize, code-L2, candidate cut,
    // rerank — hash-exact. Recall vs exact KNN and code-column pruning
    // are spec-gated (QuantizeSpec).
    "q_knn_quantized" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        flatKnn(s, sq8FlatIdx(e, d), e, k = 5, overfetch = 4)
      },
      Some("""WITH r AS (
             |  SELECT CAST(min(list_aggregate(embedding, 'min')) AS DOUBLE) AS mn,
             |         CAST(max(list_aggregate(embedding, 'max')) AS DOUBLE) AS mx
             |  FROM embeddings),
             |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
             |codes AS (
             |  SELECT vec_id, list_transform(embedding, x -> least(255, greatest(0,
             |    CAST(floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0) AS BIGINT)))) AS qv
             |  FROM embeddings CROSS JOIN r),
             |qc AS (
             |  SELECT list_transform(qe, x -> least(255, greatest(0,
             |    CAST(floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 256.0) AS BIGINT)))) AS qqv
             |  FROM q CROSS JOIN r),
             |cand AS (
             |  SELECT vec_id FROM (
             |    SELECT c.vec_id,
             |      list_sum(list_transform(range(1, len(qv) + 1),
             |        i -> (qv[i] - qqv[i]) * (qv[i] - qqv[i]))) AS qdist
             |    FROM codes c CROSS JOIN qc)
             |  ORDER BY qdist, vec_id LIMIT 20)
             |SELECT e.vec_id, round(list_distance(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS dist
             |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
             |ORDER BY dist, vec_id LIMIT 5""".stripMargin)),

    // halfvec (binary16) flat store + KNN — pgvector 0.7's 2-byte vector
    // tier between float32 and SQ8. Rows-only: DuckDB has no binary16
    // codec to replay; idempotence over all 65536 bit patterns,
    // nearest-rounding, the 2^-11 reconstruction bound, store
    // round-trip, and covering-overfetch exactness are spec-gated
    // (QuantizeSpec).
    "q_knn_half" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        flatKnn(s, halfFlatIdx(e, d), e, k = 5, overfetch = 4)
      },
      None),

    // pgvector aggregate parity (round 9): sum(vector) / avg(vector) as
    // a SINGLE-PASS native TypedImperativeAggregate — one dim+1-long
    // buffer per group with map-side partials, vs poolToDocuments'
    // posexplode shuffle blowup (dim rows per input row). Accumulation
    // is exact scaled-integer (round-half-up at 6dp, Math.addExact), so
    // sums are order/partitioning-independent and the DuckDB DECIMAL
    // replay hash-matches bit-for-bit; avg is gated as sum/count via
    // exact decimal division by the group size (spec pins avg == sum /
    // count within the aggregate itself).
    "q_vec_sum" -> QueryDef(
      (s, d) => Tables.embeddings(s, d)
        .groupBy(expr("vec_id div 10").as("doc_id"))
        .agg(graft.functions.VectorAggregates.vecSum(col("embedding")).as("v"))
        .select(col("doc_id"), posexplode(col("v")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
        .orderBy("doc_id", "dim"),
      Some("""SELECT vec_id // 10 AS doc_id, CAST(dim - 1 AS BIGINT) AS dim,
             |  CAST(sum(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) AS val
             |FROM (SELECT vec_id, unnest(embedding) AS v,
             |        generate_subscripts(embedding, 1) AS dim FROM embeddings)
             |GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin)),

    // pgvector function-surface parity through plain SQL: vector_dims /
    // vector_norm / subvector / l2_normalize ports (vec_dims, vec_norm,
    // vec_subvector, vec_l2_normalize). Arrays project to int-scaled md5
    // digests (the q_winnow convention); norm math is
    // identical-op-order double on both engines, rounded 4dp.
    "q_vec_funcs" -> QueryDef(
      (s, d) => {
        val tag = math.abs(d.hashCode).toString
        Tables.embeddings(s, d).createOrReplaceTempView(s"vf_emb_$tag")
        s.sql(
          s"""SELECT vec_id,
             |  vec_dims(embedding) AS dims,
             |  round(vec_norm(embedding), 4) AS nrm,
             |  md5(array_join(transform(vec_subvector(embedding, 1, 8),
             |    x -> cast(round(cast(x AS double) * 10000) AS bigint)), '|')) AS sub_hash,
             |  md5(array_join(transform(vec_l2_normalize(embedding),
             |    x -> cast(round(x * 10000) AS bigint)), '|')) AS unit_hash,
             |  md5(array_join(transform(
             |    vec_concat(vec_subvector(embedding, 1, 4), vec_subvector(embedding, 5, 4)),
             |    x -> cast(round(cast(x AS double) * 10000) AS bigint)), '|')) AS cat_hash
             |FROM vf_emb_$tag ORDER BY vec_id""".stripMargin)
      },
      Some("""WITH n AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS e,
             |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nn
             |  FROM embeddings)
             |SELECT vec_id, len(e)::INT AS dims, round(nn, 4) AS nrm,
             |  md5(array_to_string(list_transform(e[1:8],
             |    x -> CAST(round(x * 10000) AS BIGINT)), '|')) AS sub_hash,
             |  md5(array_to_string(list_transform(e,
             |    x -> CAST(round(x / nn * 10000) AS BIGINT)), '|')) AS unit_hash,
             |  md5(array_to_string(list_transform(list_concat(e[1:4], e[5:8]),
             |    x -> CAST(round(x * 10000) AS BIGINT)), '|')) AS cat_hash
             |FROM n ORDER BY vec_id""".stripMargin)),

    // pgvector bit-vector family through plain SQL: binary_quantize /
    // hamming_distance / jaccard_distance ports over the packed words.
    // The oracle replays both distances from raw float SIGNS (packed and
    // unpacked formulations are the same function) — integer popcounts,
    // hash-exact; jaccard is an exact integer ratio rounded 4dp with
    // identical op order.
    "q_vec_bits" -> QueryDef(
      (s, d) => {
        val tag = math.abs(d.hashCode).toString
        Tables.embeddings(s, d).createOrReplaceTempView(s"vb_emb_$tag")
        s.sql(
          s"""WITH b AS (SELECT vec_id, vec_binarize(embedding) AS bv FROM vb_emb_$tag),
             |q AS (SELECT bv AS qv FROM b WHERE vec_id = 7)
             |SELECT b.vec_id,
             |  hamming_distance(b.bv, q.qv) AS hamming,
             |  round(jaccard_distance(b.bv, q.qv), 4) AS jaccard
             |FROM b CROSS JOIN q
             |ORDER BY hamming, b.vec_id LIMIT 20""".stripMargin)
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
             |m AS (SELECT e.vec_id,
             |        CAST(len(list_filter(range(1, len(e.embedding) + 1),
             |          i -> (e.embedding[i] > 0) != (q.qe[i] > 0))) AS BIGINT) AS hamming,
             |        len(list_filter(range(1, len(e.embedding) + 1),
             |          i -> (e.embedding[i] > 0) AND (q.qe[i] > 0))) AS inter,
             |        len(list_filter(range(1, len(e.embedding) + 1),
             |          i -> (e.embedding[i] > 0) OR (q.qe[i] > 0))) AS un
             |      FROM embeddings e CROSS JOIN q)
             |SELECT vec_id, hamming,
             |  round(CASE WHEN un = 0 THEN NULL
             |        ELSE 1.0 - CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) END, 4) AS jaccard
             |FROM m ORDER BY hamming, vec_id LIMIT 20""".stripMargin)),

    // Jaccard-ranked KNN over binarized embeddings — pgvector's <%> bit
    // opclass as a ranking query: nulls (empty-union pairs) drop, ties
    // break on id. Integer popcount ratio rounded 4dp, hash-exact.
    "q_knn_jaccard" -> QueryDef(
      (s, d) => {
        val tag = math.abs(d.hashCode).toString
        Tables.embeddings(s, d).createOrReplaceTempView(s"vj_emb_$tag")
        s.sql(
          s"""WITH b AS (SELECT vec_id, vec_binarize(embedding) AS bv FROM vj_emb_$tag),
             |q AS (SELECT bv AS qv FROM b WHERE vec_id = 7)
             |SELECT b.vec_id, round(jaccard_distance(b.bv, q.qv), 4) AS jdist
             |FROM b CROSS JOIN q
             |WHERE jaccard_distance(b.bv, q.qv) IS NOT NULL
             |ORDER BY jaccard_distance(b.bv, q.qv), b.vec_id LIMIT 10""".stripMargin)
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
             |m AS (SELECT e.vec_id,
             |        len(list_filter(range(1, len(e.embedding) + 1),
             |          i -> (e.embedding[i] > 0) AND (q.qe[i] > 0))) AS inter,
             |        len(list_filter(range(1, len(e.embedding) + 1),
             |          i -> (e.embedding[i] > 0) OR (q.qe[i] > 0))) AS un
             |      FROM embeddings e CROSS JOIN q),
             |j AS (SELECT vec_id, 1.0 - CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jd
             |      FROM m WHERE un > 0)
             |SELECT vec_id, round(jd, 4) AS jdist
             |FROM j ORDER BY jd, vec_id LIMIT 10""".stripMargin)),

    // Persisted IVF-BINARY index at partial probe — the 32× compression
    // point inside the cell-pruned inverted-file layout. Rows-only here
    // (partial-probe recall is spec-gated in IvfStoreSpec); the exact
    // hash signal on this read path is q_ann_binary_exact below.
    "q_ann_binary_idx" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfBinIdxK8(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 2, metric = "l2")
          .orderBy(col("qid"), col("rn"))
      }, None),

    // Persisted IVF-BINARY index: full probe + covering overfetch ==
    // exact L2 top-k THROUGH the sign-bit coarse scan, the cell
    // partition pruning, and the bounded rerank pushdown — the r7
    // exact-degeneration gate family extended to the binary store.
    "q_ann_binary_exact" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val n = e.count().toInt
        val dir = ivfBinIdxK16(e, d)
        val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
        IvfIndex.searchIndex(s, dir, q, k = 5, nprobe = 16, metric = "l2", overfetch = n)
          .orderBy(col("qid"), col("rn"))
      },
      Some(annExactL2Sql)),

    // ── EXPLICIT INDEX-BUILD GATES (dense ANN) ───────────────────────
    // The serve queries reuse their trained-model/persisted-index
    // fixtures (built once per JVM); these force a FULL rebuild — train
    // included — every run, so the build path keeps its own bench floor,
    // and hash-gate row preservation through the partitioned write.

    // IVF-PQ full build: coarse k-means + residual PQ codebooks + the
    // cell-partitioned encoded store. The gate pins that every corpus
    // row lands in the store exactly once.
    "q_ivfpq_build" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = ivfpqIdx(e, d, fresh = true)
        s.read.parquet(dir).agg(
          count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col("vec_id")).cast("long").as("n_ids"))
      },
      Some("""SELECT count(*)::BIGINT AS n_rows, count(DISTINCT vec_id)::BIGINT AS n_ids
             |FROM embeddings""".stripMargin)),

    // Sharded-HNSW full build: executor-built per-shard graphs; the gate
    // pins node conservation (sum of shard sizes == corpus) and the
    // floorMod shard fan-out.
    "q_hnsw_build" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dir = hnswShardedIdx(e, d, fresh = true)
        s.read.parquet(dir).agg(
          sum(col("n")).cast("long").as("n_nodes"),
          count(lit(1)).cast("long").as("n_shards"))
      },
      Some("""SELECT count(*)::BIGINT AS n_nodes,
             |  count(DISTINCT vec_id % 4)::BIGINT AS n_shards
             |FROM embeddings""".stripMargin)),

    // Binary quantization + Hamming ranking — pgvector 0.7's bit-vector
    // family (bit(n), <~> hamming): sign bit per dim packed 32/word,
    // distance = popcount of XOR. Pure integer end to end, so the oracle
    // (which counts sign mismatches on the raw floats — the packed and
    // unpacked formulations are the same function) replays hash-exact.
    "q_knn_hamming" -> QueryDef(
      (s, d) => {
        import graft.operators.Quantize
        val e = Tables.embeddings(s, d)
        val bin = e.select(col("vec_id"), Quantize.binarizeExpr(col("embedding")).as("bvec"))
        val qb = broadcast(e.where(col("vec_id") === 7)
          .select(Quantize.binarizeExpr(col("embedding")).as("qb")))
        bin.crossJoin(qb)
          .select(col("vec_id"),
            Quantize.hammingExpr(col("bvec"), col("qb")).cast("long").as("hamming"))
          .orderBy(col("hamming"), col("vec_id")).limit(10)
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
             |h AS (SELECT e.vec_id,
             |        CAST(len(list_filter(range(1, len(e.embedding) + 1),
             |          i -> (e.embedding[i] > 0) != (q.qe[i] > 0))) AS BIGINT) AS hamming
             |      FROM embeddings e CROSS JOIN q)
             |SELECT vec_id, hamming FROM h ORDER BY hamming, vec_id LIMIT 10""".stripMargin)),

    // Binary-coarse KNN with exact rerank over the flat (one-cell) binary
    // store: the 32×-compression point of the quantization ladder, recall recovered by overfetch + rerank —
    // the q_knn_quantized recipe with Hamming in place of code-L2. Both
    // stages deterministic, oracle replays the full pipeline.
    "q_knn_binary" -> QueryDef(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        flatKnn(s, binaryFlatIdx(e, d), e, k = 5, overfetch = 4)
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
             |cand AS (
             |  SELECT vec_id FROM (
             |    SELECT e.vec_id,
             |      len(list_filter(range(1, len(e.embedding) + 1),
             |        i -> (e.embedding[i] > 0) != (q.qe[i] > 0))) AS hdist
             |    FROM embeddings e CROSS JOIN q)
             |  ORDER BY hdist, vec_id LIMIT 20)
             |SELECT e.vec_id, round(list_distance(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS dist
             |FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
             |ORDER BY dist, vec_id LIMIT 5""".stripMargin))
  )
}
