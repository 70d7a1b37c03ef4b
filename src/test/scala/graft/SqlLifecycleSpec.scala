package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SQL-only index lifecycle (VERDICT r11 task 8): a session built from
  * GraftExtensions can CREATE / APPEND / UPSERT / DELETE / COMPACT both
  * store kinds and query them without touching a Scala API — the
  * statements lower onto the same library calls the Scala surface uses.
  * Also pins the delegation contract: non-graft SQL parses untouched,
  * malformed graft statements fail loud (never silently delegated). */
class SqlLifecycleSpec extends SparkSpec {

  /** A fresh session over the shared context WITH the extensions (the
    * suite-shared session predates them); default/active are restored so
    * sibling suites keep their session. */
  private lazy val s: SparkSession = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = GraftSession.builder(prev.sparkContext.master, 4).getOrCreate()
    SparkSession.setDefaultSession(prev)
    SparkSession.setActiveSession(prev)
    assert(fresh ne prev, "expected a fresh session carrying the extensions")
    fresh
  }

  test("vector store lifecycle end-to-end in SQL: create, query, delete, append, upsert, compact") {
    val path = Files.createTempDirectory("sql_ivf").toString + "/idx"
    Tables.embeddings(s, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .createOrReplaceTempView("emb_v")

    val created = s.sql(
      s"CREATE GRAFT INDEX IVF AT '$path' FROM emb_v OPTIONS (k = 4, iters = 2)")
      .collect().map(_.getString(0))
    assert(created.exists(_.contains("created IVF")), created.toSeq)
    assert(s.read.parquet(path).count() == s.table("emb_v").count())

    // SQL-side query through the injected rewrite rule: exact top-3 by
    // L2 must match a brute-force SQL ranking over the source view
    val qv = s.table("emb_v").where(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Double](0)
    val vecLit = s"array(${qv.map(d => s"${d}D").mkString(", ")})"
    s.read.parquet(path).createOrReplaceTempView("idx_v")
    def top3(view: String): Seq[(Long, Double)] = s.sql(
      s"""SELECT vec_id, round(vec_l2(embedding, $vecLit), 4) AS dist
         |FROM $view ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT 3""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top3("idx_v") == top3("emb_v"), "index query != brute force")

    // DELETE: every vec_id % 5 == 0 via an id view
    s.table("emb_v").where(col("vec_id") % 5 === 0).select(col("vec_id"))
      .createOrReplaceTempView("del_v")
    val delMsg = s.sql(s"DELETE GRAFT INDEX AT '$path' FROM del_v").head().getString(0)
    assert(delMsg.contains("deleted"), delMsg)
    assert(s.read.parquet(path).where(col("vec_id") % 5 === 0).isEmpty)

    // APPEND new ids
    s.table("emb_v").where(col("vec_id") < 3)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
      .createOrReplaceTempView("app_v")
    s.sql(s"APPEND GRAFT INDEX AT '$path' FROM app_v").collect()
    assert(s.read.parquet(path).where(col("vec_id") >= 9000L).count() == 3)

    // UPSERT donors over existing ids
    s.table("emb_v").where(col("vec_id").between(101L, 103L))
      .select((col("vec_id") - 100L).as("vec_id"), col("embedding"))
      .createOrReplaceTempView("ups_v")
    val upsMsg = s.sql(s"UPSERT GRAFT INDEX AT '$path' FROM ups_v").head().getString(0)
    assert(upsMsg.contains("updated=3"), upsMsg)

    // COMPACT keeps content
    val before = s.read.parquet(path).count()
    val cMsg = s.sql(s"COMPACT GRAFT INDEX AT '$path'").head().getString(0)
    assert(cMsg.contains("compacted"), cMsg)
    assert(s.read.parquet(path).count() == before)
  }

  test("APPEND GRAFT INDEX into binary and cosine stores writes the store's own encoding") {
    val all = Tables.embeddings(s, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    all.where(col("vec_id") >= 3).createOrReplaceTempView("app_base_v")
    all.where(col("vec_id") < 3).createOrReplaceTempView("app_new_v")
    for (kind <- Seq("IVF_BINARY", "IVF_COSINE")) {
      val path = Files.createTempDirectory(s"sql_app_$kind").toString + "/idx"
      s.sql(s"CREATE GRAFT INDEX $kind AT '$path' FROM app_base_v OPTIONS (k = 4, iters = 2)")
        .collect()
      val msg = s.sql(s"APPEND GRAFT INDEX AT '$path' FROM app_new_v").head().getString(0)
      assert(msg.contains("appended"), msg)
      // the appended rows are exactly what a full write of the union
      // stores (bvec codes; normalized vectors and their cells)
      val store = graft.operators.IvfIndex.readStore(s, path)
      val fresh = graft.operators.IvfIndex.encode(all, store, "vec_id", "embedding")
      val stored = s.read.parquet(path)
      assert(stored.where(col("vec_id") < 3).count() == 3, kind)
      assert(stored.select(fresh.columns.map(col): _*).exceptAll(fresh).isEmpty, kind)
      // and served: each appended vector is its own nearest neighbor
      val q = all.where(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding"))
      val metric = if (kind == "IVF_COSINE") "cosine" else "l2"
      val hits = graft.operators.IvfIndex.searchIndex(s, path, q, k = 1, nprobe = 1,
          metric = metric)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hits.toSet == Set((0L, 0L), (1L, 1L), (2L, 2L)), s"$kind: ${hits.toSeq}")
    }
  }

  test("sparse postings lifecycle end-to-end in SQL") {
    val tmp = Files.createTempDirectory("sql_sparse").toString
    Tables.documents(s, sfDir).select(col("doc_id"), col("text"))
      .createOrReplaceTempView("docs_v")
    s.sql("DROP TABLE IF EXISTS sql_sp_idx")

    val created = s.sql(
      s"CREATE GRAFT SPARSE INDEX sql_sp_idx AT '$tmp/idx' FROM docs_v " +
        "OPTIONS (dim = 256, buckets = 4)").head().getString(0)
    assert(created.contains("created sparse"), created)
    val postings = s.table("sql_sp_idx").count()
    assert(postings > 0)

    // DELETE a doc via an id view; its postings stop serving
    s.table("docs_v").where(col("doc_id") === 2).select(col("doc_id"))
      .createOrReplaceTempView("sp_del_v")
    s.sql("DELETE GRAFT SPARSE INDEX sql_sp_idx FROM sp_del_v").collect()
    val q = graft.operators.SparseKnn.hashingTf(
        s.table("docs_v").where(col("doc_id") === 2), dim = 256)
      .select(col("doc_id").as("qid"), col("indices"), col("values"))
    val hits = graft.operators.SparseKnn.topKFromIndex(s, "sql_sp_idx", q, k = 3)
      .collect().map(_.getLong(1))
    assert(!hits.contains(2L), s"deleted doc served: ${hits.toSeq}")

    // UPSERT it back with changed text — the atomic resurrect path
    s.table("docs_v").where(col("doc_id") === 2)
      .select(col("doc_id"), concat(col("text"), lit(" sql upsert")).as("text"))
      .createOrReplaceTempView("sp_ups_v")
    s.sql("UPSERT GRAFT SPARSE INDEX sql_sp_idx FROM sp_ups_v OPTIONS (dim = 256)").collect()
    val back = graft.operators.SparseKnn.topKFromIndex(s, "sql_sp_idx", q, k = 3)
      .collect().map(_.getLong(1))
    assert(back.contains(2L), s"upserted doc not serving: ${back.toSeq}")

    // APPEND a brand-new doc WITHOUT repeating OPTIONS: the build dim
    // rides the _graft_sparse.json sidecar, so the append hashes at the
    // dim the index was created with — and the appended doc actually
    // SERVES for a 256-dim query (a silently mis-dimmed append would
    // land in buckets no query intersects)
    s.table("docs_v").where(col("doc_id") === 0)
      .select((col("doc_id") + 7000L).as("doc_id"), col("text"))
      .createOrReplaceTempView("sp_app_v")
    s.sql("APPEND GRAFT SPARSE INDEX sql_sp_idx FROM sp_app_v").collect()
    assert(s.table("sql_sp_idx").where(col("doc_id") === 7000L).count() > 0)
    val q70 = graft.operators.SparseKnn.hashingTf(
        s.table("sp_app_v"), dim = 256)
      .select(col("doc_id").as("qid"), col("indices"), col("values"))
    val served = graft.operators.SparseKnn.topKFromIndex(s, "sql_sp_idx", q70, k = 2)
      .collect().map(_.getLong(1))
    assert(served.contains(7000L), s"sidecar-dim append not serving: ${served.toSeq}")
    // a CONTRADICTING dim is refused loud, never silently corrupting
    val eDim = intercept[Exception](
      s.sql("APPEND GRAFT SPARSE INDEX sql_sp_idx FROM sp_app_v OPTIONS (dim = 512)"))
    assert(eDim.getMessage.contains("build dim"), eDim.getMessage)
    // the sidecar survives the whole-dir COMPACT swap (checked below by
    // compacting and appending once more without OPTIONS)

    // CREATE over the existing index is a full REBUILD: the old sidecar
    // is history, not a constraint — a different dim succeeds and the
    // sidecar records the dim actually used
    s.sql(s"CREATE GRAFT SPARSE INDEX sql_sp_idx AT '$tmp/idx2' FROM docs_v " +
      "OPTIONS (dim = 128, buckets = 4)").collect()
    s.table("docs_v").where(col("doc_id") === 3)
      .select((col("doc_id") + 7200L).as("doc_id"), col("text"))
      .createOrReplaceTempView("sp_app3_v")
    s.sql("APPEND GRAFT SPARSE INDEX sql_sp_idx FROM sp_app3_v").collect()
    val q72 = graft.operators.SparseKnn.hashingTf(s.table("sp_app3_v"), dim = 128)
      .select(col("doc_id").as("qid"), col("indices"), col("values"))
    val served128 = graft.operators.SparseKnn.topKFromIndex(s, "sql_sp_idx", q72, k = 2)
      .collect().map(_.getLong(1))
    assert(served128.contains(7203L),
      s"rebuild at dim 128 should govern later appends: ${served128.toSeq}")
    // rebuild back at 256 for the compact-persistence check below
    s.sql(s"CREATE GRAFT SPARSE INDEX sql_sp_idx AT '$tmp/idx3' FROM docs_v " +
      "OPTIONS (dim = 256, buckets = 4)").collect()

    // COMPACT — and the dim sidecar survives the whole-dir swap: a
    // fresh OPTIONS-less append afterwards still hashes at 256
    val msg = s.sql("COMPACT GRAFT SPARSE INDEX sql_sp_idx").head().getString(0)
    assert(msg.contains("compacted"), msg)
    s.table("docs_v").where(col("doc_id") === 1)
      .select((col("doc_id") + 7100L).as("doc_id"), col("text"))
      .createOrReplaceTempView("sp_app2_v")
    s.sql("APPEND GRAFT SPARSE INDEX sql_sp_idx FROM sp_app2_v").collect()
    val q71 = graft.operators.SparseKnn.hashingTf(s.table("sp_app2_v"), dim = 256)
      .select(col("doc_id").as("qid"), col("indices"), col("values"))
    val served2 = graft.operators.SparseKnn.topKFromIndex(s, "sql_sp_idx", q71, k = 2)
      .collect().map(_.getLong(1))
    assert(served2.contains(7101L), s"post-compact sidecar lost: ${served2.toSeq}")
    s.sql("DROP TABLE IF EXISTS sql_sp_idx")
  }

  test("delegation and fail-loud: plain SQL untouched, malformed graft statements reject") {
    assert(s.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // a typo'd graft statement must NOT silently become a table query
    val e1 = intercept[Exception](s.sql("CREATE GRAFT INDEX bogus AT '/x' FROM t"))
    assert(e1.getMessage.contains("unknown index kind"), e1.getMessage)
    val e2 = intercept[Exception](s.sql("COMPACT GRAFT INDEX '/x'"))
    assert(e2.getMessage.contains("Grammar"), e2.getMessage)
    val e3 = intercept[Exception](
      s.sql("CREATE GRAFT INDEX IVF AT '/x' FROM v OPTIONS (k 16)"))
    assert(e3.getMessage.contains("OPTIONS"), e3.getMessage)
    // the quote-aware tokenizer rejects an unterminated quoted value
    val e4 = intercept[Exception](
      s.sql("CREATE GRAFT INDEX IVF AT '/x' FROM v OPTIONS (k = 16, tag = 'oops)"))
    assert(e4.getMessage.contains("unterminated"), e4.getMessage)
    // and trailing text after the closing paren fails loud
    val e5 = intercept[Exception](
      s.sql("CREATE GRAFT INDEX IVF AT '/x' FROM v OPTIONS (k = 16) extra"))
    assert(e5.getMessage.contains("final clause"), e5.getMessage)
  }

  test("OPTIONS values may be quoted; ')' ',' '=' inside quotes are data") {
    val tmp = Files.createTempDirectory("sql_opts").toString
    Tables.documents(s, sfDir).select(col("doc_id"), col("text")).limit(20)
      .createOrReplaceTempView("docs_opt_v")
    s.sql("DROP TABLE IF EXISTS sql_opt_idx")
    // quoted dim/buckets parse to the same ints as bare ones, and an
    // extra quoted option packed with the old tokenizer's breakers
    // (')' ',' '=' and an escaped '') parses as one opaque value
    val msg = s.sql(
      s"CREATE GRAFT SPARSE INDEX sql_opt_idx AT '$tmp/idx' FROM docs_opt_v " +
        "OPTIONS (dim = '64', buckets = '2', note = 'a=b,(c)''d')").head().getString(0)
    assert(msg.contains("created sparse"), msg)
    assert(s.table("sql_opt_idx").count() > 0)
    // the recorded build dim is 64: an OPTIONS-less append hashes at it
    // and serves (would land in dead buckets at any other dim)
    s.table("docs_opt_v").where(col("doc_id") === 0)
      .select((col("doc_id") + 9100L).as("doc_id"), col("text"))
      .createOrReplaceTempView("opt_app_v")
    s.sql("APPEND GRAFT SPARSE INDEX sql_opt_idx FROM opt_app_v").collect()
    val q = graft.operators.SparseKnn.hashingTf(s.table("opt_app_v"), dim = 64)
      .select(col("doc_id").as("qid"), col("indices"), col("values"))
    val served = graft.operators.SparseKnn.topKFromIndex(s, "sql_opt_idx", q, k = 2)
      .collect().map(_.getLong(1))
    assert(served.contains(9100L), s"quoted-dim create not serving appends: ${served.toSeq}")
    s.sql("DROP TABLE IF EXISTS sql_opt_idx")
  }

  test("sparse APPEND/UPSERT with no sidecar and no OPTIONS dim refuses (never guesses)") {
    val tmp = Files.createTempDirectory("sql_nodim").toString
    val docs = Tables.documents(s, sfDir).select(col("doc_id"), col("text")).limit(20)
    docs.createOrReplaceTempView("nodim_docs_v")
    s.sql("DROP TABLE IF EXISTS sql_nodim_idx")
    // a LIBRARY-built index has no _graft_sparse.json sidecar — the SQL
    // maintenance verbs can't learn its build dim on their own
    val sv = graft.operators.SparseKnn.hashingTf(docs, dim = 64)
    graft.operators.SparseKnn.writeIndex(sv, "sql_nodim_idx", s"$tmp/idx", numBuckets = 2)
    docs.where(col("doc_id") === 0)
      .select((col("doc_id") + 9200L).as("doc_id"), col("text"))
      .createOrReplaceTempView("nodim_app_v")
    // no sidecar + no OPTIONS dim: refuse loud — a guessed default
    // would hash into buckets no 64-dim query ever intersects (the
    // silent no-rank corruption the sidecar protocol exists to prevent)
    val eA = intercept[Exception](
      s.sql("APPEND GRAFT SPARSE INDEX sql_nodim_idx FROM nodim_app_v"))
    assert(eA.getMessage.contains("_graft_sparse.json"), eA.getMessage)
    val eU = intercept[Exception](
      s.sql("UPSERT GRAFT SPARSE INDEX sql_nodim_idx FROM nodim_app_v"))
    assert(eU.getMessage.contains("_graft_sparse.json"), eU.getMessage)
    // an EXPLICIT dim is the documented escape hatch — and it serves
    s.sql("APPEND GRAFT SPARSE INDEX sql_nodim_idx FROM nodim_app_v " +
      "OPTIONS (dim = 64)").collect()
    val q = graft.operators.SparseKnn.hashingTf(s.table("nodim_app_v"), dim = 64)
      .select(col("doc_id").as("qid"), col("indices"), col("values"))
    val served = graft.operators.SparseKnn.topKFromIndex(s, "sql_nodim_idx", q, k = 2)
      .collect().map(_.getLong(1))
    assert(served.contains(9200L), s"explicit-dim append not serving: ${served.toSeq}")
    s.sql("DROP TABLE IF EXISTS sql_nodim_idx")
  }
}
