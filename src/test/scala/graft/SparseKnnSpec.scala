package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.SparseKnn
import graft.streaming.SparseStream

/** Sparse-vector surface (pgvector sparsevec parity): row-local kernels
  * pinned against their dense equivalents on densified vectors, the
  * posting-list top-k pinned against a brute-force replay, and the
  * inverted-index plan shape (no cartesian pairing) asserted. */
class SparseKnnSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val sv = SparseKnn.hashingTf(docs, dim = 256).cache()

  private def densify(idx: Seq[Long], vals: Seq[Double], dim: Int): Seq[Double] = {
    val a = Array.fill(dim)(0.0)
    idx.zip(vals).foreach { case (i, v) => a(i.toInt) = v }
    a.toSeq
  }

  test("hashingTf: sorted indices, tf sums equal token counts, deterministic") {
    val rows = sv.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val idx = r.getSeq[Long](1)
      assert(idx == idx.sorted, s"doc ${r.get(0)}: unsorted indices")
      assert(idx.distinct.size == idx.size)
    }
    // Σ values per doc == whitespace token count of the canonical text
    val fromSv = sv.select(col("doc_id"),
      aggregate(col("values"), lit(0.0), (a, x) => a + x).cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromText = docs.select(col("doc_id"),
      graft.functions.TextFunctions.wsTokenCount(col("text")).cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    fromSv.foreach { case (id, n) => assert(n == fromText(id), s"doc $id: $n != ${fromText(id)}") }
    val again = SparseKnn.hashingTf(docs, dim = 256).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2))).toSet
    val first = sv.collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2))).toSet
    assert(again == first)
  }

  test("sparse kernels equal dense kernels on densified vectors") {
    val dim = 8
    val a = (Seq(1L, 3L, 6L), Seq(2.0, -1.5, 4.0))
    val b = (Seq(0L, 3L, 6L, 7L), Seq(1.0, 5.0, 0.5, -2.0))
    val df = Seq((a._1, a._2, b._1, b._2)).toDF("ai", "av", "bi", "bv")
      .withColumn("da", typedlit(densify(a._1, a._2, dim)))
      .withColumn("db", typedlit(densify(b._1, b._2, dim)))
    val r = df.select(
      SparseKnn.sparseDot(col("ai"), col("av"), col("bi"), col("bv")).as("sdot"),
      VectorFunctions.innerProduct(col("da"), col("db")).as("ddot"),
      SparseKnn.sparseCosine(col("ai"), col("av"), col("bi"), col("bv")).as("scos"),
      VectorFunctions.cosineSimilarity(col("da"), col("db")).as("dcos"),
      SparseKnn.sparseL2Sq(col("ai"), col("av"), col("bi"), col("bv")).as("sl2"),
      VectorFunctions.l2DistanceSq(col("da"), col("db")).as("dl2")).head()
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-12)
    assert(math.abs(r.getDouble(4) - r.getDouble(5)) < 1e-12)
    // zero-norm side -> null cosine, not NaN/divide-by-zero
    val z = Seq((Seq.empty[Long], Seq.empty[Double], b._1, b._2)).toDF("ai", "av", "bi", "bv")
      .select(SparseKnn.sparseCosine(col("ai"), col("av"), col("bi"), col("bv"))).head()
    assert(z.isNullAt(0))
  }

  test("hashingTfIdf weights equal a driver-side tf·idf replay") {
    val sv = SparseKnn.hashingTfIdf(docs, dim = 256)
    // driver replay from the tf vectors: df per bucket, N, smooth idf
    val tfRows = SparseKnn.hashingTf(docs, dim = 256).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).zip(r.getSeq[Double](2))))
    val n = tfRows.length.toDouble
    val df = tfRows.flatMap(_._2.map(_._1)).groupBy(identity).view.mapValues(_.length.toDouble)
    val expect = tfRows.map { case (id, terms) =>
      id -> terms.map { case (b, tf) =>
        b -> BigDecimal(tf * (math.log((n + 1.0) / (df(b) + 1.0)) + 1.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }.toMap
    val got = sv.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).zip(r.getSeq[Double](2)).toMap)).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, m) => assert(m == expect(id), s"doc $id weights differ") }
  }

  test("spladeExpand weights equal a driver-side expansion replay; structure holds") {
    val dim = 256
    val sv2 = SparseKnn.spladeExpand(docs, dim = dim, expansions = 2, decay = 0.5)
    val toks = docs.select(col("doc_id"),
        split(graft.functions.TextFunctions.canonicalText(col("text")), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).filter(_.nonEmpty))
    def bucket(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % dim
    }
    val expect = toks.map { case (id, ts) =>
      val tf = ts.groupBy(identity).view.mapValues(_.size.toDouble)
      val contrib = tf.toSeq.flatMap { case (tok, f) =>
        (0 to 2).map(e =>
          bucket(s"graft-splade-e$e$tok") -> math.pow(0.5, e) * math.log(f + 1.0))
      }
      id -> contrib.groupBy(_._1).view.mapValues(ws =>
        BigDecimal(ws.map(_._2).max).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble).toMap
    }.filter(_._2.nonEmpty).toMap
    val got = sv2.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).zip(r.getSeq[Double](2)).toMap)).toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    got.foreach { case (id, m) => assert(m == expect(id), s"doc $id weights differ") }
    // structure: sorted unique indices, nnz in [distinct tokens, 3× distinct]
    sv2.collect().foreach { r =>
      val idx = r.getSeq[Long](1)
      assert(idx == idx.sorted && idx.distinct.size == idx.size)
      val nTok = toks.toMap.apply(r.getLong(0)).distinct.size
      assert(idx.size >= nTok && idx.size <= 3 * nTok,
        s"doc ${r.get(0)}: nnz ${idx.size} outside [$nTok, ${3 * nTok}]")
    }
  }

  test("splade vectors serve from the persisted postings index score-identically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-splade-idx").toString
    val sv2 = SparseKnn.spladeExpand(docs, dim = 256)
    try {
      SparseKnn.writeIndex(sv2, "t_splade_idx", s"$tmp/idx", numBuckets = 4)
      val q = sv2.where(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("indices"), col("values"))
      val fromIndex = SparseKnn.topKFromIndex(spark, "t_splade_idx", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val direct = SparseKnn.topK(sv2, q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(fromIndex == direct && fromIndex.nonEmpty)
      // self-similarity still ranks first at cos 1.0 under expansion
      fromIndex.filter(_._4 == 1L).foreach { case (qid, id, c, _) =>
        assert(id == qid && c == 1.0)
      }
    } finally spark.sql("DROP TABLE IF EXISTS t_splade_idx")
  }

  test("SQL surface: sparse_dot / sparse_cosine_sim / sparse_l2sq match the column API") {
    GraftFunctions.register(spark)
    sv.createOrReplaceTempView("sv_sql_v")
    val sql = spark.sql(
      """SELECT a.doc_id AS i, b.doc_id AS j,
        |  sparse_dot(a.indices, a.values, b.indices, b.values) AS d,
        |  sparse_cosine_sim(a.indices, a.values, b.indices, b.values) AS c,
        |  sparse_l2sq(a.indices, a.values, b.indices, b.values) AS l
        |FROM sv_sql_v a JOIN sv_sql_v b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 5 AND b.doc_id < 5
        |ORDER BY i, j""".stripMargin)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val api = sv.where(col("doc_id") < 5)
      .select(col("doc_id").as("i"), col("indices").as("ai"), col("values").as("av"))
      .join(sv.where(col("doc_id") < 5)
        .select(col("doc_id").as("j"), col("indices").as("bi"), col("values").as("bv")))
      .where(col("i") < col("j"))
      .select(col("i"), col("j"),
        SparseKnn.sparseDot(col("ai"), col("av"), col("bi"), col("bv")).as("d"),
        SparseKnn.sparseCosine(col("ai"), col("av"), col("bi"), col("bv")).as("c"),
        SparseKnn.sparseL2Sq(col("ai"), col("av"), col("bi"), col("bv")).as("l"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(sql.keySet == api.keySet && sql.nonEmpty)
    sql.foreach { case (k, (d, c, l)) =>
      val (d2, c2, l2) = api(k)
      assert(math.abs(d - d2) < 1e-9 && math.abs(c - c2) < 1e-9 && math.abs(l - l2) < 1e-9,
        s"$k: sql=($d,$c,$l) api=($d2,$c2,$l2)")
    }
  }

  test("persisted postings index: score-identical to topK, bucket-pruned reads") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sp-idx").toString
    try {
      SparseKnn.writeIndex(sv, "t_sp_idx", s"$tmp/idx", numBuckets = 4)
      val q = sv.where(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("indices"), col("values"))
      val fromIndex = SparseKnn.topKFromIndex(spark, "t_sp_idx", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val direct = SparseKnn.topK(sv, q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(fromIndex == direct)
      // the streaming search over a tail never written is the base search
      val withTail = SparseStream.topKWithTail(spark, "t_sp_idx", s"$tmp/no_tail", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(withTail == direct && direct.map(_._1) == Set(0L, 1L, 2L))
      // a single-TERM query reads only that term's bucket (a whole doc's
      // vector touches most buckets at numBuckets = 4 — the pruning win
      // scales with term selectivity, exactly like the BM25 index)
      val q1 = Seq((99L, Seq(5L), Seq(1.0))).toDF("qid", "indices", "values")
      val plan = SparseKnn.topKFromIndex(spark, "t_sp_idx", q1, k = 5)
        .queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.exists(x => x.group(1).toInt < x.group(2).toInt),
        "expected bucket pruning in:\n" + plan.take(2000))
    } finally spark.sql("DROP TABLE IF EXISTS t_sp_idx")
  }

  test("tombstone delete: results exclude deleted docs; compaction purges postings + tombstones") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sp-del").toString
    try {
      SparseKnn.writeIndex(sv, "t_sp_del", s"$tmp/idx", numBuckets = 4)
      val q = sv.where(col("doc_id").between(1, 3))
        .select(col("doc_id").as("qid"), col("indices"), col("values"))
      val before = SparseKnn.topKFromIndex(spark, "t_sp_del", q, k = 5).collect()
      // delete every doc that currently ranks FIRST for some query —
      // forces visible result movement, not just absent strangers
      val victims = before.filter(_.getLong(3) == 1L).map(_.getLong(1)).distinct.toSeq
      assert(victims.nonEmpty, "no rank-1 docs — weak fixture")
      import spark.implicits._
      SparseKnn.deleteFromIndex(spark, "t_sp_del", victims.toDF("doc_id"))
      val after = SparseKnn.topKFromIndex(spark, "t_sp_del", q, k = 5).collect()
      assert(after.forall(r => !victims.contains(r.getLong(1))), "tombstoned doc returned")
      assert(after.map(_.getLong(0)).distinct.length == 3)
      // deleted docs never occupy a rank slot: each query still gets 5
      assert(after.groupBy(_.getLong(0)).forall(_._2.length == 5))
      // results equal a fresh index over the complement corpus
      SparseKnn.writeIndex(sv.where(!col("doc_id").isin(victims: _*)),
        "t_sp_del_ref", s"$tmp/ref", numBuckets = 4)
      val ref = SparseKnn.topKFromIndex(spark, "t_sp_del_ref", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(after.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == ref)
      // compaction purges: postings rows gone, _tombstones dir gone,
      // results unchanged
      SparseKnn.compactIndex(spark, "t_sp_del")
      assert(spark.table("t_sp_del").where(col("doc_id").isin(victims: _*)).isEmpty,
        "purge left tombstoned postings behind")
      val meta = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("t_sp_del"))
      val ts = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(meta.location), "_tombstones")
      val fs = ts.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(ts), "compaction left the tombstone dir")
      val purged = SparseKnn.topKFromIndex(spark, "t_sp_del", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(purged == ref)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_sp_del")
      spark.sql("DROP TABLE IF EXISTS t_sp_del_ref")
    }
  }

  test("appendIndex refuses tombstoned ids (old postings still physical — would double-count)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sp-reapp").toString
    try {
      import spark.implicits._
      SparseKnn.writeIndex(sv, "t_sp_reapp", s"$tmp/idx", numBuckets = 4)
      SparseKnn.deleteFromIndex(spark, "t_sp_reapp", Seq(2L).toDF("doc_id"))
      val reAppend = sv.where(col("doc_id") === 2L)
      val ex = intercept[IllegalArgumentException] {
        SparseKnn.appendIndex(spark, reAppend, "t_sp_reapp")
      }
      assert(ex.getMessage.contains("tombstoned"), ex.getMessage)
      // the refusal left the index untouched: doc 2 still invisible,
      // postings row count unchanged (no partial append landed)
      val q = sv.where(col("doc_id") === 1L)
        .select(col("doc_id").as("qid"), col("indices"), col("values"))
      val res = SparseKnn.topKFromIndex(spark, "t_sp_reapp", q, k = 5).collect()
      assert(res.forall(_.getLong(1) != 2L), "tombstoned doc leaked back")
      // the sanctioned path: compactIndex purges the old postings, after
      // which the SAME append is legal and scores like a fresh insert
      SparseKnn.compactIndex(spark, "t_sp_reapp")
      SparseKnn.appendIndex(spark, reAppend, "t_sp_reapp")
      val back = SparseKnn.topKFromIndex(spark, "t_sp_reapp",
        reAppend.select(col("doc_id").as("qid"), col("indices"), col("values")), k = 1).collect()
      assert(back.length == 1 && back.head.getLong(1) == 2L,
        "re-inserted doc should rank first for its own vector")
    } finally spark.sql("DROP TABLE IF EXISTS t_sp_reapp")
  }

  test("postings appendIndex == one-shot rebuild; compactIndex preserves results, cuts files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sp-app").toString
    try {
      val base = SparseKnn.hashingTf(docs.where(col("doc_id") < 300), dim = 256)
      val extra = SparseKnn.hashingTf(docs.where(col("doc_id") >= 300), dim = 256)
      SparseKnn.writeIndex(base, "t_sp_app", s"$tmp/idx", numBuckets = 4)
      val statsBase = SparseKnn.fileStats(spark, "t_sp_app")
      // several appends to spray files (the streaming-batch shape)
      extra.select(col("doc_id") % 3 as "g", col("doc_id"), col("indices"), col("values"))
        .select(col("g")).distinct().collect().map(_.getLong(0)).sorted.foreach { g =>
        SparseKnn.appendIndex(spark,
          extra.where(col("doc_id") % 3 === g), "t_sp_app")
      }
      val statsAfter = SparseKnn.fileStats(spark, "t_sp_app")
      assert(statsAfter._1 > statsBase._1, s"append did not add files: $statsBase -> $statsAfter")

      val q = sv.where(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("indices"), col("values"))
      val appended = SparseKnn.topKFromIndex(spark, "t_sp_app", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

      // one-shot rebuild over the full corpus must score identically
      SparseKnn.writeIndex(SparseKnn.hashingTf(docs, dim = 256),
        "t_sp_full", s"$tmp/full", numBuckets = 4)
      val rebuilt = SparseKnn.topKFromIndex(spark, "t_sp_full", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(appended == rebuilt && appended.nonEmpty)

      // compaction: trigger fires, results identical, files reduced,
      // bucket pruning survives (the bucket spec is intact post-swap)
      assert(SparseKnn.needsCompaction(spark, "t_sp_app", maxFiles = statsBase._1))
      val (nBefore, nAfter) = SparseKnn.compactIndex(spark, "t_sp_app")
      assert(nAfter < nBefore, s"compaction did not reduce files: $nBefore -> $nAfter")
      val compacted = SparseKnn.topKFromIndex(spark, "t_sp_app", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(compacted == appended)
      assert(!SparseKnn.needsCompaction(spark, "t_sp_app", maxFiles = statsBase._1))
      import org.apache.spark.sql.functions.typedlit
      val plan = SparseKnn.topKFromIndex(spark, "t_sp_app",
          Seq((99L, Seq(5L), Seq(1.0))).toDF("qid", "indices", "values"), k = 5)
        .queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.exists(x => x.group(1).toInt < x.group(2).toInt),
        "expected bucket pruning post-compaction in:\n" + plan.take(2000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_sp_app")
      spark.sql("DROP TABLE IF EXISTS t_sp_full")
    }
  }

  test("posting-list topK equals brute-force sparse cosine; no cartesian pairing in the plan") {
    val q = sv.where(col("doc_id") < 3)
      .select(col("doc_id").as("qid"), col("indices"), col("values"))
    val topk = SparseKnn.topK(sv, q, k = 5)
    val plan = topk.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    val got = topk.collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet

    val brute = sv.select(col("doc_id"), col("indices").as("ci"), col("values").as("cv"))
      .crossJoin(q.select(col("qid"), col("indices").as("qi"), col("values").as("qv")))
      .select(col("qid"), col("doc_id"),
        round(SparseKnn.sparseCosine(col("ci"), col("cv"), col("qi"), col("qv")), 4).as("cos"))
      .where(col("cos").isNotNull && col("cos") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("doc_id"))
    val bruteTop = brute.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong, r.getLong(1))).toSet
    assert(got == bruteTop, s"got=$got\nbrute=$bruteTop")
    // self-similarity ranks first at cos 1.0
    val self = topk.where(col("rn") === 1).collect()
    self.foreach(r => assert(r.getLong(1) == r.getLong(0) && r.getDouble(2) == 1.0))
  }

  /** The file of each occurrence of `needle` in `sources`' code
    * (comments stripped). */
  private def sitesOf(needle: String, sources: Seq[(String, String)]): Seq[String] =
    sources.flatMap { case (name, src) =>
      val code = src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      Seq.fill(java.util.regex.Pattern.quote(needle).r.findAllMatchIn(code).size)(name)
    }

  test("one sparse read path: each scoring step is written once under src/main") {
    // the old shape is caught: topK built both postings sides and ranked inline
    val old =
      """    val cPost = corpus
        |      .select(col(idCol), sparseNorm(col("indices"), col("values")).as("__cn"),
        |        explode(arrays_zip(col("indices"), col("values"))).as("__p"))
        |    val qPost = broadcast(queries
        |      .select(col(queryIdCol), sparseNorm(col("indices"), col("values")).as("__qn"),
        |        explode(arrays_zip(col("indices"), col("values"))).as("__q"))
        |    scored.withColumn("rn", row_number().over(w))
        |      .where(col("rn") <= k)""".stripMargin
    assert(sitesOf("""arrays_zip(col("indices"), col("values"))""",
      Seq("SparseKnn.scala" -> old)) == Seq("SparseKnn.scala", "SparseKnn.scala"))
    assert(sitesOf("""col("rn") <= k""", Seq("SparseKnn.scala" -> old)) == Seq("SparseKnn.scala"))
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sources = scalaFiles(root).map(f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    Seq(
      """arrays_zip(col("indices"), col("values"))""" -> "SparseKnn.scala", // postings
      """sum(col("__v") * col("__qv"))""" -> "SparseKnn.scala",             // cosine score
      """sum(col("__v") * col("__qw"))""" -> "SparseKnn.scala",             // candidate leg
      """col("rn") <= k""" -> "Knn.scala",                                   // per-query top-k
      """(col("__tf") * (k1 + 1))""" -> "TextSearch.scala",                  // BM25 tail
      "__compact_retired" -> "Compaction.scala"                              // whole-dir swap
    ).foreach { case (needle, home) =>
      assert(sitesOf(needle, sources) == Seq(home), s"$needle: ${sitesOf(needle, sources)}")
    }
  }

  test("query-side SPLADE expansion retrieves docs sharing ZERO surface terms") {
    import graft.operators.SparseKnn
    val docs = Tables.documents(spark, sfDir)
    val qdocs = Seq((0L, "zzqalpha zzqbravo zzqcharlie")).toDF("doc_id", "text")
    // precondition: the query tokens appear in no document
    val overlap = docs
      .select(explode(split(graft.functions.TextFunctions.canonicalText(col("text")), " ")).as("t"))
      .where(col("t").isin("zzqalpha", "zzqbravo", "zzqcharlie"))
    assert(overlap.count() == 0)
    // surface TF retrieval finds nothing...
    val surface = SparseKnn.topK(
      SparseKnn.hashingTf(docs, dim = 1024),
      SparseKnn.hashingTf(qdocs, dim = 1024)
        .select(col("doc_id").as("qid"), col("indices"), col("values")), k = 5)
    // (hash buckets can collide even for unseen tokens at dim=1024, so
    // assert on the EXPANSION advantage rather than strict emptiness:
    // splade must match at least as many docs, and at least one)
    val expanded = SparseKnn.topK(
      SparseKnn.spladeExpand(docs, dim = 1024),
      SparseKnn.spladeExpand(qdocs, dim = 1024)
        .select(col("doc_id").as("qid"), col("indices"), col("values")), k = 5)
    assert(expanded.count() >= 1)
    assert(expanded.count() >= surface.count())
  }

}
