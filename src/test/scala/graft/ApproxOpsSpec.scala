package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnLsh, Dedup, Knn, SimHash}

/** Accuracy gates for the approximate operators (no SQL oracle). */
class ApproxOpsSpec extends SparkSpec {

  test("simhash: identical texts → hamming 0") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val copy = docs.select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val pairs = SimHash.nearDupPairs(docs.unionAll(copy), maxHamming = 3)
    val exactCopies = pairs.where(col("id2") === col("id1") + 10000 && col("hamming") === 0)
    assert(exactCopies.count() == 500)
  }

  test("simhash banding is COMPLETE for hamming <= 3 (matches brute force)") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val banded = SimHash.nearDupPairs(docs, maxHamming = 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sig = SimHash.signatures(docs).cache()
    val brute = sig.select(col("doc_id").as("id1"), col("simhash").as("h1"))
      .crossJoin(sig.select(col("doc_id").as("id2"), col("simhash").as("h2")))
      .where(col("id1") < col("id2"))
      .where(bit_count(col("h1").bitwiseXOR(col("h2"))) <= 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sig.unpersist()
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
  }

  test("ivf: recall@10 >= 0.9 vs brute-force cosine with wide probing") {
    val e = Tables.embeddings(spark, sfDir)
    val model = graft.operators.IvfIndex.train(e, k = 16, iters = 3)
    val q = e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding"))
    val approx = graft.operators.IvfIndex.topK(e, q, model, k = 10, nprobe = 12)
      .select(col("qid"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.operators.Knn.topKBatch(e, q, graft.operators.Knn.Cosine, k = 10)
      .select(col("qid"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("winnow fingerprints: near-dup docs share most fingerprints, unrelated don't") {
    import graft.functions.{TextFunctions, WinnowExpressions}
    val fp = WinnowExpressions.winnowFingerprints(TextFunctions.canonicalText(col("text")), 8, 4)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), fp.as("fp"))
    val planted = graft.operators.Dedup.minhashLsh(Tables.documents(spark, sfDir), 0.8)
      .select("id1", "id2")
    val overlap = planted
      .join(docs.select(col("doc_id").as("id1"), col("fp").as("f1")), Seq("id1"))
      .join(docs.select(col("doc_id").as("id2"), col("fp").as("f2")), Seq("id2"))
      .select((size(array_intersect(col("f1"), col("f2"))).cast("double") /
        greatest(size(col("f1")), size(col("f2")))).as("ov"))
      .collect().map(_.getDouble(0))
    assert(overlap.nonEmpty && overlap.forall(_ >= 0.5), overlap.mkString(","))
  }

  test("embedding near-dup LSH finds planted near-identical vectors") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    // plant near-identical copies (cos ≈ 1) of the first 10 vectors
    val planted = e.where(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> cast(x + (case when i = 0 then 0.001f else 0f end) as float))")
          .as("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding")).unionAll(planted)
    val found = Dedup.embeddingNearDupLsh(corpus, threshold = 0.99)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).map(i => (i, i + 100000)).toSet
    assert(expected.subsetOf(found), s"missing: ${expected -- found}")
    // and results agree with exhaustive verify on the same threshold
    val exact = Dedup.embeddingNearDup(corpus, threshold = 0.99)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(exact))
  }

  test("deterministic sampling: split is disjoint+complete and stable under repartitioning") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir)
    val (train, test) = Sampling.trainTestSplit(docs, "doc_id", testPercent = 20)
    assert(train.count() + test.count() == 500)
    assert(train.join(test, "doc_id").count() == 0)
    val t1 = test.select("doc_id").collect().map(_.getLong(0)).toSet
    val (_, test2) = Sampling.trainTestSplit(docs.repartition(13), "doc_id", testPercent = 20)
    assert(test2.select("doc_id").collect().map(_.getLong(0)).toSet == t1)
    // rate is approximately right (hash uniformity)
    assert(math.abs(t1.size - 100) < 40, s"test size ${t1.size}")
  }

  test("stratified sampling: per-stratum rates honored, stable under repartitioning") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sfDir)
    val rates = Map("src0" -> 0, "src1" -> 100)
    val kept = Sampling.stratifiedSample(docs, "doc_id", "source", rates, defaultPercent = 50)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(!bySrc.contains("src0"))                     // rate 0 → dropped entirely
    val src1Total = docs.where(col("source") === "src1").count()
    assert(bySrc.get("src1").contains(src1Total))       // rate 100 → all kept
    // deterministic under repartitioning
    val k1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val k2 = Sampling.stratifiedSample(docs.repartition(7), "doc_id", "source", rates,
      defaultPercent = 50).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2)
  }

  test("vector-store latestVersion keeps exactly the newest row per id") {
    import spark.implicits._
    val rows = Seq(("a", 1L, "x1"), ("a", 3L, "x3"), ("a", 2L, "x2"), ("b", 1L, "y1"))
      .toDF("id", "version", "payload")
    val got = graft.sources.VectorStore.latestVersion(rows)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("a", 3L, "x3"), ("b", 1L, "y1")))
  }

  test("approx_count_distinct within 5% of exact") {
    val ev = Tables.events(spark, sfDir)
    val cmp = ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).cast("double").as("a"),
        countDistinct(col("user_id")).cast("double").as("e"))
      .collect()
    cmp.foreach { r =>
      val rel = math.abs(r.getDouble(1) - r.getDouble(2)) / r.getDouble(2)
      assert(rel <= 0.05, s"${r}: rel error $rel")
    }
  }

  private def msgs(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("srp/ivf expressions throw on dimension mismatch (no silent truncation)") {
    val e = Tables.embeddings(spark, sfDir)
    // 32-dim vectors against the default dim=64 planes/centroids: silent
    // prefix-truncation would return plausible-but-wrong neighbors
    val short = e.select(col("vec_id"), expr("slice(embedding, 1, 32)").as("embedding"))
    val q = short.where(col("vec_id") < 2).select(col("vec_id").as("qid"), col("embedding"))
    val ex1 = intercept[Exception] { AnnLsh.topK(short, q, k = 3).collect() }
    assert(msgs(ex1).contains("dimension"), msgs(ex1))
    val model = graft.operators.IvfIndex.Model(Array.fill(4)(Array.fill(64)(0.1)))
    val ex2 = intercept[Exception] {
      short.select(graft.operators.IvfIndex.cellOf(col("embedding"), model)).collect()
    }
    assert(msgs(ex2).contains("dimension"), msgs(ex2))
    val ex3 = intercept[Exception] {
      short.select(graft.operators.IvfIndex.cellsOf(col("embedding"), model, 2)).collect()
    }
    assert(msgs(ex3).contains("dimension"), msgs(ex3))
  }

  test("srp buckets and ivf cells: codegen and interpreted paths agree") {
    val e = Tables.embeddings(spark, sfDir)
    val model = graft.operators.IvfIndex.train(e, k = 8, iters = 2)
    def run(): (Seq[(Long, Int, Int)], Seq[(Long, Int, Seq[Int])]) = {
      val b = AnnLsh.bucketKeys(e, "vec_id", "embedding", dim = 64, nbits = 8, tables = 2, seed = 42L)
        .select(col("vec_id"), col("table_id"), col("bucket"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sorted
      val c = e.select(col("vec_id"),
          graft.operators.IvfIndex.cellOf(col("embedding"), model).as("cell"),
          graft.operators.IvfIndex.cellsOf(col("embedding"), model, 3).as("cells"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq))
        .toSeq.sortBy(_._1)
      (b, c)
    }
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(withCodegen == interpreted)
    // equidistant centroids rank the lower cell id first — in cellsOf
    // (both paths) and in Model.nearestCells, which the planner's
    // fixed-probe rewrite and its iterative leaf probe with
    val ring = graft.operators.IvfIndex.Model(
      Array(Array(0.0, 1.0), Array(1.0, 0.0), Array(0.0, -1.0), Array(-1.0, 0.0)))
    val origin = spark.range(1).select(typedlit(Seq(0.0, 0.0)).as("embedding"))
    def tied(): Seq[Int] = origin
      .select(graft.operators.IvfIndex.cellsOf(col("embedding"), ring, 3))
      .head().getSeq[Int](0)
    val tiedCodegen = tied()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val tiedInterpreted = try tied() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(tiedCodegen == Seq(0, 1, 2) && tiedInterpreted == Seq(0, 1, 2),
      s"codegen=$tiedCodegen interpreted=$tiedInterpreted")
    assert(ring.nearestCells(Array(0.0, 0.0), 3) == Seq(0, 1, 2))
  }

  test("temperature sampling: alpha=1 is the natural mixture, alpha=0 equalizes, clamp at 1") {
    import spark.implicits._
    import graft.operators.Sampling
    // 800 / 160 / 40 rows across three domains
    val df = spark.range(1000).select(col("id").as("doc_id"),
      when(col("id") < 800, "big").when(col("id") < 960, "mid").otherwise("small").as("dom"))
    def kept(alpha: Double, frac: Double) =
      Sampling.temperatureSample(df, "doc_id", "dom", alpha, frac)
        .groupBy("dom").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=1: every domain keeps ~frac of itself (weights ∝ counts)
    val nat = kept(1.0, 0.5)
    assert(math.abs(nat("big") - 400) < 60 && math.abs(nat("mid") - 80) < 30, nat)
    // alpha=0: equal weights → each domain targets ~ frac*N/3 ≈ 166 rows;
    // "small" (40 rows) clamps at rate 1 and keeps everything
    val eq = kept(0.0, 0.5)
    assert(eq("small") == 40, eq)
    assert(math.abs(eq("mid") - 160) <= 20, eq) // rate ≈ 1.04 → clamped ≈ all
    assert(math.abs(eq("big") - 166) < 50, eq)
    // determinism: same subset under repartitioning
    val a = Sampling.temperatureSample(df, "doc_id", "dom", 0.5, 0.5)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.temperatureSample(df.repartition(13), "doc_id", "dom", 0.5, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("leak-free split: no near-dup cluster straddles train/test") {
    import graft.operators.{Dedup, Sampling}
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // plant exact duplicates so clusters exist at spec scale
    val dup = docs.unionAll(docs.where(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 50000).as("doc_id"), col("text")))
    val pairs = Dedup.minhashLsh(dup, threshold = 0.8)
    val split = Sampling.leakFreeSplit(dup.select(col("doc_id")), pairs, testPercent = 20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.values.toSet == Set("train", "test")) // both sides non-empty
    // every pair — the leakage hazard — has both ends on the same side
    pairs.select("id1", "id2").collect().foreach { r =>
      assert(split(r.getLong(0)) == split(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) straddles the split")
    }
  }

  test("ann-lsh: recall@10 >= 0.9 vs brute-force cosine (recall-tuned params)") {
    // uniform-random sphere embeddings are hyperplane-LSH's worst case;
    // at this corpus size recall needs many tables / few bits
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding"))
    val approx = AnnLsh.topK(e, q, k = 10, nbits = 4, tables = 16)
      .select(col("qid"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Knn.topKBatch(e, q, Knn.Cosine, k = 10)
      .select(col("qid"), col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("weighted sampling: exact size, weight-proportional, deterministic, no shuffle") {
    import graft.operators.Sampling
    import spark.implicits._
    // 1000 rows: ids 0-499 weight 1, ids 500-999 weight 20 — the heavy
    // half must dominate the sample
    val df = (0L until 1000L).map(i => (i, if (i < 500) 1L else 20L)).toDF("id", "w")
    val s1 = Sampling.weightedSample(df, "id", "w", n = 100)
      .collect().map(_.getLong(0)).toSet
    assert(s1.size == 100)
    val heavy = s1.count(_ >= 500)
    assert(heavy >= 80, s"heavy-weight rows underrepresented: $heavy/100")
    // deterministic under repartitioning
    val s2 = Sampling.weightedSample(df.repartition(17), "id", "w", n = 100)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    // zero/null weights drop rather than win with ln(u)/0
    val withZero = (0L until 10L).map(i => (i, if (i == 0) 0L else 1L)).toDF("id", "w")
    val s3 = Sampling.weightedSample(withZero, "id", "w", n = 10)
      .collect().map(_.getLong(0)).toSet
    assert(!s3.contains(0L) && s3.size == 9)
    // plan: TakeOrderedAndProject (per-partition heaps), no global sort
    val plan = Sampling.weightedSample(df, "id", "w", n = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }
}
