package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.wordShingles
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact dedup collapses duplicated corpus to one canonical row per text") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val doubled = docs.unionAll(docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val res = Dedup.exact(doubled).collect()
    assert(res.length == 500)
    assert(res.forall(_.getLong(2) == 2L))   // every group has the 2 copies
    assert(res.forall(_.getLong(1) < 10000)) // canonical id is the original
  }

  test("minhash-LSH finds exactly the high-Jaccard planted pairs (recall = exact)") {
    val docs = Tables.documents(spark, sfDir)
    val lsh = Dedup.minhashLsh(docs, threshold = 0.8).select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth over all pairs
    val exact = Dedup.jaccardVerify(
        docs.select(col("doc_id").as("id1")).crossJoin(docs.select(col("doc_id").as("id2")))
          .where(col("id1") < col("id2")), docs)
      .where(col("jaccard") >= 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("prefixJaccardJoin: complete vs brute-force all-pairs; prefix prunes candidates") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // plant one guaranteed near-dup pair on top of the corpus
    val planted = docs.unionAll(docs.where(col("doc_id") === 0)
      .select((col("doc_id") + 90000).as("doc_id"), col("text")))
    val t = 0.3
    val got = Dedup.prefixJaccardJoin(planted, t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.contains((0L, 90000L, 1.0)), "planted exact copy must surface at J = 1")
    // brute force over every pair — COMPLETE ground truth
    val ids = planted.select(col("doc_id").as("id1"))
      .crossJoin(planted.select(col("doc_id").as("id2")))
      .where(col("id1") < col("id2"))
    val brute = Dedup.jaccardVerify(ids, planted)
      .where(col("jaccard") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    // the prefix candidate space is a strict subset of all pairs
    val n = planted.count()
    val allPairs = n * (n - 1) / 2
    val toks = planted.select(col("doc_id"),
      graft.functions.ShingleExpressions.wordShingles(col("text"), 3).as("sh"))
    // re-derive the candidate count through the public API by verifying
    // at threshold over an impossible jaccard floor: candidates == rows
    // reaching verification — proxy: prefix pairs at t must be << all
    val cand = Dedup.prefixJaccardJoin(planted, t, scale = 4)
    assert(cand.count() < allPairs, s"no pruning: ${cand.count()} vs $allPairs")
  }

  test("embedding near-dup is symmetric-free (id1 < id2) and thresholded") {
    val res = Dedup.embeddingNearDup(Tables.embeddings(spark, sfDir), 0.4).collect()
    assert(res.nonEmpty)
    assert(res.forall(r => r.getLong(0) < r.getLong(1)))
    assert(res.forall(_.getDouble(2) >= 0.4))
  }

  test("simhash pair generation drops degenerate hot buckets (maxBucket guard)") {
    import graft.operators.SimHash
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 20)
    // a boilerplate cluster: 50 identical docs → one 50-row bucket in
    // every simhash chunk — the case that went quadratic unguarded
    val hotText = base.where(col("doc_id") === 1).select("text").head().getString(0)
    val hot = spark.range(50).select((col("id") + 2000).as("doc_id"), lit(hotText).as("text"))
    val corpus = base.unionAll(hot)
    def pairs(maxBucket: Int): Set[(Long, Long)] =
      SimHash.nearDupPairs(corpus, maxBucket = maxBucket)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unguarded = pairs(100000)
    val guarded = pairs(10)
    val hotPairs = unguarded.filter(p => p._1 >= 2000 && p._2 >= 2000)
    assert(hotPairs.size >= 50 * 49 / 2, s"expected the full hot clique, got ${hotPairs.size}")
    // guard drops the degenerate bucket's pairs, output stays bounded
    assert(guarded.forall(p => p._2 < 2000))
    // and pairs outside the hot cluster are untouched
    assert(guarded.filter(_._2 < 2000) == unguarded.filter(_._2 < 2000))
  }

  test("components: chains merge transitively, labels are component minima") {
    import spark.implicits._
    // two components: a chain 5-3-9 (no direct 5~9 edge) and a pair 7-8
    val pairs = Seq((3L, 5L), (3L, 9L), (7L, 8L)).toDF("id1", "id2")
    val got = Dedup.components(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L))
    // long path needs multiple propagation rounds; tight maxIters throws
    // on the distributed path (driver bound 0)
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("id1", "id2")
    val full = Dedup.components(path, maxIters = 12)
      .collect().map(r => r.getLong(1)).distinct
    assert(full.toSeq == Seq(0L))
    intercept[IllegalStateException] { Dedup.components(path, 2, "id1", "id2", 0) }
    // maxIters bounds only the distributed path: these ten pairs are
    // labelled on the driver
    val driver = Dedup.components(path, maxIters = 2).collect()
    assert(driver.length == 10 && driver.forall(_.getLong(1) == 0L))
  }

  test("lsh parameter validation fails fast at plan/analysis time") {
    intercept[IllegalArgumentException] { Dedup.bandKeys(col("sig"), numPerm = 16, bands = 0) }
    intercept[IllegalArgumentException] { Dedup.bandKeys(col("sig"), numPerm = 4, bands = 8) }
    // minhashLsh materializes its shingle frame at call time: bad
    // parameters must fail before that job runs
    val docs = Tables.documents(spark, sfDir)
    assert(sparkJobs {
      intercept[IllegalArgumentException] { Dedup.minhashLsh(docs, 0.8, numPerm = 4, bands = 8) }
    }.isEmpty)
    GraftFunctions.register(spark)
    // negative numPerm through the SQL surface must fail analysis, not
    // throw NegativeArraySizeException on an executor at eval time
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sig(array('a'), -4)").collect()
    }
    assert(ex.getMessage.contains("numPerm") || ex.getMessage.contains("positive"), ex.getMessage)
  }

  test("duplicated-span coverage: k-gram df gate, monotone span merge, filter") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // shares 3-gram "a b c" with doc 2
      (2L, "x a b c y z"),
      (3L, "p q r s t u"),       // nothing shared
      (4L, "m n o p2 q2"),       // overlapping shared grams with doc 5:
      (5L, "m n o p2 q2")        //   pos 0,1,2 merge into ONE span of 5
    ).toDF("doc_id", "text")
    val cov = Dedup.duplicatedSpanCoverage(docs, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(cov(1L) == (6L, 1L, 3L, 0.5))     // one 3-token span of 6 words
    assert(cov(2L) == (6L, 1L, 3L, 0.5))
    assert(!cov.contains(3L))
    // docs 4/5: grams at pos 0,1,2 all df=2; covered = 3 + 1 + 1 = 5
    assert(cov(4L) == (5L, 3L, 5L, 1.0))
    assert(cov(5L) == (5L, 3L, 5L, 1.0))
    val kept = Dedup.filterDuplicatedSpans(docs, maxRatio = 0.6, k = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))          // the fully-duplicated pair drops
    // materialize=false (recompute the gram inventory instead of
    // checkpointing it) is an execution choice, not a semantic one
    val lazyCov = Dedup.duplicatedSpanCoverage(docs, k = 3, materialize = false)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(lazyCov == cov)
    // real-table hash equality between the two paths
    val corpus = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def digest(materialize: Boolean): String =
      Dedup.duplicatedSpanCoverage(corpus, k = 8, materialize = materialize)
        .orderBy(col("doc_id"))
        .select(md5(concat_ws("|", col("doc_id"), col("n_words"),
          col("dup_positions"), col("covered_tokens"), col("dup_ratio"))).as("h"))
        .agg(md5(concat_ws("", collect_list(col("h")))).as("all"))
        .head().getString(0)
    assert(digest(materialize = true) == digest(materialize = false))
  }

  test("cutDuplicatedSpans removes exactly the covered words, keeps the rest in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // "a b c" shared with doc 2 → cut [0,2]
      (2L, "x a b c y z"),       //                           → cut [1,3]
      (3L, "p q r s t u"),       // untouched
      (4L, "m n o p2 q2"),       // fully duplicated with doc 5 → cut all
      (5L, "m n o p2 q2")
    ).toDF("doc_id", "text")
    val clean = Dedup.cutDuplicatedSpans(docs, k = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean(1L) == "d e f", clean)
    assert(clean(2L) == "x y z", clean)
    assert(clean(3L) == "p q r s t u", clean)
    assert(clean(4L) == "" && clean(5L) == "", clean)
    // re-running on the cut corpus finds nothing left to cut
    val again = Dedup.duplicatedSpanCoverage(
      Dedup.cutDuplicatedSpans(docs, k = 3).withColumnRenamed("clean_text", "text"), k = 3)
    assert(again.isEmpty)
  }

  test("semantic contamination: blocked variant finds the planted leaks the exact scan reports") {
    import graft.operators.IvfIndex
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val test = e.where(col("vec_id") < 30)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("test_id", "train_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.semanticContamination(test, e, threshold = 0.9999))
    // the planted leaks: every test vector is itself in train
    assert((0L until 30L).map(i => (i, i)).toSet.subsetOf(exact))
    val model = IvfIndex.train(e, k = 8, iters = 2)
    val blocked = pairs(Dedup.semanticContaminationBlocked(test, e, model,
      threshold = 0.9999, k = 3, nprobe = 8))
    // full probing: identical pairs can never be lost (a vector's own
    // cell is always its nearest), and precision is exact by construction
    assert(blocked == exact, s"missing=${exact -- blocked} extra=${blocked -- exact}")
  }

  test("semantic near-dup: cell-blocked pairs are verified-exact; identical pairs never lost") {
    import graft.operators.IvfIndex
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val dup = e.unionAll(e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val model = IvfIndex.train(dup, k = 8, iters = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = pairs(Dedup.semanticNearDup(dup, model, threshold = 0.9999))
    val exact = pairs(Dedup.embeddingNearDup(dup, threshold = 0.9999))
    // precision is exact by construction (cosine-verified) and an
    // identical vector can never land in a different cell than its copy
    assert(sem.subsetOf(exact) && exact.forall { case (a, b) =>
      b - a != 100000L || sem.contains((a, b)) }, s"sem=${sem.size} exact=${exact.size}")
    // dedup keeps exactly one representative per planted pair
    val kept = Dedup.semanticDedup(dup, model, threshold = 0.9999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val plantedDropped = sem.map(_._2)
    assert(kept == dup.select("vec_id").collect().map(_.getLong(0)).toSet -- plantedDropped)
  }

  test("SemDeDup keep policies: one survivor per cluster; farthest/nearest match a driver replay") {
    import graft.operators.IvfIndex
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // every vector duplicated twice → each cluster is a triple
    // {v, v+100k, v+200k} of identical embeddings
    val dup = e.unionAll(e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      .unionAll(e.select((col("vec_id") + 200000).as("vec_id"), col("embedding")))
    val model = IvfIndex.train(dup, k = 8, iters = 2)
    val n = e.count()

    val byId = Dedup.semanticDedupBy(dup, model, 0.9999, keep = "min_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val far = Dedup.semanticDedupBy(dup, model, 0.9999, keep = "farthest")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val near = Dedup.semanticDedupBy(dup, model, 0.9999, keep = "nearest")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every policy keeps exactly one representative per triple
    assert(byId.size == n && far.size == n && near.size == n,
      s"n=$n byId=${byId.size} far=${far.size} near=${near.size}")
    // min_id keeps the original ids
    assert(byId == e.collect().map(_.getLong(0)).toSet)
    // identical embeddings ⇒ identical cos-to-centroid ⇒ the (cos, id)
    // tie-break selects the lowest id for BOTH directional policies
    assert(far == byId && near == byId)
    // bad policy fails fast
    intercept[IllegalArgumentException] {
      Dedup.semanticDedupBy(dup, model, 0.9, keep = "random")
    }

    // directional policies actually differ when cluster members are NOT
    // equidistant from the centroid: nudge each duplicate's direction
    val dn = e.unionAll(e.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(x * 0.98 + IF(i = 0, 0.12, 0.0) AS FLOAT))")
        .as("embedding")))
    val model2 = IvfIndex.train(dn, k = 8, iters = 2)
    val pairs2 = Dedup.semanticNearDup(dn, model2, 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs2.nonEmpty)
    val far2 = Dedup.semanticDedupBy(dn, model2, 0.98, keep = "farthest")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val near2 = Dedup.semanticDedupBy(dn, model2, 0.98, keep = "nearest")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(far2.size == near2.size)
    // driver replay of one clustered pair: expected winner by cos to the
    // member's own cell centroid (round 6, id tie-break)
    val (a, b) = pairs2.head
    val vecs = dn.where(col("vec_id").isin(a, b))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosToCentroid(id: Long): Double = {
      val v = vecs(id)
      val c = model2.centroids(
        (0 until model2.k).minBy(ci => {
          val ctr = model2.centroids(ci)
          v.zip(ctr).map { case (x, y) => (x - y) * (x - y) }.sum
        }))
      val dot = v.zip(c).map { case (x, y) => x * y }.sum
      val norm = math.sqrt(v.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum)
      BigDecimal(dot / norm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (ca, cb) = (cosToCentroid(a), cosToCentroid(b))
    val expectFar = if (ca < cb || (ca == cb && a < b)) a else b
    val expectNear = if (ca > cb || (ca == cb && a < b)) a else b
    assert(far2.contains(expectFar) && !far2.contains(if (expectFar == a) b else a),
      s"pair=($a,$b) cos=($ca,$cb)")
    assert(near2.contains(expectNear) && !near2.contains(if (expectNear == a) b else a))
  }

  test("prefixJaccardJoin threshold arithmetic is integer-exact at (t*len)-integer boundaries") {
    // The scaled-integer prefix bound must never EXCEED the exact
    // rational ceil(t*len) (a larger ceil = shorter prefix = possible
    // missed pair at J exactly t), and must equal it whenever t is a
    // 6-decimal rational (every practical threshold). The naive double
    // formula fails this at e.g. t=0.55, len=100 (ceil -> 56, not 55).
    def scaledCeil(t: Double, len: Long): Long = {
      val tS = math.floor(t * 1e6).toLong
      (tS * len + 999999L) / 1000000L
    }
    def exactCeil(t: Double, len: Long): Long = {
      val bd = BigDecimal(t.toString) * BigDecimal(len)
      bd.setScale(0, BigDecimal.RoundingMode.CEILING).toLong
    }
    var checkedBoundary = 0
    for (tTenths <- 5 to 95; len <- 1L to 200L) {
      val t = tTenths / 100.0
      assert(scaledCeil(t, len) <= exactCeil(t, len), s"t=$t len=$len")
      assert(scaledCeil(t, len) == exactCeil(t, len), s"t=$t len=$len")
      if ((BigDecimal(t.toString) * BigDecimal(len)).isWhole) checkedBoundary += 1
    }
    assert(checkedBoundary > 100) // the integer-product boundary cases were exercised
    // the documented failing combo specifically
    assert(scaledCeil(0.55, 100) == 55 && math.ceil(0.55 * 100).toLong == 56)
  }

  test("components reads its pair frame once: one scan of a parquet-backed input") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-comp-pairs").toString
    Seq((3L, 5L), (3L, 9L), (7L, 8L), (9L, 11L)).toDF("id1", "id2")
      .write.mode("overwrite").parquet(s"$dir/pairs")
    // the public call labels on the driver, bound 0 propagates
    for ((path, label) <- Seq[(String, DataFrame => DataFrame)](
        "driver" -> (Dedup.components(_)),
        "distributed" -> (Dedup.components(_, 50, "id1", "id2", 0)))) {
      var got = Map.empty[Long, Long]
      val n = fileScans(s"$dir/pairs") {
        got = label(spark.read.parquet(s"$dir/pairs"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 11L -> 3L, 7L -> 7L, 8L -> 7L), path)
      assert(n == 1, s"$path: pair input scanned $n times")
    }
    // the driver path: one job materializes the pairs, one collects them;
    // the labels are a local relation, read without a job
    val pairs = spark.read.parquet(s"$dir/pairs")
    val jobs = sparkJobs { Dedup.components(pairs).collect() }
    assert(jobs.size <= 2, s"driver path ran ${jobs.size} jobs: $jobs")
  }

  test("minhashLsh and prefixJaccardJoin shingle each doc once: one scan of a parquet-backed corpus") {
    for ((name, join) <- Seq[(String, DataFrame => DataFrame)](
        "minhashLsh" -> (Dedup.minhashLsh(_, threshold = 0.8)),
        "prefixJaccardJoin" -> (Dedup.prefixJaccardJoin(_, threshold = 0.8)))) {
      var rows = 0
      val n = fileScans(s"$sfDir/documents.parquet") {
        rows = join(Tables.documents(spark, sfDir)).collect().length
      }
      assert(rows > 0, name)
      assert(n == 1, s"$name: documents scanned $n times")
    }
  }

  // The formulation each near-dup operator had before the shingle frame
  // was shared and the edge list built from one read of the pairs; the
  // operators must return exactly its rows.
  private object Reference {
    def candidatePairs(docs: DataFrame, numPerm: Int, bands: Int, maxBucket: Int): DataFrame =
      docs
        .select(col("doc_id"), wordShingles(col("text"), 3).as("__sh"))
        .select(col("doc_id"), Dedup.minhashSignature(col("__sh"), numPerm).as("__sig"))
        .select(col("doc_id"), explode(Dedup.bandKeys(col("__sig"), numPerm, bands)).as("band"))
        .select(col("doc_id"), col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))
        .groupBy(col("band_id"), col("band_key"))
        .agg(collect_list(col("doc_id")).as("__ids"))
        .where(size(col("__ids")).between(2, maxBucket))
        .select(array_sort(col("__ids")).as("__ids"))
        .select(graft.functions.PairExpressions.pairSelf(col("__ids")).as(Seq("id1", "id2")))
        .distinct()

    def jaccardVerify(pairs: DataFrame, docs: DataFrame): DataFrame = {
      val sh = docs.select(col("doc_id").as("__id"), wordShingles(col("text"), 3).as("__sh"))
      pairs
        .join(sh.select(col("__id").as("id1"), col("__sh").as("sh1")), Seq("id1"))
        .join(sh.select(col("__id").as("id2"), col("__sh").as("sh2")), Seq("id2"))
        .withColumn("__inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
        .select(col("id1"), col("id2"),
          round(col("__inter") / (size(col("sh1")) + size(col("sh2")) - col("__inter")), 4)
            .as("jaccard"))
    }

    def minhashLsh(docs: DataFrame, threshold: Double, numPerm: Int, bands: Int): DataFrame =
      jaccardVerify(candidatePairs(docs, numPerm, bands, 1000), docs)
        .where(col("jaccard") >= threshold)

    def components(pairs: DataFrame): DataFrame = {
      val sym = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      val loops = pairs.select(col("id1").as("src"))
        .unionAll(pairs.select(col("id2").as("src")))
        .select(col("src"), col("src").as("dst"))
      val edges = sym.unionAll(loops).repartition(col("dst")).distinct().localCheckpoint(true)
      var labels = edges.where(col("src") === col("dst"))
        .select(col("src").as("id"), col("src").as("label"))
      var it = 0
      var converged = false
      while (it < 50 && !converged) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("label")), "dst")
          .groupBy(col("src"))
          .agg(min(col("label")).as("label"),
            max(when(col("dst") === col("src"), col("label"))).as("__self"))
        val next = (if (it < 2) nbrMin
          else nbrMin
            .withColumnRenamed("label", "__m")
            .join(labels.select(col("id").as("__m"), col("label")), "__m")
            .select(col("src"), col("label"), col("__self")))
          .localCheckpoint(true)
        converged = next.where(col("label") =!= col("__self")).isEmpty
        labels = next.select(col("src").as("id"), col("label"))
        it += 1
      }
      assert(converged)
      labels.withColumnRenamed("label", "component")
    }
  }

  /** Same schema (names, types, nullability, order) and the same rows
    * as a multiset. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Int = {
    assert(got.schema == want.schema, s"$what: ${got.schema} vs ${want.schema}")
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$what: missing=${w.diff(g).take(5)} extra=${g.diff(w).take(5)}")
    g.size
  }

  test("near-dup operators return exactly the rows of the per-branch formulation") {
    import spark.implicits._
    val rng = new scala.util.Random(20261019L)
    val vocab = Vector.tabulate(300)(i => s"w$i")
    def words(n: Int): Vector[String] = Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 40).foreach { _ =>
      val base = words(20 + rng.nextInt(20))
      texts += base.mkString(" ")
      // a planted group: 0-3 near copies, each with one or two words swapped
      (0 until rng.nextInt(4)).foreach { _ =>
        val v = base.toArray
        (0 until 1 + rng.nextInt(2)).foreach(_ => v(rng.nextInt(v.length)) = vocab(rng.nextInt(vocab.size)))
        texts += v.mkString(" ")
      }
      if (rng.nextInt(5) == 0) texts += base.mkString(" ")
    }
    // shorter than shingleN words: one whole-text shingle each, with
    // identical short docs among them
    Seq("alpha", "alpha beta", "alpha beta", "gamma", "gamma", "alpha").foreach(texts += _)
    // string ids whose order is not the numeric one ("d10" < "d9")
    val docs = rng.shuffle(texts.toSeq).zipWithIndex
      .map { case (t, i) => (s"d$i", t) }.toDF("doc_id", "text")

    for ((numPerm, bands, maxBucket) <- Seq((16, 8, 1000), (12, 4, 1000), (16, 8, 2))) {
      val tag = s"numPerm=$numPerm bands=$bands maxBucket=$maxBucket"
      val cand = Dedup.candidatePairs(docs, numPerm = numPerm, bands = bands, maxBucket = maxBucket)
      val nCand = assertSameRows(cand,
        Reference.candidatePairs(docs, numPerm, bands, maxBucket), s"candidates $tag")
      assert(nCand > 0, tag)
      assertSameRows(Dedup.jaccardVerify(cand, docs),
        Reference.jaccardVerify(cand, docs), s"verify $tag")
    }
    for (t <- Seq(0.5, 0.8); (numPerm, bands) <- Seq((16, 8), (12, 4))) {
      val n = assertSameRows(
        Dedup.minhashLsh(docs, t, numPerm = numPerm, bands = bands),
        Reference.minhashLsh(docs, t, numPerm, bands),
        s"minhashLsh t=$t numPerm=$numPerm bands=$bands")
      assert(n > 0)
    }

    val lsh = Reference.minhashLsh(docs, 0.5, 16, 8).select("id1", "id2")
    val found = lsh.collect().map(r => (r.getString(0), r.getString(1)))
    assert(found.exists { case (a, b) => a.length != b.length }, "no pair across id widths")
    // duplicate, reversed and self pairs on top of the LSH pairs
    val extra = (found.take(5) ++ found.take(5).map(_.swap) ++
      Seq(("d1", "d1"), ("zz", "zz"), ("d2", "d3"), ("d3", "d2"))).toSeq.toDF("id1", "id2")
    val pairs = lsh.unionAll(extra)
    assertSameRows(Dedup.components(pairs), Reference.components(pairs), "components strings")
    val longPairs = Seq((3L, 5L), (5L, 3L), (3L, 9L), (3L, 9L), (7L, 7L), (7L, 8L), (12L, 12L))
      .toDF("id1", "id2")
    assertSameRows(Dedup.components(longPairs), Reference.components(longPairs), "components longs")
  }

  test("components: the driver path, the distributed path and propagation label alike") {
    import spark.implicits._
    def same(pairs: DataFrame, what: String): Unit = {
      val want = Reference.components(pairs)
      assertSameRows(Dedup.components(pairs), want, s"$what: driver")
      assertSameRows(Dedup.components(pairs, 50, "id1", "id2", 0), want, s"$what: distributed")
    }
    // a 70-node chain, written in shuffled order; a star; disjoint pieces
    val chain = new scala.util.Random(7L).shuffle((0L until 69L).map(i => (i + 100, i + 101)))
    val star = (1L to 20L).map(i => (500L, 500L + i))
    val pieces = Seq((900L, 901L), (903L, 902L), (950L, 950L))
    // duplicate, reversed and self pairs
    val noisy = Seq((3L, 5L), (5L, 3L), (3L, 5L), (5L, 5L), (9L, 3L), (12L, 12L))
    val longs = chain ++ star ++ pieces ++ noisy
    same(longs.toDF("id1", "id2"), "longs")
    same(longs.map { case (a, b) => (a.toInt, b.toInt) }.toDF("id1", "id2"), "ints")
    same(longs.map { case (a, b) => (s"s$a", s"s$b") }.toDF("id1", "id2"), "strings")
    // UTF-16 puts U+1F600 (a surrogate pair) before U+FF5E; UTF-8 bytes,
    // which Spark's min compares, put it after
    assert("\uD83D\uDE00" < "\uFF5E")
    same(Seq(("\uD83D\uDE00", "\uFF5E"), ("\uFF5E", "z"), ("b", "\uD83D\uDE00")).toDF("id1", "id2"),
      "non-ASCII strings")
    // a null endpoint adds no edge: 1-2 and 3-4 stay apart
    same(Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(3L), Some(4L)),
      (Some(2L), None), (None, Some(4L)), (None, None)).toDF("id1", "id2"), "null endpoints")
    same(Seq[(String, String)](("b", "a"), ("c", null)).toDF("id1", "id2"), "null string endpoint")
    same(Seq.empty[(Long, Long)].toDF("id1", "id2"), "no pairs")
    same(Seq((1, 2L), (2, 3L), (7, 7L)).toDF("id1", "id2"), "int and long ends")
    // other column names
    val named = Dedup.components(Seq((2L, 1L)).toDF("x", "y"), id1Col = "x", id2Col = "y")
    assert(named.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 1L))
  }
}
