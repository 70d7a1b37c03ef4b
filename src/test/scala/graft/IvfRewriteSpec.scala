package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.{IvfIndex, Knn, Quantize}
import graft.plans.IvfScanRewriteRule

/** The pgvector-planner parity spec: a plain `ORDER BY vec_l2(emb, q)
  * LIMIT k` over a persisted IVF store gets the index plan from
  * [[IvfScanRewriteRule]] — cell partition filter, code-column coarse
  * semi-join on quantized stores, user Sort/Limit as the exact rerank. */
class IvfRewriteSpec extends SparkSpec {

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IvfScanRewriteRule
    try body finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq IvfScanRewriteRule)
    }
  }

  private def conf[T](pairs: (String, String)*)(body: => T): T = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private lazy val e = Tables.embeddings(spark, sfDir)
  private lazy val model = IvfIndex.train(e, k = 8, iters = 2)
  private lazy val queryVec: Seq[Double] = e.where(col("vec_id") === 7)
    .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  private lazy val quantStore: String = {
    val path = Files.createTempDirectory("ivf_rw_q").toString
    val (mn, mx) = Quantize.scalarRange(e)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Sq8(mn, mx))
    path
  }
  private lazy val plainStore: String = {
    val path = Files.createTempDirectory("ivf_rw_p").toString
    IvfIndex.writeIndex(e, model, path)
    path
  }

  private def annQuery(store: String, k: Int): DataFrame =
    spark.read.parquet(store)
      .select(col("vec_id"),
        VectorFunctions.l2Distance(col("embedding"), typedlit(queryVec)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)

  test("quantized store: rewritten plan carries cell partition filter + code-column semi join") {
    withRule {
      val q = annQuery(quantStore, 5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"), optimized.take(2000))
      assert(optimized.contains("vec_code_l2sq"), optimized.take(2000))
      val physical = q.queryExecution.executedPlan.toString
      // the store scan prunes partitions on cell
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(physical).nonEmpty,
        physical.take(3000))
      // the coarse branch reads codes, never the float column
      val coarseScans = "ReadSchema: [^\n]*".r.findAllIn(physical).toList
        .filter(_.contains("qvec"))
      assert(coarseScans.nonEmpty && coarseScans.forall(!_.contains("embedding")),
        coarseScans.mkString("\n"))
      // and it returns plausible neighbors: the query vector itself first
      val rows = q.collect()
      assert(rows.length == 5 && rows.head.getLong(0) == 7L && rows.head.getDouble(1) == 0.0)
    }
  }

  private lazy val pqStore: String = {
    val path = Files.createTempDirectory("ivf_rw_pq").toString
    val pq = graft.operators.ProductQuantizer.trainResidual(e, model, m = 16, ksub = 16)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Pq(pq))
    path
  }

  private lazy val subStore: String = {
    val path = Files.createTempDirectory("ivf_rw_sub").toString
    val m = IvfIndex.trainSub(e, subDim = 16, k = 8, iters = 2)
    IvfIndex.writeIndex(e, m, path, IvfIndex.Codec.Prefix(16))
    path
  }

  test("matryoshka store: prefix-probed cells + sub-column coarse semi join; full probe exact") {
    withRule {
      val q = annQuery(subStore, 5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"), optimized.take(2000))
      val physical = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(physical).nonEmpty,
        physical.take(3000))
      // the coarse branch reads the 16-dim prefix, never the full column
      val coarseScans = "ReadSchema: [^\n]*".r.findAllIn(physical).toList
        .filter(_.contains("sub"))
      assert(coarseScans.nonEmpty && coarseScans.forall(!_.contains("embedding")),
        coarseScans.mkString("\n"))
      val rows = q.collect()
      assert(rows.length == 5 && rows.head.getLong(0) == 7L && rows.head.getDouble(1) == 0.0)
      // full probe + covering overfetch == the exact answer through SQL
      conf("spark.graft.ann.nprobe" -> "8", "spark.graft.ann.overfetch" -> "100000") {
        val got = annQuery(subStore, 5).collect()
          .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(4,
            BigDecimal.RoundingMode.HALF_UP))).toList
        val exact = Knn.topK(e, e.where(col("vec_id") === 7), Knn.L2, 5)
          .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(4,
            BigDecimal.RoundingMode.HALF_UP))).toList
        assert(got == exact, s"got=$got exact=$exact")
      }
    }
  }

  test("matryoshka store: a riding filter lowers to the SUB-AWARE iterative leaf") {
    // pgvector 0.8's two headline recipes composed: iterative filtered
    // scans over a subvector index — the leaf probes cells with the
    // query PREFIX and a starved predicate escalates to the exact
    // filtered answer
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies :+ graft.plans.IvfIterativeScanStrategy
    try withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        GraftFunctions.register(spark)
        spark.read.parquet(subStore).createOrReplaceTempView("ivf_rw_sub_v")
        val vecLit = s"array(${queryVec.map(d => s"${d}D").mkString(", ")})"
        val q = spark.sql(
          s"""SELECT vec_id, round(vec_l2(embedding, $vecLit), 4) AS dist
             |FROM ivf_rw_sub_v WHERE vec_id % 97 = 0 AND vec_id < 400
             |ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT 10""".stripMargin)
        val leaf = q.queryExecution.optimizedPlan.collectFirst {
          case s: graft.plans.IvfIterativeFilteredScan => s
        }.getOrElse(fail("sub-aware iterative leaf not planted"))
        assert(leaf.subDim.contains(16), leaf.toString.take(500))
        // 5 survivors < k = 10 forces full-probe exhaustion: exact over
        // the filtered corpus, through the prefix-space probing
        val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
        val exact = e.where("vec_id % 97 = 0 AND vec_id < 400")
          .select(col("vec_id"),
            round(VectorFunctions.l2Distance(col("embedding"), typedlit(queryVec)), 4).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
        assert(got == exact, s"got=$got exact=$exact")
        assert(got.size == 5)
      }
    } finally {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies
          .filterNot(_ eq graft.plans.IvfIterativeScanStrategy)
    }
  }

  test("IVF-PQ store: coarse stage is ADC over pq_codes (round-7 per-query tables in plan space)") {
    withRule {
      val q = annQuery(pqStore, 5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"), optimized.take(2000))
      // ADC scoring = element_at lookups over the planted table map —
      // never the SQ code-L2 kernel
      assert(optimized.contains("element_at"), optimized.take(2000))
      assert(!optimized.contains("vec_code_l2sq"), optimized.take(2000))
      val physical = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(physical).nonEmpty,
        physical.take(3000))
      // the coarse branch reads the m-int code column, never the floats
      val coarseScans = "ReadSchema: [^\n]*".r.findAllIn(physical).toList
        .filter(_.contains("pq_codes"))
      assert(coarseScans.nonEmpty && coarseScans.forall(!_.contains("embedding")),
        physical.take(3000))
      val rows = q.collect()
      assert(rows.length == 5 && rows.head.getLong(0) == 7L && rows.head.getDouble(1) == 0.0)
    }
  }

  test("IVF-PQ store: full probe + covering overfetch = hash-identical to the exact scan") {
    val exact = annQuery(pqStore, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList
    val rewritten = withRule {
      conf("spark.graft.ann.nprobe" -> "8",
           "spark.graft.ann.overfetch" -> "100000") {
        annQuery(pqStore, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      }
    }
    assert(rewritten == exact)
  }

  test("plain store: rewrite prunes to probed cells, no semi join") {
    withRule {
      val q = annQuery(plainStore, 5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("LeftSemi"), optimized.take(2000))
      val physical = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(physical).nonEmpty,
        physical.take(3000))
      assert(q.collect().head.getLong(0) == 7L)
    }
  }

  test("full probe + covering overfetch = hash-identical to the exact un-rewritten scan") {
    val exact = annQuery(quantStore, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList
    val rewritten = withRule {
      conf("spark.graft.ann.nprobe" -> "8",
           "spark.graft.ann.overfetch" -> "100000") {
        annQuery(quantStore, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      }
    }
    assert(rewritten == exact)
  }

  test("recall at partial probe; SQL surface matches DataFrame surface") {
    GraftFunctions.register(spark)
    withRule {
      spark.read.parquet(quantStore).createOrReplaceTempView("ivf_store_v")
      // SQL literal arrays of decimals don't typecheck against the
      // vector kernels — the SQL contract is an ARRAY<DOUBLE> query
      val lit = queryVec.mkString("CAST(array(", ", ", ") AS ARRAY<DOUBLE>)")
      val sql = spark.sql(
        s"SELECT vec_id, vec_l2(embedding, $lit) AS dist FROM ivf_store_v " +
          "ORDER BY dist, vec_id LIMIT 10")
      assert(sql.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val got = sql.collect().map(_.getLong(0)).toSet
      val exactIds = Knn.topK(e, e.where(col("vec_id") === 7), Knn.L2, 10)
        .collect().map(_.getLong(0)).toSet
      val recall = (got intersect exactIds).size.toDouble / 10
      assert(recall >= 0.9, s"recall $recall (got=$got exact=$exactIds)")
    }
  }

  test("parameterized SQL (the ?::vector idiom) still gets the index plan") {
    GraftFunctions.register(spark)
    withRule {
      spark.read.parquet(quantStore).createOrReplaceTempView("ivf_store_p")
      // pgvector's `ORDER BY embedding <-> ? LIMIT 5` maps to a named
      // parameter — substituted as a literal before optimization, so the
      // rewrite fires exactly as with an inline literal
      val sql = spark.sql(
        "SELECT vec_id, vec_l2(embedding, :q) AS dist FROM ivf_store_p " +
          "ORDER BY dist, vec_id LIMIT 5",
        Map("q" -> queryVec.toArray))
      assert(sql.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
        sql.queryExecution.optimizedPlan.toString.take(1500))
      assert(sql.collect().head.getLong(0) == 7L)
    }
  }

  test("cosine sort over a cosine store rewrites; over an L2 store it does not (metric guard)") {
    val cosStore = Files.createTempDirectory("ivf_rw_cos").toString
    val en = e.withColumn("embedding", VectorFunctions.l2Normalize(col("embedding")))
    val cosModel = graft.operators.IvfIndex.train(en, k = 8, iters = 2)
    graft.operators.IvfIndex.writeIndex(e, cosModel, cosStore, metric = "cosine")

    def cosQuery(store: String) = spark.read.parquet(store)
      .select(col("vec_id"),
        VectorFunctions.cosineDistance(col("embedding"), typedlit(queryVec)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(5)

    val exact = cosQuery(cosStore).collect().map(_.getLong(0)).toList
    withRule {
      val q = cosQuery(cosStore)
      val physical = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(physical).nonEmpty,
        physical.take(3000))
      // unnormalized literal, normalized store: self-hit still first —
      // cosine is scale-invariant, and generous probing finds the rest
      val got = cosQuery(cosStore).collect().map(_.getLong(0)).toList
      assert(got.head == 7L)
      assert((exact.toSet intersect got.toSet).size >= 4, s"exact=$exact got=$got")

      // metric guard: a cosine sort over the L2-metric quantized store
      // must NOT rewrite (cell geometry is unnormalized there)
      val wrong = spark.read.parquet(quantStore)
        .select(col("vec_id"),
          VectorFunctions.cosineDistance(col("embedding"), typedlit(queryVec)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(5)
      val plan = wrong.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[\\]".r.findFirstIn(plan).nonEmpty, plan.take(2000))
      // and the L2 sort over the cosine store must not rewrite either
      val wrong2 = annQuery(cosStore, 5)
      val plan2 = wrong2.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[\\]".r.findFirstIn(plan2).nonEmpty, plan2.take(2000))
    }
  }

  test("vec_ip sort over an L2 store prunes cells (no code-L2 coarse join); full probe exact") {
    def ipQuery(k: Int) = spark.read.parquet(quantStore)
      .select(col("vec_id"),
        VectorFunctions.negInnerProduct(col("embedding"), typedlit(queryVec)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
    val exact = ipQuery(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    withRule {
      val q = ipQuery(10)
      val optimized = q.queryExecution.optimizedPlan.toString
      // cell pruning fires; the code-L2 coarse semi-join must NOT (it
      // would mis-rank IP candidates)
      assert(!optimized.contains("LeftSemi"), optimized.take(1500))
      val physical = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(physical).nonEmpty,
        physical.take(3000))
      // full probe degenerates to the exact answer
      conf("spark.graft.ann.nprobe" -> "16") {
        val got = ipQuery(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toList
        assert(got == exact)
      }
    }
  }

  test("post-ranking projection between limit and sort still rewrites") {
    withRule {
      val projected = annQuery(plainStore, 5)
        .select(col("vec_id"), round(col("dist"), 2).as("dist"))
      val opt = projected.queryExecution.optimizedPlan.toString
      assert("cell#\\d+ IN(SET)?".r.findFirstIn(opt).nonEmpty,
        "projection-under-limit shape did not get cell pruning:\n" + opt.take(2000))
      assert(projected.count() == 5)
    }
  }

  test("rewrite leaves non-store sorts and disabled sessions untouched") {
    withRule {
      // ordinary parquet table (no sidecar): untouched
      val lineitem = Tables.lineitem(spark, sfDir)
        .orderBy(col("l_extendedprice")).limit(3)
      assert(!lineitem.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      // kill switch
      conf("spark.graft.ann.rewrite" -> "false") {
        val q = annQuery(quantStore, 5)
        val plan = q.queryExecution.executedPlan.toString
        assert(!q.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
        assert("PartitionFilters: \\[\\]".r.findFirstIn(plan).nonEmpty, plan.take(2000))
      }
    }
  }

  test("vec_l1 sort over an L2 store prunes cells (no coarse join); full probe exact") {
    def l1Query(k: Int) = spark.read.parquet(quantStore)
      .select(col("vec_id"),
        VectorFunctions.l1Distance(col("embedding"), typedlit(queryVec)).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
    val exact = l1Query(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    withRule {
      val q = l1Query(10)
      val optimized = q.queryExecution.optimizedPlan.toString
      // the code-L2 coarse semi-join would mis-rank L1 candidates
      assert(!optimized.contains("LeftSemi"), optimized.take(1500))
      val physical = q.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(physical).nonEmpty,
        physical.take(3000))
      conf("spark.graft.ann.nprobe" -> "16") {
        val got = l1Query(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toList
        assert(got == exact)
      }
    }
  }

}
