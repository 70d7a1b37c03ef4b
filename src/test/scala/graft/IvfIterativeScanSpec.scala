package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.IvfIndex
import graft.plans.{IvfIterativeScanStrategy, IvfScanRewriteRule}

/** SQL lowering of pgvector 0.8's ITERATIVE filtered index scans
  * (VERDICT r9 #1): `WHERE pred ORDER BY vec_l2(emb, lit) LIMIT k` over
  * a persisted IVF store plans to the probe-escalation leaf instead of
  * the pre-0.8 fixed-probe contract — short results widen their probe
  * set until k survivors or full probe (then EXACT over the filtered
  * corpus). The library-path twin is IvfIndex.searchIndexFiltered;
  * this spec pins the PLANNER surface to the same contract. */
class IvfIterativeScanSpec extends SparkSpec {

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IvfScanRewriteRule
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies :+ IvfIterativeScanStrategy
    try body finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq IvfScanRewriteRule)
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies.filterNot(_ eq IvfIterativeScanStrategy)
    }
  }

  private def conf[T](pairs: (String, String)*)(body: => T): T = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private lazy val e = Tables.embeddings(spark, sfDir)
  private lazy val model = IvfIndex.train(e, k = 8, iters = 2)
  private lazy val store: String = {
    val path = Files.createTempDirectory("ivf_iter").toString
    IvfIndex.writeIndex(e, model, path)
    path
  }
  private lazy val queryVec: Seq[Double] = e.where(col("vec_id") === 7)
    .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
  // the D suffix: bare decimal literals parse as DECIMAL(19,19), which
  // vec_l2 refuses — the query vector must be array<double>
  private def vecLit = s"array(${queryVec.map(d => s"${d}D").mkString(", ")})"

  private def sqlQuery(pred: String, k: Int): DataFrame = {
    GraftFunctions.register(spark)
    spark.read.parquet(store).createOrReplaceTempView("ivf_iter_v")
    spark.sql(
      s"""SELECT vec_id, round(vec_l2(embedding, $vecLit), 4) AS dist
         |FROM ivf_iter_v WHERE $pred
         |ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT $k""".stripMargin)
  }

  /** Exact filtered top-k over the raw table (no store), same rounding. */
  private def exact(pred: String, k: Int): Seq[(Long, Double)] =
    e.where(pred)
      .select(col("vec_id"),
        round(VectorFunctions.l2Distance(col("embedding"), typedlit(queryVec)), 4).as("dist"))
      .orderBy(VectorFunctions.l2Distance(col("embedding"), typedlit(queryVec)), col("vec_id"))
      .limit(k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("starved filter escalates to full probe: EXACT over the filtered corpus") {
    withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        val pred = "vec_id % 97 = 0 AND vec_id < 400" // 5 survivors < k = 10
        val q = sqlQuery(pred, 10)
        val opt = q.queryExecution.optimizedPlan.toString
        assert(opt.contains("IvfIterativeFilteredScan"), opt.take(2000))
        val phys = q.queryExecution.executedPlan.toString
        assert(phys.contains("IvfIterativeFilteredScan"), phys.take(2000))
        val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == exact(pred, 10), s"got=$got")
        assert(got.size == 5)
      }
    }
  }

  test("satisfied filter stops at the initial probe set and returns k rows") {
    withRule {
      conf("spark.graft.ann.nprobe" -> "2") {
        val q = sqlQuery("vec_id >= 0", 5)
        assert(q.queryExecution.optimizedPlan.toString.contains("IvfIterativeFilteredScan"))
        val got = q.collect()
        assert(got.length == 5)
        // exactness within the probed set: escalation never removes rows,
        // so every returned distance is ≥ the global best
        val best = exact("vec_id >= 0", 1).head._2
        assert(got.map(_.getDouble(1)).min == best || got.head.getLong(0) == 7L)
      }
    }
  }

  test("iterative=false falls back to the fixed-probe plan (pre-0.8 contract)") {
    withRule {
      conf("spark.graft.ann.iterative" -> "false", "spark.graft.ann.nprobe" -> "1") {
        val pred = "vec_id % 97 = 0 AND vec_id < 400"
        val q = sqlQuery(pred, 10)
        val opt = q.queryExecution.optimizedPlan.toString
        assert(!opt.contains("IvfIterativeFilteredScan"), opt.take(2000))
        assert(opt.contains("cell"), opt.take(2000)) // the static cell IN plan
        // fixed probe may return short — never MORE than the exact answer
        assert(q.collect().length <= 5)
      }
    }
  }

  test("no user filter: the plain fixed-probe index plan is untouched") {
    withRule {
      conf("spark.graft.ann.nprobe" -> "2") {
        GraftFunctions.register(spark)
        spark.read.parquet(store).createOrReplaceTempView("ivf_iter_v")
        val q = spark.sql(
          s"""SELECT vec_id, round(vec_l2(embedding, $vecLit), 4) AS dist
             |FROM ivf_iter_v ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT 5""".stripMargin)
        val opt = q.queryExecution.optimizedPlan.toString
        assert(!opt.contains("IvfIterativeFilteredScan"), opt.take(2000))
        assert(q.collect().length == 5)
      }
    }
  }

  test("inner probe plan: predicate in PushedFilters beside the cell partition pruning") {
    withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        val q = sqlQuery("vec_id % 97 = 0 AND vec_id < 400", 10)
        val leaf = q.queryExecution.optimizedPlan.collectFirst {
          case s: graft.plans.IvfIterativeFilteredScan => s
        }.getOrElse(fail("iterative leaf not planted"))
        val model = IvfIndex.readModel(spark, store)
        val plan = graft.plans.IvfIterativeScan
          .probePlan(spark, leaf.path, model, leaf.qvec.toArray, leaf.pred, 2)
          .queryExecution.executedPlan.toString
        // the user predicate reaches the parquet scan, not filter-after-fetch
        assert("PushedFilters: \\[[^\\]]*vec_id".r.findFirstIn(plan).nonEmpty, plan.take(2000))
        // and the probe set is static partition pruning on cell
        assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty, plan.take(2000))
      }
    }
  }

  test("inner-product sort over the L2 store: iterative leaf, starved filter exact") {
    withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        GraftFunctions.register(spark)
        spark.read.parquet(store).createOrReplaceTempView("ivf_iter_v")
        val pred = "vec_id % 97 = 0 AND vec_id < 400"
        val q = spark.sql(
          s"""SELECT vec_id, round(vec_ip(embedding, $vecLit), 4) AS dist
             |FROM ivf_iter_v WHERE $pred
             |ORDER BY vec_ip(embedding, $vecLit), vec_id LIMIT 10""".stripMargin)
        assert(q.queryExecution.optimizedPlan.toString.contains("IvfIterativeFilteredScan"))
        val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val exact = e.where(pred)
          .select(col("vec_id"),
            round(VectorFunctions.negInnerProduct(col("embedding"), typedlit(queryVec)), 4)
              .as("dist"))
          .orderBy(VectorFunctions.negInnerProduct(col("embedding"), typedlit(queryVec)),
            col("vec_id"))
          .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == exact, s"got=$got exact=$exact")
      }
    }
  }

  test("stacked multi-filter shape stands down entirely (no leaf, no fixed probe)") {
    // rand() < 0.999999 survives the optimizer (rand()'s known bounds
    // eliminate < 2.0) and CANNOT merge with the deterministic predicate,
    // so the Sort child carries TWO stacked Filters. Planting the
    // iterative leaf on the inner one would escalate only on its
    // survivors — the outer filter could still cut below k (ADVICE r10) —
    // and a fixed probe would reintroduce the pre-0.8 short-result
    // hazard, so the rule must leave the whole plan alone.
    withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        GraftFunctions.register(spark)
        spark.read.parquet(store).createOrReplaceTempView("ivf_iter_v")
        // the nondeterministic gate lives in an OUTER query block: it
        // can't push through the Project, so the optimized Sort child is
        // Filter(rand) > Project > Filter(vec_id…) > Relation — the
        // stacked shape a single WHERE never produces (the parser emits
        // one merged Filter there, caught by the determinism check)
        val q = spark.sql(
          s"""SELECT vec_id, dist FROM (
             |  SELECT vec_id, embedding, round(vec_l2(embedding, $vecLit), 4) AS dist
             |  FROM ivf_iter_v WHERE vec_id % 97 = 0 AND vec_id < 400) t
             |WHERE rand() < 0.999999
             |ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT 10""".stripMargin)
        val opt = q.queryExecution.optimizedPlan
        val filters = opt.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
        assert(filters.size >= 2, s"expected a stacked-filter shape, got:\n$opt")
        assert(!opt.toString.contains("IvfIterativeFilteredScan"), opt.toString.take(2000))
        // no fixed-probe either: no synthetic cell-membership predicate
        // (the bare column name appears in every scan's output list, so
        // match the IN/INSET filter shape specifically)
        assert("cell#\\d+ IN(SET)?\\b".r.findFirstIn(opt.toString).isEmpty,
          opt.toString.take(2000))
        // the untouched exact scan still answers correctly (the random
        // gate keeps every row with overwhelming probability)
        val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == exact("vec_id % 97 = 0 AND vec_id < 400", 10), s"got=$got")
      }
    }
  }

  test("nondeterministic predicate refuses the iterative leaf") {
    withRule {
      GraftFunctions.register(spark)
      spark.read.parquet(store).createOrReplaceTempView("ivf_iter_v")
      val q = spark.sql(
        s"""SELECT vec_id, round(vec_l2(embedding, $vecLit), 4) AS dist
           |FROM ivf_iter_v WHERE rand() < 2.0
           |ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT 5""".stripMargin)
      assert(!q.queryExecution.optimizedPlan.toString.contains("IvfIterativeFilteredScan"))
    }
  }

  // ── half / binary store kinds through the escalation leaf (r14) ────

  /** The sqlQuery shape over an arbitrary store path. */
  private def sqlQueryOver(path: String, pred: String, k: Int): DataFrame = {
    GraftFunctions.register(spark)
    spark.read.parquet(path).createOrReplaceTempView("ivf_iter_fam_v")
    spark.sql(
      s"""SELECT vec_id, round(vec_l2(embedding, $vecLit), 4) AS dist
         |FROM ivf_iter_fam_v WHERE $pred
         |ORDER BY vec_l2(embedding, $vecLit), vec_id LIMIT $k""".stripMargin)
  }

  test("HALF store: riding filter lowers to the escalation leaf, starved filter exact") {
    val path = Files.createTempDirectory("ivf_iter_half").toString
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Half)
    withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        val pred = "vec_id % 97 = 0 AND vec_id < 400" // 5 survivors < k = 10
        val q = sqlQueryOver(path, pred, 10)
        val opt = q.queryExecution.optimizedPlan.toString
        assert(opt.contains("IvfIterativeFilteredScan"), opt.take(2000))
        // the user's Sort reranks on the FLOAT column, so the half tier's
        // rounding never touches filtered-scan semantics: escalate→exact
        val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == exact(pred, 10), s"got=$got")
        assert(got.size == 5)
      }
    }
  }

  test("BINARY store: riding filter lowers to the escalation leaf, starved filter exact") {
    val path = Files.createTempDirectory("ivf_iter_bin").toString
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Binary)
    withRule {
      conf("spark.graft.ann.nprobe" -> "1") {
        val pred = "vec_id % 97 = 0 AND vec_id < 400"
        val q = sqlQueryOver(path, pred, 10)
        val opt = q.queryExecution.optimizedPlan.toString
        assert(opt.contains("IvfIterativeFilteredScan"), opt.take(2000))
        val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == exact(pred, 10), s"got=$got")
        assert(got.size == 5)
      }
    }
  }

  test("HALF store, satisfied filter: leaf plants and returns k at the initial probe") {
    val path = Files.createTempDirectory("ivf_iter_half2").toString
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Half)
    withRule {
      conf("spark.graft.ann.nprobe" -> "2") {
        val q = sqlQueryOver(path, "vec_id >= 0", 5)
        assert(q.queryExecution.optimizedPlan.toString.contains("IvfIterativeFilteredScan"))
        assert(q.collect().length == 5)
      }
    }
  }
}
