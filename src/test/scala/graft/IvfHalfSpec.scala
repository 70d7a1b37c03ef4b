package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Knn}

/** The halfvec IVF tier (pgvector 0.7 halfvec_l2_ops): storage layout,
  * coarse-pass column pruning, recall at production overfetch, exact
  * degeneration, and the append/upsert maintenance axis. */
class IvfHalfSpec extends SparkSpec {

  private def emb() = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  test("halfvec store: layout, sidecars, coarse pass reads (id, hvec) only") {
    val path = Files.createTempDirectory("ivf_half").toString
    val e = emb()
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Half)
    val store = spark.read.parquet(path)
    assert(store.columns.toSet == Set("vec_id", "embedding", "hvec", "cell"))
    // hvec is PACKED binary at exactly 2 bytes/dim (an array<short>
    // would be physical INT32 in parquet and save nothing), and the
    // fused unpack equals encode-then-decode element for element
    val probe = store.select(size(col("embedding")).as("d"),
        length(col("hvec")).as("b"),
        zip_with(graft.functions.HalfExpressions.halfUnpack(col("hvec")),
          graft.functions.HalfExpressions.halfDecode(
            graft.functions.HalfExpressions.halfEncode(col("embedding"))),
          (a, b) => (a =!= b).cast("int")).as("diff"))
      .select(col("d"), col("b"), aggregate(col("diff"), lit(0), (s, x) => s + x).as("ndiff"))
      .agg(max(col("b") - col("d") * 2), max(col("ndiff"))).head()
    assert(probe.getInt(0) == 0, s"hvec not 2 bytes/dim")
    assert(probe.getInt(1) == 0, "packed unpack != encode/decode")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_half.json")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_centroids.json")))
    // plan shape of the coarse pass (built like the search builds it —
    // the search itself checkpoints the candidate frame, so its returned
    // plan only shows the rerank): partition filter on cell AND a read
    // schema holding hvec but NOT the float column
    val qside = broadcast(e.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"),
        graft.functions.HalfExpressions.halfDecode(
          graft.functions.HalfExpressions.halfEncode(col("embedding"))).as("__qhalf")))
    val coarse = spark.read.parquet(path)
      .where(col("cell").isin(0, 1, 2))
      .select(col("vec_id"), col("hvec"))
      .crossJoin(qside)
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.l2Distance(
          graft.functions.HalfExpressions.halfUnpack(col("hvec")), col("__qhalf")).as("hd"))
    val plan = coarse.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty, plan.take(2000))
    val schemas = "ReadSchema: [^\n]*".r.findAllIn(plan).toList.filter(_.contains("hvec"))
    assert(schemas.nonEmpty && schemas.forall(!_.contains("embedding")),
      s"coarse scan deserializes the float column: $schemas")
    // the RERANK side of the real search never reads hvec back
    val q = e.where(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding"))
    val rerankPlan = IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 2, metric = "l2")
      .queryExecution.executedPlan.toString
    val rerankScans = "ReadSchema: [^\n]*".r.findAllIn(rerankPlan).toList
      .filter(_.contains("array"))
    assert(rerankScans.nonEmpty && rerankScans.forall(!_.contains("hvec")),
      s"rerank deserializes the half column: $rerankScans")
  }

  test("half round-trip bound and recall >= 0.9 at production overfetch") {
    val path = Files.createTempDirectory("ivf_half_rec").toString
    val e = emb()
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Half)
    // binary16 round-trip: relative error <= 2^-11 holds only in fp16's
    // NORMAL range (|x| >= 2^-14); below it the format is subnormal with
    // FIXED spacing 2^-24, so tiny components get an absolute bound
    val minNormal = math.pow(2, -14)
    val decoded = graft.functions.HalfExpressions.halfUnpack(col("hvec"))
    val relErr = aggregate(
      zip_with(col("embedding"), decoded, (a, b) =>
        when(abs(a) < minNormal, lit(0.0))
          .otherwise(abs(a - b.cast("double")) / abs(a))),
      lit(0.0), (acc, x) => greatest(acc, x))
    val absErr = aggregate(
      zip_with(col("embedding"), decoded, (a, b) =>
        when(abs(a) < minNormal, abs(a - b.cast("double"))).otherwise(lit(0.0))),
      lit(0.0), (acc, x) => greatest(acc, x))
    val (maxRel, maxAbs) = {
      val r = spark.read.parquet(path).select(relErr.as("rel"), absErr.as("abs"))
        .agg(max(col("rel")), max(col("abs"))).head()
      (r.getDouble(0), r.getDouble(1))
    }
    assert(maxRel <= math.pow(2, -11) + 1e-12, s"half round-trip rel err $maxRel (normal range)")
    assert(maxAbs <= math.pow(2, -24) + 1e-12, s"half round-trip abs err $maxAbs (subnormal range)")
    // recall@5 vs exact KNN at the default overfetch, full probe (so the
    // measured loss is the HALF CODES' doing, not cell pruning)
    val q = e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding"))
    val got = IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = 8, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = Knn.topKBatch(e, q, Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val recall = got.toSet.intersect(want.toSet).size.toDouble / want.length
    assert(recall >= 0.9, s"halfvec recall@5 = $recall")
  }

  test("SQL lowering: ORDER BY vec_l2 LIMIT k over a half store gets the hvec coarse semi-join") {
    import graft.functions.{VectorFunctions => VF}
    val path = Files.createTempDirectory("ivf_half_rw").toString
    val e = emb()
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Half)
    val qv = e.where(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Double](0)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.IvfScanRewriteRule
    try {
      // covering config: probe all cells, overfetch beyond the corpus —
      // the rewritten plan must stay EXACT
      spark.conf.set("spark.graft.ann.nprobe", "8")
      spark.conf.set("spark.graft.ann.overfetch", "1000")
      val q = spark.read.parquet(path)
        .select(col("vec_id"),
          VF.l2Distance(col("embedding"), typedlit(qv)).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("LeftSemi"), optimized.take(2000))
      assert(optimized.contains("half_unpack"), optimized.take(2000))
      val physical = q.queryExecution.executedPlan.toString
      val coarseScans = "ReadSchema: [^\n]*".r.findAllIn(physical).toList
        .filter(_.contains("hvec"))
      assert(coarseScans.nonEmpty && coarseScans.forall(!_.contains("embedding")),
        s"coarse scan should read hvec without the float column: $coarseScans")
      val got = q.collect().map(_.getLong(0)).toSeq
      val want = Knn.topKBatch(e,
          e.where(col("vec_id") === 7).select(col("vec_id").as("qid"), col("embedding")),
          Knn.L2, 5)
        .collect().map(_.getLong(1)).toSeq
      assert(got == want, s"rewritten half plan diverged: $got vs $want")
    } finally {
      spark.conf.unset("spark.graft.ann.nprobe")
      spark.conf.unset("spark.graft.ann.overfetch")
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations
        .filterNot(_ eq graft.plans.IvfScanRewriteRule)
    }
  }

  test("pre-packed-layout stores (unversioned _half.json) refuse maintenance and search loud") {
    val path = Files.createTempDirectory("ivf_half_legacy").toString
    val e = emb()
    val model = IvfIndex.train(e, k = 4, iters = 1)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Half)
    // fabricate the pre-packing sidecar (no format field): appending
    // binary hvec rows to an array<short> store would poison the parquet
    // schema AFTER the write — the guard must fire before any bytes move
    val p = new org.apache.hadoop.fs.Path(path, "_half.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true); out.write("""{"bits":16}""".getBytes("UTF-8")); out.close()
    val q = e.where(col("vec_id") < 2).select(col("vec_id").as("qid"), col("embedding"))
    val e1 = intercept[IllegalArgumentException](
      IvfIndex.appendIndex(spark, path, e.limit(1)))
    assert(e1.getMessage.contains("rebuild"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      IvfIndex.searchIndex(spark, path, q, k = 1, nprobe = 1, metric = "l2"))
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      IvfIndex.upsertIndex(spark, path, e.limit(1)))
    assert(e3.getMessage.contains("rebuild"), e3.getMessage)
  }

  test("exact degeneration, append, and upsert on the half store") {
    val path = Files.createTempDirectory("ivf_half_maint").toString
    val e = emb()
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e.where(col("vec_id") >= 10), model, path, IvfIndex.Codec.Half)
    IvfIndex.appendIndex(spark, path, e.where(col("vec_id") < 10))
    val n = e.count().toInt
    val q = e.where(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding"))
    // full probe + covering overfetch == exact KNN, appended rows included
    val got = IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = 8, metric = "l2", overfetch = n)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    val want = Knn.topKBatch(e, q, Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    assert(got == want, "half exact degeneration diverged after append")
    // upsert: family detection recomputes hvec for the batch
    val donor = e.where(col("vec_id").between(100L, 102L))
      .select((col("vec_id") - 100L).as("vec_id"), col("embedding"))
    IvfIndex.upsertIndex(spark, path, donor)
    val post = e.where(!col("vec_id").isin(0L, 1L, 2L)).unionByName(donor)
    val got2 = IvfIndex.searchIndex(spark, path,
        donor.select(col("vec_id").as("qid"), col("embedding")),
        k = 1, nprobe = 8, metric = "l2", overfetch = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // ties with the donor row resolve to the smaller (upserted) id
    assert((0L until 3L).forall(i => got2(i) == i), s"upserted half rows: $got2")
    // hvec really recomputed: decode matches the new float column
    val absErr = aggregate(
      zip_with(col("embedding"),
        graft.functions.HalfExpressions.halfUnpack(col("hvec")),
        (a, b) => abs(a - b.cast("double"))),
      lit(0.0), (acc, x) => greatest(acc, x))
    val drift = spark.read.parquet(path).where(col("vec_id") < 3)
      .select(absErr.as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(drift < 0.01, s"upserted hvec stale: max abs err $drift")
  }
}
