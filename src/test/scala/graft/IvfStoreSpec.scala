package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

class IvfStoreSpec extends SparkSpec {

  test("persisted IVF index: partition-pruned search equals in-memory probing") {
    val path = Files.createTempDirectory("ivf_index").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 16, iters = 3)
    IvfIndex.writeIndex(e, model, path)

    // centroid sidecar round-trips
    val back = IvfIndex.readModel(spark, path)
    assert(back.centroids.length == 16)
    assert(back.centroids(0).zip(model.centroids(0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })

    val q = e.where(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
    val fromDisk = IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMem = IvfIndex.topK(e, q, model, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk == inMem)

    // the probed search prunes partitions: the scan's PartitionFilters
    // must be NON-empty (an empty "PartitionFilters: []" would mean a
    // full index scan)
    val plan = IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 4)
      .queryExecution.executedPlan.toString
    val m = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
    assert(m.exists(_.group(1).nonEmpty), plan.take(1500))
  }

  test("appendIndex grows a persisted index; searches see new vectors, pruning survives") {
    val path = Files.createTempDirectory("ivf_index_app").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e.where(col("vec_id") >= 10), model, path)

    // the held-out vectors are invisible, then appended, then found —
    // self-search puts each at cos 1.0 rank 1
    val held = e.where(col("vec_id") < 10)
    val q = held.select(col("vec_id").as("qid"), col("embedding"))
    val before = IvfIndex.searchIndex(spark, path, q, k = 1, nprobe = 8)
      .where(col("vec_id") === col("qid"))
    assert(before.isEmpty)
    IvfIndex.appendIndex(spark, path, held)
    val after = IvfIndex.searchIndex(spark, path, q, k = 1, nprobe = 8)
      .where(col("vec_id") === col("qid")).collect()
    assert(after.length == held.count() && after.forall(_.getDouble(2) == 1.0),
      after.mkString("; "))

    // appended rows landed in the cells the model assigns (partition
    // pruning stays truthful) and the probed search still prunes
    val assigned = spark.read.parquet(path)
      .select(col("vec_id"), col("cell"),
        IvfIndex.cellOf(col("embedding"), model).as("want"))
      .where(col("cell") =!= col("want"))
    assert(assigned.isEmpty)
    val plan = IvfIndex.searchIndex(spark, path, q.limit(2), k = 1, nprobe = 2)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pf.exists(_.contains("cell")), plan.take(2000))
  }

  test("cellStats sums to the corpus; skewed appends trip needsRebuild") {
    val path = Files.createTempDirectory("ivf_index_stats").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path)
    val stats = IvfIndex.cellStats(spark, path).collect()
    assert(stats.map(_.getLong(1)).sum == e.count())
    assert(math.abs(stats.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    assert(!IvfIndex.needsRebuild(spark, path, maxSkew = 4.0))
    // pile many copies of ONE vector into its cell — the quantizer is
    // now stale for the grown corpus and the trigger fires
    val one = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding")).collect().head
    val copies = spark.range(e.count() * 8).select(
      (col("id") + 1000000).as("vec_id"),
      org.apache.spark.sql.functions.typedlit(one.getSeq[Float](1)).as("embedding"))
    IvfIndex.appendIndex(spark, path, copies)
    // hot cell ≈ 8N + N/8 vs mean 9N/8 → skew ≈ 7.2×
    assert(IvfIndex.needsRebuild(spark, path, maxSkew = 4.0))
  }

  test("compactIndex: append-sprayed store rewritten to few files; search identical; sidecars survive") {
    import graft.operators.Quantize
    val path = Files.createTempDirectory("ivf_index_compact").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    val (mn, mx) = Quantize.scalarRange(e)
    // quantized store: TWO sidecars must survive the rewrite
    IvfIndex.writeIndex(e.where(col("vec_id") % 4 === 0), model, path, IvfIndex.Codec.Sq8(mn, mx))
    // spray files: one append batch per residue class, several files each
    for (r <- 1 to 3)
      IvfIndex.appendIndex(spark, path,
        e.where(col("vec_id") % 4 === r).repartition(4))
    val statsBefore = IvfIndex.fileStats(spark, path)
    assert(statsBefore.map(_._2).sum > 8, s"expected a sprayed store: $statsBefore")
    assert(IvfIndex.needsCompaction(spark, path, maxFilesPerCell = 3))

    val q = e.where(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
    val before = IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = 4, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    val report = IvfIndex.compactIndex(spark, path)
    val statsAfter = IvfIndex.fileStats(spark, path)
    assert(report.filesAfter < report.filesBefore,
      s"before=${report.filesBefore} after=${report.filesAfter}")
    assert(statsAfter.forall(_._2 <= 1), s"one target-sized file per cell: $statsAfter")
    assert(!IvfIndex.needsCompaction(spark, path, maxFilesPerCell = 3))
    // corpus, results, and BOTH sidecars are intact
    assert(spark.read.parquet(path).count() == e.count())
    val after = IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = 4, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(after == before)
    assert(IvfIndex.readModel(spark, path).centroids.length == model.centroids.length)
    assert(IvfIndex.readStore(spark, path).codec == IvfIndex.Codec.Sq8(mn, mx))
    // partition pruning still static after the rewrite
    val plan = IvfIndex.searchIndex(spark, path, q.limit(1), k = 1, nprobe = 2, metric = "l2")
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pf.exists(_.contains("cell")), plan.take(2000))
  }

  test("IVF-SQ index: coarse scan reads codes in probed cells only; recall holds; sidecars round-trip") {
    import graft.operators.{Knn, Quantize}
    val path = Files.createTempDirectory("ivf_sq").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 16, iters = 3)
    val (mn, mx) = Quantize.scalarRange(e)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Sq8(mn, mx))

    // range sidecar round-trips
    assert(IvfIndex.readStore(spark, path).codec == IvfIndex.Codec.Sq8(mn, mx))

    // recall vs exact L2 KNN with generous probing
    val k = 10
    val recalls = (0L until 6L).map { qid =>
      val exact = Knn.topK(e, e.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val q1 = e.where(col("vec_id") === qid)
        .select(col("vec_id").as("qid"), col("embedding"))
      val approx = IvfIndex.searchIndex(spark, path, q1, k, nprobe = 12, metric = "l2",
          overfetch = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall $mean: $recalls")

    // full probe (nprobe = all cells, overfetch covering the corpus)
    // degenerates to EXACT KNN — the index adds pruning, not error
    val q0 = e.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 16, metric = "l2",
        overfetch = 1000)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact5 = Knn.topK(e, e.where(col("vec_id") === 0), Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact5)

    // plan shape of the coarse pass: partition filter on cell AND a read
    // schema holding qvec but NOT embedding (both pruning levers at once)
    val qside = broadcast(q0.select(col("qid"),
      Quantize.quantizeExpr(col("embedding"), mn, mx).as("__qcodes")))
    val coarse = spark.read.parquet(path)
      .where(col("cell").isin(0, 1, 2))
      .select(col("vec_id"), col("qvec"))
      .crossJoin(qside)
      .select(col("qid"), col("vec_id"),
        Quantize.codeL2Sq(col("qvec"), col("__qcodes")).as("qd"))
    val plan = coarse.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty, plan.take(2000))
    val schemas = "ReadSchema: [^\n]*".r.findAllIn(plan).toList.filter(_.contains("qvec"))
    assert(schemas.nonEmpty && schemas.forall(!_.contains("embedding")),
      s"coarse scan deserializes the float column: $schemas")
  }

  test("IVF-BINARY index: recall holds, full probe exact, coarse reads bits only, non-binary store refused") {
    import graft.operators.{Knn, Quantize}
    val path = Files.createTempDirectory("ivf_bin").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 16, iters = 3)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Binary)

    // recall vs exact L2 with generous probing — the lossiest codec on
    // the ladder, so generous overfetch is part of its contract
    val k = 10
    val recalls = (0L until 6L).map { qid =>
      val exact = Knn.topK(e, e.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val q1 = e.where(col("vec_id") === qid)
        .select(col("vec_id").as("qid"), col("embedding"))
      val approx = IvfIndex.searchIndex(spark, path, q1, k, nprobe = 12, metric = "l2",
          overfetch = 16)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall $mean: $recalls")

    // full probe + covering overfetch degenerates to exact KNN
    val q0 = e.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 16, metric = "l2",
        overfetch = e.count().toInt)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact5 = Knn.topK(e, e.where(col("vec_id") === 0), Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact5)

    // coarse-pass plan: cell partition filter + bvec-only read schema
    val qside = broadcast(q0.select(col("qid"),
      Quantize.binarizeExpr(col("embedding")).as("__qbits")))
    val coarse = spark.read.parquet(path)
      .where(col("cell").isin(0, 1, 2))
      .select(col("vec_id"), col("bvec"))
      .crossJoin(qside)
      .select(col("qid"), col("vec_id"),
        Quantize.hammingExpr(col("bvec"), col("__qbits")).as("qd"))
    val plan = coarse.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty, plan.take(2000))
    val schemas = "ReadSchema: [^\n]*".r.findAllIn(plan).toList.filter(_.contains("bvec"))
    assert(schemas.nonEmpty && schemas.forall(!_.contains("embedding")),
      s"coarse scan deserializes the float column: $schemas")

    // the codec comes from the sidecars, so a plain store is searched
    // as flat; what it still refuses is a metric its sidecars don't declare
    val plainPath = Files.createTempDirectory("ivf_bin_plain").toString
    IvfIndex.writeIndex(e, model, plainPath)
    intercept[IllegalArgumentException] {
      IvfIndex.searchIndex(spark, plainPath, q0, k = 5, nprobe = 4, metric = "cosine")
    }
  }

  test("Matryoshka index: prefix coarse reads sub only; full probe exact; dim guards") {
    import graft.operators.Knn
    val path = Files.createTempDirectory("ivf_sub").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.trainSub(e, subDim = 16, k = 16, iters = 3)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Prefix(16))

    // sidecar round-trips
    assert(IvfIndex.readStore(spark, path).codec == IvfIndex.Codec.Prefix(16))

    // recall vs exact L2 KNN with generous probing: the 16-of-64 prefix
    // carries enough neighborhood structure on this corpus to recover
    // most of the true top-k before the full-precision rerank
    val k = 10
    val recalls = (0L until 6L).map { qid =>
      val exact = Knn.topK(e, e.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val q1 = e.where(col("vec_id") === qid)
        .select(col("vec_id").as("qid"), col("embedding"))
      val approx = IvfIndex.searchIndex(spark, path, q1, k, nprobe = 12, metric = "l2", overfetch = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall $mean: $recalls")

    // full probe + corpus-covering overfetch degenerates to EXACT KNN
    val q0 = e.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 16, metric = "l2",
        overfetch = 100000)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact5 = Knn.topK(e, e.where(col("vec_id") === 0), Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact5)

    // plan shape of the coarse pass: partition filter on cell AND a read
    // schema holding the 16-dim sub column but NOT the full embedding —
    // the subDim/dim byte cut is column pruning, so it must survive to
    // the scan
    val qside = broadcast(q0.select(col("qid"),
      slice(col("embedding"), 1, 16).as("__qsub")))
    val coarse = spark.read.parquet(path)
      .where(col("cell").isin(0, 1, 2))
      .select(col("vec_id"), col("sub"))
      .crossJoin(qside)
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.l2DistanceSq(col("sub"), col("__qsub")).as("qd"))
    val plan = coarse.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).nonEmpty, plan.take(2000))
    val schemas = "ReadSchema: [^\n]*".r.findAllIn(plan).toList.filter(_.contains("sub"))
    assert(schemas.nonEmpty && schemas.forall(!_.contains("embedding")),
      s"coarse scan deserializes the float column: $schemas")

    // a model trained in the WRONG space is refused at write time, not
    // silently assigned on a prefix/dim mismatch
    val fullModel = IvfIndex.train(e, k = 4, iters = 1)
    val e2 = intercept[IllegalArgumentException](
      IvfIndex.writeIndex(e, fullModel, path + "_bad", IvfIndex.Codec.Prefix(16)))
    assert(e2.getMessage.contains("subDim"), e2.getMessage)
  }

  test("Matryoshka maintenance: append visible through both passes; compaction keeps every sidecar") {
    val path = Files.createTempDirectory("ivf_sub_maint").toString
    val e = Tables.embeddings(spark, sfDir)
    val base = e.where(col("vec_id") >= 10)
    val model = IvfIndex.trainSub(base, subDim = 16, k = 8, iters = 2)
    IvfIndex.writeIndex(base, model, path, IvfIndex.Codec.Prefix(16))
    // append the held-out rows: sliced + assigned under the sidecar
    // model, so searches see them immediately
    IvfIndex.appendIndex(spark, path, e.where(col("vec_id") < 10))
    val q0 = e.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 8, metric = "l2",
      overfetch = 100000).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    import graft.operators.Knn
    val exact5 = Knn.topK(e, e.where(col("vec_id") === 0), Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact5) // vec_id 0 itself only findable via the append
    // compaction preserves the DYNAMIC sidecar set (_matryoshka.json is
    // not in any hard-coded list) and search results are unchanged
    IvfIndex.compactIndex(spark, path)
    assert(IvfIndex.readStore(spark, path).codec == IvfIndex.Codec.Prefix(16))
    val after = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 8, metric = "l2",
      overfetch = 100000).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    assert(after == full)
  }

  test("compacting a BINARY store keeps its _binary.json marker (stale-list regression)") {
    val path = Files.createTempDirectory("ivf_bin_compact").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Binary)
    val q0 = e.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val before = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 8, metric = "l2",
      overfetch = 100000).collect().map(_.getLong(1)).toList
    IvfIndex.compactIndex(spark, path)
    // the hard-coded sidecar list lacked _binary.json: compaction used
    // to drop the marker and break every subsequent binary search
    val p = new org.apache.hadoop.fs.Path(path, "_binary.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p), "_binary.json dropped by compaction")
    val after = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 8, metric = "l2",
      overfetch = 100000).collect().map(_.getLong(1)).toList
    assert(after == before)
  }

  test("reassignIndex: only changed cells rewritten; rows preserved; search stays exact") {
    import graft.operators.Knn
    val path = Files.createTempDirectory("ivf_reassign").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val out = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) { val f = it.next(); out(f.getPath.toString) = f.getModificationTime }
      out.toMap
    }

    // identical model: a no-op — zero partitions rewritten, files untouched
    val before = listing()
    val rep0 = IvfIndex.reassignIndex(spark, path, model)
    assert(rep0.moved == 0 && rep0.cellsRewritten == 0, rep0)
    val dataBefore = before.view.filterKeys(!_.contains("_centroids")).toMap
    val dataAfter0 = listing().view.filterKeys(!_.contains("_centroids")).toMap
    assert(dataAfter0 == dataBefore, "no-op reassign rewrote data files")

    // nudge ONE centroid toward its neighbor: membership can only change
    // between the nudged cell and cells its boundary rows land in — the
    // rest of the store must not be rewritten
    val nudged = model.centroids.map(_.clone())
    for (i <- nudged(0).indices)
      nudged(0)(i) = 0.97 * model.centroids(0)(i) + 0.03 * model.centroids(1)(i)
    val rep = IvfIndex.reassignIndex(spark, path, IvfIndex.Model(nudged))
    assert(rep.rows == e.count(), rep)
    assert(rep.moved > 0, "the nudge moved nothing — weak fixture")
    assert(rep.cellsRewritten < 8, s"partial reassign rewrote every cell: $rep")
    val after = listing().view.filterKeys(!_.contains("_centroids")).toMap
    // at least one cell's files survive byte-identical (path + mtime)
    val untouched = dataBefore.keySet.intersect(after.keySet)
      .count(k => dataBefore(k) == after(k))
    assert(untouched > 0, "no data file survived a partial reassign")
    // rows preserved exactly (no loss, no duplication)
    val ids = spark.read.parquet(path).groupBy(col("vec_id")).count()
      .where(col("count") =!= 1).count()
    assert(ids == 0, "reassign duplicated or dropped rows")
    // sidecar now carries the nudged centroids and full-probe search is
    // still the exact answer through the moved layout
    assert(IvfIndex.readModel(spark, path).centroids(0).toSeq == nudged(0).toSeq)
    val q0 = e.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val got = IvfIndex.searchIndex(spark, path, q0, k = 5, nprobe = 8)
      .collect().map(_.getLong(1)).toList
    val exact = Knn.topK(e, e.where(col("vec_id") === 0), Knn.Cosine, 5)
      .collect().map(_.getLong(0)).toList
    assert(got == exact, s"got=$got exact=$exact")

    // PQ stores are refused (stale residual codes)
    val pqPath = Files.createTempDirectory("ivf_reassign_pq").toString
    val pq = graft.operators.ProductQuantizer.trainResidual(e, model, m = 16, ksub = 16)
    IvfIndex.writeIndex(e, model, pqPath, IvfIndex.Codec.Pq(pq))
    val err = intercept[IllegalArgumentException](
      IvfIndex.reassignIndex(spark, pqPath, model))
    assert(err.getMessage.contains("residual"), err.getMessage)
  }

  test("reassignIndex crash recovery: a mid-swap crash rolls forward losing nothing") {
    // fabricate the worst interrupted state: rows X (cell 1 → 0) and Y
    // (cell 0 → 1) swap homes; the crash hits after cell 0's install but
    // before cell 1's, so Y's ONLY copy lives in the staging dir and X
    // transiently exists in both cells. The pre-manifest recovery deleted
    // staging (Y lost forever) and kept X duplicated; the manifest
    // roll-forward must restore the exact 500-row multiset.
    val path = Files.createTempDirectory("ivf_crash").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path)
    val store = spark.read.parquet(path)
    val c0 = store.where(col("cell") === 0).drop("cell")
    val c1 = store.where(col("cell") === 1).drop("cell")
    val yId = c0.agg(min(col("vec_id"))).head().getLong(0)
    val xId = c1.agg(min(col("vec_id"))).head().getLong(0)
    val staging = path + "__maint_staging"
    // staged new content: cell 0 gains X and loses Y, cell 1 vice versa
    c0.where(col("vec_id") =!= yId).union(c1.where(col("vec_id") === xId))
      .coalesce(1).write.parquet(staging + "/cell=0")
    c1.where(col("vec_id") =!= xId).union(c0.where(col("vec_id") === yId))
      .coalesce(1).write.parquet(staging + "/cell=1")
    java.nio.file.Files.write(java.nio.file.Paths.get(staging, "_plan.json"),
      """{"rewrite":[0,1],"drain":[]}""".getBytes("UTF-8"))
    // complete the swap for cell 0 only, then "crash"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = new org.apache.hadoop.fs.Path(path + "__maint_retired")
    fs.mkdirs(retired)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path, "cell=0"),
      new org.apache.hadoop.fs.Path(retired, "cell=0")))
    assert(fs.rename(new org.apache.hadoop.fs.Path(staging, "cell=0"),
      new org.apache.hadoop.fs.Path(path, "cell=0")))
    // interrupted state: Y is gone from the store, X is duplicated
    val interim = spark.read.parquet(path)
    assert(interim.where(col("vec_id") === yId).count() == 0)
    assert(interim.where(col("vec_id") === xId).count() == 2)
    // the next maintenance call must roll forward before its own work
    val rep = IvfIndex.reassignIndex(spark, path, model)
    val after = spark.read.parquet(path)
    assert(after.count() == 500, s"row count ${after.count()}")
    assert(after.select(col("vec_id")).distinct().count() == 500, "dup/lost ids")
    assert(after.where(col("vec_id") === yId).count() == 1)
    assert(after.where(col("vec_id") === xId).count() == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)) &&
      !fs.exists(retired), "leftover staging/retired dirs")
    assert(rep.rows == 500, rep)
  }

  test("crashed reassign recovered by a different op restores the manifest's sidecar") {
    // reassign crashed between the renames and its sidecar write: the
    // manifest carries the NEW centroids, and the next maintenance op —
    // here a deleteFromIndex — must restore them during recovery, or
    // the store stays permanently probing with stale centroids
    val path = Files.createTempDirectory("ivf_crash_sc").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 4, iters = 1)
    IvfIndex.writeIndex(e, model, path)
    val newJson = IvfIndex.Model(model.centroids.map(_.map(_ + 0.001)))
      .centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val staging = path + "__maint_staging"
    new java.io.File(staging).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(staging, "_plan.json"),
      s"""{"rewrite":[],"drain":[],"sidecar":"$newJson"}""".getBytes("UTF-8"))
    import spark.implicits._
    val rep = IvfIndex.deleteFromIndex(spark, path, Seq.empty[Long].toDF("vec_id"))
    assert(rep.deleted == 0, rep)
    val restored = IvfIndex.readModel(spark, path)
    assert(restored.centroids(0)(0) == model.centroids(0)(0) + 0.001,
      s"sidecar not restored: ${restored.centroids(0)(0)}")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)), "staging not cleaned")
  }

  test("deleteFromIndex: only affected cells rewritten; drained cell removed; search exact") {
    import graft.operators.Knn
    val path = Files.createTempDirectory("ivf_delete").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    IvfIndex.writeIndex(e, model, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val out = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) { val f = it.next(); out(f.getPath.toString) = f.getModificationTime }
      out.toMap
    }
    val before = listing()
    // delete every row of ONE cell (drain) plus a handful from another
    val store = spark.read.parquet(path)
    val drainCell = store.groupBy(col("cell")).count()
      .orderBy(col("count"), col("cell")).head().getInt(0)
    val drainIds = store.where(col("cell") === drainCell).select(col("vec_id"))
    val extraCell = store.where(col("cell") =!= drainCell)
      .groupBy(col("cell")).count().orderBy(col("count").desc, col("cell")).head().getInt(0)
    val extraIds = store.where(col("cell") === extraCell)
      .orderBy(col("vec_id")).limit(3).select(col("vec_id"))
    // materialize: these frames derive from the store's CURRENT file
    // listing, which the surgical delete is about to invalidate
    val toDelete = drainIds.union(extraIds).localCheckpoint(true)
    val nDelete = toDelete.count()
    val rep = IvfIndex.deleteFromIndex(spark, path, toDelete)
    assert(rep.deleted == nDelete, rep)
    assert(rep.cellsDrained == 1 && rep.cellsRewritten == 1, rep)
    // drained partition dir is gone; untouched cells are byte-identical
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, s"cell=$drainCell")))
    val after = listing()
    val untouched = before.keySet.intersect(after.keySet)
      .count(k => !k.contains("_centroids") && before(k) == after(k))
    assert(untouched > 0, "no data file survived a surgical delete")
    // remaining corpus is exactly the complement and search stays exact
    val remaining = spark.read.parquet(path)
    assert(remaining.count() == e.count() - nDelete)
    assert(remaining.join(toDelete, Seq("vec_id"), "left_semi").isEmpty)
    val alive = e.join(toDelete, Seq("vec_id"), "left_anti")
    val qid = alive.agg(min(col("vec_id"))).head().getLong(0)
    val q = alive.where(col("vec_id") === qid)
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = 8)
      .collect().map(_.getLong(1)).toList
    val exact = Knn.topK(alive, alive.where(col("vec_id") === qid), Knn.Cosine, 5)
      .collect().map(_.getLong(0)).toList
    assert(got == exact, s"got=$got exact=$exact")
    // idempotent: deleting the same ids again is a no-op
    val rep2 = IvfIndex.deleteFromIndex(spark, path, toDelete)
    assert(rep2 == IvfIndex.DeleteReport(0L, 0, 0), rep2)
    // streaming batch_id stores are refused
    val spath = Files.createTempDirectory("ivf_delete_stream").toString
    graft.streaming.VectorStream.initStore(
      e, IvfIndex.trainSub(e, subDim = 16, k = 4, iters = 1), spath, IvfIndex.Codec.Prefix(16))
    val err = intercept[IllegalArgumentException](
      IvfIndex.deleteFromIndex(spark, spath, extraIds))
    assert(err.getMessage.contains("batch_id"), err.getMessage)
  }

  test("searchIndexQuantized: semi-join fallback above maxPushdownIds gives identical results") {
    import graft.operators.Quantize
    val path = Files.createTempDirectory("ivf_sq_guard").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    val (mn, mx) = Quantize.scalarRange(e)
    IvfIndex.writeIndex(e, model, path, IvfIndex.Codec.Sq8(mn, mx))
    val q = e.where(col("vec_id") < 4).select(col("vec_id").as("qid"), col("embedding"))
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val pushdown = IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 8, metric = "l2")
    // cap of 1 forces the fallback (4 queries × k·overfetch candidates ≫ 1)
    val fallback = IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 8, metric = "l2",
      maxPushdownIds = 1)
    assert(key(pushdown) == key(fallback))
    // the fallback path reranks through a semi JOIN (the driver never
    // materialized the full id set); the pushdown path must not
    val planFb = fallback.queryExecution.executedPlan.toString
    val planPd = pushdown.queryExecution.executedPlan.toString
    assert(planFb.contains("LeftSemi"), planFb.take(2000))
    assert(!planPd.contains("LeftSemi"), planPd.take(2000))
  }

  test("appendIndexQuantized: appended vectors found via the quantized path, codes consistent") {
    import graft.operators.Quantize
    val path = Files.createTempDirectory("ivf_sq_app").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 8, iters = 2)
    val (mn, mx) = Quantize.scalarRange(e)
    IvfIndex.writeIndex(e.where(col("vec_id") >= 10), model, path, IvfIndex.Codec.Sq8(mn, mx))
    val held = e.where(col("vec_id") < 10)
    IvfIndex.appendIndex(spark, path, held)
    // self-search: every appended vector is its own nearest at dist 0
    val q = held.select(col("vec_id").as("qid"), col("embedding"))
    val hits = IvfIndex.searchIndex(spark, path, q, k = 1, nprobe = 8, metric = "l2")
      .where(col("vec_id") === col("qid")).collect()
    assert(hits.length == held.count() && hits.forall(_.getDouble(2) == 0.0))
    // appended codes equal a fresh quantization under the sidecar range
    val bad = spark.read.parquet(path)
      .where(col("qvec") =!= Quantize.quantizeExpr(col("embedding"), mn, mx))
    assert(bad.isEmpty)
  }

  test("cosine-metric index: full probe equals exact cosine KNN; metric sidecar guards mixing") {
    import graft.functions.VectorFunctions
    import graft.operators.Knn
    val path = Files.createTempDirectory("ivf_cos").toString
    val e = Tables.embeddings(spark, sfDir)
    val en = e.withColumn("embedding", VectorFunctions.l2Normalize(col("embedding")))
    val model = IvfIndex.train(en, k = 16, iters = 3)
    IvfIndex.writeIndex(e, model, path, metric = "cosine")
    assert(IvfIndex.readStore(spark, path).metric == "cosine")

    // full probe = exact cosine KNN (same ids, same rounded distances)
    val q = e.where(col("vec_id") === 7).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, path, q, k = 10, nprobe = 16, metric = "cosine")
      .orderBy(col("rn")).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact = Knn.topK(e, e.where(col("vec_id") === 7), Knn.Cosine, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact, s"full=$full exact=$exact")

    // partial probe keeps recall
    val k = 10
    val recalls = (0L until 6L).map { qid =>
      val ex = Knn.topK(e, e.where(col("vec_id") === qid), Knn.Cosine, k)
        .collect().map(_.getLong(0)).toSet
      val q1 = e.where(col("vec_id") === qid).select(col("vec_id").as("qid"), col("embedding"))
      val ap = IvfIndex.searchIndex(spark, path, q1, k, nprobe = 12, metric = "cosine")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (ex intersect ap).size.toDouble / k
    }
    assert(recalls.sum / recalls.size >= 0.9, recalls)

    // an L2 store refuses cosine search
    val l2path = Files.createTempDirectory("ivf_l2m").toString
    IvfIndex.writeIndex(e, model, l2path)
    val err = intercept[IllegalArgumentException] {
      IvfIndex.searchIndex(spark, l2path, q, k = 3, nprobe = 4, metric = "cosine")
    }
    assert(err.getMessage.contains("cosine"))
  }

  test("inner-product search: full probe equals exact IP KNN; cosine store refuses") {
    import graft.functions.VectorFunctions
    import graft.operators.Knn
    val path = Files.createTempDirectory("ivf_ip").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 16, iters = 3)
    IvfIndex.writeIndex(e, model, path)

    val q = e.where(col("vec_id") === 7).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, path, q, k = 10, nprobe = 16, metric = "ip")
      .orderBy(col("rn")).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact = Knn.topK(e, e.where(col("vec_id") === 7), Knn.InnerProduct, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact, s"full=$full exact=$exact")

    // a cosine (normalized) store refuses IP search — IP ordering there
    // IS cosine; the error message must say so
    val cosPath = Files.createTempDirectory("ivf_ip_cos").toString
    val en = e.withColumn("embedding", VectorFunctions.l2Normalize(col("embedding")))
    IvfIndex.writeIndex(e, IvfIndex.train(en, k = 8, iters = 1), cosPath, metric = "cosine")
    val err = intercept[IllegalArgumentException] {
      IvfIndex.searchIndex(spark, cosPath, q, k = 3, nprobe = 4, metric = "ip")
    }
    assert(err.getMessage.contains("metric = \"cosine\""))
  }

  test("knnJoin: large-x-large blocked join keeps recall vs the exact join; no broadcast of either side") {
    val e = Tables.embeddings(spark, sfDir)
    val left = e.where(col("vec_id") < 250).select(col("vec_id").as("qid"), col("embedding"))
    val right = e.where(col("vec_id") >= 250)
    val model = IvfIndex.train(e, k = 16, iters = 3)
    val k = 5
    val approx = IvfIndex.knnJoin(left, right, model, k, nprobe = 10)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // exact join: brute-force per left row via the batch KNN (queries
    // broadcast is fine at spec scale)
    import graft.operators.Knn
    val exact = Knn.topKBatch(right, left, Knn.Cosine, k)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = exact.keys.toSeq.map(q => (exact(q) intersect approx.getOrElse(q, Set())).size.toDouble / k)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall $mean over ${recalls.size} left rows")
    // every left row got k results (probing never starves a query)
    assert(approx.values.forall(_.size == k))
    // the match is a shuffle hash join on the cell id — neither corpus
    // side is broadcast (that's the whole point vs topKBatch)
    val plan = IvfIndex.knnJoin(left, right, model, k, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("streaming dedup drops re-uploaded docs across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.streaming.DocStream.dedupByFingerprint(docs).writeStream
      .format("memory").queryName("dedup_stream_test").outputMode("append").start()
    try {
      input.addData((1L, "alpha beta"), (2L, "gamma delta"))
      q.processAllAvailable()
      input.addData((3L, "alpha beta"), (4L, "epsilon zeta"))  // 3 is a re-upload of 1's content
      q.processAllAvailable()
      val texts = spark.table("dedup_stream_test").select("text")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(texts == Seq("alpha beta", "epsilon zeta", "gamma delta"))
    } finally q.stop()
  }

  test("L1 search (pgvector <+>): full probe equals exact L1 KNN; cosine store refuses") {
    import graft.functions.VectorFunctions
    import graft.operators.Knn
    val path = Files.createTempDirectory("ivf_l1").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 16, iters = 3)
    IvfIndex.writeIndex(e, model, path)
    val q = e.where(col("vec_id") === 7).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, path, q, k = 10, nprobe = 16, metric = "l1")
      .orderBy(col("rn")).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact = Knn.topK(e, e.where(col("vec_id") === 7), Knn.L1, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact, s"full=$full exact=$exact")
    // partial probe keeps decent recall on this corpus
    val part = IvfIndex.searchIndex(spark, path, q, k = 10, nprobe = 4, metric = "l1")
      .collect().map(_.getLong(1)).toSet
    assert(part.intersect(exact.map(_._1).toSet).size >= 7, part.toString)
    // cosine (normalized) store refused: L1 over normalized bytes is a
    // different question than the caller asked
    val cosPath = Files.createTempDirectory("ivf_l1_cos").toString
    val en = e.withColumn("embedding", VectorFunctions.l2Normalize(col("embedding")))
    IvfIndex.writeIndex(e, IvfIndex.train(en, k = 8, iters = 1), cosPath, metric = "cosine")
    val err = intercept[IllegalArgumentException] {
      IvfIndex.searchIndex(spark, cosPath, q, k = 3, nprobe = 4, metric = "l1")
    }
    assert(err.getMessage.contains("L2 store"))
  }

  test("iterative filtered search: escalation fills k, degenerates exact, pushes the predicate") {
    val path = Files.createTempDirectory("ivf_filt").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 16, iters = 3)
    IvfIndex.writeIndex(e, model, path)
    val q = e.where(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))

    // (1) matches >= k everywhere: starting from ONE probed cell, every
    // query must still return exactly k survivors of the filter
    val filled = IvfIndex.searchIndexFiltered(spark, path, q,
      pmod(col("vec_id"), lit(2)) === 0, k = 8, nprobe = 1)
    val perQ = filled.groupBy("qid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQ.size == 5 && perQ.values.forall(_ == 8L), perQ.toString)
    assert(filled.select("vec_id").collect().forall(_.getLong(0) % 2 == 0))

    // (2) ultra-selective filter (total matches < k) forces full probe →
    // result equals brute-force filtered KNN exactly, ids AND scores
    val pred = col("vec_id") < 7 // 7 matches, k = 10
    val got = IvfIndex.searchIndexFiltered(spark, path, q, pred, k = 10, nprobe = 1)
      .orderBy("qid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val exact = {
      import graft.functions.VectorFunctions
      import org.apache.spark.sql.expressions.Window
      val scored = e.where(pred).crossJoin(broadcast(
          q.select(col("qid"), col("embedding").as("__qe"))))
        .select(col("qid"), col("vec_id"),
          round(VectorFunctions.cosineSimilarity(col("embedding"), col("__qe")), 4).as("cos"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
        .orderBy("qid", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    }
    assert(got == exact, s"got=$got exact=$exact")

    // (3) the relational predicate reaches the parquet scan (PushedFilters),
    // it is not applied after the fetch — asserted on the per-round plan
    // (the iterative driver returns collected rows with no scan left)
    val plan = IvfIndex.filteredProbePlan(spark, path, IvfIndex.readModel(spark, path),
        q, col("vec_id") < 7, 10, 16, "vec_id", "embedding", "qid", 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(vec_id,7"), plan.take(1500))

    // (4) empty query frame: schema-shaped empty result, no crash
    assert(IvfIndex.searchIndexFiltered(spark, path, q.where(lit(false)),
      col("vec_id") < 7, k = 3, nprobe = 2).isEmpty)

    // (5) driver-assembly guard (VERDICT r9 #6): |queries|·k over the cap
    // fails fast with the contract in the message, never a silent
    // driver-side bottleneck
    val e5 = intercept[IllegalArgumentException] {
      IvfIndex.searchIndexFiltered(spark, path, q, col("vec_id") < 7,
        k = 5, nprobe = 2, maxResultRows = 9)
    }
    assert(e5.getMessage.contains("maxResultRows"), e5.getMessage)
  }

  test("read-side staleness gate: a planted manifest fails every IVF read path loud") {
    // parity with Hnsw's requireNoPendingSwap (round 16): a
    // committed-but-unfinished swap manifest must refuse READS on every
    // searchIndex* family — the same crash window exists for
    // reassign/delete swaps here — and any maintenance op (including
    // the append family, which recovers on entry now) clears it.
    import graft.operators.IvfIndex
    import java.nio.file.Files
    val path = Files.createTempDirectory("ivf_gate").toString
    val e = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.train(e, k = 4, iters = 1)
    IvfIndex.writeIndex(e, model, path)
    import spark.implicits._
    val q = e.limit(2).select(col("vec_id").as("qid"), col("embedding"))
    val baseline = IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // a staging dir WITHOUT a manifest (staging write crashed) is safe
    val stg = new java.io.File(path + "__maint_staging")
    assert(stg.mkdirs())
    assert(IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 4).count() > 0,
      "plan-less staging dir must not block reads")

    // WITH a manifest: every read path refuses loud
    java.nio.file.Files.writeString(
      new java.io.File(stg, "_plan.json").toPath, """{"rewrite":[],"drain":[]}""")
    def pending(body: => Any): Unit = {
      val ex = intercept[IllegalArgumentException](body)
      assert(ex.getMessage.contains("unfinished maintenance swap"), ex.getMessage)
    }
    // (every codec and metric funnels through readStore → readModel,
    // gated below)
    pending(IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 4))
    pending(IvfIndex.searchIndexFiltered(spark, path, q, col("vec_id") >= 0,
      k = 3, nprobe = 2))
    pending(IvfIndex.readModel(spark, path))
    // the LEGACY staging name (pre-rename __reassign_staging) must gate
    // reads too — recover() still rolls it forward, so the gate asking
    // a different path would serve exactly the staleness it refuses
    new java.io.File(stg, "_plan.json").delete(); stg.delete()
    val legacy = new java.io.File(path + "__reassign_staging")
    assert(legacy.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(legacy, "_plan.json").toPath, """{"rewrite":[],"drain":[]}""")
    pending(IvfIndex.readModel(spark, path))
    // restore the current-name pending plan for the append-clears-it leg
    new java.io.File(legacy, "_plan.json").delete(); legacy.delete()
    assert(stg.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(stg, "_plan.json").toPath, """{"rewrite":[],"drain":[]}""")
    // the APPEND family must NOT refuse: it is a maintenance op and
    // rolls the (no-op) swap forward on entry, clearing the gate. The
    // appended row is an existing vector under a fresh id so the store
    // stays well-formed (no zero-norm cosine edge in the assertion).
    val donor = e.limit(1).select(lit(100000L).as("vec_id"), col("embedding"))
    IvfIndex.appendIndex(spark, path, donor)
    assert(!new java.io.File(stg, "_plan.json").exists(),
      "appendIndex did not roll the swap forward")
    val after = IvfIndex.searchIndex(spark, path, q, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.size == baseline.size, "post-recovery search broken")
  }
}
