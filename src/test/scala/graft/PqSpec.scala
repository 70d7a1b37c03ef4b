package graft

import org.apache.spark.sql.functions._
import graft.operators.{Knn, ProductQuantizer => PQ}

class PqSpec extends SparkSpec {

  private lazy val vecs = Tables.embeddings(spark, sfDir)
  private lazy val model = PQ.train(vecs, m = 16, ksub = 16, iters = 10)

  test("codes are m ints in [0, ksub); training is deterministic") {
    val codes = vecs.select(PQ.encodeExpr(col("embedding"), model).as("c"))
    assert(codes.where(size(col("c")) =!= 16).count() == 0)
    assert(codes.select(explode(col("c")).as("x"))
      .where(col("x") < 0 || col("x") >= 16).count() == 0)
    val again = PQ.train(vecs, m = 16, ksub = 16, iters = 10)
    assert(again.codebooks.flatten.flatten.toSeq == model.codebooks.flatten.flatten.toSeq)
  }

  test("model sidecar round-trips bit-exact") {
    val dir = java.nio.file.Files.createTempDirectory("pq_model").toString
    PQ.writeModel(spark, dir, model)
    val back = PQ.readModel(spark, dir)
    assert(back.m == model.m && back.ksub == model.ksub && back.dsub == model.dsub)
    assert(back.codebooks.flatten.flatten.toSeq == model.codebooks.flatten.flatten.toSeq)
  }

  test("ADC score equals exact L2² to the reconstruction (decomposition identity)") {
    val q = vecs.where(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val table = typedlit(PQ.queryTable(q, model).toSeq)
    val checked = vecs.limit(50)
      .select(col("vec_id"),
        PQ.adcScoreExpr(PQ.encodeExpr(col("embedding"), model), table, model.ksub).as("adc"),
        graft.functions.VectorFunctions.l2DistanceSq(
          PQ.decodeExpr(PQ.encodeExpr(col("embedding"), model), model).cast("array<double>"),
          typedlit(q.toSeq)).as("direct"))
      .select(abs(col("adc") - col("direct")).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(checked < 1e-9, s"max |adc - direct| = $checked")
  }

  test("IVF-PQ: residual codes + per-(query,cell) ADC tables keep recall; full probe + covering overfetch is exact") {
    import graft.operators.IvfIndex
    val ivf = IvfIndex.train(vecs, k = 8, iters = 2)
    val pq = PQ.trainResidual(vecs, ivf, m = 16, ksub = 16, iters = 10)
    val cellCol = IvfIndex.cellOf(col("embedding"), ivf)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_residual").toString
    IvfIndex.writeIndex(vecs, ivf, dir, IvfIndex.Codec.Pq(pq))
    val k = 10
    val queries = vecs.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding"))
    val approx = IvfIndex.searchIndex(spark, dir, queries, k, nprobe = 6, metric = "l2",
        overfetch = 8)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = (0L until 6L).map { qid =>
      val exact = Knn.topK(vecs, vecs.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"mean recall $mean: $recalls")

    // probe ALL cells with corpus-covering overfetch: rerank == exact KNN
    val q0 = vecs.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, dir, q0, k = 5, nprobe = 8, metric = "l2",
        overfetch = 1000)
      .orderBy(col("rn")).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact5 = Knn.topK(vecs, vecs.where(col("vec_id") === 0), Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact5)

    // residual identity: ‖q−(c+recon)‖² = ‖(q−c)−recon‖², so the ADC
    // score in residual space is the exact L2² to (centroid + recon) —
    // spec-pin it on a sampled row. (No residual-beats-raw MSE claim
    // here: that property comes from CLUSTERED data; on this isotropic
    // synthetic corpus coarse cells barely concentrate residuals.)
    val qv = vecs.where(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val checked = vecs.limit(30)
      .select(cellCol.as("cell"),
        PQ.residualExpr(col("embedding"), cellCol, ivf).as("r"))
      .select(col("cell"), PQ.encodeExpr(col("r"), pq).as("codes"), col("r"))
      .collect().map { row =>
        val cell = row.getInt(0)
        val ctr = ivf.centroids(cell)
        val residQ = Array.tabulate(qv.length)(i => qv(i) - ctr(i))
        val table = PQ.queryTable(residQ, pq)
        val codes = row.getSeq[Int](1)
        val adc = codes.zipWithIndex.map { case (c, j) => table(j * pq.ksub + c) }.sum
        // direct: ‖residQ − recon(codes)‖²
        val recon = codes.zipWithIndex.flatMap { case (c, j) => pq.codebooks(j)(c) }
        val direct = residQ.zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
        math.abs(adc - direct)
      }
    assert(checked.max < 1e-9, s"max |adc - direct| = ${checked.max}")
  }

  test("persisted IVF-PQ store: search keeps recall, full probe + covering overfetch exact, pushdown guard invariant") {
    import graft.operators.IvfIndex
    val ivf = IvfIndex.train(vecs, k = 8, iters = 2)
    val pq = PQ.trainResidual(vecs, ivf, m = 16, ksub = 16, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_store").toString
    IvfIndex.writeIndex(vecs, ivf, dir, IvfIndex.Codec.Pq(pq))

    // sidecars round-trip: both models reconstruct from the store path
    assert(IvfIndex.readModel(spark, dir).centroids.flatten.toSeq ==
      ivf.centroids.flatten.toSeq)
    assert(PQ.readModel(spark, dir).codebooks.flatten.flatten.toSeq ==
      pq.codebooks.flatten.flatten.toSeq)

    val k = 10
    val queries = vecs.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding"))
    val approx = IvfIndex.searchIndex(spark, dir, queries, k, nprobe = 6, metric = "l2", overfetch = 8)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = (0L until 6L).map { qid =>
      val exact = Knn.topK(vecs, vecs.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"mean recall $mean: $recalls")

    // full probe + corpus-covering overfetch degenerates to exact KNN
    val q0 = vecs.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, dir, q0, k = 5, nprobe = 8, metric = "l2", overfetch = 1000)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact5 = Knn.topK(vecs, vecs.where(col("vec_id") === 0), Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact5)

    // the DedupIndex guard: forcing the semi-join fallback (cap = 1)
    // returns exactly what the static id-IN pushdown path returns
    val pushed = IvfIndex.searchIndex(spark, dir, queries, k, nprobe = 6, metric = "l2", overfetch = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val fellBack = IvfIndex.searchIndex(spark, dir, queries, k, nprobe = 6, metric = "l2", overfetch = 8,
        maxPushdownIds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(fellBack == pushed)

    // append: new vectors get cells + residual codes under the SIDECAR
    // models, are immediately searchable, and their stored codes match a
    // fresh encode against the original models
    val shifted = vecs.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    IvfIndex.appendIndex(spark, dir, shifted)
    val q0b = vecs.where(col("vec_id") === 0)
      .select((col("vec_id") + 100000).as("qid"), col("embedding"))
    // the appended copy ties its original at dist 0; ids break the tie,
    // so the top-2 is exactly {0, 100000} both at 0.0
    val hits = IvfIndex.searchIndex(spark, dir, q0b, k = 2, nprobe = 8, metric = "l2", overfetch = 8)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    assert(hits == List((0L, 0.0), (100000L, 0.0)), s"appended self-hit: $hits")
    val cellCol2 = IvfIndex.cellOf(col("embedding"), ivf)
    val expect = shifted.select(col("vec_id"),
        PQ.encodeExpr(PQ.residualExpr(col("embedding"), cellCol2, ivf), pq).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val stored = spark.read.parquet(dir).where(col("vec_id") >= 100000)
      .select(col("vec_id"), col("pq_codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored.size == expect.size)
    stored.foreach { case (id, codes) => assert(codes == expect(id), s"codes differ for $id") }
  }

  test("PQ top-k with rerank keeps recall; covering overfetch degenerates to exact KNN") {
    import graft.operators.IvfIndex
    // plain PQ: the one-cell store over the origin, whose residuals are
    // the vectors themselves
    val dir = OneCellStore.write(vecs, IvfIndex.Codec.Pq(model), "pq_plain")
    val k = 10
    val queries = vecs.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding"))
    val approx = IvfIndex.searchIndex(spark, dir, queries, k, nprobe = 1, metric = "l2",
        overfetch = 8)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = (0L until 6L).map { qid =>
      val exact = Knn.topK(vecs, vecs.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"mean recall $mean: $recalls")

    // overfetch covering the whole corpus: rerank IS exact KNN
    val q0 = vecs.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val full = IvfIndex.searchIndex(spark, dir, q0, k = 5, nprobe = 1, metric = "l2",
        overfetch = 1000)
      .orderBy(col("rn")).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val exact5 = Knn.topK(vecs, vecs.where(col("vec_id") === 0), Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full == exact5)
  }
}
