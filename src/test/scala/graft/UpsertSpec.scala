package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, IvfIndex, Knn, SparseKnn}

/** upsertIndex across the three index families: the reference's
  * re-uploaded-blob trigger (Function.java:71-88) as ONE atomic
  * delete+insert per family — semantics (replace / insert / cell or
  * shard moves / tombstone interplay), the dup-id refusal, idempotency,
  * and a fabricated mid-compose crash per family that must roll
  * forward to the never-crashed result. */
class UpsertSpec extends SparkSpec {

  private def emb() = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  /** The upsert batch every IVF test uses: ids %3==0 get a shifted
    * vector (likely cell moves), id 9001/9002 are brand new. */
  private def ivfBatch(e: org.apache.spark.sql.DataFrame) = {
    val updated = e.where(col("vec_id") % 3 === 0)
      .select(col("vec_id"), transform(col("embedding"), x => x + lit(2.5)).as("embedding"))
    val fresh = e.where(col("vec_id") < 2)
      .select((col("vec_id") + 9001L).as("vec_id"),
        transform(col("embedding"), x => x * lit(-1.0)).as("embedding"))
    updated.unionByName(fresh)
  }

  /** Post-upsert corpus the store must be equivalent to. */
  private def postCorpus(e: org.apache.spark.sql.DataFrame) =
    e.where(col("vec_id") % 3 =!= 0).unionByName(ivfBatch(e))

  test("IVF flat: replace + insert + cell moves, only affected cells rewritten, search exact") {
    val path = Files.createTempDirectory("ups_flat").toString
    val e = emb()
    val model = IvfIndex.train(e, k = 4, iters = 2)
    IvfIndex.writeIndex(e, model, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val out = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) { val f = it.next(); out(f.getPath.toString) = f.getModificationTime }
      out.toMap
    }
    val before = files()
    val rep = IvfIndex.upsertIndex(spark, path, ivfBatch(e))
    val nE = e.count()
    assert(rep.updatedIds == e.where(col("vec_id") % 3 === 0).count(), rep)
    assert(rep.insertedIds == 2, rep)
    // store content == post-upsert corpus, element-exact
    val store = spark.read.parquet(path)
    val got = store.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    val want = postCorpus(e)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    assert(got == want, s"store ${got.size} rows vs corpus ${want.size}")
    // untouched cells' files are byte-identical (same path, same mtime)
    val after = files()
    val untouched = before.keySet.intersect(after.keySet)
      .filter(k => k.contains("cell=") && before(k) == after(k))
    assert(untouched.nonEmpty || rep.cellsRewritten + rep.cellsDrained == model.k,
      "every cell rewritten in a partial upsert — partition surgery broken")
    // full-probe search over the store == brute KNN over the corpus
    val q = postCorpus(e).where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    val gotK = IvfIndex.searchIndex(spark, path, q, k = 5, nprobe = model.k)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    val wantK = Knn.topKBatch(postCorpus(e), q, Knn.Cosine, 5)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    assert(gotK == wantK)
    // idempotent: the same batch re-applied changes nothing
    IvfIndex.upsertIndex(spark, path, ivfBatch(e))
    val again = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    assert(again.keySet == want.keySet && again.size == want.size)
    // dup ids in one batch refuse loud
    val err = intercept[IllegalArgumentException](
      IvfIndex.upsertIndex(spark, path, e.limit(1).unionAll(e.limit(1))))
    assert(err.getMessage.contains("more than once"), err.getMessage)
  }

  test("IVF families: SQ / binary / cosine / Matryoshka / PQ batches land in the store's schema") {
    val e = emb()
    val model = IvfIndex.train(e, k = 4, iters = 2)
    val batch = ivfBatch(e)
    val post = postCorpus(e)
    val q = post.where(col("vec_id") < 3).select(col("vec_id").as("qid"), col("embedding"))
    val wantCount = post.count()

    // SQ8: codes recomputed under the STORED range
    val sq = Files.createTempDirectory("ups_sq").toString
    IvfIndex.writeIndex(e, model, sq, IvfIndex.Codec.Sq8(-3.0, 3.0))
    IvfIndex.upsertIndex(spark, sq, batch)
    val sqStore = spark.read.parquet(sq)
    assert(sqStore.count() == wantCount)
    assert(sqStore.columns.contains("qvec"))
    // exact degeneration: full probe + covering overfetch == brute KNN
    val sqK = IvfIndex.searchIndex(spark, sq, q, k = 5, nprobe = 4, metric = "l2",
        overfetch = wantCount.toInt)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    val wantK = Knn.topKBatch(post, q, Knn.L2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    assert(sqK == wantK, "SQ upsert: exact degeneration diverged")

    // binary: bvec recomputed
    val bin = Files.createTempDirectory("ups_bin").toString
    IvfIndex.writeIndex(e, model, bin, IvfIndex.Codec.Binary)
    IvfIndex.upsertIndex(spark, bin, batch)
    val binStore = spark.read.parquet(bin)
    assert(binStore.count() == wantCount && binStore.columns.contains("bvec"))

    // cosine: batch normalized on the way in
    val cos = Files.createTempDirectory("ups_cos").toString
    val en = e.withColumn("embedding",
      graft.functions.VectorFunctions.l2Normalize(col("embedding")))
    val mc = IvfIndex.train(en, k = 4, iters = 2)
    IvfIndex.writeIndex(e, mc, cos, metric = "cosine")
    IvfIndex.upsertIndex(spark, cos, batch)
    val norms = spark.read.parquet(cos)
      .select(expr("aggregate(embedding, 0.0D, (a, x) -> a + x * x)").as("n2"))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-9),
      "cosine store holds non-normalized vectors after upsert")

    // Matryoshka: sub prefix recomputed, prefix-space cells
    val sub = Files.createTempDirectory("ups_sub").toString
    val ms = IvfIndex.trainSub(e, subDim = 8, k = 4, iters = 2)
    IvfIndex.writeIndex(e, ms, sub, IvfIndex.Codec.Prefix(8))
    IvfIndex.upsertIndex(spark, sub, batch)
    val subStore = spark.read.parquet(sub)
    assert(subStore.count() == wantCount)
    val subLens = subStore.select(size(col("sub"))).distinct().collect().map(_.getInt(0))
    assert(subLens.toSeq == Seq(8), s"sub column lengths: ${subLens.toSeq}")

    // PQ: residual codes recomputed under the stored codebooks
    val pqp = Files.createTempDirectory("ups_pq").toString
    val pq = graft.operators.ProductQuantizer.trainResidual(e, model, m = 8, ksub = 8)
    IvfIndex.writeIndex(e, model, pqp, IvfIndex.Codec.Pq(pq))
    IvfIndex.upsertIndex(spark, pqp, batch)
    val pqStore = spark.read.parquet(pqp)
    assert(pqStore.count() == wantCount && pqStore.columns.contains("pq_codes"))
    assert(pqStore.select(size(col("pq_codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(8))
  }

  test("IVF upsert crash: manifest-committed partial install rolls forward to the full upsert") {
    val path = Files.createTempDirectory("ups_crash").toString
    val e = emb()
    val model = IvfIndex.train(e, k = 4, iters = 2)
    IvfIndex.writeIndex(e, model, path)
    val want = postCorpus(e)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap

    // run the REAL upsert on a scratch copy to harvest its staging
    // content and manifest, then fabricate the mid-install crash here
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scratch = Files.createTempDirectory("ups_crash_scratch").toString
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(path),
      fs, new org.apache.hadoop.fs.Path(scratch), false,
      spark.sparkContext.hadoopConfiguration)
    IvfIndex.upsertIndex(spark, scratch, ivfBatch(e))

    // fabricate: staging = the scratch store's changed partitions (the
    // exact post-upsert content), manifest present, ONE cell installed,
    // the rest still staged — the worst mid-install state
    val staging = new org.apache.hadoop.fs.Path(path + "__maint_staging")
    val retired = new org.apache.hadoop.fs.Path(path + "__maint_retired")
    val cells = spark.read.parquet(scratch).select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    cells.foreach { c =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(scratch, s"cell=$c"),
        fs, new org.apache.hadoop.fs.Path(staging, s"cell=$c"), false,
        spark.sparkContext.hadoopConfiguration)
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(staging, "_plan.json"), true)
    out.write(s"""{"rewrite":[${cells.mkString(",")}],"drain":[]}""".getBytes("UTF-8"))
    out.close()
    fs.mkdirs(retired)
    val first = cells.head
    assert(fs.rename(new org.apache.hadoop.fs.Path(path, s"cell=$first"),
      new org.apache.hadoop.fs.Path(retired, s"cell=$first")))
    assert(fs.rename(new org.apache.hadoop.fs.Path(staging, s"cell=$first"),
      new org.apache.hadoop.fs.Path(path, s"cell=$first")))

    // the next maintenance call rolls the interrupted upsert forward
    // BEFORE its own (empty) work
    import spark.implicits._
    IvfIndex.deleteFromIndex(spark, path, Seq.empty[Long].toDF("vec_id"))
    val got = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    assert(got == want, "rolled-forward store != never-crashed upsert")
    assert(!fs.exists(staging) && !fs.exists(retired), "leftover swap dirs")
  }

  test("sparse upsert: replace + insert + tombstone resurrection, equals fresh rebuild") {
    val tmp = Files.createTempDirectory("ups_sp").toString
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val sv = SparseKnn.hashingTf(docs, dim = 256)
    SparseKnn.writeIndex(sv, "t_ups_sp", s"$tmp/idx", numBuckets = 4)
    try {
      import spark.implicits._
      // tombstone one id first: upsert must resurrect it with NEW content
      SparseKnn.deleteFromIndex(spark, "t_ups_sp", Seq(3L).toDF("doc_id"))
      val modified = docs.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), concat(col("text"), lit(" upserted tail")).as("text"))
      val fresh = docs.where(col("doc_id") === 0)
        .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
      val batch = SparseKnn.hashingTf(modified.unionByName(fresh), dim = 256)
      SparseKnn.upsertIndex(spark, batch, "t_ups_sp")
      // equality with a one-shot rebuild over the post-upsert corpus
      val post = docs.where(col("doc_id") % 4 =!= 3).unionByName(modified).unionByName(fresh)
      SparseKnn.writeIndex(SparseKnn.hashingTf(post, dim = 256),
        "t_ups_sp_ref", s"$tmp/ref", numBuckets = 4)
      val q = SparseKnn.hashingTf(docs.where(col("doc_id") < 5), dim = 256)
        .select(col("doc_id").as("qid"), col("indices"), col("values"))
      val got = SparseKnn.topKFromIndex(spark, "t_ups_sp", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = SparseKnn.topKFromIndex(spark, "t_ups_sp_ref", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty)
      // the resurrected doc serves its NEW vector: its postings count in
      // the table equals the batch's, not the original's
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_ups_sp"))
      val ts = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(meta.location), "_tombstones")
      val fs = ts.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(ts), "upsert swap should retire the tombstone dir")
      // dup refusal
      val err = intercept[IllegalArgumentException](
        SparseKnn.upsertIndex(spark, batch.limit(1).unionAll(batch.limit(1)), "t_ups_sp"))
      assert(err.getMessage.contains("more than once"), err.getMessage)
      // idempotent
      SparseKnn.upsertIndex(spark, batch, "t_ups_sp")
      val again = SparseKnn.topKFromIndex(spark, "t_ups_sp", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(again == want)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_ups_sp")
      spark.sql("DROP TABLE IF EXISTS t_ups_sp_ref")
    }
  }

  test("sparse upsert crash: stranded retired dir with live missing heals before the op") {
    val tmp = Files.createTempDirectory("ups_sp_crash").toString
    val docs = Tables.documents(spark, sfDir)
    val sv = SparseKnn.hashingTf(docs, dim = 256)
    SparseKnn.writeIndex(sv, "t_ups_spc", s"$tmp/idx", numBuckets = 4)
    try {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_ups_spc"))
      val loc = new org.apache.hadoop.fs.Path(meta.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // fabricate the crash between retire and promote: live dir gone,
      // retired holds the only copy, plus a half-written staging dir
      val retired = new org.apache.hadoop.fs.Path(loc.toString + "__compact_retired")
      val staging = new org.apache.hadoop.fs.Path(loc.toString + "__compact_staging")
      assert(fs.rename(loc, retired))
      fs.mkdirs(staging)
      val out = fs.create(new org.apache.hadoop.fs.Path(staging, "part-junk.parquet"), true)
      out.write(Array[Byte](1, 2, 3)); out.close()
      // the upsert heals the state, then applies — end state == the
      // upsert applied to the never-crashed table
      val batch = SparseKnn.hashingTf(
        docs.where(col("doc_id") === 1)
          .select(col("doc_id"), concat(col("text"), lit(" crashed")).as("text")), dim = 256)
      SparseKnn.upsertIndex(spark, batch, "t_ups_spc")
      assert(!fs.exists(retired) && !fs.exists(staging), "swap dirs left behind")
      val q = sv.where(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("indices"), col("values"))
      val got = SparseKnn.topKFromIndex(spark, "t_ups_spc", q, k = 3).collect()
      assert(got.nonEmpty, "post-recovery search returned nothing")
    } finally spark.sql("DROP TABLE IF EXISTS t_ups_spc")
  }

  test("HNSW hash store: upsert == fresh rebuild byte-for-byte; tombstoned id resurrects") {
    val path = Files.createTempDirectory("ups_hnsw").toString
    val e = emb()
    Hnsw.writeIndexSharded(e, numShards = 3, path, m = 8, efConstruction = 32)
    import spark.implicits._
    // tombstone id 5, then upsert it (plus a vector change and an insert).
    // Replacement vectors are IN-DISTRIBUTION donors (other rows'
    // embeddings, shifted ids): an arithmetic outlier can end up with no
    // in-links in the graph — unreachable at any ef, a real HNSW
    // property — which would test recall pathology, not upsert semantics
    Hnsw.deleteFromIndexSharded(spark, path, Seq(5L).toDF("vec_id"))
    val batch = e.where(col("vec_id").isin(202L, 205L))
      .select((col("vec_id") - 200L).as("vec_id"), col("embedding"))
      .unionByName(e.where(col("vec_id") === 0)
        .select((col("vec_id") + 7001L).as("vec_id"), col("embedding")))
    Hnsw.upsertIndexSharded(spark, path, batch)
    // byte-determinism: affected shards equal a from-scratch rebuild of
    // the post-upsert corpus (everything inserts in ascending-id order)
    val post = e.where(!col("vec_id").isin(2L, 5L)).unionByName(batch)
    // id 5 now carries id 205's vector: the self-query ties with node 205
    // at dist 0 and the id tie-break puts 5 first — so rank-1 == 5 both
    // proves presence of the NEW vector and the cleared tombstone
    val ref = Files.createTempDirectory("ups_hnsw_ref").toString
    Hnsw.writeIndexSharded(post, numShards = 3, ref, m = 8, efConstruction = 32)
    def graphs(p: String): Map[Int, String] = spark.read.parquet(p)
      .select(col("shard"), md5(col("graph")).as("h"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(graphs(path) == graphs(ref), "upserted store != fresh rebuild")
    // the tombstone is cleared and the new vector serves
    val tp = new org.apache.hadoop.fs.Path(path, "_tombstones")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(tp), "upsert left the cleared tombstone dir behind")
    val q = batch.where(col("vec_id") === 5L)
      .select(col("vec_id").as("qid"), col("embedding"))
    // covering ef: per-shard ef >= shard size makes the beam exact, so
    // the assertion tests membership, not ANN recall on an outlier vector
    val hits = Hnsw.searchIndexSharded(spark, path, q, k = 1, ef = 1024)
      .collect().map(_.getLong(1))
    assert(hits.toSeq == Seq(5L), s"resurrected id should rank first, got ${hits.toSeq}")
    // dup refusal
    val err = intercept[IllegalArgumentException](
      Hnsw.upsertIndexSharded(spark, path, batch.unionAll(batch.limit(1))))
    assert(err.getMessage.contains("more than once"), err.getMessage)
  }

  test("HNSW routed store: append and upsert follow the routing; moved/drained shards handled") {
    val path = Files.createTempDirectory("ups_routed").toString
    val e = emb()
    Hnsw.writeIndexRouted(e, numShards = 3, path, m = 8, efConstruction = 32)
    // APPEND must place by centroid, not floorMod (the silent-recall bug
    // this round fixed): a routed search probing 1 shard must find the
    // appended vector, whichever id it carries
    val extra = e.where(col("vec_id") === 1)
      .select((col("vec_id") + 8000L).as("vec_id"), col("embedding"))
    Hnsw.appendIndexSharded(spark, path, extra)
    val qa = extra.select(col("vec_id").as("qid"), col("embedding"))
    // 8001 carries id 1's exact vector — both tie at dist 0 in the SAME
    // routed shard, so a 1-shard probe must return the pair (tie-break
    // by id puts 1 first); 8001 present proves centroid placement
    val found = Hnsw.searchIndexRouted(spark, path, qa, k = 2, ef = 1024, probeShards = 1)
      .collect().map(_.getLong(1))
    assert(found.toSet == Set(1L, 8001L),
      s"routed append not found by 1-shard probe: ${found.toSeq}")
    // UPSERT with in-distribution donor vectors (ids 0-5 take the
    // embeddings of 300-305 — likely different nearest centroids, so
    // ids MOVE shards): full-probe search must see each id exactly
    // once, serving the NEW vector (ties with the donor resolve to the
    // smaller id — the upserted one)
    val moved = e.where(col("vec_id").between(300L, 305L))
      .select((col("vec_id") - 300L).as("vec_id"), col("embedding"))
    Hnsw.upsertIndexSharded(spark, path, moved)
    val store = spark.read.parquet(path)
    val total = store.agg(sum(col("n"))).head().getLong(0)
    assert(total == e.count() + 1, s"node count $total after moves")
    val qm = moved.select(col("vec_id").as("qid"), col("embedding"))
    val self = Hnsw.searchIndexRouted(spark, path, qm, k = 1, ef = 1024,
        probeShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 6L).forall(i => self(i) == i),
      s"moved ids should rank first for their own new vectors: $self")
  }
}
