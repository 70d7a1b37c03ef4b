package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Ad-hoc stage timing probe (not part of the driver contract). */
object Perf {
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"[perf] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
  }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)

    time("warmup (scan+count)") { docs.count(); emb.count() }
    time("shingles.count") {
      docs.select(graft.functions.TextFunctions.wordShingles(col("text")).as("sh"))
        .selectExpr("size(sh)").agg(sum(col("size(sh)"))).head()
    }
    val banded = Dedup.banded(docs, "doc_id", "text", 3, 16, 8)
    time("banded.count")(banded.count())
    val cand = Dedup.candidatePairs(docs)
    time("candidatePairs.count")(cand.count())
    time("minhashLsh.count")(Dedup.minhashLsh(docs, 0.8).count())
    time("embNearDup.count")(Dedup.embeddingNearDup(emb, 0.4).count())

    // scale probe: 20x replicated corpus (10k docs, every doc a 20-way
    // exact-dup cluster → heavy pair load) through the full LSH dedup
    val big = (0 until 20).map(i =>
        docs.select((col("doc_id") + i * 100000).as("doc_id"), col("text")))
      .reduce(_ unionAll _)
    time("minhashLsh.20x (10k docs)")(Dedup.minhashLsh(big, 0.8).count())
    // worst case for span coverage: every doc a 20-way copy, so every
    // position is duplicated — maximal df-gate survivors + window load
    time("dupSpans.20x (10k docs, all positions hot)") {
      Dedup.duplicatedSpanCoverage(big, k = 8).count()
    }
    time("knn.20x (10k vectors)") {
      val bigE = (0 until 20).map(i =>
          emb.select((col("vec_id") + i * 100000).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
      graft.operators.Knn.topK(bigE, bigE.where(col("vec_id") === 0), graft.operators.Knn.L2, 5).count()
    }
    // throughput probes: replicate via crossJoin(range) — one scan, one
    // codegen span — then score through the kernel (TakeOrderedAndProject)
    for (copies <- Seq(200, 2000)) {
      time(s"knn.${copies}x (${copies / 2}k vectors)") {
        val bigE = emb.crossJoin(spark.range(copies))
          .select((col("vec_id") + col("id") * 100000).as("vec_id"), col("embedding"))
        graft.operators.Knn.topK(bigE, emb.where(col("vec_id") === 0),
          graft.operators.Knn.L2, 5).count()
      }
    }

    // round-2 operator scale probes
    time("md5Embed.20x (10k docs, row-local)") {
      big.select(graft.functions.EmbedExpressions.md5EmbedVotes(
        graft.functions.TextFunctions.canonicalText(col("text")), 16)).count()
    }
    time("bm25.20x (10k docs)") {
      graft.operators.TextSearch.bm25(big, Seq("spark", "table", "scan")).count()
    }
    time("contamination.20x (500 test x 9.5k train)") {
      // every test doc has 19 replicas in train → dense hit load
      val b = big.withColumn("__b",
        graft.operators.Sampling.hashBucket(col("doc_id"), "contam", 100))
      Dedup.crossContamination(b.where(col("__b") < 5), b.where(col("__b") >= 5), 0.5).count()
    }
    // one skew-shape definition for BOTH as-of probes (lazy frames — the
    // comparison must stay apples-to-apples)
    val skewLeft = spark.range(400000).select(
      when(col("id") % 5 =!= 0, 7L).otherwise(col("id") % 97).as("k"),
      (col("id") * 13 % 1000000).as("t"), col("id").as("lid"))
    val skewRight = spark.range(500).select(
      when(col("id") % 3 === 0, 7L).otherwise(col("id") % 97).as("rk"),
      (col("id") * 2003 % 1000000).as("rt"), col("id").as("rid"))
      .groupBy("rk", "rt").agg(max("rid").as("rid"))
    time("asOf.skew (400k left rows, 1 hot key)") {
      graft.operators.AsOfJoin.asOf(skewLeft, skewRight, "k", "rk", "t", "rt").count()
    }
    time("asOfBucketed.skew (same, 1000 buckets)") {
      graft.operators.AsOfJoin.asOfBucketed(skewLeft, skewRight, "k", "rk", "t", "rt",
        bucketSec = 1000).count()
    }

    // round-3 operator scale probes — bucketized range join vs the
    // nested-loop plan Spark would pick natively, and Bloom pruning vs
    // the plain shuffled join
    val pts = spark.range(1000000).select(col("id").as("pid"), (col("id") * 37 % 10000000).as("p"))
    val ivs = spark.range(20000).select(col("id").as("iid"),
      (col("id") * 499 % 10000000).as("s0"))
      .select(col("iid"), col("s0").as("s"), (col("s0") + 5000).as("e"))
    time("rangeJoin.bucketized (1M pts x 20k ivs)") {
      graft.operators.RangeJoin.pointInInterval(pts, "p", ivs, "s", "e",
        bucketWidth = 5000).count()
    }
    time("rangeJoin.nestedLoop (100k pts x 20k ivs — 10x FEWER rows)") {
      // nested-loop comparisons grow as |P|x|I|; even at a tenth of the
      // points it costs more than the bucketized plan on the full set
      pts.limit(100000).crossJoin(ivs)
        .where(col("p").between(col("s"), col("e"))).count()
    }
    // Bloom pruning matters when the filter side is too big to BROADCAST
    // (with a broadcastable side, plain anti join already wins — measured:
    // 500-row side → 0.37 s plain vs 0.72 s bloomed). 2M keys force a
    // shuffled anti join of the 12M-row side; the Bloom pass shrinks that
    // shuffle to the ~overlap slice.
    // fact rows carry payload — the exchange moves bytes, not just keys;
    // a keys-only probe would understate what pruning saves
    val bigItems = Tables.lineitem(spark, d).select(col("l_orderkey"))
      .crossJoin(spark.range(20)).select((col("l_orderkey") * 100 + col("id")).as("k"))
      .withColumn("payload", concat(col("k").cast("string"),
        lit(" abcdefghijklmnopqrstuvwxyz0123456789 abcdefghijklmnopqrstuvwxyz0123456789")))
    val seenSide = spark.range(2000000).select((col("id") * 7 + 3).as("k"))
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle regime
    // payload agg AFTER the join defeats column pruning — the exchange
    // must carry the payload bytes, as a real fact-table join would
    def weigh(df: org.apache.spark.sql.DataFrame): Unit = {
      df.agg(sum(length(col("payload")))).head(); ()
    }
    time("bloom.build (2M keys)") {
      graft.operators.BloomJoin.buildBloom(seenSide, col("k"), 2000000)
    }
    time("bloomInner.pruned (12M x 2M, shuffle regime)") {
      weigh(graft.operators.BloomJoin.prunedJoin(bigItems, seenSide, "k", 2000000))
    }
    time("bloomInner.plain (same)") {
      weigh(bigItems.join(seenSide, Seq("k"), "inner"))
    }
    time("bloomAnti.pruned (same pair; pays a 2nd large scan)") {
      weigh(graft.operators.BloomJoin.prunedAntiJoin(bigItems, seenSide, "k", 2000000))
    }
    time("bloomAnti.plain (same)") {
      weigh(bigItems.join(seenSide, Seq("k"), "left_anti"))
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)

    // heavy hitters: the vocabulary-too-big-to-aggregate regime — 16M
    // rows over ~8M distinct string keys. The plain plan builds hash-agg
    // state for every singleton and shuffles the whole vocabulary; the
    // CMS plan pays two narrow scans but aggregates only the hot slice.
    val hhDf = spark.range(8000000).select((col("id") % 40).as("k"))
      .union(spark.range(8000000).select((col("id") + 1000).as("k")))
      .select(concat(lit("key"), col("k")).as("k"))
    time("heavyHitters.cms (16M rows, ~8M distinct keys)") {
      graft.operators.HeavyHitters.exact(hhDf, "k", 100000).count()
    }
    time("heavyHitters.plain (same)") {
      hhDf.groupBy("k").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 100000).count()
    }

    // round-5 operator scale probes — quantized-scan KNN vs the float
    // scan at the same corpus size, the IVF-blocked large-x-large KNN
    // join, and fixed-point PageRank on a 1M-edge graph
    import graft.operators.{IvfIndex, PageRank, Quantize}
    val (qmn, qmx) = Quantize.scalarRange(emb)
    val bigE200 = emb.crossJoin(spark.range(200))
      .select((col("vec_id") + col("id") * 100000).as("vec_id"), col("embedding"))
    val codes200 = bigE200.select(col("vec_id"),
      Quantize.quantizeExpr(col("embedding"), qmn, qmx).as("qvec"))
      .localCheckpoint(true) // pre-encoded store: probe the SCAN, not the encode
    time("knnQuantized.200x (100k vectors, coarse int scan + rerank)") {
      Quantize.topKQuantized(codes200, bigE200, emb.where(col("vec_id") === 0),
        qmn, qmx, k = 5).count()
    }
    time("knnFloat.200x (same corpus, float scan)") {
      graft.operators.Knn.topK(bigE200, emb.where(col("vec_id") === 0),
        graft.operators.Knn.L2, 5).count()
    }
    time("knnJoin.10k x 10k (IVF-blocked quadratic)") {
      val bigE20 = (0 until 20).map(i =>
          emb.select((col("vec_id") + i * 100000).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
      val model = IvfIndex.train(bigE20, k = 64, iters = 2)
      val l = bigE20.select(col("vec_id").as("qid"), col("embedding"))
      IvfIndex.knnJoin(l, bigE20, model, k = 5, nprobe = 4).count()
    }
    time("pagerank.1M edges (50k nodes, 3 iters, fixed-point)") {
      val eg = spark.range(1000000).select(
        (col("id") * 31 % 50000).as("src"), (col("id") * 57 % 50000 + 50000).as("dst"))
      PageRank.ranks(eg, iters = 3).count()
    }

    // IvfScanRewriteRule probe: the SAME user query — plain ORDER BY
    // vec_l2 LIMIT 5 over a quantized IVF store — exact vs index-planned.
    // 100k-vector store, 64 cells; the rewrite reads ~nprobe/64 of the
    // partitions and only the (id, qvec) columns on the coarse side.
    {
      val dir = java.nio.file.Files.createTempDirectory("perf_ivf_rw").toString
      val model = IvfIndex.train(bigE200, k = 64, iters = 2, samplePercent = 2)
      IvfIndex.writeIndex(bigE200, model, dir, IvfIndex.Codec.Sq8(qmn, qmx))
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      def userQuery = spark.read.parquet(dir)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.l2Distance(col("embedding"), typedlit(qv)).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(5)
      time("annSql.exact (100k-vector store, full scan)")(userQuery.count())
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.IvfScanRewriteRule
      try time("annSql.rewritten (same query, index plan)")(userQuery.count())
      finally spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ eq graft.plans.IvfScanRewriteRule)
    }

    // round-9 additions: iterative filtered search + single-pass vector
    // aggregate, both at the 100k/200x scale point
    {
      val dir = java.nio.file.Files.createTempDirectory("perf_ivf_filt").toString
      val model = IvfIndex.train(bigE200, k = 64, iters = 2, samplePercent = 2)
      IvfIndex.writeIndex(bigE200, model, dir)
      val q = emb.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
      time("knnFiltered.200x (100k store, 1/10 selectivity, escalating probe)") {
        IvfIndex.searchIndexFiltered(spark, dir, q,
          pmod(col("vec_id"), lit(10)) === 0, k = 10, nprobe = 2).count()
      }
      time("knnFiltered.200x (starved filter -> full-probe exact)") {
        IvfIndex.searchIndexFiltered(spark, dir, q,
          col("vec_id") < 5, k = 10, nprobe = 2).count()
      }
    }
    // round-10 addition: the SPARSE iterative filtered lowering at 20×
    // corpus scale — bounded phase (satisfied) vs exhaustion (starved)
    {
      import graft.operators.SparseKnn
      val docs20 = Tables.documents(spark, d)
      val big = (0 until 20).map(i =>
          docs20.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
        .reduce(_ union _)
      val sv = SparseKnn.hashingTf(big, dim = 1024)
      val dir = java.nio.file.Files.createTempDirectory("perf_sp_filt").toString
      SparseKnn.writeIndexedStore(spark, sv, "perf_sp_filt_idx", dir)
      val qi = (0L until 64L).toSeq
      val qv = Seq.fill(64)(1.0)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.SparseScanRewriteRule
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.SparseIterativeScanStrategy
      try {
        def filtered(pred: org.apache.spark.sql.Column) = spark.read.parquet(dir)
          .where(pred)
          .select(col("doc_id"), SparseKnn.sparseDot(col("indices"), col("values"),
            typedlit(qi), typedlit(qv)).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(10)
        time("sparseFiltered.20x (10k docs, 1/10 selectivity — bounded phase)") {
          filtered(pmod(col("doc_id"), lit(10)) === 0).count()
        }
        time("sparseFiltered.20x (starved filter -> exhaustion = plain filtered scan)") {
          filtered(col("doc_id") < 5).count()
        }
      } finally {
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations
          .filterNot(_ eq graft.plans.SparseScanRewriteRule)
        spark.experimental.extraStrategies = spark.experimental.extraStrategies
          .filterNot(_ eq graft.plans.SparseIterativeScanStrategy)
      }
    }
    // round-11 additions: Matryoshka prefix store (coarse reads only
    // (id, sub) — subDim/dim of the vector bytes — on top of the
    // nprobe/k partition cut) and partial re-clustering vs full rebuild
    {
      val dir = java.nio.file.Files.createTempDirectory("perf_ivf_sub").toString
      val model = IvfIndex.trainSub(bigE200, subDim = 16, k = 64, iters = 2,
        samplePercent = 2)
      time("matryoshka.build (100k vectors, subDim 16/64, 64 cells)") {
        IvfIndex.writeIndex(bigE200, model, dir, IvfIndex.Codec.Prefix(16))
      }
      val q = emb.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
      time("matryoshka.search (nprobe 8/64 — prefix coarse + bounded rerank)") {
        IvfIndex.searchIndex(spark, dir, q, k = 10, nprobe = 8, metric = "l2").count()
      }
      time("matryoshka.fullprobe (degeneration: all cells, covering overfetch)") {
        IvfIndex.searchIndex(spark, dir, q, k = 10, nprobe = 64, metric = "l2",
          overfetch = 200000).count()
      }
      // partial re-clustering: one nudged centroid moves a few boundary
      // rows — reassignIndex rewrites only the touched cells, the full
      // rebuild rewrites all 100k rows
      val nudged = model.centroids.map(_.clone())
      for (i <- nudged(0).indices)
        nudged(0)(i) = 0.5 * (model.centroids(0)(i) + model.centroids(1)(i))
      time("reassign.partial (nudged centroid, changed cells only)") {
        val rep = IvfIndex.reassignIndex(spark, dir, IvfIndex.Model(nudged))
        println(s"[perf]   -> $rep")
      }
      val dir2 = java.nio.file.Files.createTempDirectory("perf_ivf_sub2").toString
      time("reassign.fullRebuild (prefix writeIndex from scratch, the alternative)") {
        IvfIndex.writeIndex(bigE200, IvfIndex.Model(nudged), dir2, IvfIndex.Codec.Prefix(16))
      }
    }
    // round-12 additions: halfvec coarse-column byte ratio, upsert
    // partition surgery vs full rebuild, and PNG codec throughput
    {
      def dirBytes(p: String): Long = {
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(path, true)
        var b = 0L
        while (it.hasNext) { val f = it.next()
          if (!f.getPath.getName.startsWith("_")) b += f.getLen }
        b
      }
      val dir = java.nio.file.Files.createTempDirectory("perf_ivf_half").toString
      val model = IvfIndex.train(bigE200, k = 64, iters = 2, samplePercent = 2)
      time("halfvec.build (100k vectors, 64 cells)") {
        IvfIndex.writeIndex(bigE200, model, dir, IvfIndex.Codec.Half)
      }
      // the on-disk byte ratio the (id, hvec) coarse pass reads vs the
      // float column — the IO term that matters on object storage
      val coarseDir = java.nio.file.Files.createTempDirectory("perf_half_c").toString
      val floatDir = java.nio.file.Files.createTempDirectory("perf_half_f").toString
      spark.read.parquet(dir).select(col("vec_id"), col("hvec"))
        .write.mode("overwrite").parquet(coarseDir)
      spark.read.parquet(dir).select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(floatDir)
      println(f"[perf] halfvec coarse bytes ${dirBytes(coarseDir) / 1e6}%.1f MB vs " +
        f"float ${dirBytes(floatDir) / 1e6}%.1f MB " +
        f"(ratio ${dirBytes(coarseDir).toDouble / dirBytes(floatDir)}%.2f)")
      val q = emb.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
      time("halfvec.search (nprobe 8/64, binary16 coarse + float rerank)") {
        IvfIndex.searchIndex(spark, dir, q, k = 10, nprobe = 8, metric = "l2").count()
      }
      // upsert surgery: a CELL-LOCAL re-embed batch (ids drawn from two
      // cells — the locality a per-document re-upload actually has)
      // against the 100k store: only those partitions rewrite, vs the
      // full-rebuild alternative touching every byte
      val twoCells = IvfIndex.probedScan(spark, dir, Seq(0, 1))
        .select(col("vec_id"), col("embedding")).limit(1000).localCheckpoint(true)
      val preBytes = dirBytes(dir)
      time("upsert.partial (1k cell-local batch, affected cells only)") {
        val rep = IvfIndex.upsertIndex(spark, dir, twoCells)
        println(f"[perf]   -> $rep of ${model.k} cells " +
          f"(store ${preBytes / 1e6}%.1f MB pre-upsert)")
      }
      val dir2 = java.nio.file.Files.createTempDirectory("perf_ivf_half2").toString
      time("upsert.fullRebuild (half writeIndex from scratch, the alternative)") {
        IvfIndex.writeIndex(bigE200, model, dir2, IvfIndex.Codec.Half)
      }
    }
    {
      import graft.fixtures.MediaFixtures
      import graft.multimodal.BinaryPipeline
      val media = MediaFixtures.synthesizeImages(docs).localCheckpoint(true)
      val totalBytes = media.agg(sum(expr("octet_length(content)"))).head().getLong(0)
      time(f"png.decode+stats (${totalBytes / 1e6}%.1f MB of real PNGs)") {
        BinaryPipeline.decodeImages(media).count()
      }
      time("png.resize 5x4 (decode + resample + re-encode)") {
        BinaryPipeline.resizeImages(media, 5, 4).count()
      }
      time("png.tileFeatures 2x2 (decode + grid pooling)") {
        BinaryPipeline.imageTileFeatures(media, gx = 2, gy = 2).count()
      }
    }
    {
      // round-14 JPEG codec probes: baseline vs progressive decode over
      // the same pixel content — progressive pays the multi-scan walk,
      // the question is how much
      import graft.fixtures.MediaFixtures
      import graft.multimodal.BinaryPipeline
      val jb = MediaFixtures.synthesizeJpegs(docs).localCheckpoint(true)
      val jp = MediaFixtures.synthesizeJpegs(docs, progressive = true).localCheckpoint(true)
      val n = jb.count()
      val bBytes = jb.agg(sum(expr("octet_length(content)"))).head().getLong(0)
      val pBytes = jp.agg(sum(expr("octet_length(content)"))).head().getLong(0)
      time(f"jpeg.decode baseline ($n imgs, ${bBytes / 1e6}%.1f MB)") {
        BinaryPipeline.decodeJpegs(jb).count()
      }
      time(f"jpeg.decode progressive ($n imgs, ${pBytes / 1e6}%.1f MB)") {
        BinaryPipeline.decodeJpegs(jp).count()
      }
      time("jpeg.tileFeatures 2x2 (format-sniffed shared op)") {
        BinaryPipeline.imageTileFeatures(jb, gx = 2, gy = 2).count()
      }
    }
    {
      // round-15 codec probes: GIF (LZW), TIFF (PackBits/strips), WAV
      // (PCM windows), µ-law, CMYK JPEG — same narrow-mapPartitions
      // contract as the PNG/JPEG probes, throughput scales with
      // executors × files
      import graft.fixtures.MediaFixtures
      import graft.multimodal.BinaryPipeline
      val g = MediaFixtures.synthesizeGifs(docs).localCheckpoint(true)
      time("gif.decode (500 files, LZW + palette)") {
        BinaryPipeline.decodeGifs(g).count()
      }
      val t = MediaFixtures.synthesizeTiffs(docs).localCheckpoint(true)
      time("tiff.decode (500 files, PackBits + strips + byte orders)") {
        BinaryPipeline.decodeTiffs(t).count()
      }
      val wv = MediaFixtures.synthesizeWavs(docs).localCheckpoint(true)
      time("wav.decode+windows (500 files, PCM 8/16-bit)") {
        BinaryPipeline.decodeWavSegments(wv).count()
      }
      val mu = MediaFixtures.synthesizeMulawWavs(docs).localCheckpoint(true)
      time("mulaw.decode+windows (500 files, G.711 expansion)") {
        BinaryPipeline.decodeWavSegments(mu).count()
      }
      val ck = MediaFixtures.synthesizeCmykJpegs(docs).localCheckpoint(true)
      time("jpeg.decode CMYK/YCCK (500 files, APP14 transforms)") {
        BinaryPipeline.decodeCmykJpegs(ck).count()
      }
      val mj = MediaFixtures.synthesizeMjpegs(docs).localCheckpoint(true)
      time("mjpeg.frameTiles (500 streams, marker-walk + stride-2 decode)") {
        BinaryPipeline.decodeFrameTiles(mj, stride = 2).count()
      }
      // round-16 codec probes: the six new decode legs
      val mp4 = MediaFixtures.synthesizeMp4s(docs).localCheckpoint(true)
      time("mp4.frameTiles (500 files, box walk + sample tables + stride-2)") {
        BinaryPipeline.decodeFrameTiles(mp4, stride = 2).count()
      }
      val agif = MediaFixtures.synthesizeAnimGifs(docs).localCheckpoint(true)
      time("gif.animFrames (500 files, disposal compositing, stride 1)") {
        BinaryPipeline.decodeFrameTiles(agif, stride = 1).count()
      }
      val pgif = MediaFixtures.synthesizePatchGifs(docs).localCheckpoint(true)
      time("gif.patchFrames (500 files, sub-rect compositing)") {
        BinaryPipeline.decodeFrameTiles(pgif, stride = 1).count()
      }
      val ima = MediaFixtures.synthesizeAdpcmWavs(docs).localCheckpoint(true)
      time("adpcm.ima decode+windows (500 files, nibble recursion)") {
        BinaryPipeline.decodeWavSegments(ima).count()
      }
      val msa = MediaFixtures.synthesizeMsAdpcmWavs(docs).localCheckpoint(true)
      time("adpcm.ms decode+windows (500 files, two-tap recursion)") {
        BinaryPipeline.decodeWavSegments(msa).count()
      }
      val mtif = MediaFixtures.synthesizeMultiTiffs(docs).localCheckpoint(true)
      time("tiff.pages (500 files, 2-4 page IFD chains)") {
        BinaryPipeline.decodeTiffPages(mtif).count()
      }

      // round-17 codec probes: the new decode legs must hold the same
      // zero-shuffle narrow-pass throughput class
      val dtif = MediaFixtures.synthesizeDeflateTiffs(docs).localCheckpoint(true)
      time("tiff.deflate (500 files, zlib strips + predictor)") {
        BinaryPipeline.decodeTiffs(dtif).count()
      }
      val ttif = MediaFixtures.synthesizeTiledTiffs(docs).localCheckpoint(true)
      time("tiff.tiled (500 files, 16x16 grid + edge crop)") {
        BinaryPipeline.decodeTiffs(ttif).count()
      }
      val btif = MediaFixtures.synthesizeBilevelTiffs(docs).localCheckpoint(true)
      time("tiff.bilevel (500 files, 1-bit strips/tiles)") {
        BinaryPipeline.decodeTiffs(btif).count()
      }
      val fmp4 = MediaFixtures.synthesizeMp4s(docs, fragmented = true)
        .localCheckpoint(true)
      time("mp4.fragmented (500 files, moof/trun walk + stride-2 decode)") {
        BinaryPipeline.decodeFrameTiles(fmp4).count()
      }
      val bmp4 = MediaFixtures.synthesizeBmp4s(docs).localCheckpoint(true)
      time("bmp.rle4 (500 files, nibble runs)") {
        BinaryPipeline.decodeBmps(bmp4).count()
      }
      val ldp = MediaFixtures.synthesizeLowDepthPngs(docs).localCheckpoint(true)
      time("png.lowDepth (500 files, 1/2/4-bit packed rows)") {
        BinaryPipeline.decodeImages(ldp).count()
      }
      val w24 = MediaFixtures.synthesize24BitWavs(docs).localCheckpoint(true)
      time("wav.extensible24 (500 files, GUID parse + 3-byte samples)") {
        BinaryPipeline.decodeWavSegments(w24).count()
      }
    }
    {
      // round-16 PDF glyph-program probes: whole-corpus extraction
      // through embedded font programs (TrueType cmap and CFF Type1C)
      import graft.pipeline.PdfPipeline
      val docs500 = Tables.documents(spark, d).limit(500)
      val ttf = PdfPipeline.synthesizeFontProgPdfs(docs500).localCheckpoint(true)
      time("pdf.fontprog TrueType (500 docs, sfnt cmap inversion)") {
        PdfPipeline.extractPagesPdf(ttf).count()
      }
      val cff = PdfPipeline.synthesizeFontProgPdfs(docs500, cff = true)
        .localCheckpoint(true)
      time("pdf.fontprog CFF/Type1C (500 docs, four-hop derivation)") {
        PdfPipeline.extractPagesPdf(cff).count()
      }
      // round 17: the Type 1 leg (eexec decrypt + CharStrings tokenizer)
      val t1 = PdfPipeline.synthesizeFontProgPdfs(docs500, type1 = true)
        .localCheckpoint(true)
      time("pdf.fontprog Type1 (500 docs, eexec + builtin Encoding)") {
        PdfPipeline.extractPagesPdf(t1).count()
      }
    }
    {
      // round-15 DBSCAN probe-scaling evidence (VERDICT r14 #6): the
      // committed q_dbscan (full-probe, oracle corpus) and
      // q_dbscan_probed (partial-probe, planted-cluster corpus) floors
      // are apples-to-oranges — this probe runs ONE corpus at
      // nprobe ∈ {2, 4, 8 = k}, recording eps-pair count and wall, so
      // the nprobe/k cost claim is measured rather than inferred.
      import graft.operators.{Clustering, IvfIndex}
      val corpus = (0 until 20).map(i =>
          emb.select((col("vec_id") + i * 100000).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _).localCheckpoint(true)
      val n = corpus.count()
      val model = IvfIndex.train(corpus, k = 8, iters = 2)
      for (nprobe <- Seq(2, 4, 8)) {
        var pairs = -1L
        time(f"dbscan.probe nprobe=$nprobe/8 ($n vecs)") {
          pairs = Clustering.epsNeighbors(corpus, eps = 0.4, model, nprobe).count()
        }
        println(f"[perf] dbscan.probe nprobe=$nprobe/8 pairs        $pairs%8d")
        time(f"dbscan.label nprobe=$nprobe/8 (pairs -> clusters)") {
          Clustering.dbscan(corpus, eps = 0.4, minPts = 4, model, nprobe).count()
        }
      }

      // round-16 UNFAVORABLE end (VERDICT r15 #6): per-replica dim-0
      // drift (i·0.05) strings each base vector's 20 replicas into a
      // chain that CROSSES cell boundaries, so partial probe genuinely
      // loses pairs — the recall/cost frontier the co-celled corpus
      // above cannot show. Recall = pairs(nprobe)/pairs(full probe).
      val drifted = (0 until 20).map(i =>
          emb.select((col("vec_id") + i * 100000).as("vec_id"),
            expr(s"transform(embedding, (x, j) -> " +
              s"CASE WHEN j = 0 THEN x + ${i * 0.05} ELSE x END)").as("embedding")))
        .reduce(_ unionAll _).localCheckpoint(true)
      val model2 = IvfIndex.train(drifted, k = 8, iters = 2)
      // recall denominator = the timed nprobe=8 (full-probe) count
      // itself — running it twice would double the block's dominant job
      val unfav = Seq(1, 2, 4, 8).map { nprobe =>
        var pairs = -1L
        time(f"dbscan.unfav nprobe=$nprobe/8 (${n}%d drifted vecs)") {
          pairs = Clustering.epsNeighbors(drifted, eps = 0.4, model2, nprobe).count()
        }
        (nprobe, pairs)
      }
      val fullPairs = unfav.last._2
      unfav.foreach { case (nprobe, pairs) =>
        println(f"[perf] dbscan.unfav nprobe=$nprobe/8 pairs $pairs%8d " +
          f"recall ${pairs.toDouble / fullPairs}%.4f")
      }

      // round-17 k=24 frontier (VERDICT r16 #10): the same drifted
      // corpus under a 3x finer coarse quantizer — the nprobe/k cut
      // must survive more cells (same nprobe FRACTION, smaller cells,
      // so the cut gets cheaper per probe while recall holds its shape)
      val model3 = IvfIndex.train(drifted, k = 24, iters = 2)
      val unfav24 = Seq(3, 6, 12, 24).map { nprobe =>
        var pairs = -1L
        time(f"dbscan.unfav24 nprobe=$nprobe/24 (${n}%d drifted vecs)") {
          pairs = Clustering.epsNeighbors(drifted, eps = 0.4, model3, nprobe).count()
        }
        (nprobe, pairs)
      }
      val fullPairs24 = unfav24.last._2
      unfav24.foreach { case (nprobe, pairs) =>
        println(f"[perf] dbscan.unfav24 nprobe=$nprobe/24 pairs $pairs%8d " +
          f"recall ${pairs.toDouble / fullPairs24}%.4f")
      }
    }
    time("vecSum.200x (100k vectors, single-pass aggregate)") {
      bigE200.groupBy(expr("vec_id % 97").as("g"))
        .agg(graft.functions.VectorAggregates.vecSum(col("embedding")).as("s")).count()
    }
    time("vecSum.200x via posexplode (the shuffle-blowup alternative)") {
      bigE200.select(col("vec_id") % 97 as "g", posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("g"), col("dim"))
        .agg(sum(round(col("v").cast("double"), 6).cast("decimal(18,6)"))).count()
    }
    spark.stop()
  }
}
