package graft

import org.apache.spark.sql.functions._
import graft.functions.HalfExpressions
import graft.operators.{IvfIndex, Knn, Quantize}

class QuantizeSpec extends SparkSpec {

  private lazy val vecs = Tables.embeddings(spark, sfDir)

  test("codes are in [0,255] and reconstruction error is bounded by half a bucket") {
    val (mn, mx) = Quantize.scalarRange(vecs)
    assert(mx > mn)
    val q = Quantize.quantize(vecs, "embedding", mn, mx)
      .withColumn("recon", Quantize.dequantizeExpr(col("qvec"), mn, mx))
    val bad = q.select(explode(col("qvec")).as("c"))
      .where(col("c") < 0 || col("c") > 255).count()
    assert(bad == 0L)
    // max |x - x̂| over every element <= half bucket width (midpoint recon)
    val halfBucket = (mx - mn) / 256.0 / 2.0
    val maxErr = q.select(
      explode(arrays_zip(col("embedding"), col("qvec"))).as("z"))
      .select(abs(col("z.embedding").cast("double") -
        (lit(mn) + (col("z.qvec").cast("double") + 0.5) * lit((mx - mn) / 256.0))).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(maxErr <= halfBucket + 1e-12, s"maxErr=$maxErr halfBucket=$halfBucket")
  }

  test("KNN over dequantized vectors keeps recall >= 0.9 vs full precision") {
    val (mn, mx) = Quantize.scalarRange(vecs)
    val recon = Quantize.quantize(vecs, "embedding", mn, mx)
      .select(col("vec_id"),
        Quantize.dequantizeExpr(col("qvec"), mn, mx).cast("array<float>").as("embedding"))
    val k = 10
    val queries = (0L until 8L)
    val recalls = queries.map { qid =>
      val exact = Knn.topK(vecs, vecs.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val approx = Knn.topK(recon, recon.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall $mean over ${queries.size} queries: $recalls")
  }

  /** Each query's ids from a `(qid, vec_id, …)` search. */
  private def idsByQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  test("quantized-scan KNN with rerank keeps recall >= 0.95 vs exact") {
    val (mn, mx) = Quantize.scalarRange(vecs)
    val path = OneCellStore.write(vecs, IvfIndex.Codec.Sq8(mn, mx), "sq8_recall")
    val k = 10
    val queries = vecs.where(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding"))
    val approx = idsByQuery(IvfIndex.searchIndex(spark, path, queries, k, nprobe = 1,
      metric = "l2", overfetch = 4))
    val recalls = (0L until 8L).map { qid =>
      val exact = Knn.topK(vecs, vecs.where(col("vec_id") === qid), Knn.L2, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect approx(qid)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"mean recall $mean: $recalls")
  }

  test("binarize packs sign bits exactly; hamming equals the unpacked mismatch count") {
    import spark.implicits._
    // odd dim (not a multiple of 32) exercises the ragged last word
    val dim = 50
    val rows = Seq(
      (1L, Seq.tabulate(dim)(i => if (i % 3 == 0) 1.0f else -1.0f)),
      (2L, Seq.tabulate(dim)(i => if (i % 5 == 0) -0.5f else 0.25f)),
      (3L, Seq.fill(dim)(1.0f)),
      (4L, Seq.fill(dim)(-1.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val bin = df.select(col("vec_id"), Quantize.binarizeExpr(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // driver replay of the 32-bit pack
    def pack(v: Seq[Float]): Seq[Long] =
      v.grouped(32).map(_.zipWithIndex.map { case (x, i) =>
        if (x > 0) 1L << i else 0L }.sum).toSeq
    rows.foreach { case (id, v) => assert(bin(id) == pack(v), s"vec $id pack differs") }
    assert(bin(1L).length == 2, "50 dims must pack into 2 words")
    // hamming over packed == sign-mismatch count over raw
    val pairs = df.select(col("vec_id").as("i"), col("embedding").as("a"),
        Quantize.binarizeExpr(col("embedding")).as("ba"))
      .crossJoin(df.select(col("vec_id").as("j"), col("embedding").as("b"),
        Quantize.binarizeExpr(col("embedding")).as("bb")))
      .select(col("i"), col("j"),
        Quantize.hammingExpr(col("ba"), col("bb")).as("h"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => when((x > 0.0f) =!= (y > 0.0f), 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("naive"))
      .collect()
    pairs.foreach(r => assert(r.getLong(2) == r.getLong(3),
      s"(${r.getLong(0)},${r.getLong(1)}): hamming ${r.getLong(2)} != naive ${r.getLong(3)}"))
    // self-distance zero, full flip = dim
    assert(pairs.filter(r => r.getLong(0) == r.getLong(1)).forall(_.getLong(2) == 0L))
    val flip = pairs.find(r => r.getLong(0) == 3L && r.getLong(1) == 4L).get
    assert(flip.getLong(2) == dim)
  }

  test("binary-coarse KNN with rerank keeps recall >= 0.8 vs exact") {
    val query = vecs.where(col("vec_id") === 11)
    val path = OneCellStore.write(vecs, IvfIndex.Codec.Binary, "binary_recall")
    val got = IvfIndex.searchIndex(spark, path,
        query.select(col("vec_id").as("qid"), col("embedding")), k = 10, nprobe = 1,
        metric = "l2", overfetch = 8)
      .collect().map(_.getLong(1)).toSet
    val exact = Knn.topK(vecs, query, Knn.L2, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (got & exact).size.toDouble / exact.size
    // one sign bit per dim is the lossiest codec on the ladder — the
    // spec floor reflects that, overfetch is the recall knob
    assert(recall >= 0.8, s"binary recall $recall")
  }

  test("store coarse scan reads only the code column; rerank pushes id IN filter") {
    val (mn, mx) = Quantize.scalarRange(vecs)
    val codec = IvfIndex.Codec.Sq8(mn, mx)
    val dir = OneCellStore.write(vecs, codec, "sq8_plan")
    val q = vecs.where(col("vec_id") === 0).select(col("vec_id").as("qid"), col("embedding"))
    val qv = q.select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray

    // the search's coarse stage over the one cell
    val coarse = IvfIndex.coarseCandidates(spark, dir, IvfIndex.readStore(spark, dir), codec,
      qv, qv, nprobe = 1, n = 40, idCol = "vec_id")
    val coarsePlan = coarse.queryExecution.executedPlan.toString
    // the corpus-wide scan must NOT deserialize the float column — that's
    // the whole 4x-IO point of the codec
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(coarsePlan).toList
    val corpusScans = readSchemas.filter(_.contains("qvec"))
    assert(corpusScans.nonEmpty, coarsePlan.take(3000))
    assert(corpusScans.forall(!_.contains("embedding")),
      s"coarse scan reads float column: $corpusScans")

    assert(coarse.collect().length == 40)

    // the rerank reads the float column for the candidate ids alone
    val rerank = IvfIndex.searchIndex(spark, dir, q, k = 5, nprobe = 1, metric = "l2")
    val rerankPlan = rerank.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(rerankPlan).nonEmpty,
      rerankPlan.take(3000))
    // the store search returns the deleted flat search's rows:
    // OneCellStoreSpec pins that against its reference
    assert(rerank.count() == 5)
  }

  test("halfvec codec: idempotent over all 65536 bit patterns; NaN collapses to the quiet NaN") {
    import graft.functions.HalfFloat
    var h = 0
    while (h <= 0xffff) {
      val s = h.toShort
      val f = HalfFloat.fromHalf(s)
      if (f.isNaN) assert((HalfFloat.toHalf(f) & 0x7fff) == 0x7e00)
      else assert(HalfFloat.toHalf(f) == s, s"pattern 0x${h.toHexString}: ${f}")
      h += 1
    }
  }

  test("halfvec codec: round-to-nearest-even against both neighbors; 2^-11 relative bound") {
    import graft.functions.HalfFloat
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20000) {
      // cover normals, subnormals, boundary magnitudes, both signs
      val x = rnd.nextInt(4) match {
        case 0 => (rnd.nextFloat() - 0.5f) * 100f
        case 1 => (rnd.nextFloat() - 0.5f) * 130000f     // overflow edge
        case 2 => (rnd.nextFloat() - 0.5f) * 1e-4f       // subnormal edge
        case _ => java.lang.Float.intBitsToFloat(rnd.nextInt()) // raw patterns
      }
      if (!x.isNaN) {
        val enc = HalfFloat.toHalf(x)
        val y = HalfFloat.fromHalf(enc)
        if (!y.isInfinite && !x.isInfinite) {
          // nearest: no other representable half value is strictly closer
          val err = math.abs(y.toDouble - x.toDouble)
          for (delta <- Seq(-1, 1)) {
            val n = (enc + delta).toShort
            // stay within same-sign finite neighbors
            if ((n & 0x7c00) != 0x7c00 && ((n ^ enc) & 0x8000) == 0) {
              val yn = HalfFloat.fromHalf(n)
              assert(math.abs(yn.toDouble - x.toDouble) >= err - 1e-30,
                s"x=$x enc=0x${(enc & 0xffff).toHexString} got $y but neighbor $yn closer")
            }
          }
          // relative error bound for the normal half range
          if (math.abs(x) >= 6.104e-5f && math.abs(x) <= 65504f)
            assert(err <= math.abs(x.toDouble) * (1.0 / 2048) + 1e-30, s"x=$x y=$y")
        } else if (y.isInfinite) {
          assert(x.isInfinite || math.abs(x) >= 65520f - 0.01f, s"x=$x -> inf")
        }
      }
    }
  }

  test("halfvec store: round-trip through parquet; covering overfetch degenerates to exact KNN") {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count().toInt
    val dir = OneCellStore.write(e, IvfIndex.Codec.Half, "half_store")
    // codes survive parquet: unpack(read(hvec)) == decode(encode(embedding))
    val back = spark.read.parquet(dir)
      .select(col("vec_id"), HalfExpressions.halfUnpack(col("hvec")).as("h1"),
        HalfExpressions.halfDecode(HalfExpressions.halfEncode(col("embedding"))).as("h2"))
      .where(expr("h1 <> h2"))
    assert(back.count() == 0)
    val q = e.where(col("vec_id") === 3)
    val exact = Knn.topK(e, q, Knn.L2, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    def viaHalf(overfetch: Int) = IvfIndex.searchIndex(spark, dir,
        q.select(col("vec_id").as("qid"), col("embedding")), k = 10, nprobe = 1, metric = "l2",
        overfetch = overfetch)
      .orderBy(col("rn")).collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    assert(viaHalf(n) == exact, s"half=${viaHalf(n)} exact=$exact")
    // production overfetch keeps recall on this corpus (half error is
    // tiny relative to inter-vector distances)
    val prod = viaHalf(4).map(_._1).toSet
    assert(prod.intersect(exact.map(_._1).toSet).size >= 9)
  }

}
