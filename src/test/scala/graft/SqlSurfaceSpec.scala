package graft

import org.apache.spark.sql.functions.{col, expr}

class SqlSurfaceSpec extends SparkSpec {

  import spark.implicits._

  test("pgvector-style SQL runs after function registration") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) v")
      .head().getDouble(0) == 11.0)
    assert(math.abs(spark.sql(
      "SELECT vec_cosine_dist(array(1.0D, 0.0D), array(1.0D, 0.0D)) v").head().getDouble(0)) < 1e-12)

    // the reference's serving query, ported verbatim shape
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb_sql")
    val top = spark.sql("""
      SELECT e.vec_id
      FROM emb_sql e CROSS JOIN (SELECT embedding q FROM emb_sql WHERE vec_id = 0)
      ORDER BY vec_l2(e.embedding, q) LIMIT 5""").collect().map(_.getLong(0))
    assert(top.head == 0L && top.length == 5)

    assert(spark.sql("SELECT size(word_shingles('a b c d', 3)) n").head().getInt(0) == 2)
    assert(spark.sql("SELECT size(minhash_sig(word_shingles('a b c d e f', 3), 8)) n")
      .head().getInt(0) == 8)
    assert(spark.sql("SELECT simhash64(word_shingles('x y z w', 3)) h").head().getLong(0) ==
      spark.sql("SELECT simhash64(word_shingles('x y z w', 3)) h").head().getLong(0))
    assert(spark.sql("SELECT size(chunk_text('aaaaaaaa.bbbbbbbb', 10, 4)) n").head().getInt(0) == 2)
    // quantized coarse-scan kernel: (3-1)^2 + (0-4)^2 = 20, exact int64
    assert(spark.sql("SELECT vec_code_l2sq(array(3L, 0L), array(1L, 4L)) v")
      .head().getLong(0) == 20L)

    // zvalue must equal the ZOrder.interleave column API everywhere —
    // they are separate trees (see zvalueExpr scaladoc), so pin them
    // equal over a full coordinate grid at several widths
    import org.apache.spark.sql.functions.{col, expr}
    for (bits <- Seq(1, 4, 8)) {
      val n = 1 << math.min(bits, 5)
      val grid = spark.range(n.toLong * n).select(
        (col("id") % n).as("x"), expr(s"id div $n").as("y"))
      val diff = grid.select(
          graft.operators.ZOrder.interleave(col("x"), col("y"), bits).as("a"),
          org.apache.spark.sql.functions.expr(s"zvalue(x, y, $bits)").as("b"))
        .where(col("a") =!= col("b")).count()
      assert(diff == 0, s"zvalue != interleave at bits=$bits")
    }
  }

  test("pgvector function ports: dims / norm / subvector / l2_normalize") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_dims(array(3.0D, 4.0D, 0.0D)) AS d,
        |  vec_norm(array(3.0D, 4.0D)) AS n,
        |  vec_subvector(array(1.0D, 2.0D, 3.0D, 4.0D), 2, 2) AS sub,
        |  vec_l2_normalize(array(3.0D, 4.0D)) AS u,
        |  vec_l2_normalize(array(0.0D, 0.0D)) AS z""".stripMargin).head()
    assert(r.getInt(0) == 3)
    assert(math.abs(r.getDouble(1) - 5.0) < 1e-12)
    assert(r.getSeq[Double](2) == Seq(2.0, 3.0))
    val u = r.getSeq[Double](3)
    assert(math.abs(u(0) - 0.6) < 1e-12 && math.abs(u(1) - 0.8) < 1e-12)
    assert(r.getSeq[Double](4) == Seq(0.0, 0.0), "zero vector maps to itself")
    // pgvector's vector || vector concatenation
    val cat = spark.sql(
      "SELECT vec_concat(array(1.0D, 2.0D), array(3.0D)) AS c").head().getSeq[Double](0)
    assert(cat == Seq(1.0, 2.0, 3.0))
    // SQL l2_normalize matches the column API on real embeddings
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, sfDir).limit(20)
    e.createOrReplaceTempView("vf_sql_v")
    val viaSql = spark.sql(
      "SELECT vec_id, vec_l2_normalize(embedding) AS u FROM vf_sql_v ORDER BY vec_id")
      .collect().map(r2 => r2.getLong(0) -> r2.getSeq[Double](1)).toMap
    val viaApi = e.select(org.apache.spark.sql.functions.col("vec_id"),
        VectorFunctions.l2Normalize(org.apache.spark.sql.functions.col("embedding")).as("u"))
      .collect().map(r2 => r2.getLong(0) -> r2.getSeq[Double](1)).toMap
    assert(viaSql.keySet == viaApi.keySet && viaSql.nonEmpty)
    viaSql.foreach { case (id, s) =>
      val a = viaApi(id)
      assert(s.size == a.size && s.zip(a).forall { case (x, y) => math.abs(x - y) < 1e-12 },
        s"vec $id differs")
    }
  }

  test("pgvector bit family: binarize matches the Scala packer; hamming/jaccard identities") {
    GraftFunctions.register(spark)
    // vec_binarize == Quantize.binarizeExpr on a ragged-dim vector
    val df = Seq((1L, Seq.tabulate(50)(i => if (i % 3 == 0) 1.0f else -1.0f)))
      .toDF("id", "v")
    val both = df.select(
      graft.operators.Quantize.binarizeExpr(col("v")).as("a"),
      expr("vec_binarize(v)").as("b")).head()
    assert(both.getSeq[Long](0) == both.getSeq[Long](1))
    // hamming(x, x) = 0; jaccard(x, x) = 0; disjoint sets → jaccard 1
    val r = spark.sql(
      """SELECT hamming_distance(array(5L), array(6L)) AS h,
        |  jaccard_distance(array(5L), array(5L)) AS jself,
        |  jaccard_distance(array(1L), array(2L)) AS jdisj,
        |  jaccard_distance(array(0L), array(0L)) AS jempty""".stripMargin).head()
    assert(r.getLong(0) == 2) // 101 vs 110 differ in 2 bits
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 1.0)
    assert(r.isNullAt(3), "empty union must be null, not a division error")
  }

  test("vec_half_pack / vec_half_unpack: packed tier round-trips in SQL, byte-parity with the writer") {
    GraftFunctions.register(spark)
    // round trip through the PACKED 2-byte layout equals the array path
    val r = spark.sql(
      """SELECT vec_half_unpack(vec_half_pack(array(1.5D, -0.25D, 65504.0D, 0.0D))) u,
        |  vec_half_decode(vec_half_encode(array(1.5D, -0.25D, 65504.0D, 0.0D))) d,
        |  octet_length(vec_half_pack(array(1.5D, -0.25D, 65504.0D, 0.0D))) n""".stripMargin)
      .head()
    assert(r.getSeq[Float](0) == r.getSeq[Float](1))
    assert(r.getInt(2) == 8, "pack must be exactly 2 bytes per dim")
    // byte parity with the Half-codec index column: what SQL packs is what
    // the index stores
    val spark2 = spark
    import spark2.implicits._
    val one = Seq((1L, Seq(0.5, -2.0, 3.25))).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val viaSql = one.selectExpr("vec_half_pack(embedding) p").head().getAs[Array[Byte]](0)
    val viaLib = one.select(graft.functions.HalfExpressions.halfPack(col("embedding")).as("p"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, viaLib))
    // torn buffers fail loud (walk the wrapped-exception chain: Spark
    // may nest the require failure several causes deep)
    val e = intercept[Exception](
      spark.sql("SELECT vec_half_unpack(X'010203') u").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("binary16"), msgs)
  }

  test("extensions class injects without error") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // throws on malformed registration
  }

  test("sparse_dot rejects null array elements instead of scoring them as 0") {
    GraftFunctions.register(spark)
    // literal array(1, NULL) types as containsNull=true → validation path
    val err = intercept[Exception] {
      spark.sql("""SELECT sparse_dot(array(1, cast(NULL as int)), array(1.0D, 2.0D),
                                     array(1, 2), array(3.0D, 4.0D)) v""").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(err).exists(m => m != null && m.contains("null element")),
      messages(err).mkString(" | "))
    // non-null containsNull=true arrays still evaluate (parquet read-back shape)
    assert(spark.sql("""SELECT sparse_dot(array(1, 2), array(1.0D, 2.0D),
                                          array(2, 3), array(3.0D, 4.0D)) v""")
      .head().getDouble(0) == 6.0)
  }

  test("sparse_cosine_sim / sparse_l2sq reject nondeterministic arguments") {
    GraftFunctions.register(spark)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    for (fn <- Seq("sparse_cosine_sim", "sparse_l2sq")) {
      val err = intercept[Exception] {
        spark.sql(s"""SELECT $fn(array(1, 2), array(rand(), 1.0D),
                                 array(1, 2), array(1.0D, 1.0D)) v""").collect()
      }
      assert(messages(err).exists(m => m != null && m.contains("deterministic")),
        s"$fn: " + messages(err).mkString(" | "))
    }
    // deterministic inputs unaffected
    assert(math.abs(spark.sql("""SELECT sparse_cosine_sim(array(1, 2), array(1.0D, 0.0D),
                                  array(1, 2), array(1.0D, 0.0D)) v""").head().getDouble(0)
      - 1.0) < 1e-12)
  }

  test("wrong arity gives an argument-count error naming the function") {
    GraftFunctions.register(spark)
    val err = intercept[Exception] { spark.sql("SELECT zvalue(1)").collect() }
    // the builder's IllegalArgumentException may be wrapped by the analyzer;
    // the named-function message must survive to the caller
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(err).exists(m => m != null && m.contains("zvalue") && m.contains("argument")),
      messages(err).mkString(" | "))
    intercept[Exception] { spark.sql("SELECT vec_dot(array(1.0))").collect() }
  }
}
