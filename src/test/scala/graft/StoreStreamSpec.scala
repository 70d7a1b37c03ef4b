package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.VectorStore
import graft.streaming.DocStream

class StoreStreamSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("vector store: bucketed write, read round-trip, pruned point lookup") {
    val out = tmp("vstore")
    val docs = Tables.documents(spark, sfDir)
    val rows = docs.select(
      md5(concat(col("source"), lit("_"), col("doc_id"))).as("id"),
      expr("transform(sequence(1, 8), x -> cast(x as float))").as("embedding"),
      col("text").as("origntext"),
      concat(col("source"), lit("_"), col("doc_id"), lit(".pdf")).as("filename"),
      lit(1L).as("pagenumber"))
    VectorStore.write(rows, out, numBuckets = 8)
    // the declared schema: opening the store infers nothing
    val jobs = sparkJobs(VectorStore.read(spark, out).columns)
    assert(jobs.isEmpty, s"VectorStore.read ran Spark jobs (tasks): $jobs")
    val back = VectorStore.read(spark, out)
    assert(back.count() == 500)
    assert(back.columns.sorted.toSeq == Seq("embedding", "filename", "id", "origntext", "pagenumber"))

    val anyId = rows.select("id").head().getString(0)
    val hit = VectorStore.lookup(spark, out, anyId, numBuckets = 8)
    assert(hit.count() == 1)
    // partition pruning visible in the plan: the filter list must be
    // NON-empty (an empty "PartitionFilters: []" would mean a full scan)
    val plan = VectorStore.lookup(spark, out, anyId, numBuckets = 8)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
    assert(pf.exists(_.group(1).nonEmpty), plan.take(1500))
  }

  test("vector store: a missing or wrongly typed column fails the write, not the read") {
    val out = tmp("vstore_typed")
    val rows = spark.range(4).select(col("id").cast("string").as("id"),
      expr("array(cast(1 as float), cast(2 as float))").as("embedding"),
      lit("t").as("origntext"), lit("f.pdf").as("filename"), lit(1L).as("pagenumber"))
    val doubles = rows.withColumn("embedding", col("embedding").cast("array<double>"))
    val typed = intercept[IllegalArgumentException](VectorStore.write(doubles, out))
    assert(typed.getMessage.contains("array<double>"), typed.getMessage)
    val missing = intercept[IllegalArgumentException](
      VectorStore.write(rows.drop("pagenumber"), out))
    assert(missing.getMessage.contains(VectorStore.Schema), missing.getMessage)
    assert(!new java.io.File(out).list().exists(_.startsWith("bucket=")))
    VectorStore.write(rows, out, numBuckets = 2)
    assert(VectorStore.read(spark, out).where(col("pagenumber").isNull).isEmpty)
  }

  test("streaming curation gates match their batch execution exactly") {
    import graft.operators.Curation
    val in = tmp("curate_in")
    val docs = Tables.documents(spark, sfDir).limit(100)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    docs.write.mode("overwrite").parquet(in)
    // batch-derived boilerplate vocabulary, handed to the stream as a literal
    import spark.implicits._
    val vocab = Curation.boilerplateNgrams(docs, minDfFrac = 0.06)
      .select("ngram").as[String].collect().toSeq

    val stream = spark.readStream.schema(DocStream.inputSchema)
      .parquet(in)
    val curated = DocStream.curate(stream, vocab, maxRatio = 0.6,
      minChars = 100, langs = Set("en", "de"))
    val q = curated.writeStream.format("memory").queryName("curated_docs")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("curated_docs").select("doc_id").as[Long].collect().toSet

    // micro-batch execution must equal batch execution of the same gates
    val expect = DocStream.curate(docs, vocab, maxRatio = 0.6,
      minChars = 100, langs = Set("en", "de")).select("doc_id").as[Long].collect().toSet
    assert(got == expect)
    // and the gates are non-vacuous on this corpus
    assert(got.nonEmpty && got.size < 100)
  }

  test("streaming ingest: file-source backlog → chunk+embed → parquet store") {
    val in = tmp("stream_in"); val out = tmp("stream_out"); val ck = tmp("stream_ck")
    Tables.documents(spark, sfDir).limit(50)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(in)
    val q = DocStream.start(spark, in, out, ck, availableNow = true)
    q.awaitTermination(120000)
    val res = spark.read.parquet(out)
    assert(res.count() >= 50)
    assert(res.columns.sorted.toSeq ==
      Seq("embedding", "filename", "id", "origntext", "pagenumber"))
    assert(res.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(64))
  }
}
