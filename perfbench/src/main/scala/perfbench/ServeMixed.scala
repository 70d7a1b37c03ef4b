package perfbench

import java.nio.file.{Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.PromptFunctions
import graft.operators.{IvfIndex, Knn}
import graft.pipeline.{Embedder, PdfCodec, PdfPipeline, Summarizer}
import graft.sources.VectorStore

/** The reference system end to end, on one store and its IVF index.
  *
  * Set-up ingests a corpus of PDF blobs through the reference ingest path
  * (`extractPagesPdf` → `chunkRows(7500, 300)` → `Embedder.embed` →
  * `VectorStore.write`) and builds a 64-cell IVF index over it. Then one
  * client runs a seeded mix in a closed loop: the reference request over
  * an exact scan (`query`), the same request over the index (`ann`), and
  * the upload of one new PDF through the same ingest path, appended to the
  * store and the index (`insert`). */
final class ServeMixed(seed: Long, dir: Path) extends Workload(seed, dir) {
  val Docs = 200
  val Dim = 256
  val Topics = 16
  val Cells = 64
  val NProbe = 8
  val TrainIters = 1
  val TrainSamplePercent = 12
  val K = 5
  val headline = "query"
  val itemsPerOp = 1.0
  val traceOps = 10
  // The three operation types get equal shares: the reference states no
  // traffic mix, so this is an assumption. Every round holds one of each,
  // in a seeded order, and the timed loop runs whole rounds, so every run
  // measures the same mix.
  private val Deck = Seq("query", "ann", "insert")
  override def opsPerRound: Int = Deck.size
  // untimed, counted in set-up: the first requests of a JVM run 2-4x
  // slower than steady state (JIT, code generation)
  private val WarmUp = Seq.fill(4)(Deck).flatten

  private def blobs = dir.resolve("data/blobs").toString
  private def store = dir.resolve("data/store").toString
  private def index = dir.resolve("data/ivf").toString
  private val embedClient = new CountingEmbedClient(seed)
  private val chatClient = new CountingChatClient(seed)
  private var topicWords: Array[Array[String]] = Array.empty
  private var common: Array[String] = Array.empty
  private var setupTimes = Map.empty[String, Double]

  /** A generated PDF and what the oracle expects from it. */
  final case class Doc(id: Long, pages: Seq[String]) {
    lazy val bytes: Array[Byte] = PdfCodec.encodePdf(pages)
    lazy val chunked: Seq[(Seq[String], Int)] = pages.map(Gen.referenceChunks(_, 7500, 300))
    def chunks: Int = chunked.map(_._1.size).sum
    def hardSplits: Int = chunked.map(_._2).sum
  }
  private var corpus: Seq[Doc] = Nil

  /** A served exact request, kept for the brute-force check. */
  final case class Served(pass: Int, i: Int, text: String, hits: Seq[(String, Double)])
  private val served = ArrayBuffer.empty[Served]
  private val inserted = ArrayBuffer.empty[(Int, Int, Doc)] // (pass, i, doc)
  private val storeFilesAtQuery = ArrayBuffer.empty[Int]    // traced queries only
  private var tracedStoreFiles = (0, 0L, 0, 0L)             // files, bytes before and after
  private var tracedStoreRows = 0L                          // rows appended in the traced pass
  // outputs of the traced pass, materialized at each layer boundary
  private val tracedPages = ArrayBuffer.empty[DataFrame]
  private val tracedChunks = ArrayBuffer.empty[DataFrame]
  private val cellsProbed = ArrayBuffer.empty[Long]         // index partitions each ann read
  private var eventsTraced = 0L
  private var degradedRows = 0L

  def build(): Unit = {
    val rng = new SplittableRandom(seed)
    val vocab = Gen.vocabulary(rng, Topics * 40 + 1000)
    topicWords = vocab.take(Topics * 40).grouped(40).toArray
    common = vocab.drop(Topics * 40)
    corpus = (0 until Docs).map(d => doc(d.toLong, new SplittableRandom(seed * 7919L + d)))
    spark.createDataFrame(corpus.map(d => (d.id, d.bytes))).toDF("doc_id", "content")
      .repartition(4).write.parquet(blobs)
    val t0 = System.nanoTime()
    VectorStore.write(ingest(spark.read.parquet(blobs)), store)
    val t1 = System.nanoTime()
    val vectors = VectorStore.read(spark, store).select("id", "embedding")
    val model = IvfIndex.train(vectors, Cells, TrainIters, idCol = "id",
      samplePercent = TrainSamplePercent)
    val t2 = System.nanoTime()
    IvfIndex.writeIndex(vectors, model, index, idCol = "id")
    val t3 = System.nanoTime()
    setupTimes = Map("ingest_s" -> (t1 - t0) / 1e9, "ivf_train_s" -> (t2 - t1) / 1e9,
      "ivf_write_s" -> (t3 - t2) / 1e9)
  }

  def warmUp(): Unit = WarmUp.indices.foreach(j => op(-1, j, WarmUp(j)))

  /** One PDF on one topic, 1-6 pages. 12% of pages run past 7500 chars,
    * and half of those hold a punctuation-free run over the split window,
    * so the chunker takes its hard-split fallback there. */
  private def doc(id: Long, r: SplittableRandom): Doc = {
    val word = topicWord(r)
    Doc(id, (1 to Gen.between(r, 1, 6)).map { _ =>
      val long = r.nextInt(100) < 12
      page(r, word, if (long) Gen.between(r, 7600, 15000) else Gen.between(r, 300, 900),
        hardSplit = long && r.nextBoolean())
    })
  }

  /** An uploaded PDF, of a fixed shape so that every insert adds the same
    * number of chunks, and so of store and index files, whatever the seed:
    * a short page, a long page and a long page with a punctuation-free run,
    * each long page under 14000 chars and so two chunks; five in all. */
  private def upload(id: Long, r: SplittableRandom): Doc = {
    val word = topicWord(r)
    Doc(id, Seq(page(r, word, Gen.between(r, 300, 900), hardSplit = false),
      page(r, word, Gen.between(r, 7600, 14000), hardSplit = false),
      page(r, word, Gen.between(r, 7600, 14000), hardSplit = true)))
  }

  /** Three words in four come from one topic's 40, the rest from 1000
    * common ones. */
  private def topicWord(r: SplittableRandom): () => String = {
    val topic = topicWords(r.nextInt(Topics))
    () => if (r.nextInt(4) < 3) Gen.pick(r, topic) else Gen.pick(r, common)
  }

  /** A page of sentences of at least `length` chars. With `hardSplit`, it
    * opens with a run whose last '.' lands below 7200 while its words run
    * past 7500. */
  private def page(r: SplittableRandom, word: () => String, length: Int,
                   hardSplit: Boolean): String = {
    val sb = new StringBuilder
    if (hardSplit) {
      Gen.sentences(r, sb, 6900, word)
      while (sb.length < 7700) sb.append(' ').append(word())
      sb.append('.')
    }
    Gen.sentences(r, sb, length, word)
    sb.toString
  }

  /** The reference ingest path over PDF blobs `(doc_id, content)`, as
    * store rows. Chunk ids are `<doc_id * 1000 + page>-<chunk_idx>`. */
  private def ingest(pdfs: DataFrame): DataFrame = {
    val pages = tracer.span(Layers.Pdf)(tracer.force(PdfPipeline.extractPagesPdf(pdfs)))
    val keyed = pages.select((col("doc_id") * 1000 + col("page_no")).as("page_key"),
      concat(lit("doc-"), col("doc_id").cast("string"), lit(".pdf")).as("source"),
      col("page_text").as("text"))
    val chunks = tracer.span(Layers.Chunk)(tracer.force(
      PdfPipeline.chunkRows(keyed, 7500, 300, idCol = "page_key", textCol = "text")))
    if (tracer.on) { tracedPages += pages; tracedChunks += chunks }
    val embedded = tracer.span(Layers.Embed)(tracer.force(
      Embedder.embed(chunks, "chunk", Dim, batchSize = 32, client = embedClient)))
    embedded.select(
      concat_ws("-", col("page_key").cast("string"), col("chunk_idx").cast("string")).as("id"),
      col("embedding"), col("chunk").as("origntext"), col("source").as("filename"),
      (col("page_key") % 1000).as("pagenumber"))
  }

  private def kindOf(i: Int): String = {
    val deck = Deck.toArray
    val r = new SplittableRandom(seed * 31L + i / Deck.size)
    for (j <- deck.indices.reverse) { // Fisher-Yates, one shuffle per round
      val k = r.nextInt(j + 1)
      val t = deck(j); deck(j) = deck(k); deck(k) = t
    }
    deck(i % Deck.size)
  }

  def run(i: Int): String = op(pass, i, kindOf(i))

  /** Six words of one topic: the request text. */
  private def queryText(key: Long): String = {
    val r = new SplittableRandom(seed * 104729L + key)
    val topic = topicWords(r.nextInt(Topics))
    Seq.fill(6)(Gen.pick(r, topic)).mkString(" ")
  }

  private def op(p: Int, i: Int, kind: String): String = {
    val key = (p + 2) * 100000L + i
    kind match {
      case "insert" =>
        val d = upload(10000000L + key, new SplittableRandom(seed * 15485863L + key))
        // the chunks are embedded once, then written and appended
        val rows = ingest(spark.createDataFrame(Seq((d.id, d.bytes))).toDF("doc_id", "content"))
          .localCheckpoint(eager = true)
        tracer.span(Layers.Store)(VectorStore.write(rows, store, mode = SaveMode.Append))
        tracer.span(Layers.Ivf)(IvfIndex.appendIndex(spark, index, rows.select("id", "embedding"),
          idCol = "id"))
        inserted += ((p, i, d))
      case _ =>
        val text = queryText(key)
        if (kind == "query" && tracer.on) storeFilesAtQuery += Main.dataFiles(Paths.get(store))._1
        val q = tracer.span(Layers.Embed)(tracer.force(Embedder.embed(
          spark.createDataFrame(Seq(Tuple1(text))).toDF("query"), "query", Dim,
          batchSize = 32, client = embedClient)))
        val hits = if (kind == "query") tracer.span(Layers.Knn)(tracer.force(
          Knn.topK(VectorStore.read(spark, store), q, Knn.L2, K, idCol = "id")))
        else {
          val found = IvfIndex.searchIndex(spark, index, q.withColumn("qid", lit(0L)), K, NProbe,
            idCol = "id").select(col("id"), (lit(1.0) - col("cos")).as("dist"))
          val out = tracer.span(Layers.Ivf)(tracer.force(found))
          if (tracer.on) cellsProbed += Scans.metric(found, "numPartitions")
          out
        }
        val withMeta = tracer.span(Layers.Store)(tracer.force(
          VectorStore.read(spark, store).select("id", "origntext", "filename", "pagenumber")
            .join(broadcast(hits), "id")))
        val summed = tracer.span(Layers.Summarize)(tracer.force(Summarizer.summarizeDynamic(
          withMeta.withColumn("query", lit(text)), "origntext", "query", client = chatClient)))
        val events = tracer.span(Layers.Summarize) {
          val ev = Summarizer.serveEvents(
            summed.withColumn("url", PromptFunctions.blobPageUrl(lit("documentsearch1"),
              lit("pdfs"), col("filename"), col("pagenumber"))),
            idCol = "id", urlCol = "url", pageCol = "pagenumber", fileCol = "filename")
            .select("id", "dist", "ev_seq", "payload")
          tracer.plan(ev)
          ev.collect()
        }
        if (p == 1) eventsTraced += events.length
        if (kind == "query")
          served += Served(p, i, text,
            events.map(r => (r.getString(0), r.getDouble(1))).distinct.toSeq)
    }
    kind
  }

  /** Runs the traced pass with the store's files and rows counted
    * around it. */
  override def tracedPass[T](body: => T): T = {
    val (f0, b0) = Main.dataFiles(Paths.get(store))
    val r0 = VectorStore.read(spark, store).count()
    val out = body
    val (f1, b1) = Main.dataFiles(Paths.get(store))
    tracedStoreFiles = (f0, b0, f1, b1)
    tracedStoreRows = VectorStore.read(spark, store).count() - r0
    out
  }

  private def docOf(id: String): Long = id.takeWhile(_ != '-').toLong / 1000

  def finish(samples: Seq[Sample]): Outcome = {
    val failures = ArrayBuffer.empty[String]
    val insertedAt = inserted.map { case (p, i, d) => d.id -> (p, i) }.toMap
    val rows = VectorStore.read(spark, store).select("id", "embedding", "origntext").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray, r.getString(2)))
    // every page's chunks, in chunk order, concatenate back to the text
    // its PDF was generated from, and the store holds exactly the chunks
    // the reference chunker makes
    val docs = corpus ++ inserted.map(_._3)
    val expected = docs.flatMap(d =>
      d.pages.zipWithIndex.map { case (t, p) => (d.id * 1000 + p + 1) -> t }).toMap
    val got = rows.map { case (id, _, text) =>
      val Array(page, idx) = id.split("-").map(_.toLong)
      (page, idx, text)
    }.groupBy(_._1).map { case (p, cs) => p -> cs.sortBy(_._2).map(_._3).mkString }
    val roundTrip = expected.count { case (p, t) => got.get(p).contains(t) }
    if (roundTrip != expected.size)
      failures += s"${expected.size - roundTrip} of ${expected.size} pages do not round-trip"
    if (got.size != expected.size) failures += s"${got.size} pages stored, expected ${expected.size}"
    if (rows.length != docs.map(_.chunks).sum)
      failures += s"${rows.length} store rows, expected ${docs.map(_.chunks).sum}"
    val degraded = rows.count(_._2.forall(_ == 0f)).toLong
    degradedRows = degraded
    if (degraded > 0) failures += s"$degraded all-zero vectors in the store"
    // a sample of served exact requests against a driver-side brute force
    // over the rows the store held when each request ran
    def presentAt(p: Int, i: Int)(id: String): Boolean =
      insertedAt.get(docOf(id)).forall { case (ip, ii) => ip < p || (ip == p && ii < i) }
    served.grouped(3).map(_.head).take(8).foreach { s =>
      val qv = Embedder.embedText(s.text, Dim)
      val truth = rows.filter(r => presentAt(s.pass, s.i)(r._1))
        .map(r => r._1 -> l2(qv, r._2)).sortBy(_._2)
      val kth = truth(K - 1)._2
      val exact = truth.toMap
      if (s.hits.size != K) failures += s"query ${s.pass}/${s.i}: ${s.hits.size} hits"
      s.hits.foreach { case (id, d) =>
        if (!exact.get(id).exists(t => t <= kth + 2e-4 && math.abs(t - d) <= 2e-4))
          failures += s"query ${s.pass}/${s.i}: hit $id at $d is not in the exact top-$K"
      }
    }
    // every inserted document is retrievable by point lookup of its
    // first chunk (the round-trip and row-count checks above cover all of
    // its chunks)
    val insertedIds = rows.map(_._1).filter(id => insertedAt.contains(docOf(id)))
    val lookedUp = insertedIds.groupBy(docOf).values.map(_.min).toSeq.sorted
    lookedUp.foreach { id =>
      val n = VectorStore.lookup(spark, store, id).count()
      if (n != 1) failures += s"inserted id $id: lookup found $n rows"
    }
    val recall = annRecall()
    val bytesPerChunk = Main.dataFiles(Paths.get(store))._2.toDouble / rows.length
    def p(kind: String, q: Double) =
      Main.quantile(samples.filter(s => s.kind == kind && s.ok).map(_.ms), q)
    Outcome(
      quality = recall,
      bytesPerItem = bytesPerChunk,
      degraded = degraded,
      failures = failures.take(20).toSeq,
      report = Seq(
        ("query_p50_ms", p("query", 0.5), "ms"), ("query_p90_ms", p("query", 0.9), "ms"),
        ("ann_p50_ms", p("ann", 0.5), "ms"), ("ann_p90_ms", p("ann", 0.9), "ms"),
        ("insert_p50_ms", p("insert", 0.5), "ms"),
        ("ann_recall_at_5", recall, "ratio"),
        ("ingest_docs_per_s", Docs / setupTimes("ingest_s"), "1/s"),
        ("store_bytes_per_chunk", bytesPerChunk, "B"),
        ("inserted_chunks", insertedIds.length.toDouble, "count"),
        ("inserted_ids_looked_up", lookedUp.size.toDouble, "count")) ++
        setupTimes.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "s") })
  }

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    math.sqrt(s)
  }

  /** IVF top-5 against exact `Knn.topKBatch` on the final state, over 40
    * seeded request texts. Untimed. */
  private def annRecall(): Double = {
    val qs = spark.createDataFrame((0 until 40).map(j => (j.toLong, queryText(-1000L - j))))
      .toDF("qid", "query")
    val q = Embedder.embed(qs, "query", Dim, batchSize = 32).localCheckpoint()
    def ids(df: DataFrame) = df.select("qid", "id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    val exact = ids(Knn.topKBatch(VectorStore.read(spark, store), q, Knn.L2, K, idCol = "id"))
    val ann = ids(IvfIndex.searchIndex(spark, index, q, K, NProbe, idCol = "id"))
    exact.map { case (k, ids) => (ids & ann.getOrElse(k, Set.empty)).size.toDouble / ids.size }
      .sum / exact.size
  }

  def layerMetrics(samples: Seq[Sample], listener: LayerListener): Map[String, Double] = {
    val queries = samples.count(_.kind == "query").max(1).toDouble
    val anns = samples.count(_.kind == "ann").max(1).toDouble
    val knn = listener.byLayer(Layers.Knn)
    // traced operation i is samples(i); spans carry their operation's id
    def seconds(layer: String, kind: String) = tracer.totalSeconds(layer,
      samples.indices.filter(samples(_).kind == kind).map(_.toLong).toSet)
    val docs = inserted.filter(_._1 == 1).map(_._3)
    val (f0, b0, f1, b1) = tracedStoreFiles
    val e = Seams.embed.snapshot
    val c = Seams.chat.snapshot
    // what chunkRows emitted: a split that found no punctuation cuts at
    // maxLen - lookback, where a punctuation split cuts further on
    val chunks = tracedChunks.flatMap(_.select("page_key", "chunk_idx", "chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).length)))
    val lastChunk = chunks.groupBy(_._1).map { case (k, cs) => k -> cs.map(_._2).max }
    val hardSplits = chunks.count { case (k, i, len) => i < lastChunk(k) && len == 7500 - 300 }
    Map(
      "pipeline.pdf.docs" -> docs.size.toDouble,
      "pipeline.pdf.pages" -> tracedPages.map(_.count()).sum.toDouble,
      "pipeline.pdf.bytes_in" -> docs.map(_.bytes.length.toDouble).sum,
      "pipeline.chunk.chunks" -> chunks.size.toDouble,
      "pipeline.chunk.hard_splits" -> hardSplits.toDouble,
      "pipeline.embed.requests" -> e.requests.toDouble,
      "pipeline.embed.texts" -> e.items.toDouble,
      "pipeline.embed.texts_per_request" -> e.items.toDouble / math.max(1L, e.requests - e.retries),
      "pipeline.embed.retries" -> e.retries.toDouble,
      "pipeline.embed.model_s" -> e.nanos / 1e9,
      "pipeline.embed.degraded_rows" -> degradedRows.toDouble,
      "pipeline.summarize.requests" -> c.requests.toDouble,
      "pipeline.summarize.pairs" -> c.items.toDouble,
      "pipeline.summarize.model_s" -> c.nanos / 1e9,
      "pipeline.summarize.events" -> eventsTraced.toDouble,
      "sources.store.rows_written" -> tracedStoreRows.toDouble,
      "sources.store.files_written" -> (f1 - f0).toDouble,
      "sources.store.bytes_written" -> (b1 - b0).toDouble,
      "sources.store.write_s" -> seconds(Layers.Store, "insert"),
      "sources.store.files_read_per_query" -> storeFilesAtQuery.sum / queries,
      "operators.knn.rows_scanned" -> knn.inputRows.sum / queries,
      "operators.knn.jobs_per_request" -> knn.jobs.sum / queries,
      "operators.ivf.train_s" -> setupTimes("ivf_train_s"),
      "operators.ivf.write_s" -> setupTimes("ivf_write_s"),
      "operators.ivf.search_s" -> seconds(Layers.Ivf, "ann"),
      "operators.ivf.append_s" -> seconds(Layers.Ivf, "insert"),
      "operators.ivf.cells_probed" -> cellsProbed.sum / anns,
      "operators.ivf.candidate_rows" -> listener.byLayer(Layers.Ivf).inputRows.sum / anns,
      "operators.ivf.index_files" -> Main.dataFiles(Paths.get(index))._1.toDouble)
  }

  def inputs: Seq[(String, Double)] = Seq(
    "docs" -> Docs.toDouble,
    "pages" -> corpus.map(_.pages.size).sum.toDouble,
    "pages_over_7500" -> corpus.flatMap(_.pages).count(_.length > 7500).toDouble,
    "pdf_bytes" -> corpus.map(_.bytes.length.toDouble).sum,
    "text_chars" -> corpus.flatMap(_.pages).map(_.length.toDouble).sum,
    "chunks" -> corpus.map(_.chunks).sum.toDouble,
    "hard_splits" -> corpus.map(_.hardSplits).sum.toDouble,
    "dim" -> Dim.toDouble, "ivf_cells" -> Cells.toDouble, "nprobe" -> NProbe.toDouble,
    "inserted_docs" -> inserted.size.toDouble)
}
