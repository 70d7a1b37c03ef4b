package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Sparse-vector retrieval — pgvector `sparsevec` parity, re-scoped for
  * a distributed engine. pgvector 0.7 added the sparse opclasses for
  * learned sparse embeddings (SPLADE-style) and classic TF features;
  * graft carries the same surface as (indices ASC, values) array pairs:
  *
  *  - row-local kernels [[sparseDot]]/[[sparseCosine]]/[[sparseL2Sq]]
  *    (pgvector `<#>`/`<=>`/`<->` over sparsevec), built from map-lookup
  *    HOFs — the scalar surface for filters and reranks;
  *  - the SCALE path [[topK]]: a sparse dot product is a posting-list
  *    intersection, so the corpus side explodes once into (term, value)
  *    postings — the inverted index, the exact shape [[TextSearch]]'s
  *    BM25 already proved out — queries broadcast their terms, partial
  *    products meet in ONE groupBy, and zero-overlap (doc, query) pairs
  *    NEVER materialize (a dense KNN scores every pair; sparse scoring
  *    touches only docs sharing a term — that asymmetry is the entire
  *    point of sparse retrieval at 100 TB);
  *  - [[hashingTf]] featurization (the hashing trick / HashingVectorizer):
  *    whitespace tokens of the canonical text land in `dim` buckets via
  *    the engine-independent salted-md5 of [[Sampling.hashBucket]], value
  *    = term frequency — so corpus featurization is replayable in the
  *    DuckDB oracle and stable under any partitioning.
  *
  * Deterministic throughout: sorted indices, cosine rounded to `scale`
  * before ranking, (score, id) tie-breaks.
  */
object SparseKnn {

  /** Hashing-trick TF sparse vectors: one row per input doc that has at
    * least one token — `(idCol, indices ASC array<long>, values
    * array<double>)` with value = term frequency of the bucket. */
  def hashingTf(docs: DataFrame, dim: Int = 1024, idCol: String = "doc_id",
                textCol: String = "text", salt: String = "graft-tf"): DataFrame =
    pack(hashedTf(docs, dim, idCol, textCol, salt), idCol, "__tf")

  /** Whitespace tokens of the canonical text, empties dropped:
    * `(idCol, __tok)`. */
  private def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        explode(split(TextFunctions.canonicalText(col(textCol)), " ")).as("__tok"))
      .where(col("__tok") =!= "")

  /** The hashing-trick tf stage: `(idCol, __b, __tf)`, one row per
    * (doc, bucket). */
  private def hashedTf(docs: DataFrame, dim: Int, idCol: String, textCol: String,
                       salt: String): DataFrame =
    tokens(docs, idCol, textCol)
      .select(col(idCol), Sampling.hashBucket(col("__tok"), salt, dim).as("__b"))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).cast("double").as("__tf"))

  /** `(idCol, __b, valueCol)` rows packed into the sparsevec pair
    * `(idCol, indices ASC, values)`. */
  private def pack(weights: DataFrame, idCol: String, valueCol: String): DataFrame =
    weights
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__b"), col(valueCol)))).as("__sv"))
      .select(col(idCol),
        transform(col("__sv"), s => s.getField("__b")).as("indices"),
        transform(col("__sv"), s => s.getField(valueCol)).as("values"))

  /** TF-IDF-weighted hashed sparse vectors: [[hashingTf]]'s buckets with
    * value = tf · (ln((N+1)/(df+1)) + 1) — sklearn's smooth idf, strictly
    * positive. N counts docs with ≥1 token and df counts docs containing
    * the bucket, both computed in the same pass (one bucket-sized groupBy
    * + one 1-row broadcast — nothing corpus-sized moves beyond the tf
    * stage itself). Weights round to `scale` so the featurization is
    * engine-replayable like the tf variant. */
  def hashingTfIdf(docs: DataFrame, dim: Int = 1024, idCol: String = "doc_id",
                   textCol: String = "text", salt: String = "graft-tf",
                   scale: Int = 6): DataFrame = {
    val tf = hashedTf(docs, dim, idCol, textCol, salt)
    val dfreq = tf.groupBy(col("__b")).agg(count(lit(1)).cast("double").as("__df"))
    val nRow = tf.select(col(idCol)).distinct()
      .agg(count(lit(1)).cast("double").as("__n"))
    pack(tf.join(dfreq, Seq("__b"))
      .crossJoin(broadcast(nRow))
      .select(col(idCol), col("__b"),
        round(col("__tf") * (log((col("__n") + 1.0) / (col("__df") + 1.0)) + 1.0), scale)
          .as("__w")), idCol, "__w")
  }

  /** SPLADE-style learned sparse embeddings — deterministic stand-in for
    * the MLM term-expansion model (Formal et al. 2021, SPLADE v2;
    * pgvector 0.7's sparsevec opclasses exist precisely to serve these).
    * The real model scores every vocab term per token position and
    * max-pools; offline, the engine keeps the exact SPLADE structure
    * with a replayable expansion in place of the learned weights:
    *
    *  - log-saturated term weight `ln(1 + tf)` (SPLADE's saturation —
    *    the paper's answer to raw-TF dominance);
    *  - each distinct token ALSO fires `expansions` extra vocab buckets
    *    (salted-md5 of the token under a per-level salt, the same
    *    engine-independent hash as [[hashingTf]]) with geometrically
    *    decayed weight `decay^e · ln(1+tf)` — the document now matches
    *    queries sharing no surface term, which is the entire point of
    *    learned sparse retrieval;
    *  - MAX-pooling per bucket across all contributing (token, level)
    *    pairs — SPLADE pools max over token positions, and max (unlike
    *    sum) keeps hash-collision buckets bounded;
    *  - weights rounded to `scale` so featurization replays hash-exact
    *    in any engine (the [[hashingTfIdf]] contract).
    *
    * A swap to real learned weights is a drop-in: replace the expansion
    * lambda with model scores, everything downstream ([[topK]],
    * [[writeIndex]], [[topKFromIndex]]) is weight-agnostic. Output shape
    * is the sparsevec pair `(idCol, indices ASC, values)`. */
  def spladeExpand(docs: DataFrame, dim: Int = 1024, idCol: String = "doc_id",
                   textCol: String = "text", salt: String = "graft-splade",
                   expansions: Int = 2, decay: Double = 0.5,
                   scale: Int = 6): DataFrame = {
    require(expansions >= 0, s"spladeExpand: expansions must be >= 0, got $expansions")
    require(decay > 0.0 && decay <= 1.0, s"spladeExpand: decay must be in (0,1], got $decay")
    val tf = tokens(docs, idCol, textCol)
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).cast("double").as("__tf"))
    pack(tf
      .select(col(idCol), col("__tok"), col("__tf"),
        explode(expr(s"sequence(0, $expansions)")).as("__e"))
      .select(col(idCol),
        pmod(conv(substring(md5(concat(lit(s"$salt-e"), col("__e").cast("string"),
          col("__tok"))), 1, 8), 16, 10).cast("long"), lit(dim)).as("__b"),
        (pow(lit(decay), col("__e")) * log(col("__tf") + 1.0)).as("__w"))
      .groupBy(col(idCol), col("__b"))
      .agg(round(max(col("__w")), scale).as("__v")), idCol, "__v")
  }

  /** [[spladeExpand]] through the pluggable featurizer seam
    * ([[graft.pipeline.SparseEmbeddingClient]], VERDICT r13 #7): a
    * batched narrow `mapPartitions` pass calling `client.expandBatch` —
    * the plumbing shape of [[graft.pipeline.Embedder.embed]], with the
    * engine-side retry loop so every client gets the same failure
    * semantics. The default [[graft.pipeline.DeterministicSparseClient]]
    * reproduces [[spladeExpand]]'s md5 expansion ROW-FOR-ROW (spec-
    * pinned), so swapping in a REAL learned-sparse model
    * ([[graft.pipeline.HttpSparseClient]], TEI `/embed_sparse`) changes
    * neither the plan shape nor the `(id, indices ASC, values)` index
    * format — everything downstream ([[topK]], [[writeIndex]],
    * [[topKFromIndex]], the SQL lifecycle) is weight-agnostic. Docs
    * whose expansion is EMPTY (no tokens) are dropped, matching the
    * declarative path's groupBy semantics. */
  def spladeExpandWith(docs: DataFrame, client: graft.pipeline.SparseEmbeddingClient,
                       dim: Int = 1024, idCol: String = "doc_id",
                       textCol: String = "text", batchSize: Int = 32,
                       maxRetries: Int = 3): DataFrame = {
    import org.apache.spark.sql.types._
    require(dim > 0, s"spladeExpandWith: dim must be positive, got $dim")
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("indices", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("values", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    // project first (the synthesizeImages convention)
    val slim = docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
    slim.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // NULL text must behave like the declarative twin (which drops
        // such rows via the tokenizer), not NPE inside the client — the
        // Embedder.embed null-guard convention
        val texts = batch.map(r => Option(r.getString(1)).getOrElse(""))
        var attempt = 0
        var out: Seq[(Array[Long], Array[Double])] = null
        var lastErr: Throwable = null
        while (out == null && attempt < maxRetries) {
          // retry TRANSPORT failures only: NonFatal keeps OOM/linkage
          // errors fatal, and the contract checks below run OUTSIDE the
          // loop — a deterministic client bug fails once, loudly, not
          // maxRetries times disguised as a flaky network
          try out = client.expandBatch(texts, dim)
          catch {
            case ie: InterruptedException => Thread.currentThread().interrupt(); throw ie
            case scala.util.control.NonFatal(e) => lastErr = e; attempt += 1
          }
        }
        if (out == null) throw new RuntimeException(
          s"spladeExpandWith: client failed $maxRetries times", lastErr)
        require(out.length == texts.length,
          s"SparseEmbeddingClient returned ${out.length} vectors for ${texts.length} texts")
        batch.iterator.zip(out.iterator).flatMap { case (r, (idx, vs)) =>
          require(idx.length == vs.length,
            s"SparseEmbeddingClient: ${idx.length} indices vs ${vs.length} values")
          var i = 1
          while (i < idx.length) {
            require(idx(i) > idx(i - 1),
              "SparseEmbeddingClient: indices must be strictly ascending")
            i += 1
          }
          require(idx.isEmpty || (idx(0) >= 0 && idx(idx.length - 1) < dim),
            s"SparseEmbeddingClient: index out of [0, $dim)")
          if (idx.isEmpty) Iterator.empty
          else Iterator(org.apache.spark.sql.Row(r.getLong(0), idx.toSeq, vs.toSeq))
        }
      }
    }(enc)
  }

  /** Row-local sparse dot product — the native codegen'd kernel
    * ([[graft.functions.SparseDotExpr]]): a two-pointer merge over the
    * SORTED index arrays, zero allocation, whole-stage-codegen'd (the
    * HOF formulation builds a map per row and interprets lambdas per
    * element — CodegenFallback). Indices must be ascending, the
    * [[hashingTf]] output shape and pgvector's sparsevec invariant. */
  def sparseDot(aIdx: Column, aVal: Column, bIdx: Column, bVal: Column): Column =
    graft.functions.SparseExpressions.sparseDot(aIdx, aVal, bIdx, bVal)

  /** L2 norm of a sparse vector: √⟨a,a⟩ (self-dot matches every index). */
  def sparseNorm(idx: Column, values: Column): Column =
    sqrt(sparseDot(idx, values, idx, values))

  /** Sparse cosine SIMILARITY (zero-norm sides yield null — filter or
    * coalesce at the call site, same contract as a SQL division). */
  def sparseCosine(aIdx: Column, aVal: Column, bIdx: Column, bVal: Column): Column =
    sparseDot(aIdx, aVal, bIdx, bVal) /
      nullif(sparseNorm(aIdx, aVal) * sparseNorm(bIdx, bVal), lit(0.0))

  /** Sparse squared L2 distance: ‖a‖² + ‖b‖² − 2⟨a,b⟩. */
  def sparseL2Sq(aIdx: Column, aVal: Column, bIdx: Column, bVal: Column): Column =
    sparseDot(aIdx, aVal, aIdx, aVal) + sparseDot(bIdx, bVal, bIdx, bVal) -
      lit(2.0) * sparseDot(aIdx, aVal, bIdx, bVal)

  /** Persist a sparse postings index — the [[TextSearch.writeBm25Index]]
    * shape generalized past BM25 to ARBITRARY sparse vectors (TF,
    * TF-IDF, SPLADE-style learned weights): the corpus explodes ONCE
    * into (term, id, value, doc-norm) postings written `bucketBy(term)`,
    * so the corpus-token-sized shuffle is paid at build and every query
    * after reads only its terms' buckets via bucket pruning. Rebuild on
    * corpus change, like any search index. */
  def writeIndex(sv: DataFrame, table: String, path: String,
                 idCol: String = "doc_id", numBuckets: Int = 16): Unit = {
    require(numBuckets >= 1, s"SparseKnn.writeIndex: numBuckets must be >= 1, got $numBuckets")
    postings(sv, idCol)
      .write.mode("overwrite")
      .bucketBy(numBuckets, "__t").sortBy("__t")
      .format("parquet").option("path", s"$path/postings")
      .saveAsTable(table)
  }

  /** Persist an INDEXED sparse-vector store: the `(idCol, indices,
    * values)` rows as plain parquet at `path`, the postings index under
    * `path/_postings` (underscore-prefixed, so the store scan never
    * lists it — the [[IvfIndex]] sidecar convention), and a
    * `_sparse_index.json` sidecar naming the postings table — the hook
    * [[graft.plans.SparseScanRewriteRule]] keys on to turn
    * `ORDER BY sparse_dot(indices, values, <literal>) DESC LIMIT k`
    * over this store into the posting-intersection plan automatically. */
  def writeIndexedStore(spark: org.apache.spark.sql.SparkSession, sv: DataFrame,
                        table: String, path: String, idCol: String = "doc_id",
                        numBuckets: Int = 16): Unit = {
    sv.write.mode("overwrite").parquet(path)
    // postings from the persisted bytes, so index and store can't drift
    writeIndex(spark.read.parquet(path), table, s"$path/_postings", idCol, numBuckets)
    val p = new org.apache.hadoop.fs.Path(path, "_sparse_index.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    // Jackson-serialized (not string interpolation): quotes/backslashes
    // in a table name or path must escape, or the reader misparses
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("table", table)
    node.put("idCol", idCol)
    node.put("postings", s"$path/_postings/postings")
    try out.write(om.writeValueAsBytes(node))
    finally out.close()
  }

  /** Incrementally grow a persisted postings index: NEW docs' postings
    * append to the bucketed catalog table under its OWN bucket spec
    * (read from the catalog, so a mismatch is impossible), and every
    * query keeps bucket pruning. Doc norms are row-local, so appended
    * batches score identically to a one-shot rebuild — spec-pinned.
    * Contract: ids not already indexed (re-appending an id duplicates
    * its postings — dedup upstream, the [[IvfIndex.appendIndex]]
    * convention). Each append lands ≥1 file per touched bucket; watch
    * [[fileStats]]/[[needsCompaction]] and run [[compactIndex]] before
    * the listing, not the bytes, hurts scheduling — the 100 TB
    * maintenance axis [[IvfIndex.compactIndex]] covers for the dense
    * stores. */
  def appendIndex(spark: org.apache.spark.sql.SparkSession, sv: DataFrame,
                  table: String, idCol: String = "doc_id"): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val nb = meta.bucketSpec.map(_.numBuckets).getOrElse(throw new IllegalArgumentException(
      s"SparseKnn.appendIndex: table $table carries no bucket spec — not a postings index"))
    // REFUSE re-appending a tombstoned id (the [[Hnsw.appendIndexSharded]]
    // convention): merely clearing the tombstone would resurrect the id's
    // OLD postings too — they stay physically in the index until
    // [[compactIndex]] — so a scored query would sum old+new term values
    // and pick a nondeterministic norm. Checked BEFORE the postings write
    // so a refusal leaves the index untouched. [[upsertIndex]] is the
    // composed delete→purge→append path for re-embedded docs.
    val (p, fs) = tombstonePath(spark, table)
    graft.sources.AtomicDir.readRetrying(fs, p) { dir =>
      spark.read.parquet(dir.toString).select(col(idCol))
        .join(sv.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
        .limit(5).collect().map(_.get(0))
    }.filter(_.nonEmpty).foreach { clash =>
      throw new IllegalArgumentException(
        s"SparseKnn.appendIndex: ids ${clash.mkString(",")}… are tombstoned — " +
          "their old postings are still physical until compactIndex purges them, " +
          "so re-appending would double-count terms. Run compactIndex first, or " +
          "use upsertIndex for the delete-then-reinsert workflow.")
    }
    postings(sv, idCol)
      .write.mode("append")
      .bucketBy(nb, "__t").sortBy("__t")
      .format("parquet").saveAsTable(table)
  }

  /** TOMBSTONE deletion for a persisted postings index — a doc's
    * postings spread across MANY term buckets, so the partition-surgical
    * rewrite ([[IvfIndex.deleteFromIndex]]'s move) doesn't apply; the
    * classic inverted-index design is a tombstone set applied at read
    * and PURGED physically at the next compaction. Tombstoned ids land
    * as parquet under the table location's `_tombstones/` dir
    * (underscore-prefixed, so the table scan never lists it);
    * [[topKFromIndex]] anti-joins them and [[compactIndex]] rewrites the
    * postings without them — the whole-dir swap drops the tombstone dir
    * with the old files, completing the purge atomically with it.
    * Idempotent (re-deleting appends a redundant tombstone, deduped at
    * read); ids never indexed are harmless. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                      ids: DataFrame, idCol: String = "doc_id"): Unit = {
    val (p, fs) = tombstonePath(spark, table)
    // an INDEXED STORE's postings (writeIndexedStore, under _postings/)
    // have the store parquet as their source of truth: index-level
    // tombstones would make topKFromIndex diverge from the store scan
    // and the SQL rewrite plans, which read the postings and the store
    // directly — refuse rather than serve two different answers
    require(!p.toString.contains("/_postings/"),
      "SparseKnn.deleteFromIndex: this postings table belongs to an indexed store " +
        "(writeIndexedStore) — delete from the store and rebuild, or query via " +
        "topKFromIndex over a standalone postings index")
    // MERGED overwrite, not append: re-invocations must not accrete
    // tombstone files (the fixture convention), and one compact file set
    // keeps the read-side anti-join cheap
    val batch = ids.select(col(idCol)).distinct()
    graft.sources.AtomicDir.recover(fs, p)
    val merged =
      if (fs.exists(p))
        spark.read.parquet(p.toString).select(col(idCol))
          .union(batch).distinct().localCheckpoint(true)
      else batch.localCheckpoint(true)
    // validated on the MATERIALIZED frame: one lineage evaluation, and
    // the checked rows ARE the written rows
    require(merged.where(col(idCol).isNull).isEmpty,
      "SparseKnn.deleteFromIndex: ids contain nulls")
    // an empty batch on a tombstone-free index must not install an
    // empty dir that every later query pays an anti-join against
    if (merged.isEmpty) return
    // atomic swap (AtomicDir): a plain overwrite would delete the live
    // set before the new file commits — a crash or concurrent reader in
    // the window silently resurrects previously deleted docs
    graft.sources.AtomicDir.replace(fs, p) { tmpDir =>
      merged.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    }
  }

  private def tombstonePath(spark: org.apache.spark.sql.SparkSession,
                            table: String): (org.apache.hadoop.fs.Path,
                                             org.apache.hadoop.fs.FileSystem) = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(meta.location), "_tombstones")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** `df` minus tombstoned ids (no-op when the index has none). */
  private def notTombstoned(spark: org.apache.spark.sql.SparkSession, table: String,
                            df: DataFrame, idCol: String): DataFrame = {
    val (p, fs) = tombstonePath(spark, table)
    // the set is read EAGERLY (localCheckpoint) inside the retry: a lazy
    // plan over the resolved dir would execute later, when a concurrent
    // swap may have renamed it away (the readRetrying contract)
    graft.sources.AtomicDir.readRetrying(fs, p) { dir =>
      spark.read.parquet(dir.toString).select(col(idCol)).distinct()
        .localCheckpoint(true)
    } match {
      case None => df
      case Some(ts) => df.join(ts, Seq(idCol), "left_anti")
    }
  }

  /** (data file count, total bytes) under the postings table's location —
    * pure listing, no data read. The compaction trigger input. */
  def fileStats(spark: org.apache.spark.sql.SparkSession, table: String): (Long, Long) = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L; var bytes = 0L
    val it = fs.listFiles(loc, true)
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      // a file's own name AND its parent dir: tombstone parquet lives
      // under _tombstones/ with ordinary part-file names
      if (!n.startsWith("_") && !n.startsWith(".") &&
          !s.getPath.getParent.getName.startsWith("_")) { files += 1; bytes += s.getLen }
    }
    (files, bytes)
  }

  /** File-count compaction trigger: more than `maxFiles` data files —
    * at ~16 buckets a healthy index is O(numBuckets) files, so the
    * default fires after ~15 appends. */
  def needsCompaction(spark: org.apache.spark.sql.SparkSession, table: String,
                      maxFiles: Long = 256): Boolean =
    fileStats(spark, table)._1 > maxFiles

  /** Rewrite an append-sprayed postings index down to ~1 file per
    * bucket, search results identical (spec-pinned). Bucket-id file
    * NAMING is part of the table contract, so the rewrite goes through
    * a bucketed staging TABLE with the same spec (rows clustered by the
    * bucket-id expression — `pmod(hash(__t), n)` IS the writer's bucket
    * function, so each task holds whole buckets and emits one file per
    * bucket), then the data dirs swap via the crash-safe two-rename of
    * [[graft.sources.Compaction]]: a leftover `__compact_retired` dir
    * with the live dir missing is restored on entry, and a failed
    * promote rolls back. The staging catalog entry is external, so
    * dropping it after the swap is catalog-only. Returns (files before,
    * files after). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, table: String): (Long, Long) = {
    // recovery runs BEFORE the file census: a crash that left the live
    // dir retired would otherwise fail the listing instead of healing
    recoverSwapState(spark, table, "compactIndex")
    val before = fileStats(spark, table)._1
    // PURGE pass: the staging table is built without any tombstoned
    // doc's postings (the id column is the one non-__ column), and the
    // whole-dir promote drops the _tombstones dir with the old files
    val idColName = spark.table(table).columns.filterNot(_.startsWith("__")).head
    swapTableContent(spark, table, "compactIndex",
      notTombstoned(spark, table, spark.table(table), idColName))
    (before, fileStats(spark, table)._1)
  }

  /** UPSERT into a persisted postings index — the atomic composition of
    * delete + insert the reference's re-uploaded-blob trigger needs
    * (Function.java:71-88: same doc, new content ⇒ re-index). A doc's
    * postings spread across many term buckets, so there is no
    * partition-surgical path ([[IvfIndex.upsertIndex]]'s move): the
    * correct single-commit protocol here is the [[compactIndex]]
    * whole-dir swap, with the staged table = current live postings MINUS
    * the upserted ids' rows PLUS the batch's new postings. One rename is
    * the commit point — a crash before it leaves the old table fully
    * live, after it the new one; no reader ever sees old+new rows for an
    * id (the double-count state [[appendIndex]] refuses to create).
    * Tombstoned ids may be upserted: their old postings drop in the same
    * pass and the swap retires the tombstone dir itself (the
    * resurrection done right). Cost: O(table) like compaction — batch
    * your re-embeds; for insert-only batches use [[appendIndex]].
    * Idempotent: re-running the same batch converges. */
  def upsertIndex(spark: org.apache.spark.sql.SparkSession, sv: DataFrame,
                  table: String, idCol: String = "doc_id"): Unit = {
    recoverSwapState(spark, table, "upsertIndex")
    // an INDEXED STORE's postings derive from the store parquet — the
    // same two-sources-of-truth refusal as deleteFromIndex
    val (p0, _) = tombstonePath(spark, table)
    require(!p0.toString.contains("/_postings/"),
      "SparseKnn.upsertIndex: this postings table belongs to an indexed store " +
        "(writeIndexedStore) — upsert the store and rebuild, or maintain a " +
        "standalone postings index")
    val dup = sv.groupBy(col(idCol)).count().where(col("count") > 1)
      .limit(5).collect().map(_.get(0))
    require(dup.isEmpty,
      s"SparseKnn.upsertIndex: ids ${dup.mkString(",")}… appear more than once in " +
        "the batch — an upsert must carry exactly one row per id")
    val idColName = spark.table(table).columns.filterNot(_.startsWith("__")).head
    require(idColName == idCol,
      s"SparseKnn.upsertIndex: table $table keys on $idColName, batch keys on $idCol")
    val survivors = notTombstoned(spark, table, spark.table(table), idCol)
      .join(sv.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
    swapTableContent(spark, table, "upsertIndex", survivors.unionByName(postings(sv, idCol)))
  }

  /** Recovery prologue shared by the swap rewriters —
    * [[graft.sources.Compaction.recoverSwap]] on the table's data dir.
    * Callers run it FIRST (before their own reads of the table);
    * [[swapTableContent]] assumes a recovered state. */
  private def recoverSwapState(spark: org.apache.spark.sql.SparkSession,
                               table: String, op: String): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    graft.sources.Compaction.recoverSwap(
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration), loc, op)
  }

  /** Shared whole-dir swap for the postings-table rewriters
    * ([[compactIndex]], [[upsertIndex]]): staged bucketed write of
    * `content` under the table's OWN bucket spec, then
    * [[graft.sources.Compaction.promoteStaging]]'s retire → promote →
    * cleanup with rollback on a failed promote. The
    * promote drops `_tombstones/` with the old files; underscore
    * `_graft_*.json` metadata sidecars (the SQL surface's build-dim
    * record) are carried into the staging dir first so the swap
    * preserves them. Callers must have run [[recoverSwapState]]. */
  private def swapTableContent(spark: org.apache.spark.sql.SparkSession, table: String,
                               op: String, content: DataFrame): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val nb = meta.bucketSpec.map(_.numBuckets).getOrElse(throw new IllegalArgumentException(
      s"SparseKnn.$op: table $table carries no bucket spec — not a postings index"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = graft.sources.Compaction.stagingDir(loc)
    val stagingTable = table + "__compact_staging"
    spark.sql(s"DROP TABLE IF EXISTS `$stagingTable`")
    content
      .repartition(nb, expr(s"pmod(hash(__t), $nb)"))
      .write.mode("overwrite")
      .bucketBy(nb, "__t").sortBy("__t")
      .format("parquet").option("path", staging.toString)
      .saveAsTable(stagingTable)
    fs.listStatus(loc).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("_graft_") && n.endsWith(".json"))
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new org.apache.hadoop.fs.Path(staging, n),
          false, spark.sparkContext.hadoopConfiguration)
    }
    graft.sources.Compaction.promoteStaging(fs, loc, op)
    spark.sql(s"DROP TABLE `$stagingTable`")
    spark.catalog.refreshTable(table)
  }

  /** Sparse-cosine top-k against the PERSISTED postings — score-identical
    * to [[topK]] on the indexed corpus; per-query cost = the query
    * terms' buckets only (literal `isin` over the bucketBy column →
    * bucket pruning, plan-asserted in spec). Query terms are collected
    * to the driver — broadcast-small by the serve contract. */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                    queries: DataFrame, k: Int, idCol: String = "doc_id",
                    queryIdCol: String = "qid", scale: Int = 4): DataFrame = {
    val hits = spark.table(table).where(col("__t").isin(queryTerms(queries, "topKFromIndex"): _*))
    // tombstoned docs drop AFTER scoring (the smaller frame) and BEFORE
    // ranking, so deletions never occupy a rank slot
    cosineTopK(hits, queries, k, idCol, queryIdCol, scale,
      notTombstoned(spark, table, _, idCol))
  }

  /** Batch sparse-cosine top-k via posting-list intersection. Corpus and
    * queries both carry `(indices, values)`; queries are broadcast-small
    * by contract (the [[Knn.topKBatch]] convention). Output
    * `(queryIdCol, idCol, cos, rn)`, cosine DESC, ties by id. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           idCol: String = "doc_id", queryIdCol: String = "qid",
           scale: Int = 4): DataFrame =
    cosineTopK(postings(corpus, idCol), queries, k, idCol, queryIdCol, scale)

  /** Sparse vectors exploded into postings `(idCol, __n, __t, __v)`: one
    * row per nonzero — doc norm, term, value. The shape [[writeIndex]]
    * persists and every sparse scorer reads. */
  private[graft] def postings(sv: DataFrame, idCol: String): DataFrame =
    sv.select(col(idCol), sparseNorm(col("indices"), col("values")).as("__n"),
        explode(arrays_zip(col("indices"), col("values"))).as("__p"))
      .select(col(idCol), col("__n"), col("__p.indices").as("__t"), col("__p.values").as("__v"))

  /** The distinct query terms, collected to the driver for the literal
    * `__t IN` filter that prunes a postings table's buckets. */
  private[graft] def queryTerms(queries: DataFrame, op: String): Seq[Any] = {
    val terms = queries.select(explode(col("indices")).as("__t"))
      .distinct().collect().map(_.get(0)).toSeq
    require(terms.nonEmpty, s"$op: queries carry no terms")
    terms
  }

  /** The sparse-cosine scoring tail: postings `hits` `(idCol, __n, __t,
    * __v)` meet the broadcast query postings on the term, partial
    * products sum in ONE groupBy per (query, doc), the cosine rounds to
    * `scale`, and `live` (the tombstone filter, when there is one) runs
    * between scoring and the per-query ranking. */
  private[graft] def cosineTopK(hits: DataFrame, queries: DataFrame, k: Int, idCol: String,
                                queryIdCol: String, scale: Int,
                                live: DataFrame => DataFrame = identity): DataFrame = {
    val qPost = broadcast(postings(queries, queryIdCol)
      .select(col(queryIdCol), col("__n").as("__qn"), col("__t"), col("__v").as("__qv")))
    val scored = hits.join(qPost, Seq("__t"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__v") * col("__qv")) / (first(col("__n")) * first(col("__qn"))),
        scale).as("cos"))
    Knn.topPerQuery(live(scored), col("cos").desc, k, idCol, queryIdCol, "cos")
  }

  /** The SQL rewrite's candidate leg: the query terms' postings scored by
    * the EXACT dot (posting value × query weight summed per doc; for
    * cosine, divided by the stored doc norm — the query norm is a
    * positive constant, so the order is cosine's), top `n` ids by (score
    * desc, id). Reads the catalog table when present — `bucketBy(__t)`
    * bucket pruning on the literal IN — falling back to the postings
    * parquet (filter pushdown on `__t` only). Query weights arrive as a
    * broadcast-small local relation JOINED on `__t` rather than a literal
    * map lookup: with no operator keyed on the bucket column,
    * `DisableUnnecessaryBucketedScan` would drop the bucketed read and
    * its pruning. Output: one `idCol` column. */
  private[graft] def candidateIds(spark: org.apache.spark.sql.SparkSession,
      postingsTable: String, postingsPath: String, idCol: String,
      qIdx: Seq[Long], qVal: Seq[Double], byCosine: Boolean, n: Int): DataFrame = {
    import spark.implicits._
    val post =
      if (postingsTable.nonEmpty && spark.catalog.tableExists(postingsTable))
        spark.table(postingsTable)
      else spark.read.parquet(postingsPath)
    // LocalRelation of ≤ maxTerms rows — auto-broadcast by size stats
    val qdf = qIdx.zip(qVal).toDF("__qt", "__qw")
    val scored = post
      .where(col("__t").isin(qIdx: _*))
      .join(qdf, col("__t") === col("__qt"))
      .groupBy(col(idCol))
      .agg(sum(col("__v") * col("__qw")).as("__dot"), first(col("__n")).as("__dn"))
    // a zero-norm store row (all-zero sparse values) would make the
    // cosine division throw under ANSI mode where the unrewritten
    // sparse_cosine query just yields null — so filter it out (a
    // zero-norm doc can never rank by cosine anyway)
    val ranked =
      if (byCosine) scored.where(col("__dn") > 0)
        .select(col(idCol), (col("__dot") / col("__dn")).as("__r"))
      else scored.select(col(idCol), col("__dot").as("__r"))
    ranked.orderBy(col("__r").desc, col(idCol)).limit(n).select(col(idCol))
  }
}
