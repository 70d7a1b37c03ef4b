package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HNSW (Malkov & Yashunin 2016) for the bounded SERVE tier — pgvector's
  * modern default index, re-scoped for a distributed engine.
  *
  * Design position (SURVEY §5.4): a navigable-small-world graph is a
  * pointer-chasing structure; beam search makes O(ef·M) RANDOM accesses
  * to neighbor lists and vectors, which Spark cannot express as a scan —
  * shuffling per hop would turn one query into dozens of stages. So
  * graft deliberately splits the ANN surface:
  *
  *  - corpus scale (100 TB): the IVF family ([[IvfIndex]] / IVF-SQ /
  *    IVF-PQ) — pruned parquet SCANS, partition-pruning-friendly,
  *    append-able, no random access anywhere;
  *  - serve tier (the bounded hot set a query front-end actually probes:
  *    ≤ a few million vectors — centroids, cached corpus, per-tenant
  *    slices): HNSW with the graph BROADCAST to executors, queries
  *    distributed, each row's beam search running memory-local exactly
  *    as a single-node HNSW would.
  *
  * Everything is deterministic: levels come from a salted md5 of the
  * vector id (not RNG), insertion order is ascending id, and ties break
  * by id — the same build on any cluster yields the same graph, so specs
  * can pin structure, and replays converge.
  *
  * The build itself is driver-local over a collected, CAPPED vector set
  * (`maxNodes`, fail-fast) — the honest contract for a graph index: at
  * n beyond the cap, use the IVF family, or shard HNSW per tenant.
  */
object Hnsw {

  /** Immutable built graph. `layers(l)` maps node idx → neighbor idxs at
    * layer l (l = 0 is the dense base layer). Serializable — ships to
    * executors as ONE broadcast value. */
  final case class Index(m: Int, efConstruction: Int, entryPoint: Int, topLevel: Int,
                         ids: Array[Long], vecs: Array[Array[Double]],
                         layers: Array[Array[Array[Int]]]) {
    def size: Int = ids.length
    def dim: Int = if (vecs.isEmpty) 0 else vecs(0).length
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Deterministic level for a vector id: the geometric distribution
    * HNSW wants (P(level ≥ l) = (1/mult)^l), driven by a salted md5
    * uniform instead of an RNG — same id ⇒ same level on any build. */
  private[graft] def levelOf(id: Long, mult: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"hnsw-level:$id".getBytes("UTF-8"))
    // 53 bits → uniform in (0, 1]; the +1 avoids ln(0)
    var bits = 0L
    var i = 0
    while (i < 7) { bits = (bits << 8) | (h(i) & 0xffL); i += 1 }
    val u = ((bits >>> 3) + 1).toDouble / (1L << 53).toDouble
    (-math.log(u) / math.log(mult.toDouble)).toInt
  }

  /** Greedy descent at one layer from `entry` toward `q`, returning the
    * `ef` closest found — algorithm 2 of the paper, with a visited set
    * and a bounded result heap; ties break by node idx. */
  private def searchLayer(vecs: Int => Array[Double], neighbors: Int => Array[Int],
                          q: Array[Double], entry: Int, ef: Int): mutable.PriorityQueue[(Double, Int)] = {
    val visited = new java.util.BitSet()
    // candidates: nearest first; results: farthest first (bounded to ef)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), (Double, Int)](t => (-t._1, -t._2)))
    val res = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), (Double, Int)](t => (t._1, t._2)))
    val d0 = l2sq(q, vecs(entry))
    cand.enqueue((d0, entry)); res.enqueue((d0, entry)); visited.set(entry)
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      if (dc > res.head._1 && res.size >= ef) return res
      val ns = neighbors(c)
      var i = 0
      while (i < ns.length) {
        val n = ns(i)
        if (!visited.get(n)) {
          visited.set(n)
          val dn = l2sq(q, vecs(n))
          if (res.size < ef || dn < res.head._1 ||
              (dn == res.head._1 && n < res.head._2)) {
            cand.enqueue((dn, n)); res.enqueue((dn, n))
            if (res.size > ef) res.dequeue()
          }
        }
        i += 1
      }
    }
    res
  }

  /** Simple neighbor selection (closest-m of the candidate set — the
    * paper's SELECT-NEIGHBORS-SIMPLE; deterministic by (dist, idx)). */
  private def selectNeighbors(cands: Seq[(Double, Int)], m: Int): Array[Int] =
    cands.sortBy(t => (t._1, t._2)).take(m).map(_._2).toArray

  /** Mutable graph under construction — shared by [[build]] (fresh) and
    * [[append]] (seeded from an existing [[Index]]). Insertion is the
    * paper's algorithm 1; neighbor-list prune keeps degree ≤ 2m at the
    * base layer, ≤ m above. */
  private final class GraphBuilder(val m: Int, val efC: Int) {
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    // layer → node → neighbor buffer (every layer sized to node count)
    val layers = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[mutable.ArrayBuffer[Int]]]
    var entry: Int = -1
    var entryLevel: Int = -1

    private def maxDeg(l: Int): Int = if (l == 0) 2 * m else m

    private def ensureLayer(l: Int): Unit =
      while (layers.length <= l)
        layers += mutable.ArrayBuffer.fill(ids.length)(mutable.ArrayBuffer.empty[Int])

    private def prune(l: Int, node: Int): Unit = {
      val buf = layers(l)(node)
      if (buf.length > maxDeg(l)) {
        val kept = selectNeighbors(
          buf.map(o => (l2sq(vecs(node), vecs(o)), o)).toSeq, maxDeg(l))
        buf.clear(); buf ++= kept
      }
    }

    def addNode(id: Long, v: Array[Double]): Unit = {
      val i = ids.length
      ids += id; vecs += v
      layers.foreach(_ += mutable.ArrayBuffer.empty[Int])
      val lvl = levelOf(id, m)
      ensureLayer(math.max(lvl, 0))
      if (entry < 0) { entry = i; entryLevel = lvl; return }
      var ep = entry
      var l = entryLevel
      while (l > lvl) {
        val r = searchLayer(vecs(_), layers(l)(_).toArray, v, ep, 1)
        ep = r.toSeq.minBy(t => (t._1, t._2))._2
        l -= 1
      }
      l = math.min(lvl, entryLevel)
      while (l >= 0) {
        val found = searchLayer(vecs(_), layers(l)(_).toArray, v, ep, efC)
        val cands = found.toSeq
        val sel = selectNeighbors(cands, maxDeg(l))
        sel.foreach { o =>
          layers(l)(i) += o
          layers(l)(o) += i
          prune(l, o)
        }
        ep = cands.minBy(t => (t._1, t._2))._2
        l -= 1
      }
      if (lvl > entryLevel) { entry = i; entryLevel = lvl }
    }

    def freeze(): Index = Index(m, efC, entry, entryLevel, ids.toArray, vecs.toArray,
      layers.map(layer => layer.map(_.toArray).toArray).toArray)
  }

  private def seededBuilder(index: Index): GraphBuilder = {
    val b = new GraphBuilder(index.m, index.efConstruction)
    b.ids ++= index.ids
    b.vecs ++= index.vecs
    index.layers.foreach { layer =>
      b.layers += layer.map(ns => mutable.ArrayBuffer(ns.toSeq: _*))
        .to(mutable.ArrayBuffer)
    }
    b.entry = index.entryPoint
    b.entryLevel = index.topLevel
    b
  }

  private def collectBounded(vectors: DataFrame, idCol: String, embCol: String,
                             limit: Int, who: String): Array[(Long, Array[Double])] = {
    val rows = vectors
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .orderBy(col(idCol))
      .limit(limit + 1)
      .collect()
    require(rows.length <= limit,
      s"Hnsw.$who: corpus exceeds maxNodes=$limit — a graph index is the " +
        "bounded-serve-tier tool; use IvfIndex for corpus-scale ANN")
    rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  }

  /** Driver-local deterministic build over `(idCol, embCol)` rows.
    * Collects the vectors — bounded by `maxNodes` (fail-fast with the
    * IVF pointer, not a silent OOM). */
  def build(vectors: DataFrame, m: Int = 16, efConstruction: Int = 64,
            idCol: String = "vec_id", embCol: String = "embedding",
            maxNodes: Int = 2000000): Index = {
    val rows = collectBounded(vectors, idCol, embCol, maxNodes, "build")
    require(rows.nonEmpty, "Hnsw.build: empty corpus")
    val b = new GraphBuilder(m, efConstruction)
    rows.foreach { case (id, v) => b.addNode(id, v) }
    b.freeze()
  }

  /** INCREMENTAL append — HNSW's insert is already incremental, so new
    * vectors just run the same insertion (ascending id, deterministic
    * levels) against the existing graph; bidirectional linking +
    * degree prune ARE the neighbor repair. The grown graph is not
    * byte-identical to a fresh build over the union (insertion order
    * differs — the accepted contract of every online HNSW), but search
    * semantics and recall hold, spec-pinned. Caller dedups ids (the
    * [[IvfIndex.appendIndex]] contract); `maxNodes` bounds the TOTAL. */
  def append(index: Index, vectors: DataFrame,
             idCol: String = "vec_id", embCol: String = "embedding",
             maxNodes: Int = 2000000): Index = {
    val room = maxNodes - index.size
    require(room > 0,
      s"Hnsw.append: index already at maxNodes=$maxNodes — use IvfIndex for corpus-scale ANN")
    val rows = collectBounded(vectors, idCol, embCol, room, "append")
    val b = seededBuilder(index)
    rows.foreach { case (id, v) => b.addNode(id, v) }
    b.freeze()
  }

  /** Single-query beam search (driver- or executor-local): descend
    * greedily from the top layer, then ef-beam the base layer; exact
    * rerank is unnecessary — distances here are already exact. */
  def searchIndex(index: Index, q: Array[Double], k: Int, ef: Int = 64): Seq[(Long, Double)] = {
    var ep = index.entryPoint
    var l = index.topLevel
    while (l > 0) {
      val r = searchLayer(index.vecs(_), index.layers(l)(_), q, ep, 1)
      ep = r.toSeq.minBy(t => (t._1, t._2))._2
      l -= 1
    }
    val res = searchLayer(index.vecs(_), index.layers(0)(_), q, ep, math.max(ef, k))
    res.toSeq.sortBy(t => (t._1, t._2)).take(k)
      .map { case (d, idx) => (index.ids(idx), math.sqrt(d)) }
  }

  /** Distributed batch search: ONE broadcast of the graph, queries
    * partitioned across executors, each row's beam search memory-local.
    * Output `(qid, vec_id, dist, rn)` matches [[Knn.topKBatch]] /
    * `IvfIndex.searchIndex`. */
  def topKBatch(spark: SparkSession, index: Index, queries: DataFrame, k: Int,
                ef: Int = 64, queryIdCol: String = "qid",
                embCol: String = "embedding", scale: Int = 4): DataFrame = {
    val bc = spark.sparkContext.broadcast(index)
    val qidIdx = queries.schema.fieldIndex(queryIdCol)
    val prepared = queries.withColumn(embCol, col(embCol).cast("array<double>"))
    val embIdx = prepared.schema.fieldIndex(embCol)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(queryIdCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dist", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rn", org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    prepared.mapPartitions { it =>
      val idx = bc.value
      it.flatMap { r =>
        val qid = r.getLong(qidIdx)
        val q = r.getSeq[Double](embIdx).toArray
        searchIndex(idx, q, k, ef).zipWithIndex.map { case ((id, d), rank) =>
          org.apache.spark.sql.Row(qid,
            id, BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble,
            (rank + 1).toLong)
        }
      }
    }(enc)
  }

  /** ITERATIVE FILTERED batch search — pgvector 0.8's "iterative index
    * scans" on the HNSW side, completing the pair with
    * [[IvfIndex.searchIndexFiltered]]: a selective relational filter can
    * leave fewer than k survivors in an ef-beam's results, and a
    * fixed-ef search silently returns short. Here the allowed-id table
    * is collected to a broadcast hash set (bounded by `maxFilterIds`,
    * fail-fast — the filter rides a BOUNDED hot-tier index, and a
    * corpus-scale filter belongs on the IVF path), and each query
    * escalates EXECUTOR-LOCALLY: the graph is memory-local after the
    * one broadcast, so widen-ef-and-retry costs no extra scan or
    * shuffle — unlike the IVF variant's per-round driver loop. A query
    * still short when the beam covers the graph falls back to an exact
    * scan of the filtered in-memory vectors (also covering nodes a
    * disconnected graph could hide from any beam), so the final result
    * is EXACT over the filtered index — the degeneration the oracle
    * gates. Stop-at-k semantics match pgvector: the first satisfying ef
    * wins, deterministically. */
  def topKBatchFiltered(spark: SparkSession, index: Index, queries: DataFrame,
                        allowed: DataFrame, k: Int, ef: Int = 64,
                        queryIdCol: String = "qid", embCol: String = "embedding",
                        idCol: String = "vec_id", scale: Int = 4,
                        maxFilterIds: Int = 10000000): DataFrame = {
    val distinctIds = allowed.select(col(idCol).cast("long")).distinct()
    val idRows = distinctIds.limit(maxFilterIds + 1).collect()
    require(idRows.length <= maxFilterIds,
      s"Hnsw.topKBatchFiltered: allowed-id set exceeds maxFilterIds=$maxFilterIds — " +
        "use IvfIndex.searchIndexFiltered for corpus-scale filtered search")
    require(idRows.forall(!_.isNullAt(0)),
      s"Hnsw.topKBatchFiltered: allowed-id table has a NULL $idCol — a null can never " +
        "match an index node; clean the filter input")
    // intersect with the index's ids before broadcasting: only ids that
    // exist in the graph can ever match, so the broadcast is bounded by
    // the index size regardless of how large the allowed table was
    val inIndex = index.ids.toSet
    val bcSet = spark.sparkContext.broadcast(
      idRows.iterator.map(_.getLong(0)).filter(inIndex).toSet)
    val bc = spark.sparkContext.broadcast(index)
    val qidIdx = queries.schema.fieldIndex(queryIdCol)
    val prepared = queries.withColumn(embCol, col(embCol).cast("array<double>"))
    val embIdx = prepared.schema.fieldIndex(embCol)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(queryIdCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dist", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rn", org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val k0 = k
    prepared.mapPartitions { it =>
      val idx = bc.value
      val ok = bcSet.value
      it.flatMap { r =>
        val qid = r.getLong(qidIdx)
        val q = r.getSeq[Double](embIdx).toArray
        // round distances BEFORE ranking (ties then break on id) — the
        // codebase-wide convention (Knn.topKBatch, IvfIndex.searchIndex,
        // searchIndexSharded's window) and what the DuckDB oracle
        // replays; ranking raw and rounding after would flip rank order
        // whenever two distances collide at `scale` decimals
        def rounded(raw: Seq[(Long, Double)]): Seq[(Long, Double)] = raw
          .map { case (id, d) =>
            (id, BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble) }
          .sortBy(t => (t._2, t._1)).take(k0)
        var curEf = math.max(ef, k0)
        // beam curEf wide, keep ALL curEf results, then filter — the
        // filter must see the whole beam, not a pre-truncated top-k
        var hits = rounded(searchIndex(idx, q, curEf, curEf).filter(t => ok(t._1)))
        while (hits.length < k0 && curEf < idx.size) {
          curEf = math.min(curEf * 2, idx.size)
          hits = rounded(searchIndex(idx, q, curEf, curEf).filter(t => ok(t._1)))
        }
        if (hits.length < k0) {
          // beam covered the graph and the filter still starves k: exact
          // scan of the filtered shard (disconnection-proof)
          hits = rounded(idx.ids.indices.iterator
            .filter(i => ok(idx.ids(i)))
            .map(i => (idx.ids(i), math.sqrt(l2sq(idx.vecs(i), q)))).toSeq)
        }
        hits.zipWithIndex.map { case ((id, d), rank) =>
          org.apache.spark.sql.Row(qid, id, d, (rank + 1).toLong)
        }
      }
    }(enc)
  }

  private def serializeIndex(idx: Index): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(baos)
    try oos.writeObject(idx) finally oos.close()
    baos.toByteArray
  }

  private def deserializeIndex(bytes: Array[Byte]): Index = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    try ois.readObject().asInstanceOf[Index] finally ois.close()
  }

  /** DISTRIBUTED sharded build — the scale path past [[build]]'s driver
    * cap: vectors are split into `numShards` deterministic shards
    * (`floorMod(id, numShards)`), each shard's graph is built ON AN EXECUTOR by
    * the same deterministic insertion (`GraphBuilder` — ascending id,
    * salted-md5 levels), and each finished graph is persisted as one
    * serialized row of a parquet table + a meta sidecar. This is the
    * per-segment-graph design of every distributed HNSW deployment
    * (Lucene/Vespa/Milvus): total capacity = numShards × per-shard cap
    * with build parallelism = numShards, at the cost of searching every
    * shard — the scatter-gather in [[searchIndexSharded]].
    *
    * Deterministic end-to-end: shard assignment is arithmetic on the id,
    * within-shard insertion is ascending id, so the same corpus yields
    * byte-identical shard graphs on any cluster/partitioning.
    * `maxNodesPerShard` keeps the honest fail-fast contract per shard. */
  def writeIndexSharded(vectors: DataFrame, numShards: Int, path: String,
                        m: Int = 16, efConstruction: Int = 64,
                        idCol: String = "vec_id", embCol: String = "embedding",
                        maxNodesPerShard: Int = 2000000): Unit = {
    require(numShards >= 1, s"Hnsw.writeIndexSharded: numShards must be >= 1, got $numShards")
    val spark = vectors.sparkSession
    // key by shard, one partition per shard (HashPartitioner sends
    // nonnegative key s to partition s for s < numShards; floorMod keeps
    // the shard key in [0, numShards) for negative ids too, so the
    // documented shard = floorMod(id, numShards) mapping holds)
    val keyed = vectors
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .rdd
      .map { r =>
        val id = r.getLong(0)
        (java.lang.Math.floorMod(id, numShards.toLong).toInt, (id, r.getSeq[Double](1).toArray))
      }
      .partitionBy(new org.apache.spark.HashPartitioner(numShards))
    val shardRows = keyed.mapPartitionsWithIndex { (shard, it) =>
      val items = it.map(_._2).toArray.sortInPlaceBy(_._1)
      if (items.isEmpty) Iterator.empty
      else {
        if (items.length > maxNodesPerShard) throw new IllegalArgumentException(
          s"Hnsw.writeIndexSharded: shard $shard holds ${items.length} > " +
            s"maxNodesPerShard=$maxNodesPerShard — raise numShards, or use IvfIndex " +
            "for corpus-scale ANN")
        val b = new GraphBuilder(m, efConstruction)
        items.foreach { case (id, v) => b.addNode(id, v) }
        Iterator(org.apache.spark.sql.Row(shard, items.length.toLong,
          serializeIndex(b.freeze())))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("graph", org.apache.spark.sql.types.BinaryType)))
    // PARTITIONED by shard: [[appendIndexSharded]] then rewrites only the
    // shard directories that actually received vectors (dynamic
    // partition overwrite), instead of staging the whole store
    spark.createDataFrame(shardRows, schema)
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    // explicit purge — the overwrite only removes _tombstones under the
    // STATIC partition-overwrite mode, see purgeTombstones
    purgeTombstones(spark, path)
    val meta = s"""{"numShards":$numShards,"m":$m,"efConstruction":$efConstruction}"""
    val p = new org.apache.hadoop.fs.Path(path, "_hnsw_sharded.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }

  /** TOMBSTONE deletion on a persisted sharded/routed graph store —
    * the standard HNSW deletion model (faiss / pgvector keep deleted
    * elements in the graph until a reindex): tombstoned ids land as
    * parquet under `path/_tombstones/` (underscore-prefixed, invisible
    * to the shard-row scan), every search filters them while each
    * shard widens its request by exactly its own tombstone count (so
    * results still fill k and exactness at covering ef is preserved
    * over the survivors), and any full rebuild
    * ([[writeIndexSharded]]/[[writeIndexRouted]] overwrite the store
    * dir) purges them physically. `maxTombstones` caps the read-side
    * set — past it, the right move IS the rebuild, and the delete
    * fails loud saying so. Re-inserting a tombstoned id is refused by
    * [[appendIndexSharded]]: the stale node is still in the graph, and
    * clearing the tombstone would resurrect it beside the new one. */
  def deleteFromIndexSharded(spark: SparkSession, path: String, ids: DataFrame,
                             idCol: String = "vec_id",
                             maxTombstones: Int = 10000): Unit = {
    val meta = new org.apache.hadoop.fs.Path(path, "_hnsw_sharded.json")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(meta),
      s"Hnsw.deleteFromIndexSharded: $path is not a sharded/routed HNSW store")
    val p = new org.apache.hadoop.fs.Path(path, "_tombstones")
    val batch = ids.select(col(idCol).cast("long").as("vec_id")).distinct()
    graft.sources.AtomicDir.recover(fs, p)
    val merged =
      if (fs.exists(p))
        spark.read.parquet(p.toString).select(col("vec_id"))
          .union(batch).distinct().localCheckpoint(true)
      else batch.localCheckpoint(true)
    // validated on the MATERIALIZED frame (one lineage evaluation, and
    // the checked rows ARE the written rows): a null or uncastable id
    // would persist as a null row and poison every later readTombstones
    require(merged.where(col("vec_id").isNull).isEmpty,
      s"Hnsw.deleteFromIndexSharded: ids contain null or non-numeric values")
    val n = merged.count()
    // an empty delete batch on a tombstone-free store must not install
    // an empty dir that every later search pays to read
    if (n == 0) return
    require(n <= maxTombstones,
      s"Hnsw.deleteFromIndexSharded: $n tombstones would exceed maxTombstones=" +
        s"$maxTombstones — rebuild the store (writeIndexSharded/writeIndexRouted) " +
        "to purge deletions instead")
    // atomic swap: a plain overwrite deletes the live set before the
    // new file commits — a mid-write crash or concurrent reader would
    // silently resurrect every previously deleted vector
    graft.sources.AtomicDir.replace(fs, p) { tmpDir =>
      merged.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    }
    tombCache.remove(path)
  }

  /** The store's tombstone set, driver-collected (bounded by the
    * [[deleteFromIndexSharded]] cap) and cached per store path keyed on
    * the dir's freshness stamp, so the serve hot path pays the parquet
    * read once per deletion batch, not once per query batch. Falls back
    * to the retired copy a crashed swap left behind — a reader can
    * never observe an empty set while one exists. */
  private val tombCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Set[Long])]

  private def readTombstones(spark: SparkSession, path: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(path, "_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicDir.readRetrying(fs, p) { dir =>
      val stamp = fs.listStatus(dir)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString("|")
      tombCache.get(path) match {
        case Some((st, v)) if st == stamp => v
        case _ =>
          val v = spark.read.parquet(dir.toString).select(col("vec_id"))
            .collect().map(_.getLong(0)).toSet
          tombCache.put(path, (stamp, v))
          v
      }
    }.getOrElse(Set.empty)
  }

  /** Tombstones must be purged EXPLICITLY by the store writers: the
    * whole-path overwrite only removes them as a side effect under the
    * STATIC partition-overwrite mode — with the session set to dynamic
    * (which [[appendIndexSharded]] itself relies on), the `shard=` dirs
    * are replaced but `_tombstones/` survives, and a rebuilt store
    * would keep filtering vectors it physically contains. */
  private def purgeTombstones(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicDir.recover(fs, p)
    fs.delete(p, true)
    tombCache.remove(path)
  }

  /** READ-ONLY crash-staleness gate: a `_plan.json` manifest under the
    * sibling `__maint_staging` dir means a maintenance swap COMMITTED but
    * did not finish installing — the on-disk shard mix may double or drop
    * ids until the swap rolls forward. Readers refuse loud instead of
    * serving it (any maintenance op — append/upsert — runs the recovery
    * on entry and clears the manifest). A staging dir WITHOUT a manifest
    * means the staging write itself crashed: the store was never touched
    * and stays readable. */
  private def requireNoPendingSwap(spark: SparkSession, path: String, op: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // asks the SAME StagedSwap the maintenance ops construct, so the
    // gate and the recovery can never disagree on what counts as
    // pending (the IvfIndex gate's convention)
    new graft.sources.StagedSwap(fs, root, op, partPrefix = "shard=")
      .pendingPlan.foreach { plan =>
        throw new IllegalArgumentException(
          s"Hnsw.$op: $path has a committed-but-unfinished maintenance swap " +
            s"($plan) — run any maintenance op (appendIndexSharded/" +
            "upsertIndexSharded) to roll it forward before reading")
      }
  }

  private def readShardedMeta(spark: SparkSession, path: String): (Int, Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path, "_hnsw_sharded.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def field(k: String): Int = (s""""$k"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(throw new IllegalArgumentException(
        s"Hnsw: _hnsw_sharded.json missing $k"))
    (field("numShards"), field("m"), field("efConstruction"))
  }

  /** True when the store was written by [[writeIndexRouted]] (shard =
    * nearest centroid, not floorMod(id) — placement of NEW vectors must
    * follow the routing or [[searchIndexRouted]]'s shard pruning misses
    * them silently). */
  private def isRouted(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_hnsw_sharded.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    """"routed"\s*:\s*1""".r.findFirstIn(json).isDefined
  }

  /** The routing centroids of a [[writeIndexRouted]] store. */
  private def readShardCentroids(spark: SparkSession, path: String): Array[Array[Double]] = {
    val cp = new org.apache.hadoop.fs.Path(path, "_shard_centroids.json")
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(cp),
      s"Hnsw: $path has no _shard_centroids.json — written by writeIndexSharded (hash " +
        "shards, no routing tier)? Use searchIndexSharded, or rebuild with writeIndexRouted")
    val in = fs.open(cp)
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    json.trim.stripPrefix("[").stripSuffix("]").split("\\],\\s*\\[")
      .map(_.stripPrefix("[").stripSuffix("]"))
      .map(_.split(",").map(_.trim.toDouble))
  }

  /** New vectors keyed by their DESTINATION shard under the store's own
    * placement rule: nearest routing centroid for [[writeIndexRouted]]
    * stores, floorMod(id, numShards) for hash-sharded ones. */
  private def keyByStoreShard(spark: SparkSession, path: String, vectors: DataFrame,
                              numShards: Int, idCol: String, embCol: String)
      : org.apache.spark.rdd.RDD[(Int, (Long, Array[Double]))] =
    if (isRouted(spark, path)) {
      val model = IvfIndex.Model(readShardCentroids(spark, path))
      vectors.select(col(idCol).cast("long"), col(embCol).cast("array<double>"),
          IvfIndex.cellOf(col(embCol), model).as("__shard"))
        .rdd.map(r => (r.getInt(2), (r.getLong(0), r.getSeq[Double](1).toArray)))
    } else vectors
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .rdd
      .map { r =>
        val id = r.getLong(0)
        (java.lang.Math.floorMod(id, numShards.toLong).toInt, (id, r.getSeq[Double](1).toArray))
      }

  /** Incremental APPEND on a sharded store — the maintenance axis
    * [[IvfIndex.appendIndex]] gives the IVF family, on the graph side:
    * new vectors route to their `floorMod(id, numShards)` shard, each
    * AFFECTED shard's graph is re-opened executor-side (seeded from the
    * serialized graph — no rebuild of existing nodes) and the new nodes
    * inserted in ascending-id order (the [[append]] semantics, so a
    * shard append is deterministic). Only the affected shards are
    * written: the store is `partitionBy("shard")` and the write runs
    * under DYNAMIC partition overwrite, so append cost is O(affected
    * shards), unaffected shard directories stay byte-identical on disk,
    * and crash safety is Spark's per-partition commit — original data
    * survives until each partition's commit, with no whole-store-missing
    * window a manual table rename would have. Appended graphs differ
    * from a from-scratch rebuild in insertion ORDER (old-then-new vs
    * globally ascending) — same contract as [[append]]; search
    * exactness at covering ef is unaffected (spec-pinned).
    * `maxNodesPerShard` keeps the per-shard fail-fast cap. */
  def appendIndexSharded(spark: SparkSession, path: String, vectors: DataFrame,
                         idCol: String = "vec_id", embCol: String = "embedding",
                         maxNodesPerShard: Int = 2000000): Unit = {
    val (numShards, m, efC) = readShardedMeta(spark, path)
    // finish a crashed upsertIndexSharded swap before appending (the
    // IVF maintenance-family contract: any maintenance op rolls the
    // previous one forward on entry)
    locally {
      val root = new org.apache.hadoop.fs.Path(path)
      new graft.sources.StagedSwap(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
        "appendIndexSharded", partPrefix = "shard=").recover()
    }
    // re-inserting a tombstoned id must be refused: the stale node is
    // still in the graph, so clearing the tombstone would resurrect it
    // beside the new one and searches would serve BOTH — rebuild to
    // purge deletions first
    val tomb = readTombstones(spark, path)
    if (tomb.nonEmpty) {
      // executor-side membership test (InSet over the ≤ maxTombstones
      // set) — collecting the batch's ids to the driver would OOM on a
      // large append and re-run its whole lineage
      val clash = vectors.select(col(idCol).cast("long").as("__id"))
        .where(col("__id").isInCollection(tomb)).limit(5)
        .collect().map(_.getLong(0))
      require(clash.isEmpty,
        s"Hnsw.appendIndexSharded: ids ${clash.mkString(",")}… are tombstoned — " +
          "rebuild the store to purge deletions before re-inserting them")
    }
    val part = new org.apache.spark.HashPartitioner(numShards)
    // placement follows the STORE's rule — routed stores key by nearest
    // centroid (a floorMod append would land vectors in shards the
    // routing tier never probes for them: silent recall loss)
    val newByShard = keyByStoreShard(spark, path, vectors, numShards, idCol, embCol)
    val oldByShard = spark.read.parquet(path)
      .select(col("shard"), col("n"), col("graph"))
      .rdd.map(r => (r.getInt(0), (r.getLong(1), r.getAs[Array[Byte]](2))))
    // only shards with NEW vectors produce a row — untouched shards'
    // files are never rewritten
    val updated = oldByShard.cogroup(newByShard, part).flatMap { case (shard, (olds, news)) =>
      val newItems = news.toArray.sortInPlaceBy(_._1)
      if (newItems.isEmpty) Iterator.empty
      else olds.headOption match {
        case Some((n, bytes)) =>
          require(n + newItems.length <= maxNodesPerShard,
            s"Hnsw.appendIndexSharded: shard $shard would hold ${n + newItems.length} > " +
              s"maxNodesPerShard=$maxNodesPerShard — raise numShards or use IvfIndex")
          val b = seededBuilder(deserializeIndex(bytes))
          newItems.foreach { case (id, v) => b.addNode(id, v) }
          Iterator(org.apache.spark.sql.Row(shard, n + newItems.length,
            serializeIndex(b.freeze())))
        case None =>
          // shard had no graph yet (writeIndexSharded skips empty shards)
          require(newItems.length <= maxNodesPerShard,
            s"Hnsw.appendIndexSharded: shard $shard would hold ${newItems.length} > " +
              s"maxNodesPerShard=$maxNodesPerShard")
          val b = new GraphBuilder(m, efC)
          newItems.foreach { case (id, v) => b.addNode(id, v) }
          Iterator(org.apache.spark.sql.Row(shard, newItems.length.toLong,
            serializeIndex(b.freeze())))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("graph", org.apache.spark.sql.types.BinaryType)))
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.createDataFrame(updated, schema)
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    finally prevMode match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** UPSERT on a sharded/routed graph store — the atomic delete+insert
    * the reference's re-uploaded-blob trigger needs (Function.java:71-88)
    * at the graph tier. HNSW can't remove a node in place, so each
    * AFFECTED shard's graph is REBUILT from its survivors (the old
    * graph's nodes minus the batch's ids) plus the batch's new vectors,
    * all inserted in ascending-id order — byte-deterministic and equal
    * to a from-scratch [[writeIndexSharded]] of the post-upsert shard.
    * Unaffected shards are never rewritten (dynamic partition
    * overwrite, the [[appendIndexSharded]] contract).
    *
    * Atomicity: the rebuilt (and drained — routed stores: every node
    * moved away) shard dirs go through the same
    * [[graft.sources.StagedSwap]] manifest protocol as the IVF
    * maintenance family — staged to a sibling dir, committed by a
    * `_plan.json` listing the rewrite/drain shards, installed by
    * idempotent retire-then-install renames, and rolled FORWARD by the
    * recovery the next maintenance call runs on entry. So no crash
    * point leaves an id doubled or half-replaced on EITHER store kind:
    * a routed id moving between shards has its old shard's rewrite and
    * its destination's rewrite under the one manifest. Tombstoned ids
    * may be upserted: the rebuild purges their stale node physically,
    * then their tombstone is cleared (a crash between the two leaves
    * the id invisible, never stale — the same upsert re-run
    * converges). Cost: O(affected shard rebuilds) — the honest HNSW
    * maintenance price (faiss/pgvector reindex); batch re-embeds, and
    * use [[appendIndexSharded]] for insert-only batches. */
  def upsertIndexSharded(spark: SparkSession, path: String, vectors: DataFrame,
                         idCol: String = "vec_id", embCol: String = "embedding",
                         maxNodesPerShard: Int = 2000000): Unit = {
    val (numShards, m, efC) = readShardedMeta(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val rootFs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val swap = new graft.sources.StagedSwap(rootFs, root, "upsertIndexSharded",
      partPrefix = "shard=")
    swap.recover()
    // materialized ONCE ([[IvfIndex.upsertIndex]]'s move, and for the
    // same two reasons): the frame feeds the dup check, the shard
    // keying, the membership join and the tombstone-clear anti-join —
    // and the LAST of those runs after the store has been overwritten,
    // so a batch whose lineage reads this very store would otherwise
    // re-execute against a stale file listing mid-upsert
    val batch = vectors
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("embedding"))
      .localCheckpoint(true)
    val dup = batch.groupBy(col("vec_id")).count().where(col("count") > 1)
      .limit(5).collect().map(_.get(0))
    require(dup.isEmpty,
      s"Hnsw.upsertIndexSharded: ids ${dup.mkString(",")}… appear more than once in " +
        "the batch — an upsert must carry exactly one row per id")
    val routed = isRouted(spark, path)
    val part = new org.apache.spark.HashPartitioner(numShards)
    val newByShard = keyByStoreShard(spark, path, batch, numShards, "vec_id", "embedding")
    val oldByShard = spark.read.parquet(path)
      .select(col("shard"), col("n"), col("graph"))
      .rdd.map(r => (r.getInt(0), (r.getLong(1), r.getAs[Array[Byte]](2))))
    // ROUTED stores: an upserted id's OLD node sits in the shard its OLD
    // embedding routed to — any shard may hold one. Membership is
    // resolved DISTRIBUTED (explode each graph's ids, join the batch) —
    // collecting the batch's ids to a driver-broadcast set would OOM on
    // a large re-embed, the exact cost [[appendIndexSharded]]'s
    // executor-side clash check exists to avoid. Hash stores skip this:
    // old and new are floorMod-co-located by construction.
    val hitsByShard: org.apache.spark.rdd.RDD[(Int, Long)] =
      if (!routed) spark.sparkContext.emptyRDD[(Int, Long)]
      else oldByShard
        .flatMap { case (shard, (_, bytes)) =>
          deserializeIndex(bytes).ids.iterator.map(id => (id, shard)) }
        .join(batch.select(col("vec_id")).rdd.map(r => (r.getLong(0), ())))
        .map { case (id, (shard, _)) => (shard, id) }
    val updated = oldByShard.cogroup(newByShard, hitsByShard, part)
        .flatMap { case (shard, (olds, news, hits)) =>
      val newItems = news.toArray
      val old = olds.headOption.map { case (_, bytes) => deserializeIndex(bytes) }
      val affected = newItems.nonEmpty || hits.nonEmpty
      if (!affected) Iterator.empty
      else {
        // drop from the survivors every batch id this shard holds a
        // stale copy of (hits — routed moves in from elsewhere) plus the
        // ids being re-inserted here (hash stores: the co-located case)
        val newIds: Set[Long] = newItems.map(_._1).toSet ++ hits
        val survivors: Array[(Long, Array[Double])] = old match {
          case Some(idx) =>
            idx.ids.indices.iterator
              .filterNot(i => newIds.contains(idx.ids(i)))
              .map(i => (idx.ids(i), idx.vecs(i))).toArray
          case None => Array.empty
        }
        val all = (survivors ++ newItems).sortInPlaceBy(_._1)
        // a DRAINED shard (routed store: every node moved away) emits a
        // marker row — dynamic overwrite only replaces partitions present
        // in the output, so the stale dir must be deleted explicitly below
        if (all.isEmpty) Iterator(org.apache.spark.sql.Row(shard, 0L, null))
        else {
          require(all.length <= maxNodesPerShard,
            s"Hnsw.upsertIndexSharded: shard $shard would hold ${all.length} > " +
              s"maxNodesPerShard=$maxNodesPerShard — raise numShards or use IvfIndex")
          val b = new GraphBuilder(m, efC)
          all.foreach { case (id, v) => b.addNode(id, v) }
          Iterator(org.apache.spark.sql.Row(shard, all.length.toLong,
            serializeIndex(b.freeze())))
        }
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every affected shard — rebuilt OR drained (routed store: every
    // node moved away, emitted above as an n=0 marker row) — goes under
    // the ONE manifest: commit() classifies staged dirs as rewrites and
    // the rest as drains, and installs both by idempotent renames, so
    // no crash point leaves a moved id doubled across its old and new
    // shard (the window the previous dynamic-overwrite + delete-after
    // sequencing left open)
    val affected = updated.map(_.getInt(0)).collect().toSet
    val live = updated.filter(_.getLong(1) > 0L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("graph", org.apache.spark.sql.types.BinaryType)))
    if (affected.nonEmpty) {
      try spark.createDataFrame(live, schema)
        .write.mode("overwrite").partitionBy("shard").parquet(swap.staging.toString)
      finally updated.unpersist()
      swap.commit(affected)
    } else updated.unpersist()
    // the upserted ids' stale nodes are physically gone — clear their
    // tombstones so the fresh vectors serve (ordered AFTER the shard
    // write: a crash in between leaves them invisible, never stale)
    val tp = new org.apache.hadoop.fs.Path(path, "_tombstones")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicDir.readRetrying(fs, tp) { dir =>
      spark.read.parquet(dir.toString).select(col("vec_id"))
        .join(batch.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
    }.foreach { remaining =>
      if (remaining.isEmpty) { graft.sources.AtomicDir.recover(fs, tp); fs.delete(tp, true) }
      else graft.sources.AtomicDir.replace(fs, tp) { tmpDir =>
        remaining.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
      }
    }
    tombCache.remove(path)
  }

  /** Scatter-gather search over a [[writeIndexSharded]] store: queries
    * (broadcast-small by the serve contract) are broadcast ONCE; each
    * shard row deserializes its graph in one task and beam-searches every
    * query memory-locally; the global answer is a per-query top-k window
    * over the per-shard candidates. Distances are EXACT (beam search
    * reranks nothing), so the merge loses nothing: with per-shard ef
    * covering the shard, the union of per-shard top-k CONTAINS the global
    * exact top-k and the result degenerates to exact KNN (spec-pinned).
    * Output `(qid, vec_id, dist, rn)` like [[topKBatch]]. */
  def searchIndexSharded(spark: SparkSession, path: String, queries: DataFrame,
                         k: Int, ef: Int = 64, queryIdCol: String = "qid",
                         embCol: String = "embedding", scale: Int = 4): DataFrame = {
    requireNoPendingSwap(spark, path, "searchIndexSharded")
    val qArr = queries
      .select(col(queryIdCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    scatterAndMerge(spark, spark.read.parquet(path), Left(qArr), k, ef, queryIdCol, scale,
      readTombstones(spark, path))
  }

  /** Shared scatter tail of the hash and routed sharded searches — ONE
    * copy of the output contract (qid/vec_id/dist/rn schema, HALF_UP
    * rounding at `scale`, dist-then-id tie-break, per-query top-k
    * window). `Left(all)` sends every query to every shard row (the
    * full scatter); `Right(byShard)` looks each shard's query subset up
    * (the routing tier — shards with no assigned queries deserialize
    * nothing). */
  private def scatterAndMerge(spark: SparkSession, store: DataFrame,
      queriesByShard: Either[Array[(Long, Array[Double])],
                             Map[Int, Array[(Long, Array[Double])]]],
      k: Int, ef: Int, queryIdCol: String, scale: Int,
      excluded: Set[Long] = Set.empty): DataFrame = {
    val bc = spark.sparkContext.broadcast(queriesByShard)
    val bcExc = spark.sparkContext.broadcast(excluded)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(queryIdCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dist", org.apache.spark.sql.types.DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val perShard = store.select(col("shard"), col("graph"))
      .mapPartitions { it =>
        it.flatMap { row =>
          val qs = bc.value match {
            case Left(all) => all
            case Right(m) => m.getOrElse(row.getInt(0), Array.empty[(Long, Array[Double])])
          }
          if (qs.isEmpty) Iterator.empty
          else {
            val idx = deserializeIndex(row.getAs[Array[Byte]](1))
            // tombstoned nodes stay in the graph until rebuild (the
            // standard HNSW deletion model); each shard widens its
            // request by EXACTLY its own tombstone count, so filtered
            // results still fill k per shard and the global merge
            // stays exact at covering ef
            val exc = bcExc.value
            val inShard = if (exc.isEmpty) 0 else idx.ids.count(exc.contains)
            val kEff = k + inShard
            val efEff = math.max(ef, kEff)
            qs.iterator.flatMap { case (qid, q) =>
              searchIndex(idx, q, kEff, efEff).iterator
                .filter { case (id, _) => !exc.contains(id) }
                .take(k)
                .map { case (id, d) =>
                  org.apache.spark.sql.Row(qid, id,
                    BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
                }
            }
          }
        }
      }(enc)
    Knn.topPerQuery(perShard, col("dist"), k, "vec_id", queryIdCol, "dist")
  }

  // ── shard-ROUTED tier (round 10, VERDICT r9 #5) ────────────────────

  /** [[writeIndexSharded]] with SEMANTIC shard assignment: shards are the
    * cells of a k-means coarse quantizer (numShards centroids trained by
    * [[IvfIndex.train]] — deterministic), so vectors near each other land
    * in the SAME shard and a query only needs its few nearest shards.
    * This is what makes a routing tier possible at all: under the hash
    * sharding of [[writeIndexSharded]] every shard is a random sample of
    * the corpus and per-query shard pruning would be blind. The centroids
    * ride along as a `_shard_centroids.json` sidecar (numShards × dim —
    * driver-trivial, the IVF sidecar pattern). Same per-shard graph
    * build, fail-fast cap, and partitioned layout as the hash writer. */
  def writeIndexRouted(vectors: DataFrame, numShards: Int, path: String,
                       m: Int = 16, efConstruction: Int = 64,
                       idCol: String = "vec_id", embCol: String = "embedding",
                       maxNodesPerShard: Int = 2000000, trainIters: Int = 2): Unit = {
    require(numShards >= 1, s"Hnsw.writeIndexRouted: numShards must be >= 1, got $numShards")
    val spark = vectors.sparkSession
    val model = IvfIndex.train(vectors, numShards, iters = trainIters,
      idCol = idCol, embCol = embCol)
    val keyed = vectors
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"),
        IvfIndex.cellOf(col(embCol), model).as("shard"))
      .rdd
      .map(r => (r.getInt(2), (r.getLong(0), r.getSeq[Double](1).toArray)))
      .partitionBy(new org.apache.spark.HashPartitioner(numShards))
    val shardRows = keyed.mapPartitionsWithIndex { (shard, it) =>
      val items = it.map(_._2).toArray.sortInPlaceBy(_._1)
      if (items.isEmpty) Iterator.empty
      else {
        if (items.length > maxNodesPerShard) throw new IllegalArgumentException(
          s"Hnsw.writeIndexRouted: shard $shard holds ${items.length} > " +
            s"maxNodesPerShard=$maxNodesPerShard — raise numShards, or use IvfIndex " +
            "for corpus-scale ANN")
        val b = new GraphBuilder(m, efConstruction)
        items.foreach { case (id, v) => b.addNode(id, v) }
        Iterator(org.apache.spark.sql.Row(shard, items.length.toLong,
          serializeIndex(b.freeze())))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("graph", org.apache.spark.sql.types.BinaryType)))
    spark.createDataFrame(shardRows, schema)
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    purgeTombstones(spark, path) // see writeIndexSharded
    def writeSide(name: String, body: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path, name)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    writeSide("_hnsw_sharded.json",
      s"""{"numShards":$numShards,"m":$m,"efConstruction":$efConstruction,"routed":1}""")
    writeSide("_shard_centroids.json",
      model.centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
  }

  /** ROUTED scatter-gather: probe only each query's `probeShards` nearest
    * shard centroids instead of every shard — per-query cost O(p) in
    * shards, not O(numShards), the standard distributed-ANN routing tier.
    * Partition pruning does the heavy lifting: un-probed shard
    * directories are never read (static `shard IN` over the partitioned
    * store, the IVF access pattern). Recall is governed by `probeShards`
    * and the store's cluster coherence; `probeShards >= numShards`
    * degenerates to the full scatter-gather of [[searchIndexSharded]] —
    * with covering ef, EXACT (oracle-gated like every other index path).
    * Requires a [[writeIndexRouted]] store (the centroid sidecar). */
  def searchIndexRouted(spark: SparkSession, path: String, queries: DataFrame,
                        k: Int, ef: Int = 64, probeShards: Int = 2,
                        queryIdCol: String = "qid", embCol: String = "embedding",
                        scale: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireNoPendingSwap(spark, path, "searchIndexRouted")
    // the placement ranking: shards are routing cells, ranked by
    // (L2, shard id) as IvfIndex.cellOf placed the vectors
    val routing = IvfIndex.Model(readShardCentroids(spark, path))
    val qArr = queries
      .select(col(queryIdCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // per-shard query assignment, built driver-side (queries are
    // broadcast-small by the serve contract; |assignment| ≤ |queries|·probeShards)
    val assign = scala.collection.mutable.Map.empty[Int, List[(Long, Array[Double])]]
    qArr.foreach { case (qid, q) =>
      routing.nearestCells(q, probeShards).foreach { shard =>
        assign(shard) = (qid, q) :: assign.getOrElse(shard, Nil)
      }
    }
    val byShard = assign.map { case (s0, qs) => s0 -> qs.reverse.toArray }.toMap
    val probed = assign.keys.toSeq.map(_.asInstanceOf[Any])
    val store = spark.read.parquet(path)
      .where(col("shard").isin(probed: _*)) // partition pruning: only probed dirs read
    scatterAndMerge(spark, store, Right(byShard), k, ef, queryIdCol, scale,
      readTombstones(spark, path))
  }

  /** Persist the graph as parquet (one row per node: id, vector, per-layer
    * neighbor ID lists) + a meta sidecar — readable by any engine, and
    * [[readIndex]] rebuilds the in-memory form for serving. */
  def writeIndex(spark: SparkSession, index: Index, path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = (0 until index.size).map { i =>
      val perLayer = index.layers.map(layer =>
        if (i < layer.length) layer(i).map(o => index.ids(o)).toSeq else Seq.empty[Long])
      org.apache.spark.sql.Row(index.ids(i), index.vecs(i).toSeq, perLayer.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("layers",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))))
    spark.createDataFrame(rows.asJava, schema)
      .repartition(1).write.mode("overwrite").parquet(path)
    val meta = s"""{"m":${index.m},"efConstruction":${index.efConstruction},""" +
      s""""entryId":${index.ids(index.entryPoint)},"topLevel":${index.topLevel}}"""
    val p = new org.apache.hadoop.fs.Path(path, "_hnsw.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }

  /** Rebuild the in-memory graph from [[writeIndex]] output. */
  def readIndex(spark: SparkSession, path: String): Index = {
    val p = new org.apache.hadoop.fs.Path(path, "_hnsw.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val re = """"m":(\d+).*"efConstruction":(\d+).*"entryId":(\d+).*"topLevel":(\d+)""".r.unanchored
    val (m, efc, entryId, topLevel) = meta match {
      case re(a, b, c, d) => (a.toInt, b.toInt, c.toLong, d.toInt)
      case _ => throw new IllegalStateException(s"Hnsw: malformed _hnsw.json at $path")
    }
    val rows = spark.read.parquet(path).orderBy(col("id")).collect()
    val ids = rows.map(_.getLong(0))
    val pos = ids.zipWithIndex.toMap
    val vecs = rows.map(_.getSeq[Double](1).toArray)
    val layers = Array.tabulate(topLevel + 1) { l =>
      rows.map { r =>
        val perLayer = r.getSeq[Seq[Long]](2)
        if (l < perLayer.length) perLayer(l).map(pos).toArray else Array.empty[Int]
      }
    }
    Index(m, efc, pos(entryId), topLevel, ids, vecs, layers)
  }
}
