package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication family for training-data pipelines: exact content-hash,
  * MinHash+LSH near-dup, exact n-gram Jaccard (LSH-blocked), and
  * embedding-cosine near-dup.
  *
  * Cross-engine reproducibility: MinHash permutations are
  * `min(md5(shingle || '#' || seed))` under lexicographic string order —
  * md5 is identical everywhere, so the DuckDB oracle replays signatures
  * bit-for-bit. (xxhash64 would be ~2× faster but is Spark-private; the
  * md5 variant keeps the correctness gate honest. Both run row-local.)
  *
  * Scale design: signatures and bands are computed row-local in one
  * projection (no explode-before-hash shuffle). The ONLY shuffle is the
  * band-bucket self-join; degenerate buckets are capped by `maxBucket`
  * (drop + count, the standard production guard against quadratic blowup
  * on boilerplate-heavy corpora).
  */
object Dedup {

  /** Band buckets larger than this are dropped (see [[candidatePairs]]). */
  private val MaxBucket = 1000
  /** Decimal places of a reported Jaccard. */
  private val JaccardScale = 4
  /** Most pairs [[components]] labels on the driver. Its labels (at most
    * two ids a pair) come back as a local relation, which is shipped with
    * the tasks that read it: the order of `maxPushdownIds`' 100 000 ids. */
  private val DriverEdges = 50000

  /** Exact dedup: group by content fingerprint, keep the smallest id as
    * canonical. Map-side partial aggregation makes this one shuffle of
    * (hash → id) pairs only. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).cast("long").as("canonical_id"),
           count(lit(1)).cast("long").as("n_copies"))

  /** MinHash signature as ONE `array<string>` column — a native
    * expression with a fused digest loop (see MinHashSigExpr for why the
    * HOF formulation is the wrong hot path). */
  def minhashSignature(shingles: Column, numPerm: Int): Column =
    graft.functions.MinHashExpressions.minhashSig(shingles, numPerm)

  /** (band_id, band_key) structs over a signature column: `bands` bands of
    * `numPerm / bands` signature rows, keyed by md5 of the joined slice. */
  def bandKeys(sig: Column, numPerm: Int, bands: Int): Column = {
    // bands > numPerm would give r = 0: every band_key = md5 of an empty
    // slice, degenerating LSH to a single all-pairs bucket
    require(bands >= 1 && numPerm >= bands,
      s"bandKeys: need 1 <= bands <= numPerm, got bands=$bands numPerm=$numPerm")
    val r = numPerm / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("long").as("band_id"),
        md5(array_join(slice(sig, b * r + 1, lit(r)), "|")).as("band_key")))
  }

  /** doc_id → exploded (band_id, band_key) rows. Row-local until the
    * explode; each stage is a small column-referencing projection. */
  def banded(docs: DataFrame, idCol: String, textCol: String,
             shingleN: Int, numPerm: Int, bands: Int): DataFrame =
    bandRows(signed(docs, idCol, textCol, shingleN, numPerm), idCol, numPerm, bands)

  /** (id, `__sh` shingles, `__sig` signature) — the one projection both
    * banding and exact verification read. */
  private def signed(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, numPerm: Int): DataFrame =
    docs
      .select(col(idCol), wordShingles(col(textCol), shingleN).as("__sh"))
      .select(col(idCol), col("__sh"), minhashSignature(col("__sh"), numPerm).as("__sig"))

  private def bandRows(signed: DataFrame, idCol: String, numPerm: Int, bands: Int): DataFrame =
    signed
      .select(col(idCol), explode(bandKeys(col("__sig"), numPerm, bands)).as("band"))
      .select(col(idCol), col("band.band_id").as("band_id"), col("band.band_key").as("band_key"))

  /** Candidate pairs from LSH banding (distinct, id1 < id2). ONE shuffle:
    * group ids per bucket (map-side partial collect), guard degenerate
    * buckets by size, expand in-bucket pairs row-locally from the sorted
    * id array (per-bucket arrays are ≤ maxBucket, so the HOF expansion is
    * cold), then a final distinct. This replaces the self-join
    * formulation (3 shuffles) and is skew-safe by construction — a hot
    * bucket is dropped, not exploded. */
  def candidatePairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                     shingleN: Int = 3, numPerm: Int = 16, bands: Int = 8,
                     maxBucket: Int = MaxBucket): DataFrame =
    bucketPairs(banded(docs, idCol, textCol, shingleN, numPerm, bands), idCol, maxBucket)

  private def bucketPairs(banded: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    banded.groupBy(col("band_id"), col("band_key"))
      .agg(collect_list(col(idCol)).as("__ids"))
      .where(size(col("__ids")).between(2, maxBucket))
      .select(array_sort(col("__ids")).as("__ids"))
      // native streaming i<j generator — the HOF chain this replaces
      // paid interpreted per-element dispatch and O(|bucket|) slice
      // copies per outer index (see PairExpressions); ids are sorted,
      // so emission order i<j IS id1 < id2
      .select(graft.functions.PairExpressions.pairSelf(col("__ids")).as(Seq("id1", "id2")))
      .distinct()

  /** Exact word-shingle Jaccard for given pairs (sets are distinct, so
    * |a∪b| = |a|+|b|−|a∩b| — one array_intersect per pair). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleN: Int = 3, scale: Int = JaccardScale): DataFrame =
    verified(pairs,
      docs.select(col(idCol).as("__id"), wordShingles(col(textCol), shingleN).as("__sh")), scale)

  /** `pairs` (id1, id2) scored against a (`__id`, `__sh`) shingle frame. */
  private def verified(pairs: DataFrame, sh: DataFrame, scale: Int): DataFrame =
    pairs
      .join(sh.select(col("__id").as("id1"), col("__sh").as("sh1")), Seq("id1"))
      .join(sh.select(col("__id").as("id2"), col("__sh").as("sh2")), Seq("id2"))
      .withColumn("__inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .select(col("id1"), col("id2"),
        round(col("__inter") / (size(col("sh1")) + size(col("sh2")) - col("__inter")), scale).as("jaccard"))

  /** EXACT set-similarity self-join at Jaccard ≥ `threshold` via PREFIX
    * FILTERING (Chaudhuri et al. 2006; Bayardo et al. 2007, AllPairs) —
    * the COMPLETE-recall counterpart to [[minhashLsh]]: banding can miss
    * a qualifying pair (probabilistic recall by design), the prefix
    * filter cannot. Under ANY global total order on tokens, two sets
    * with J ≥ t must share a token inside each one's first
    * |d| − ⌈t·|d|⌉ + 1 tokens — if the prefixes were disjoint, matching
    * everything AFTER the prefix still leaves the overlap below t. The
    * order used is ascending global document frequency (rarest first,
    * ties on the token bytes), which makes prefix collisions as rare as
    * the corpus allows — candidates meet on rare tokens, never on the
    * stopword-like head. A size filter (J ≥ t ⇒ t·|larger| ≤ |smaller|,
    * since inter ≤ min and union ≥ max) prunes length-incompatible
    * pairs before verification.
    *
    * Each doc is shingled once: the (id, len, shingles) projection is
    * materialized when this is called (one job, localCheckpoint).
    * Shuffle inventory: one token-frequency agg (token-domain-sized),
    * one doc-partitioned ranking window, one self-join keyed by PREFIX
    * token only, one exact verify join — no all-pairs stage anywhere.
    * Candidate count vs the LSH path is data-dependent; completeness is
    * the contract LSH cannot offer. */
  def prefixJaccardJoin(docs: DataFrame, threshold: Double,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3, scale: Int = 4): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardJoin: threshold must be in (0,1], got $threshold")
    // the (id, len, shingles) projection feeds the df count, the prefix
    // ranking and the verify join: materialized once (localCheckpoint,
    // as in minhashLsh), so the corpus is shingled once, not per branch
    val sh = docs
      .select(col(idCol), wordShingles(col(textCol), shingleN).as("__sh"))
      .select(col(idCol), size(col("__sh")).as("__len"), col("__sh"))
      .localCheckpoint(true)
    val toks = sh.select(col(idCol), col("__len"), explode(col("__sh")).as("__g"))
    val freq = toks.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("__g"))
    // Integer-exact threshold arithmetic: double products like
    // 0.55 * 100 can land strictly above the mathematical value
    // (55.000000000000007), shortening the prefix / tightening the size
    // filter and silently dropping pairs at J exactly = threshold. Both
    // predicates therefore compare through the scaled integer
    // T = ⌊t·10⁶⌋: T/10⁶ ≤ t always, so the prefix is never shorter and
    // the size filter never tighter than the exact-rational versions —
    // completeness errs permissive, and the final exact-Jaccard verify
    // discards any extra candidates. (⌈t·len⌉ = (T·len + 10⁶−1) div 10⁶
    // in pure long arithmetic; products stay far below Long.Max.)
    val tScaled = math.floor(threshold * 1e6).toLong
    val prefix = toks.join(freq, Seq("__g"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <=
        col("__len") - expr(s"(${tScaled}L * __len + 999999L) div 1000000L") + 1)
      .select(col(idCol), col("__len"), col("__g"))
    val cand = prefix.select(col(idCol).as("id1"), col("__len").as("__l1"), col("__g"))
      .join(prefix.select(col(idCol).as("id2"), col("__len").as("__l2"), col("__g")), Seq("__g"))
      .where(col("id1") < col("id2") &&
        least(col("__l1"), col("__l2")).cast("long") * lit(1000000L) >=
          lit(tScaled) * greatest(col("__l1"), col("__l2")).cast("long"))
      .select(col("id1"), col("id2")).distinct()
    // EXACT verify in the same scaled-integer space as the filters:
    // gating on round(J, 4) >= t would drop a qualifying pair at J
    // exactly = t whenever t has more than 4 decimals (1/3 rounds to
    // 0.3333 < 0.333333), violating the complete-recall contract the
    // prefix/size filters went to integer math to keep. i·10⁶ ≥ T·u is
    // exact for thresholds with ≤ 6 decimals (permissive by < 10⁻⁶
    // beyond — same direction as the candidate filters). The rounded
    // jaccard column remains output-only.
    cand
      .join(sh.select(col(idCol).as("id1"), col("__sh").as("sh1")), Seq("id1"))
      .join(sh.select(col(idCol).as("id2"), col("__sh").as("sh2")), Seq("id2"))
      .withColumn("__i", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("__u", (size(col("sh1")) + size(col("sh2"))).cast("long") - col("__i"))
      .where(col("__i") * lit(1000000L) >= lit(tScaled) * col("__u"))
      .select(col("id1"), col("id2"),
        round(col("__i").cast("double") / col("__u"), scale).as("jaccard"))
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification ≥ threshold:
    * [[candidatePairs]] scored by [[jaccardVerify]], with each doc's
    * shingles computed ONCE. The (id, shingles, signature) projection is
    * materialized when this is called (one job, localCheckpoint — the
    * convention of [[components]]); banding and verification both read
    * it, so the corpus is scanned and shingled once per pass instead of
    * once per branch. Production note: localCheckpoint trades
    * fault-tolerance for speed; set a reliable checkpoint dir and swap
    * to .checkpoint() on clusters where executor loss mid-pass matters. */
  def minhashLsh(docs: DataFrame, threshold: Double,
                 idCol: String = "doc_id", textCol: String = "text",
                 shingleN: Int = 3, numPerm: Int = 16, bands: Int = 8): DataFrame = {
    bandKeys(col("__sig"), numPerm, bands) // fail on bad parameters before the job
    val sh = signed(docs, idCol, textCol, shingleN, numPerm).localCheckpoint(true)
    verified(bucketPairs(bandRows(sh, idCol, numPerm, bands), idCol, MaxBucket),
        sh.select(col(idCol).as("__id"), col("__sh")), JaccardScale)
      .where(col("jaccard") >= threshold)
  }

  /** Near-dup CLUSTERING: connected components over a pair graph —
    * pairwise dedup only says "a~b"; downstream curation needs canonical
    * groups ("keep one per component").
    *
    * Returns (id, component) for every id appearing in `pairs`;
    * `component` = min id of the cluster under Spark's `min` for the id
    * type (a string compares by its UTF-8 bytes), so component == id
    * marks the canonical survivor. A null endpoint adds no edge.
    *
    * `pairs` is projected to (id1, id2) and materialized once
    * (localCheckpoint — `pairs` is typically a whole lazy near-dup plan,
    * and every reference to it would plan and run it again). Both paths
    * read that frame:
    *  - driver path: with integral or string ids (both of one type), at most
    *    `DriverEdges + 1` pairs are collected (one job); if they fit,
    *    union-find labels them on the driver and the labels come back as
    *    a local relation. Near-dup edge sets are far smaller than the
    *    corpus, so this is the usual path: no propagation rounds.
    *  - distributed path (more pairs, or another id type): min-label
    *    propagation, every node adopting the minimum label of its
    *    neighborhood each round. Throws if not converged within
    *    `maxIters` rounds — a silently unconverged labeling would split
    *    clusters. `maxIters` bounds this path only. */
  def components(pairs: DataFrame, maxIters: Int = 50,
                 id1Col: String = "id1", id2Col: String = "id2"): DataFrame =
    components(pairs, maxIters, id1Col, id2Col, DriverEdges)

  /** [[components]] with the driver path's pair bound given; a bound of
    * 0 always runs the distributed path. */
  private[graft] def components(pairs: DataFrame, maxIters: Int, id1Col: String, id2Col: String,
                                driverEdges: Int): DataFrame = {
    val ends = pairs.select(col(id1Col).as("id1"), col(id2Col).as("id2")).localCheckpoint(true)
    val Seq(t1, t2) = ends.schema.map(_.dataType)
    val order = if (t1 == t2) idOrder(t1) else None
    // coalesce(1): one task reads the materialized blocks in turn and
    // stops at the bound, so the probe is one job at any partitioning
    val fetched = if (driverEdges <= 0 || order.isEmpty) None
      else Some(ends.coalesce(1).limit(driverEdges + 1).collect()).filter(_.length <= driverEdges)
    fetched.fold(propagated(ends, maxIters)) { rows =>
      // the propagation path's schema (nullability included), read off
      // an analyzed plan: no job runs
      val schema = symmetric(ends).groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("component")).schema
      ends.sparkSession.createDataFrame(unionFind(rows, order.get).asJava, schema)
    }
  }

  /** Spark's `min` order for an id type the driver path labels: numeric
    * for integral ids, UTF-8 bytes (not UTF-16 units) for strings. */
  private def idOrder(dt: DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by((_: Any).asInstanceOf[Number].longValue))
    case StringType => Some(Ordering.by((v: Any) => UTF8String.fromString(v.asInstanceOf[String])))
    case _ => None
  }

  /** (id, component) rows of collected (id1, id2) pairs: union-find with
    * path halving over the ids sorted by `order`, where the smaller
    * index always becomes the root, so a root is its component's
    * minimum. A pair with one null endpoint adds no edge; as in
    * propagation, the null id itself is labelled with the least
    * component among its non-null partners. */
  private def unionFind(pairs: Array[Row], order: Ordering[Any]): Seq[Row] = {
    val ends = pairs.map(r => (Option(r.get(0)), Option(r.get(1))))
    val ids = ends.flatMap { case (a, b) => a ++ b }.distinct.sorted(order)
    val index = ids.zipWithIndex.toMap
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    ends.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(index(a)), find(index(b)))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      case _ =>
    }
    val nullPartners = ends.collect {
      case (Some(a), None) => find(index(a))
      case (None, Some(b)) => find(index(b))
    }
    ids.indices.map(i => Row(ids(i), ids(find(i)))) ++
      nullPartners.minOption.map(c => Row(null, ids(c)))
  }

  /** Symmetric edges PLUS a self-loop per node, from one read of the
    * (id1, id2) frame: each pair row yields (a,b), (b,a), (a,a), (b,b). */
  private def symmetric(ends: DataFrame): DataFrame = {
    def edge(src: String, dst: String): Column = struct(col(src).as("src"), col(dst).as("dst"))
    ends.select(inline(array(edge("id1", "id2"), edge("id2", "id1"),
      edge("id1", "id1"), edge("id2", "id2"))))
  }

  /** The distributed path of [[components]]: iterative min-label
    * propagation over the materialized (id1, id2) frame. Converges in
    * O(log graph diameter) rounds with pointer jumping; each round is
    * two bounded shuffles over the edge list (label join + min groupBy)
    * plus a convergence probe. */
  private def propagated(ends: DataFrame, maxIters: Int): DataFrame = {
    // The edges are hash-partitioned by dst and materialized once. The
    // checkpointed frame does NOT keep that partitioning under adaptive
    // execution (it reads back as UnknownPartitioning), so a round whose
    // label join is shuffled exchanges the edges on dst again; the
    // checkpoint saves recomputing the edges, not that exchange. The
    // self-loops fold the old "least(own label, neighborhood min)" left
    // join into the single min() aggregate (a node always sees its own
    // label among its neighbors), and carry the previous label through
    // the round for the convergence check. distinct() after
    // repartition(dst) adds no exchange: hash(dst) already co-locates
    // equal (src, dst) rows.
    //
    // each round is MATERIALIZED with its lineage truncated
    // (localCheckpoint): labels feeds itself, so without truncation the
    // logical plan doubles every round — exponential planning cost long
    // before any data moves. Production note: localCheckpoint trades
    // fault-tolerance for speed; set a reliable checkpoint dir and swap
    // to .checkpoint() on clusters where executor loss mid-algorithm
    // matters.
    val edges = symmetric(ends)
      .repartition(col("dst"))
      .distinct()
      .localCheckpoint(true)
    // initial labels = own id, read straight off the self-loops — a
    // filtered scan of the materialized edges, no extra job
    var labels = edges.where(col("src") === col("dst"))
      .select(col("src").as("id"), col("src").as("label"))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src"))
        .agg(min(col("label")).as("label"),
          // the self-loop row carries this node's PREVIOUS label —
          // convergence falls out of the same aggregate, no extra join
          max(when(col("dst") === col("src"), col("label"))).as("__self"))
      // POINTER JUMPING from round 3 on: adopt the label OF the adopted
      // label (every label value is itself a node id, and label(x) ≤ x,
      // so the lookup always lands and is monotone) — the remaining
      // hop-distance to the component minimum roughly doubles away per
      // round, turning O(diameter) rounds into O(log diameter) on
      // chain-shaped graphs (DBSCAN core chains). The first two rounds
      // stay plain: dense near-dup clusters converge by then and the
      // jump's extra |V|-sized join would be pure overhead. The
      // fixpoint (and therefore the result) is identical either way.
      val next = (if (it < 2) nbrMin
        else nbrMin
          .withColumnRenamed("label", "__m")
          .join(labels.select(col("id").as("__m"), col("label")), "__m")
          .select(col("src"), col("label"), col("__self")))
        .localCheckpoint(true)
      converged = next.where(col("label") =!= col("__self")).isEmpty
      labels = next.select(col("src").as("id"), col("label"))
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"components: not converged after $maxIters iterations — raise maxIters")
    labels.withColumnRenamed("label", "component")
  }

  /** Benchmark-contamination check: for every document of `testDocs`,
    * the `trainDocs` documents sharing at least `threshold` of its word
    * shingles — the pre-training hygiene scan that keeps eval sets out of
    * the training corpus (run with testDocs = the benchmark, trainDocs =
    * the corpus).
    *
    * Shape: shingles explode on both sides, equi-join on the shingle, one
    * groupBy per (test, train) pair. Ubiquitous boilerplate shingles are
    * the skew hazard — any shingle present in more than `dfCap` train
    * docs is dropped from BOTH sides before the join (it carries no
    * contamination signal and would fan out quadratically). */
  def crossContamination(testDocs: DataFrame, trainDocs: DataFrame,
                         threshold: Double, dfCap: Int = 1000,
                         idCol: String = "doc_id", textCol: String = "text",
                         shingleN: Int = 3, scale: Int = 4): DataFrame = {
    val t = testDocs
      .select(col(idCol).as("test_id"), wordShingles(col(textCol), shingleN).as("__sh"))
      .select(col("test_id"), size(col("__sh")).cast("double").as("__nt"),
        explode(col("__sh")).as("__g"))
    val c = trainDocs
      .select(col(idCol).as("train_id"),
        explode(wordShingles(col(textCol), shingleN)).as("__g"))
    val common = c.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .where(col("__df") > dfCap).select(col("__g"))
    t.join(broadcast(common), Seq("__g"), "left_anti")
      .join(c.join(broadcast(common), Seq("__g"), "left_anti"), "__g")
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).cast("double").as("__hits"), first(col("__nt")).as("__nt"))
      .select(col("test_id"), col("train_id"),
        round(col("__hits") / col("__nt"), scale).as("overlap"))
      .where(col("overlap") >= threshold)
  }

  /** Embedding-cosine near-dup pairs, exhaustive O(n²) scoring — the
    * oracle-exact formulation, correct at verification scale and as the
    * reranker behind [[embeddingNearDupLsh]]. */
  def embeddingNearDup(emb: DataFrame, threshold: Double,
                       idCol: String = "vec_id", embCol: String = "embedding",
                       scale: Int = 4): DataFrame = {
    val l = emb.select(col(idCol).as("id1"), col(embCol).as("e1"))
    val r = emb.select(col(idCol).as("id2"), col(embCol).as("e2"))
    l.crossJoin(r).where(col("id1") < col("id2"))
      .withColumn("cos", round(VectorFunctions.cosineSimilarity(col("e1"), col("e2")), scale))
      .where(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Embedding near-dup at scale: random-hyperplane LSH buckets as the
    * blocking key (pairs sharing a bucket in ANY table), exact cosine
    * verify on candidates only. Designed for near-identical duplicates
    * (cos ≳ 0.95), where bucket-collision probability per table is
    * (1 - θ/π)^nbits ≈ 1; NOT for weakly-similar pairs — LSH recall
    * decays fast below ~0.9 cosine (spec documents both regimes). */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double,
                          idCol: String = "vec_id", embCol: String = "embedding",
                          dim: Int = 64, nbits: Int = 8, tables: Int = 8,
                          seed: Long = 42L, maxBucket: Int = 10000,
                          scale: Int = 4): DataFrame = {
    // nbits = 0 is AnnLsh.topK's exact-degeneration mode; HERE it would
    // put the whole corpus in one bucket, which the maxBucket cap then
    // silently DROPS — a total recall collapse, not a degeneration —
    // so the blocking path keeps the old fail-fast bound
    require(nbits >= 1,
      s"embeddingNearDupLsh: nbits must be >= 1 (0 is the topK exact-degeneration " +
        "mode; as a blocking key it collapses every row into one capped bucket)")
    val keys = AnnLsh.bucketKeys(emb, idCol, embCol, dim, nbits, tables, seed)
      .select(col("table_id"), col("bucket"), col(idCol), col(embCol))
    val buckets = keys.groupBy(col("table_id"), col("bucket"))
      .agg(collect_list(struct(col(idCol).as("id"), col(embCol).as("e"))).as("__rows"))
      .where(size(col("__rows")).between(2, maxBucket))
    expandPairs(buckets)
      .withColumn("cos", round(VectorFunctions.cosineSimilarity(col("e1"), col("e2")), scale))
      .where(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
      .dropDuplicates("id1", "id2")
  }

  /** Row-local pair expansion of a grouped frame with a `__rows`
    * array<struct<id, e>> column → (id1 < id2, e1, e2) candidate pairs. */
  private def expandPairs(buckets: DataFrame): DataFrame = buckets
    // native streaming i<j generator (PairExpressions) — no quadratic
    // intermediate array, no interpreted slice copies per outer index
    .select(graft.functions.PairExpressions.pairSelf(col("__rows")).as(Seq("__a", "__b")))
    .select(least(col("__a.id"), col("__b.id")).as("id1"),
      greatest(col("__a.id"), col("__b.id")).as("id2"),
      col("__a.e").as("e1"), col("__b.e").as("e2"))
    .where(col("id1") =!= col("id2"))

  /** Embedding-space test-set contamination — the SEMANTIC complement to
    * [[crossContamination]]'s n-gram overlap: a test item leaked into
    * the training corpus as a paraphrase shares few shingles but sits at
    * high cosine. Exact variant: every (test, train) pair at
    * `cos >= threshold`, test side broadcast (test sets are small by
    * nature; the train corpus is scanned once, scored row-locally,
    * never shuffled). For corpus-×-corpus scale use
    * [[semanticContaminationBlocked]]. */
  def semanticContamination(testEmb: DataFrame, trainEmb: DataFrame, threshold: Double,
                            idCol: String = "vec_id", embCol: String = "embedding",
                            scale: Int = 4): DataFrame = {
    val t = broadcast(testEmb.select(col(idCol).as("test_id"), col(embCol).as("__temb")))
    trainEmb.select(col(idCol).as("train_id"), col(embCol).as("__cemb"))
      .crossJoin(t)
      .select(col("test_id"), col("train_id"),
        round(VectorFunctions.cosineSimilarity(col("__temb"), col("__cemb")), scale).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** IVF-cell-blocked semantic contamination for corpus-sized test sets:
    * [[IvfIndex.knnJoin]] (neither side broadcast) + threshold filter.
    * Approximate — recall governed by nprobe; spec-gated vs the exact
    * variant. */
  def semanticContaminationBlocked(testEmb: DataFrame, trainEmb: DataFrame,
                                   model: IvfIndex.Model, threshold: Double,
                                   k: Int = 5, nprobe: Int = 4,
                                   idCol: String = "vec_id", embCol: String = "embedding",
                                   scale: Int = 4): DataFrame =
    IvfIndex.knnJoin(
        testEmb.select(col(idCol).as("test_id"), col(embCol)),
        trainEmb.select(col(idCol).as("train_id"), col(embCol)),
        model, k, nprobe, leftIdCol = "test_id", rightIdCol = "train_id",
        embCol = embCol, scale = scale)
      .where(col("cos") >= threshold)
      .select(col("test_id"), col("train_id"), col("cos"))

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): score embedding cosine only WITHIN a coarse
    * k-means cell — the third blocking strategy beside random-hyperplane
    * LSH ([[embeddingNearDupLsh]]) and exhaustive ([[embeddingNearDup]]).
    * Cell assignment is one codegen'd pass over the corpus
    * ([[IvfIndex.cellOf]]); pairs never cross cells, so the candidate
    * set is Σ|cell|², bounded by `maxCell` (oversized cells are skipped
    * — raise k in the model, the standard SemDeDup knob). Precision is
    * exact (pairs are cosine-verified); recall misses only pairs the
    * quantizer separates — the paper's accepted trade, since semantic
    * duplicates cluster together by construction. */
  def semanticNearDup(emb: DataFrame, model: IvfIndex.Model, threshold: Double,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      maxCell: Int = 10000, scale: Int = 4): DataFrame = {
    val cells = emb
      .select(IvfIndex.cellOf(col(embCol), model).as("__cell"),
        struct(col(idCol).as("id"), col(embCol).as("e")).as("__r"))
      .groupBy(col("__cell"))
      .agg(collect_list(col("__r")).as("__rows"))
      .where(size(col("__rows")).between(2, maxCell))
    expandPairs(cells)
      .withColumn("cos", round(VectorFunctions.cosineSimilarity(col("e1"), col("e2")), scale))
      .where(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Apply [[semanticNearDup]]: keep one representative (the lowest id)
    * per duplicate pair — rows never named as a pair's `id2` survive. */
  def semanticDedup(emb: DataFrame, model: IvfIndex.Model, threshold: Double,
                    idCol: String = "vec_id", embCol: String = "embedding",
                    maxCell: Int = 10000): DataFrame =
    emb.join(
      semanticNearDup(emb, model, threshold, idCol, embCol, maxCell)
        .select(col("id2").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** SemDeDup representative-selection policies (Abbas et al. 2023 §4.1:
    * which member of a near-dup cluster survives — the paper measures
    * keeping the example FARTHEST from its cluster centroid slightly
    * ahead of nearest/random).
    *  - `min_id`: lowest id (the greedy pair rule — [[semanticDedup]]'s
    *    default, kept for determinism-first pipelines);
    *  - `farthest`: lowest cosine to the cell centroid (the paper's
    *    winner — keeps the least-typical exemplar);
    *  - `nearest`: highest cosine to the cell centroid.
    * Pairs become proper CLUSTERS via [[components]] (min-label
    * propagation), so a chain a~b~c keeps exactly one representative
    * even when a and c never pair directly. Centroid lookup is a
    * k×dim broadcast; cos-to-centroid is row-local; the winner per
    * cluster is one group-cardinality window. Ties break by id —
    * deterministic on any engine/partitioning. */
  def semanticDedupBy(emb: DataFrame, model: IvfIndex.Model, threshold: Double,
                      keep: String,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      maxCell: Int = 10000, scale: Int = 6): DataFrame = {
    require(Set("min_id", "farthest", "nearest").contains(keep),
      s"semanticDedupBy: keep must be min_id|farthest|nearest, got '$keep'")
    if (keep == "min_id") return semanticDedup(emb, model, threshold, idCol, embCol, maxCell)
    import org.apache.spark.sql.expressions.Window
    val pairs = semanticNearDup(emb, model, threshold, idCol, embCol, maxCell)
    val comp = components(pairs) // (id, component)
    val spark = emb.sparkSession
    val centroids = spark.createDataFrame(
      model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("__cell", "__centroid")
    val scored = emb
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .withColumn("__cell", IvfIndex.cellOf(col(embCol), model))
      .join(broadcast(centroids), Seq("__cell"))
      .withColumn("__cos", round(
        VectorFunctions.cosineSimilarity(col(embCol), col("__centroid")), scale))
    val w = Window.partitionBy(col("component")).orderBy(
      if (keep == "farthest") col("__cos").asc else col("__cos").desc,
      col(idCol).asc)
    // split frames: un-clustered rows pass through untouched — putting
    // them through the window would funnel the whole corpus into one
    // NULL partition (a single-task sort at scale)
    val winners = scored.where(col("component").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(emb.columns.map(col): _*)
    scored.where(col("component").isNull)
      .select(emb.columns.map(col): _*)
      .unionByName(winners)
  }

  /** Cross-document EXACT repeated-substring coverage — the distributed
    * rendition of the suffix-array substring dedup of Lee et al. 2022
    * (arXiv:2107.06499): every word position whose k-gram occurs in at
    * least `minDocs` DISTINCT documents is "duplicated"; overlapping
    * duplicated k-grams merge into maximal spans, and each document
    * reports its span coverage. Returns (id, n_words, dup_positions,
    * covered_tokens, dup_ratio), docs with no duplicated span omitted.
    *
    * Shape: the k-gram inventory is corpus-token-sized but each stage is
    * the scalable one — gram hashes are row-local (md5 of the slice), the
    * df count is ONE map-side-combined shuffle on the hash, the
    * position fetch is a semi-join, and span merging is a per-doc window
    * over duplicated positions only. With fixed k the span ends are
    * monotone in start, so merged coverage is `k + Σ min(k, gap)` — no
    * interval stack needed. */
  def duplicatedSpanCoverage(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
                             idCol: String = "doc_id", textCol: String = "text",
                             scale: Int = 4, materialize: Boolean = true): DataFrame = {
    require(k >= 1, s"duplicatedSpanCoverage: k must be >= 1, got $k")
    require(minDocs >= 2, s"duplicatedSpanCoverage: minDocs must be >= 2, got $minDocs")
    // The gram inventory feeds BOTH the df count and the semi-join probe
    // side. `materialize = true` (default) checkpoints it once
    // (localCheckpoint, same convention as DedupIndex.searchIndex) at the
    // cost of storing the inventory — a few × the text size.
    // `materialize = false` keeps the plan lazy: zero storage, but the
    // corpus-token-sized split+hash pass executes twice (compute-vs-
    // storage trade; pick per cluster). Results are identical either way
    // (hash-asserted in DedupSpec) — the flag changes execution, not
    // semantics.
    // native fused k-gram digest (GramExpressions) — the HOF chain it
    // replaces paid interpreted slice copies + a joined-string alloc
    // per corpus token before each md5
    val gramsPlan = docs
      .select(col(idCol), split(canonicalText(col(textCol)), " ").as("__w"))
      .where(size(col("__w")) >= k)
      .select(col(idCol), size(col("__w")).cast("long").as("__nw"),
        posexplode(graft.functions.GramExpressions.gramMd5(col("__w"), k))
          .as(Seq("pos", "gh")))
    val grams = if (materialize) gramsPlan.localCheckpoint(true) else gramsPlan
    val hot = grams.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDocs)
      .select(col("gh"))
    val dup = grams.join(hot, Seq("gh"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    dup
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__add", when(col("__prev").isNull, lit(k.toLong))
        .otherwise(least(lit(k.toLong), col("pos") - col("__prev"))))
      .groupBy(col(idCol))
      .agg(first(col("__nw")).as("n_words"),
        count(lit(1)).as("dup_positions"),
        sum(col("__add")).as("covered_tokens"))
      .select(col(idCol), col("n_words"), col("dup_positions"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") / col("n_words"), scale).as("dup_ratio"))
  }

  /** CUT duplicated spans out of the text — the aggressive Lee et al.
    * variant: every position covered by a cross-document duplicated
    * k-gram is removed and the remaining words re-joined. Returns
    * `(id, clean_text)` for EVERY input doc (docs with no duplicated
    * span pass through re-canonicalized).
    *
    * Shape on top of [[duplicatedSpanCoverage]]'s inventory: duplicated
    * positions → per-doc ISLAND ids (window; a new island starts when
    * the gap exceeds k, i.e. intervals no longer overlap) → one
    * (doc, island) groupBy to interval bounds → intervals collected per
    * doc (bounded: ≤ dup_positions/1, in practice tiny) → a row-local
    * higher-order-function rebuild (filter word indices not covered).
    * The rebuild never shuffles the corpus — intervals join back by id. */
  def cutDuplicatedSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text",
                         materialize: Boolean = true): DataFrame = {
    require(k >= 1, s"cutDuplicatedSpans: k must be >= 1, got $k")
    require(minDocs >= 2, s"cutDuplicatedSpans: minDocs must be >= 2, got $minDocs")
    val gramsPlan = docs
      .select(col(idCol), split(canonicalText(col(textCol)), " ").as("__w"))
      .where(size(col("__w")) >= k)
      .select(col(idCol),
        // native fused k-gram digest — see duplicatedSpanCoverage
        posexplode(graft.functions.GramExpressions.gramMd5(col("__w"), k))
          .as(Seq("pos", "gh")))
    // feeds df count + probe side; same storage-vs-recompute trade as
    // duplicatedSpanCoverage's materialize flag
    val grams = if (materialize) gramsPlan.localCheckpoint(true) else gramsPlan
    val hot = grams.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDocs)
      .select(col("gh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val intervals = grams.join(hot, Seq("gh"), "left_semi")
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      // overlap iff pos <= prev + k - 1; a larger gap starts a new island
      .withColumn("__new", when(col("__prev").isNull
        .or(col("pos") > col("__prev") + (k - 1)), 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (k - 1)).as("e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("__ivs"))
    docs
      .select(col(idCol), split(canonicalText(col(textCol)), " ").as("__w"))
      .join(intervals, Seq(idCol), "left")
      .select(col(idCol), expr(
        """array_join(transform(
          |  filter(sequence(0, size(__w) - 1),
          |         i -> __ivs IS NULL OR NOT exists(__ivs, iv -> i >= iv.s AND i <= iv.e)),
          |  i -> __w[i]), ' ')""".stripMargin).as("clean_text"))
  }

  /** Drop documents whose duplicated-span coverage exceeds `maxRatio` —
    * the document-level filter built on [[duplicatedSpanCoverage]] (the
    * paper also CUTS the spans; dropping the worst offenders is the
    * conservative variant that never splices text). */
  def filterDuplicatedSpans(docs: DataFrame, maxRatio: Double, k: Int = 8,
                            minDocs: Int = 2, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    docs.join(
      duplicatedSpanCoverage(docs, k, minDocs, idCol, textCol)
        .where(col("dup_ratio") > maxRatio).select(col(idCol)),
      Seq(idCol), "left_anti")
}
