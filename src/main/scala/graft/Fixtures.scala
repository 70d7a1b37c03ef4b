package graft

/** JVM-scoped memo for query FIXTURES — the trained models and persisted
  * index directories that ANN/sparse/BM25 serve queries read from.
  *
  * Production separates index BUILD (a batch job, run on corpus change)
  * from index SERVE (the per-query cost users feel); a benchmark that
  * re-trains and re-writes the index inside every timed serve query
  * measures neither. Wrapping the build phase in [[memo]] makes each
  * query's fixture build exactly once per JVM per (query, sf-dir) —
  * Verify still builds everything (first touch), while Bench pre-warms
  * fixtures untimed ([[Bench]] calls every query closure once before the
  * sweep; builds are EAGER inside the closures, so the warm pass pays
  * them) and then times the pure serve path. Build cost stays visible
  * through the explicit `*_build` bench entries, which call [[rebuild]]
  * to bypass the memo every run.
  *
  * Correctness is unaffected: every memoized build is a deterministic
  * function of (sf-dir data, fixed query parameters), and the key
  * includes the sf-dir, so distinct scale factors never share a fixture.
  */
object Fixtures {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Build-once-per-JVM: returns the cached fixture for `key` or runs
    * `build` and caches its result.
    *
    * NOT computeIfAbsent: fixture builds NEST (an index fixture memoizes
    * the model fixture it trains from — e.g. ivfpq_idx → ivf_model,
    * pq_flat_idx → pq_model), and a computeIfAbsent mapping function that re-enters
    * the same ConcurrentHashMap is a forbidden recursive update — JDK 9+
    * throws IllegalStateException when the inner key lands in the locked
    * bin, which key-string hashCodes make a deterministic-per-machine
    * landmine. get-then-putIfAbsent runs `build` without holding any map
    * lock; the trade is that two RACING threads could both build (last
    * one discarded — wasted work, not corruption; builds are
    * deterministic), and Verify/Bench drive queries single-threaded. */
  def memo[T <: AnyRef](key: String)(build: => T): T = {
    val cur = cache.get(key)
    if (cur != null) return cur.asInstanceOf[T]
    val v = build
    val prev = cache.putIfAbsent(key, v)
    (if (prev != null) prev else v).asInstanceOf[T]
  }

  /** The scratch dir of fixture `name` over sf dir `d`, under a temp root
    * of this JVM's own, removed at exit: [[memo]] is per-JVM, so no
    * process needs another's path, and none writes into another's. */
  def scratchDir(name: String, d: String): String =
    scratchRoot.resolve(s"graft_q_${name}_${math.abs(d.hashCode)}").toString
  private lazy val scratchRoot = {
    val root = java.nio.file.Files.createTempDirectory("graft_fixtures")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** Force a fresh build (the `*_build` bench entries): always runs
    * `build`, and replaces the cached fixture so subsequent serve
    * queries read the rebuilt index. */
  def rebuild[T <: AnyRef](key: String)(build: => T): T = {
    val v = build
    cache.put(key, v)
    v
  }
}
