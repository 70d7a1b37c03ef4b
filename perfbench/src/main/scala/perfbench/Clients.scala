package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport

import graft.pipeline.{ChatClient, DeterministicClient, EmbeddingClient}

/** Counters of one model seam. Global because Spark runs `local[4]` in this
  * process: the clients are serialized into tasks, and every deserialized
  * copy reports into the same adders. */
final class SeamCounters {
  /** Calls into the seam, failed attempts included. */
  val requests = new LongAdder
  /** Texts (embedding) or pairs (chat) in successful calls. */
  val items = new LongAdder
  /** Calls failed on purpose; the engine's retry loop re-issues them. */
  val retries = new LongAdder
  /** Wall time spent inside the seam, summed over all task threads. */
  val nanos = new LongAdder

  def reset(): Unit = Seq(requests, items, retries, nanos).foreach(_.reset())
  def snapshot: SeamSnapshot =
    SeamSnapshot(requests.sum, items.sum, retries.sum, nanos.sum)
}

final case class SeamSnapshot(requests: Long, items: Long, retries: Long, nanos: Long)

object Seams {
  val FailPerMille = 20
  val EmbedServiceMs = 3.0
  val ChatServiceMs = 5.0

  val embed = new SeamCounters
  val chat = new SeamCounters
  // keys whose next call fails: a selected batch fails its first attempt
  // and succeeds on the retry, every time it is sent
  private val armed = ConcurrentHashMap.newKeySet[Long]()

  def reset(): Unit = { embed.reset(); chat.reset(); armed.clear() }

  /** Stand-in for a remote endpoint: a fixed service time per call, and
    * a seeded ~2% of distinct payloads fail their first attempt. */
  def call[T](c: SeamCounters, seed: Long, payloadHash: Int, serviceNs: Long, n: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    c.requests.increment()
    val end = t0 + serviceNs
    var now = System.nanoTime()
    while (now < end) { LockSupport.parkNanos(end - now); now = System.nanoTime() }
    val key = scala.util.hashing.MurmurHash3.mix(seed.toInt ^ (seed >>> 32).toInt, payloadHash).toLong
    if (Math.floorMod(key, 1000L) < FailPerMille) {
      if (armed.add(key)) {
        c.retries.increment()
        c.nanos.add(System.nanoTime() - t0)
        throw new RuntimeException("perfbench: injected first-attempt failure")
      }
      armed.remove(key)
    }
    val out = body
    c.items.add(n.toLong)
    c.nanos.add(System.nanoTime() - t0)
    out
  }
}

/** Embedding seam used by every workload: `DeterministicClient` behind a
  * fixed service time and seeded first-attempt failures. */
final class CountingEmbedClient(seed: Long) extends EmbeddingClient {
  private val serviceNs = (Seams.EmbedServiceMs * 1e6).toLong
  override def embedBatch(texts: Seq[String], dim: Int): Seq[Array[Float]] =
    Seams.call(Seams.embed, seed, texts.hashCode, serviceNs, texts.length) {
      DeterministicClient.embedBatch(texts, dim)
    }
}

/** Chat seam of the serve path, built like [[CountingEmbedClient]]. */
final class CountingChatClient(seed: Long) extends ChatClient {
  private val serviceNs = (Seams.ChatServiceMs * 1e6).toLong
  override def completeBatch(pairs: Seq[(String, String)], ctx: Int, maxLen: Int): Seq[String] =
    Seams.call(Seams.chat, seed, pairs.hashCode, serviceNs, pairs.length) {
      DeterministicClient.completeBatch(pairs, ctx, maxLen)
    }
}
