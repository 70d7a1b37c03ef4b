package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Layer names, after graft's modules. */
object Layers {
  val Pdf = "pipeline.pdf"
  val Chunk = "pipeline.chunk"
  val Embed = "pipeline.embed"
  val Store = "sources.store"
  val Knn = "operators.knn"
  val Ivf = "operators.ivf"
  val Summarize = "pipeline.summarize"
  val Dedup = "operators.dedup"
  val Plans = "plans"
  /** Layers whose Spark jobs the listener attributes. */
  val Spark: Seq[String] = Seq(Pdf, Chunk, Embed, Store, Knn, Ivf, Summarize, Dedup)
  /** Local property the benchmark sets around its own calls. */
  val Prop = "perfbench.layer"
}

final case class Span(id: Int, name: String, parent: Int, op: Long, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spans at the boundary of each call the benchmark makes into a layer.
  * Kept in memory, written out at the end. With tracing off, `span` only
  * runs its body and `force` leaves the plan fused. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: SparkContext = _
  /** Id of the operation (request, batch or pass) the spans belong to. */
  var op: Long = -1L

  def attach(context: SparkContext): Unit = sc = context

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevLayer = sc.getLocalProperty(Layers.Prop)
      if (Layers.Spark.contains(name)) sc.setLocalProperty(Layers.Prop, name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Layers.Prop, prevLayer)
        spans += Span(id, name, parent, op, t0, t1)
      }
    }

  /** Traced runs materialize a layer's output at its boundary, so the
    * layer's jobs run inside its span; planning is timed first, under the
    * `plans` layer. Untraced runs return the frame as is. */
  def force(df: DataFrame): DataFrame =
    if (!on) df
    else {
      plan(df)
      df.localCheckpoint(eager = true)
    }

  /** Times the optimizer and the physical planner on `df`. */
  def plan(df: DataFrame): Unit =
    if (on) span(Layers.Plans) {
      val t0 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      optimizeNs += t1 - t0
      physicalNs += t2 - t1
    }

  var optimizeNs = 0L
  var physicalNs = 0L

  /** Summed self time of every span of layer `name`: its duration minus
    * the time its descendants in other layers cover. Spans named
    * `<name>.<step>` are steps of the layer and count as its own time. */
  def selfSeconds(name: String): Double = {
    val children = spans.groupBy(_.parent)
    def inLayer(s: Span) = s.name == name || s.name.startsWith(name + ".")
    def otherNs(s: Span): Long = children.getOrElse(s.id, Nil).map { c =>
      if (inLayer(c)) otherNs(c) else c.ns
    }.sum
    spans.filter(_.name == name).map(s => s.ns - otherNs(s)).sum / 1e9
  }

  /** Summed duration of the spans named `name` of the given operations. */
  def totalSeconds(name: String, ops: Long => Boolean = _ => true): Double =
    spans.filter(s => s.name == name && ops(s.op)).map(_.ns).sum / 1e9

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Reads the driver-side metrics of the file scans in an executed plan. */
object Scans extends AdaptiveSparkPlanHelper {
  /** Sum of the scan metric `metric` (e.g. "numPartitions", "numFiles")
    * over the file scans `df` ran; `df` must have been executed. */
  def metric(df: DataFrame, metric: String): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get(metric).map(_.value).getOrElse(0L)
    }.sum
}

/** Spark's own counters per layer span, attributed through the layer
  * local property the tracer sets around each call. */
final class LayerListener extends SparkListener {
  final class Counters {
    val jobs, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inputBytes, inputRows =
      new LongAdder
  }
  val byLayer: Map[String, Counters] = Layers.Spark.map(_ -> new Counters).toMap
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def layerOf(p: java.util.Properties): Option[Counters] =
    Option(p).flatMap(ps => Option(ps.getProperty(Layers.Prop))).flatMap(byLayer.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    layerOf(e.properties).foreach(_.jobs.increment())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Layers.Prop)))
      .foreach(l => stageLayer.put(e.stageInfo.stageId, l))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageLayer.get(e.stageId)).flatMap(byLayer.get).filter(_ => m != null).foreach { c =>
      c.tasks.increment()
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.inputRows.add(m.inputMetrics.recordsRead)
    }
  }

  /** Waits until the listener bus has delivered every job's end, so the
    * counters hold every task that ran. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get < started.get && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(50)
  }
}
