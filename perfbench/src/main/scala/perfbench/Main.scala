package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation's outcome. */
final case class Sample(kind: String, ms: Double, ok: Boolean, cpuMs: Double)

/** What a workload reports besides its latencies. */
final case class Outcome(
    quality: Double,          // the workload's quality figure (1.0 = perfect)
    bytesPerItem: Double,     // bytes stored per stored item
    degraded: Long,           // rows degraded to zero vectors
    failures: Seq[String],    // failed correctness checks
    report: Seq[(String, Double, String)]) // the workload's own named metrics

/** A workload: set-up (generation, build, warm-up), timed operations and
  * untimed correctness checks, against one `local[4]` session. */
abstract class Workload(val seed: Long, val dir: Path) {
  var spark: SparkSession = _
  var tracer: Tracer = new Tracer(false)
  /** Which pass over the operation sequence is running (0, then 1 for the
    * traced pass of a traced run). */
  var pass: Int = 0

  /** Kind of the operation whose latency is the headline `p50_ms`. */
  def headline: String
  /** Work items (documents or requests) one operation completes. */
  def itemsPerOp: Double
  /** Generates the inputs and builds what the timed operations need. */
  def build(): Unit
  /** Untimed operations that let JIT and code generation settle. */
  def warmUp(): Unit
  /** Runs operation `i` of the seeded sequence; returns its kind. */
  def run(i: Int): String
  /** The timed loop stops only after a whole round of operations. */
  def opsPerRound: Int = 1
  /** Operations the traced run repeats, traced and untraced. */
  def traceOps: Int
  def finish(samples: Seq[Sample]): Outcome
  /** Wraps the traced pass, for counts taken around it. */
  def tracedPass[T](body: => T): T = body
  /** Per-layer metrics of the traced pass, beyond the Spark counters. */
  def layerMetrics(samples: Seq[Sample], listener: LayerListener): Map[String, Double]
  /** Inputs this workload generated, for the report. */
  def inputs: Seq[(String, Double)]
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val dir = root.resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    System.setProperty("spark.local.dir", dir.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
    val status =
      try run(workload, seed, seconds, trace, dir)
      finally {
        SparkSession.getActiveSession.foreach(_.stop())
        deleteTree(dir)
      }
    sys.exit(status)
  }

  private def newWorkload(name: String, seed: Long, dir: Path): Workload = name match {
    case "serve_mixed" => new ServeMixed(seed, dir)
    case "dedup_text" => new DedupText(seed, dir)
    case other => sys.error(s"unknown workload $other")
  }

  private def session(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.GraftSession.create("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean, dir: Path): Int = {
    val w = newWorkload(name, seed, dir)
    // set-up runs once, cold, and counts from the start of the JVM:
    // session start, generation, build and the warm-up requests
    val t0 = System.nanoTime()
    w.spark = session()
    Seams.reset()
    w.build()
    val t1 = System.nanoTime()
    w.warmUp()
    val t2 = System.nanoTime()
    val buildS = (t1 - t0) / 1e9
    val warmUpS = (t2 - t1) / 1e9
    Seams.reset()
    val setupS =
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val listener = new LayerListener
    val cpu0 = processCpuNs()
    val untraced = timedLoop(w, seconds, if (trace) Some(w.traceOps) else None)
    val windowCpuS = (processCpuNs() - cpu0) / 1e9
    val (samples, traced) =
      if (!trace) (untraced, Nil)
      else {
        w.spark.sparkContext.addSparkListener(listener)
        w.tracer = new Tracer(true)
        w.tracer.attach(w.spark.sparkContext)
        w.pass = 1
        Seams.reset()
        val t = w.tracedPass(timedLoop(w, 0.0, Some(w.traceOps)))
        listener.drain()
        (untraced, t)
      }
    val t3 = System.nanoTime()
    val out = w.finish(samples ++ traced)
    val checksS = (System.nanoTime() - t3) / 1e9
    val attempted = samples.size + traced.size
    val failedOps = (samples ++ traced).count(!_.ok)
    val failed = failedOps + out.failures.size + (if (out.degraded > 0) 1 else 0)
    val correct = failed == 0
    val headline = samples.filter(_.kind == w.headline).map(_.ms)
    // a round holds one operation of each kind, so one client completes
    // a round in the sum of the kinds' latencies; medians, so that a
    // stall of the host during a few operations does not move the figure
    val roundMs = samples.filter(_.ok).groupBy(_.kind).values.map(ss => median(ss.map(_.ms))).sum

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", w.opsPerRound * w.itemsPerOp * 1e3 / roundMs, "1/s"),
      ("p50_ms", median(headline), "ms"),
      ("quality", out.quality, "ratio"),
      ("bytes_per_item", out.bytesPerItem, "B"))
    out.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))

    val report = Json.obj(
      "workload" -> Json.str(name), "seed" -> Json.num(seed.toDouble),
      "setup_build_s" -> Json.num(buildS),
      "setup_warm_up_s" -> Json.num(warmUpS),
      "checks_s" -> Json.num(checksS),
      "window_cpu_s" -> Json.num(windowCpuS),
      "error_rate" -> Json.num((failedOps + out.degraded + out.failures.size).toDouble / attempted),
      "inputs" -> Json.obj(w.inputs.map { case (k, v) => k -> Json.num(v) }: _*),
      "latency" -> Json.obj(samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
        val ms = ss.map(_.ms)
        k -> Json.obj("n" -> Json.num(ms.size.toDouble), "p50_ms" -> Json.num(median(ms)),
          "p90_ms" -> Json.num(quantile(ms, 0.9)),
          "ms" -> ms.map(m => Json.num(math.rint(m))).mkString("[", ",", "]"),
          "cpu_ms" -> ss.map(m => Json.num(math.rint(m.cpuMs))).mkString("[", ",", "]"))
      }: _*),
      "metrics" -> Json.obj(out.report.map { case (k, v, u) => k -> metric(v, u) }: _*))
    println("report " + report)

    val metrics =
      if (!trace) endToEnd.map { case (k, v, u) => k -> metric(v, u) }
      else {
        val untracedMs = samples.map(_.ms).sum / samples.size
        val tracedMs = traced.map(_.ms).sum / traced.size
        w.tracer.write(dir.getParent.getParent.resolve(s"traces/$name-seed$seed.jsonl"))
        val layer = w.layerMetrics(traced, listener) ++ sparkCounters(listener, w.tracer) ++ Map(
          "trace.ops" -> traced.size.toDouble,
          "trace.untraced_op_ms" -> untracedMs,
          "trace.traced_op_ms" -> tracedMs,
          "trace.overhead_ms_per_op" -> (tracedMs - untracedMs),
          "plans.optimize_ms" -> w.tracer.optimizeNs / 1e6 / traced.size,
          "plans.physical_ms" -> w.tracer.physicalNs / 1e6 / traced.size)
        // bare numbers: run.py attaches the units BENCHMARK.json declares
        layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
      }
    println(Json.obj(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "metrics" -> Json.obj(metrics: _*)))
    if (correct) 0 else 1
  }

  /** Runs operations back to back (closed loop, one client) until the
    * deadline has passed and a round is complete, or exactly `ops` of them. */
  private def timedLoop(w: Workload, seconds: Double, ops: Option[Int]): Seq[Sample] = {
    val out = ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (ops.fold(System.nanoTime() < deadline || i % w.opsPerRound != 0 || i == 0)(i < _)) {
      w.tracer.op = i
      val t0 = System.nanoTime()
      val c0 = processCpuNs()
      val (kind, ok) =
        try (w.run(i), true)
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] operation $i failed: $e")
            e.printStackTrace()
            ("failed", false)
        }
      out += Sample(kind, (System.nanoTime() - t0) / 1e6, ok, (processCpuNs() - c0) / 1e6)
      i += 1
    }
    out.toSeq
  }

  private def sparkCounters(l: LayerListener, t: Tracer): Map[String, Double] =
    l.byLayer.toSeq.flatMap { case (layer, c) =>
      Seq(
        s"$layer.jobs" -> c.jobs.sum.toDouble,
        s"$layer.tasks" -> c.tasks.sum.toDouble,
        s"$layer.executor_cpu_s" -> c.cpuNs.sum / 1e9,
        s"$layer.gc_s" -> c.gcMs.sum / 1e3,
        s"$layer.shuffle_write_b" -> c.shuffleWrite.sum.toDouble,
        s"$layer.shuffle_read_b" -> c.shuffleRead.sum.toDouble,
        s"$layer.spill_b" -> c.spill.sum.toDouble,
        s"$layer.input_b" -> c.inputBytes.sum.toDouble,
        s"$layer.input_rows" -> c.inputRows.sum.toDouble,
        s"$layer.busy_s" -> t.selfSeconds(layer))
    }.toMap

  private def metric(v: Double, unit: String): String =
    Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))

  /** CPU time of every thread of this process: task threads, the driver,
    * the garbage collector and the JIT compiler. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Regular files under `p` whose name starts with `part-`, as (count, bytes). */
  def dataFiles(p: Path): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0
        var b = 0L
        s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
          .forEach { f => n += 1; b += Files.size(f) }
        (n, b)
      } finally s.close()
    }
}

/** Minimal JSON writer; values are rendered on the way in. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
