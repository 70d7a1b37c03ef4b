package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** The tasks of each Spark job `body` starts on this thread, in start
    * order (submitted stages only; a skipped stage runs none). Jobs are
    * told apart by a local property; a marker job run after `body`
    * drains the listener bus, whose events arrive in order. */
  def sparkJobs(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val id = java.util.UUID.randomUUID().toString
    val jobTasks = TrieMap.empty[Int, AtomicInteger]
    val jobOfStage = TrieMap.empty[Int, Int]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        Option(ev.properties).map(_.getProperty(tag)).foreach { t =>
          if (t == id) {
            jobTasks.put(ev.jobId, new AtomicInteger)
            ev.stageIds.foreach(jobOfStage.putIfAbsent(_, ev.jobId))
          } else if (t == s"$id:end") drained.countDown()
        }
      override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
        jobOfStage.get(ev.stageInfo.stageId)
          .foreach(j => jobTasks(j).addAndGet(ev.stageInfo.numTasks))
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(tag)
    try {
      sc.setLocalProperty(tag, id)
      body
      sc.setLocalProperty(tag, s"$id:end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.setLocalProperty(tag, prev)
      sc.removeSparkListener(listener)
    }
    jobTasks.toSeq.sortBy(_._1).map(_._2.get)
  }

  /** File scans under `path` that the queries `body` runs executed:
    * the final (adaptive) plan of every query is walked, a reused
    * exchange counts as no scan. Queries arrive through the listener
    * bus in order, so a marker query run after `body` drains it. */
  def fileScans(path: String)(body: => Unit): Int = {
    val marker = s"__drained_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val drained = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) drained.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(1).as(marker)).collect()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally spark.listenerManager.unregister(listener)
    def scans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _: ReusedExchangeExec => 0
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains(path))) 1 else 0
      case other => (other.children ++ other.subqueries).map(scans).sum
    }
    plans.asScala.toSeq.map(scans).sum
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it per-suite.
    super.afterAll()
  }
}
