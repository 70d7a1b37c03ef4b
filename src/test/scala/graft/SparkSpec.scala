package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
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

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it per-suite.
    super.afterAll()
  }
}
