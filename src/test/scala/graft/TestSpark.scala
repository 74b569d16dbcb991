package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suite (one per JVM). */
trait TestSpark extends AnyFunSuite with BeforeAndAfterAll {
  // local[4,2]: 4 threads, maxTaskFailures=2 — lets the crash-recovery
  // test inject a task failure and observe Spark's re-execution (the
  // reference's watchdog-requeue, coordinator.go:114-141, as config).
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // reliable-checkpoint dir (matches Verify): connectedComponents takes
    // its production df.checkpoint() branch throughout the suite instead
    // of only ever exercising localCheckpoint; scratch deleted on exit
    s.sparkContext.setCheckpointDir(Tables.scratchDir(s, "ckpt"))
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  /** Jobs started under a job group while `body` runs. A one-task
    * barrier job in a second group runs after it: the listener bus
    * delivers events in order, so once the barrier's start arrives every
    * earlier job start has too. */
  def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val barrier = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-barrier" => barrier.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(s"$group-barrier", "listener barrier")
      sc.parallelize(Seq(0), 1).count()
      assert(barrier.await(60, TimeUnit.SECONDS), "barrier job never started")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same JVM, but drop
    // this suite's per-session caches (persisted cluster labels, centroid
    // broadcasts) so nothing pins executor memory across suites; the next
    // consumer rebuilds them.
    SessionCache.releaseAll(spark)
  }
}
