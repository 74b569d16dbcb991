package graft

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

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same JVM, but drop
    // this suite's per-session caches (persisted cluster labels, centroid
    // broadcasts) so nothing pins executor memory across suites; the next
    // consumer rebuilds them.
    SessionCache.releaseAll(spark)
  }
}
