package graft

import graft.apps.RefApps
import graft.core.MapReduceJob
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Behavioral analogs of the reference's probe apps (SURVEY.md §2.2
  * A4-A6), asserted via SparkListener instead of marker files:
  *  - jobcount (mrapps/jobcount.go): no duplicate task execution when
  *    nothing fails — every task runs exactly once;
  *  - mtiming/rtiming (mrapps/mtiming.go, rtiming.go): ≥2 tasks actually
  *    run concurrently on a multi-core master.
  * The two listener probes need a multi-file `MapReduceJob.run` input and
  * nothing of its contents, so they read `LocalCorpusParitySpec.corpus`,
  * written to a temp directory that `afterAll` deletes.
  */
class BehavioralSpec extends TestSpark {

  private lazy val corpusDir = LocalCorpusParitySpec.writeCorpus()
  private def corpusGlob = s"$corpusDir/*.txt"

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(corpusDir.toFile)
    super.afterAll()
  }

  private class ProbeListener extends SparkListener {
    val attempts = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    /** (launchTime, finishTime) of every finished task, in ms. */
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    override def onTaskStart(t: SparkListenerTaskStart): Unit = {
      attempts
        .computeIfAbsent(s"${t.stageId}-${t.taskInfo.index}", _ => new AtomicInteger)
        .incrementAndGet()
      ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      spans.add((t.taskInfo.launchTime, t.taskInfo.finishTime)); ()
    }

    /** The most tasks whose [launch, finish) intervals overlap at one
      * instant: measured from the tasks' own times, not from the order
      * the listener bus delivers their events in. */
    def maxOverlap: Int = {
      // at equal times a finish sorts before a launch, so intervals that
      // only touch do not count as overlapping
      val edges = spans.asScala.toSeq.flatMap { case (l, f) => Seq((l, 1), (f, -1)) }
        .sortBy { case (time, d) => (time, d) }
      edges.scanLeft(0)(_ + _._2).max
    }
  }

  /** The listener bus delivers asynchronously (and its waitUntilEmpty is
    * private[spark]) — poll until the task-start/end counts go quiet. */
  private def waitForListener(probe: ProbeListener): Unit = {
    var last = -1
    var stable = 0
    while (stable < 3) {
      val now = probe.attempts.size() * 1000 + probe.spans.size()
      if (now == last) stable += 1 else { stable = 0; last = now }
      Thread.sleep(200)
    }
  }

  test("no duplicate task execution without failures (jobcount analog)") {
    val probe = new ProbeListener
    spark.sparkContext.addSparkListener(probe)
    try {
      MapReduceJob.run(spark, corpusGlob, RefApps.WordCount, numReduce = 10).collect()
      waitForListener(probe)
      val dupes = probe.attempts.entrySet().toArray.collect {
        case e: java.util.Map.Entry[_, _]
          if e.getValue.asInstanceOf[AtomicInteger].get() > 1 => e.getKey
      }
      assert(dupes.isEmpty, s"tasks executed more than once: ${dupes.mkString(",")}")
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  test("tasks run concurrently on local[4] (mtiming/rtiming analog)") {
    val probe = new ProbeListener
    spark.sparkContext.addSparkListener(probe)
    try {
      MapReduceJob.run(spark, corpusGlob, RefApps.WordCount, numReduce = 10).collect()
      waitForListener(probe)
      assert(probe.maxOverlap >= 2,
        s"expected >=2 concurrent tasks, saw max ${probe.maxOverlap}")
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  test("job completes under an injected task failure (crash-recovery analog)") {
    // The reference's crash test (test-mr.sh:271-317): closures die,
    // engine must still produce the golden output. The session runs
    // local[4,2] (maxTaskFailures=2), so one injected crash per job is
    // retried — the Spark equivalent of the coordinator's 10 s
    // watchdog-requeue (reference: src/mr/coordinator.go:114-141).
    BehavioralSpec.crashOnce.set(true)
    import spark.implicits._
    val input = spark.createDataset(Seq(("f1", "a b c"), ("f2", "b c d")))
    object FlakyApp extends graft.core.MRApp {
      def map(f: String, c: String): Seq[graft.core.KeyValue] = {
        if (BehavioralSpec.crashOnce.compareAndSet(true, false))
          throw new RuntimeException("injected crash (reference crash.go analog)")
        c.split(" ").toIndexedSeq.map(w => graft.core.KeyValue(w, "1"))
      }
      def reduce(k: String, vs: Seq[String]): String = vs.length.toString
    }
    val out = MapReduceJob.runOnRows(spark, input, FlakyApp, 4)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(out == Map("a" -> "1", "b" -> "2", "c" -> "2", "d" -> "1"))
  }

  test("straggler triggers a speculative attempt (early_exit/mtiming analog)") {
    // spark.speculation is read once at SparkContext startup, so the probe
    // runs in its own JVM (graft.tools.SpeculationProbe): one 8 s straggler
    // among 0.2 s tasks must make the speculation scheduler submit a
    // speculative attempt — the reference's straggler-sleep probes
    // (reference: src/mrapps/early_exit.go:32-40, mtiming.go).
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.tools.SpeculationProbe")
    val out = new StringBuilder
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    // local-cluster's in-process Worker launches executor JVMs through the
    // spark-launcher library, which needs the Scala version the sbin
    // scripts would normally export
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    val proc = pb.start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = reader.readLine()
    while (line != null) { out.append(line).append('\n'); line = reader.readLine() }
    val exit = proc.waitFor()
    val probeLine = out.toString.linesIterator
      .find(_.startsWith("SPECULATION_PROBE")).getOrElse("<no probe output>")
    info(probeLine)
    assert(exit == 0, s"probe failed (exit $exit): $probeLine")
  }

  test("anti-flake: crash recovery + concurrency stable across 5 trials (test-mr-many.sh analog)") {
    // The reference reruns its whole suite N times to shake out
    // nondeterminism (reference: src/main/test-mr-many.sh). The
    // listener/retry tests are the flake-prone kind — repeat the core
    // assertions 5x in-process.
    import spark.implicits._
    (1 to 5).foreach { trial =>
      BehavioralSpec.crashOnce.set(true)
      val input = spark.createDataset(Seq(("f1", "a b c"), ("f2", "b c d"), ("f3", "a d")))
      val out = MapReduceJob.runOnRows(spark, input, BehavioralSpec.TrialFlakyApp, 4)
        .collect().map(kv => kv.key -> kv.value).toMap
      assert(out == Map("a" -> "2", "b" -> "2", "c" -> "2", "d" -> "2"),
        s"trial $trial produced $out")
      val probe = new ProbeListener
      spark.sparkContext.addSparkListener(probe)
      try {
        val n = spark.sparkContext.parallelize(1 to 64, 8)
          .map { i => Thread.sleep(50); i }.count()
        assert(n == 64)
        waitForListener(probe)
        assert(probe.maxOverlap >= 2, s"trial $trial: no concurrency observed")
      } finally spark.sparkContext.removeSparkListener(probe)
    }
  }
}

object BehavioralSpec {
  val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Top-level (non-inner) app so the closure doesn't capture the suite. */
  object TrialFlakyApp extends graft.core.MRApp {
    def map(f: String, c: String): Seq[graft.core.KeyValue] = {
      if (crashOnce.compareAndSet(true, false))
        throw new RuntimeException("injected trial crash")
      c.split(" ").toIndexedSeq.map(w => graft.core.KeyValue(w, "1"))
    }
    def reduce(k: String, vs: Seq[String]): String = vs.length.toString
  }
}
