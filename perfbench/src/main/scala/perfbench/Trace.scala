package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds. `op` is the
  * benchmark operation (one query run or one MapReduce pair) the span
  * belongs to; every span of one operation shares it. `layer` is the
  * benchmark call the work happened under (entry, catalyst, exec, check).
  */
final case class Span(
    id: Long, parent: Long, kind: String, name: String,
    op: Long, layer: String, startUs: Long, endUs: Long,
    attrs: Map[String, Double] = Map.empty)

/** A job's own span id and the benchmark call that submitted it. */
final case class JobInfo(id: Long, span: Long, op: Long, layer: String, startUs: Long)

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Spans kept in memory for the whole run. The benchmark records spans
  * around its own calls into each layer; the listeners add job, stage,
  * task, query-planning and micro-batch spans while they are attached.
  * Nothing is recorded while detached, so an untraced run pays only for
  * the local properties that tag jobs with their operation.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var attached = false

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = { if (attached) spans.add(s); () }

  /** Runs `body` as a span of operation `op` in `layer`; the local
    * properties let the listener parent the jobs `body` submits. */
  def span[T](layer: String, name: String, op: Long)(body: => T): T = {
    val id = nextId()
    sc.setLocalProperty("pb.span", id.toString)
    sc.setLocalProperty("pb.op", op.toString)
    sc.setLocalProperty("pb.layer", layer)
    val t0 = Clock.nowUs
    try {
      val r = body
      add(Span(id, op, layer, name, op, layer, t0, Clock.nowUs))
      r
    } finally {
      sc.setLocalProperty("pb.span", null)
      sc.setLocalProperty("pb.layer", null)
    }
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val stageSubmitUs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val openJobs = new AtomicInteger(0)
  @volatile private var lastEventNs = System.nanoTime()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      openJobs.incrementAndGet()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val info = JobInfo(nextId(),
        prop("pb.span").map(_.toLong).getOrElse(0L),
        prop("pb.op").map(_.toLong).getOrElse(0L),
        prop("pb.layer").getOrElse("other"), e.time * 1000L)
      jobs.put(e.jobId, info)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      openJobs.decrementAndGet()
      Option(jobs.get(e.jobId)).foreach { j =>
        add(Span(j.id, j.span, "job", s"job ${e.jobId}", j.op, j.layer,
          j.startUs, e.time * 1000L))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      lastEventNs = System.nanoTime()
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      stageSpan.put(key, nextId())
      stageSubmitUs.put(key, si.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L)
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs = System.nanoTime()
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      val j = Option(stageJob.get(si.stageId)).flatMap(id => Option(jobs.get(id)))
      add(Span(Option(stageSpan.get(key)).map(_.longValue).getOrElse(nextId()),
        j.map(_.id).getOrElse(0L), "stage", si.name.take(80),
        j.map(_.op).getOrElse(0L), j.map(_.layer).getOrElse("other"),
        Option(stageSubmitUs.get(key)).map(_.longValue).getOrElse(0L),
        si.completionTime.getOrElse(System.currentTimeMillis()) * 1000L,
        Map("tasks" -> si.numTasks.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      val key = (e.stageId, e.stageAttemptId)
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      val submit = Option(stageSubmitUs.get(key)).map(_.longValue).getOrElse(ti.launchTime * 1000L)
      add(Span(nextId(), Option(stageSpan.get(key)).map(_.longValue).getOrElse(0L),
        "task", s"task ${ti.taskId}", j.map(_.op).getOrElse(0L),
        j.map(_.layer).getOrElse("other"), ti.launchTime * 1000L, ti.finishTime * 1000L,
        Map(
          "cpu_s" -> m.map(_.executorCpuTime / 1e9).getOrElse(0.0),
          "run_s" -> m.map(_.executorRunTime / 1e3).getOrElse(0.0),
          "gc_s" -> m.map(_.jvmGCTime / 1e3).getOrElse(0.0),
          "sw_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0),
          "sw_records" -> m.map(_.shuffleWriteMetrics.recordsWritten.toDouble).getOrElse(0.0),
          "spill_bytes" -> m.map(x => (x.memoryBytesSpilled + x.diskBytesSpilled).toDouble).getOrElse(0.0),
          "wait_s" -> math.max(0.0, (ti.launchTime * 1000L - submit) / 1e6))))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = { lastEventNs = System.nanoTime() }
  }

  /** Catalyst phases of every query execution that completes. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        add(Span(nextId(), 0L, "phase", phase, 0L, "catalyst",
          p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** One span per micro-batch, from the trigger's progress report. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000L
      add(Span(nextId(), 0L, "microbatch", s"batch ${p.batchId}", 0L, "streaming",
        startUs, startUs + p.batchDuration * 1000L,
        Map("rows" -> p.numInputRows.toDouble)))
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Waits until the listener bus has delivered the events of finished
    * work, then detaches, so a detached interval loses no events. */
  def detach(): Unit = if (attached) {
    settle()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
      (openJobs.get > 0 || System.nanoTime() - lastEventNs < 200000000L)) Thread.sleep(20)
  }

  def all: Seq[Span] = spans.asScala.toSeq
}
