package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.apps.RefApps
import graft.core.MapReduceJob

/** One benchmark operation: a SparkEntry query run (builder call, forced
  * physical plan, collect) or one wordcount+indexer MapReduce pair.
  * `copy` is the copy of the input it read; `cold` marks the first pass
  * over that copy. */
final case class Op(id: Long, qid: String, round: Int, copy: Int, cold: Boolean,
    traced: Boolean, startUs: Long, endUs: Long, error: Option[String])

/** The benchmark's JVM side. `run.py` builds it, prepares the inputs and
  * launches it; this process creates one `local[4]` session, warms it,
  * drives one workload through the public entry points only
  * (`SparkEntry.queries`, `MapReduceJob`, `RefApps`), and writes a JSON
  * record for `run.py` to check and report.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <launchEpochUs>
  *        Main oracles <outFile>
  */
object Main {
  val Cores = 4
  val IterativeQueries = Seq("q152_pagerank", "q183_table_stats_sketch",
    "q205_hist_merge", "q248_knn_delta_admit", "q33_stream_tumbling")
  /** iterative_cold_warm's set-up runs the query with the most engine
    * code and by far the largest first-run cost. A pass over all five
    * queries left the cold pass about 5 s faster still, but took 43 s
    * instead of 25 s. */
  val WarmupQuery = "q248_knn_delta_admit"
  /** Copies of the workload's input that `run.py` prepares (`copy-1` …). */
  val MaxCopies = 8

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("oracles", out) =>
      val names = IterativeQueries.sorted
      Files.writeString(Paths.get(out),
        Json.write(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    case Seq(workload, seed, seconds, trace, work, launchUs) =>
      new Main(workload, seed.toLong, seconds.toDouble, trace == "1", work,
        launchUs.toLong).run()
    case _ =>
      System.err.println("usage: Main <workload> <seed> <seconds> <trace> <workDir> <launchEpochUs>")
      sys.exit(2)
  }
}

final class Main(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, launchUs: Long) {
  import Main._

  private val spark = SparkSession.builder()
    .master(s"local[$Cores]")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/tmp")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  spark.sparkContext.setCheckpointDir(s"$work/ckpt")
  private val tr = new Tracer(spark)
  private val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
  private val outDir = s"$work/out"

  /** One pass over the workload: its number, the input copy it reads,
    * and whether it is that copy's first. */
  private final case class Pass(round: Int, copy: Int, cold: Boolean) {
    def input: String = s"$work/copy-$copy"
  }

  private def mrPair(op: Long, corpus: String, out: String): Unit =
    Seq(RefApps.WordCount -> "wc", RefApps.Indexer -> "ix").foreach { case (app, name) =>
      val ds = tr.span("entry", s"MapReduceJob.run $name", op)(
        MapReduceJob.run(spark, s"$corpus/*.txt", app, numReduce = 10))
      tr.span("exec", s"writeText $name", op)(MapReduceJob.writeText(ds, s"$out/$name"))
    }

  /** Runs one operation and records its span and wall time. A failure is
    * recorded, never thrown: the workload goes on and the op counts as
    * failed. */
  private def timed(qid: String, p: Pass)(body: Long => Unit): Op = {
    val id = tr.nextId()
    val t0 = Clock.nowUs
    val err =
      try { body(id); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val t1 = Clock.nowUs
    tr.add(Span(id, 0L, "op", qid, id, "op", t0, t1))
    val o = Op(id, qid, p.round, p.copy, p.cold, tr.attached, t0, t1, err)
    ops += o
    err.foreach(m => System.err.println(s"[perfbench] FAILED $qid: $m"))
    o
  }

  /** Builder call, forced physical plan, then collect: the three layers a
    * SparkEntry query passes through, timed separately. Collect reuses the
    * planned query; a write would plan it again under a new command. The
    * result goes to `check` for the digest check, outside the op's time. */
  private def query(q: String, p: Pass, check: String): Unit = {
    var result: Option[(DataFrame, Array[org.apache.spark.sql.Row])] = None
    val o = timed(q, p) { op =>
      val df = tr.span("entry", q, op)(SparkEntry.queries(q)(spark, p.input))
      tr.span("catalyst", q, op)(df.queryExecution.executedPlan)
      result = Some((df, tr.span("exec", q, op)(df.collect())))
    }
    for ((df, rows) <- result) {
      tr.span("check", q, o.id)(
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(check))
    }
  }

  private val setupSteps = scala.collection.mutable.LinkedHashMap[String, Double](
    "session" -> (Clock.nowUs - launchUs) / 1e6)

  /** Warms the JIT on a copy of the input that no timed pass reads, so
    * their path-keyed session state still starts cold: one MapReduce
    * pair, or `WarmupQuery`. */
  private def setup(): Double = {
    if (workload == "mr_wordindex") mrPair(0L, s"$work/warm", s"$work/warm_out")
    else SparkEntry.queries(WarmupQuery)(spark, s"$work/warm").collect()
    setupSteps("warmup_pass") = (Clock.nowUs - launchUs) / 1e6
    setupSteps.values.last
  }

  // ---- workloads -------------------------------------------------------

  /** The timed passes. Each copy of the input gets a cold pass, its
    * first, then `warmPerCopy` warm passes; copies go on until the window
    * has elapsed and at least `minCopies` are done. A traced run traces
    * every cold pass and gives each copy two warm passes, one traced and
    * one not; which comes first alternates with the copy and the seed,
    * so the tracing overhead has no order bias across copies and runs. */
  private def passes(minCopies: Int, warmPerCopy: Int)(pass: Pass => Unit): Unit = {
    val t0 = System.nanoTime()
    val warm = if (trace) 2 else warmPerCopy
    var round = 0
    var copy = 0
    while (copy < MaxCopies && (copy < minCopies || (System.nanoTime() - t0) / 1e9 < seconds)) {
      copy += 1
      for (w <- 0 to warm) {
        if (trace && (w == 0 || (w == 1) == ((copy + seed) % 2 == 1))) tr.attach()
        else tr.detach()
        round += 1
        pass(Pass(round, copy, cold = w == 0))
      }
    }
    tr.detach()
  }

  private def mrWordIndex(): Unit =
    passes(minCopies = 3, warmPerCopy = 1) { p =>
      timed("mr_pair", p)(op => mrPair(op, p.input, s"$outDir/r${p.round}"))
    }

  private def iterative(): Unit = {
    val order = new scala.util.Random(seed).shuffle(IterativeQueries)
    passes(minCopies = 1, warmPerCopy = 1) { p =>
      order.foreach(q => query(q, p, s"$outDir/r${p.round}/$q"))
    }
  }

  // ---- report ----------------------------------------------------------

  def run(): Unit = {
    val setupS = setup()
    val tw = System.nanoTime()
    workload match {
      case "mr_wordindex" => mrWordIndex()
      case "iterative_cold_warm" => iterative()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val windowS = (System.nanoTime() - tw) / 1e9
    val sc = spark.sparkContext
    val cache = Map(
      "persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "storage_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "setup_steps" -> setupSteps, "window_s" -> windowS,
      "ops" -> ops.map(o => Map("id" -> o.id, "qid" -> o.qid, "round" -> o.round,
        "copy" -> o.copy, "cold" -> o.cold, "traced" -> o.traced, "start_us" -> o.startUs,
        "wall_s" -> (o.endUs - o.startUs) / 1e6,
        "error" -> o.error.orNull)),
      "host" -> Map(
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "cores_used" -> Cores,
        "available_processors" -> Runtime.getRuntime.availableProcessors),
      "cache" -> cache)
    Files.writeString(Paths.get(s"$work/jvm_result.json"), Json.write(out))
    if (trace) {
      val w = Files.newBufferedWriter(Paths.get(s"$work/spans.jsonl"))
      try tr.all.sortBy(_.startUs).foreach { s =>
        w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "op" -> s.op, "layer" -> s.layer, "start_us" -> s.startUs,
          "end_us" -> s.endUs, "attrs" -> s.attrs)))
        w.newLine()
      } finally w.close()
    }
    spark.stop()
  }
}
