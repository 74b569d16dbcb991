package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/** The single record type flowing through the reference engine
  * (reference: src/mr/worker.go:17-20 — `KeyValue{Key,Value string}`).
  */
final case class KeyValue(key: String, value: String)

/** A (key, value) pair as it crosses the shuffle: `n` identical
  * emissions of one map call, collapsed into one row. */
final case class CountedKeyValue(key: String, value: String, n: Int)

/** A MapReduce application — the reference's "query" abstraction.
  *
  * The reference loads a pair of closures from a Go plugin
  * (reference: src/main/mrworker.go:34-51):
  *   - map:    (filename, whole file contents) → list of KeyValue
  *     (reference: src/mr/worker.go:71-81)
  *   - reduce: (key, all values for that key) → single output string
  *     (reference: src/mr/worker.go:133-142)
  *
  * Reduce receives the *complete* value list (several reference reducers
  * sort it — e.g. indexer), so the faithful Spark primitive is a
  * whole-group `mapGroups`, not an incremental fold.
  */
trait MRApp extends Serializable {
  def map(file: String, contents: String): Seq[KeyValue]
  def reduce(key: String, values: Seq[String]): String
}

/** Spark-native distributed MapReduce engine with the semantics of the
  * reference's coordinator/worker pipeline (reference: src/mr/worker.go,
  * src/mr/coordinator.go). The control plane — task queues, barriers,
  * watchdog re-execution, commit protocol (reference:
  * src/mr/coordinator.go:92-235) — is deliberately NOT ported: Spark's
  * DAGScheduler, shuffle, speculative execution and OutputCommitCoordinator
  * provide strict supersets of each.
  *
  * Pipeline: wholetext scan → flatMap(mapf, combined per call) → hash
  * repartition on key → sort within partition → run-grouping → reducef,
  * which mirrors scan → map → ihash(key)%R routing → per-partition sort →
  * two-pointer group → reduce (reference: src/mr/worker.go:70-152). The
  * per-call combining (see `runOnRows`) is the one departure: the
  * reference has no combiner, and the reducers see the same values.
  *
  * Scale note: the reference pins 1 map task = 1 whole input file with a
  * full in-memory sort per reduce partition (reference:
  * src/mr/coordinator.go:246-258, src/mr/worker.go:112-129) — neither
  * survives 100 TB. Here the shuffle/sort are Spark's spillable external
  * versions, and `runOnRows` offers a splittable (line/row-granular) input
  * path for large files while `run` keeps whole-file map granularity for
  * strict parity with the reference's (filename, contents) contract.
  */
object MapReduceJob {

  /** Distributed run with whole-file map granularity (parity mode).
    * Returns a Dataset of (key, value) result pairs.
    */
  def run(
      spark: SparkSession,
      inputGlob: String,
      app: MRApp,
      numReduce: Int = 10): Dataset[KeyValue] = {
    import spark.implicits._
    // (filename, contents) pairs — the reference's map input contract
    // (reference: src/mr/worker.go:71-81).
    val files = spark.read
      .option("wholetext", value = true)
      .text(inputGlob)
      .select(input_file_name().as("file"), col("value").as("contents"))
      .as[(String, String)]
    runOnRows(spark, files, app, numReduce)
  }

  /** Distributed run over arbitrary (name, payload) rows — the splittable
    * scale path: callers may chunk huge files upstream, or feed table rows.
    *
    * Combining contract: the identical (key, value) emissions of each
    * single `app.map` call ship through the shuffle as one row carrying
    * their count, and the reduce side expands every row back to that many
    * copies. So `app.reduce` receives, for each key, exactly the multiset
    * of values the map calls emitted — as in the reference, where wc
    * ships one ("w","1") per occurrence (reference: src/mr/worker.go:92-94).
    * The order of values within a key is unspecified, as it already is in
    * the reference, whose `sort.Sort` is unstable (reference:
    * src/mr/worker.go:129); order-sensitive reducers sort their values.
    * Combining never crosses map calls, so it holds no state beyond one
    * call's output, and the plan keeps exactly one shuffle.
    */
  def runOnRows(
      spark: SparkSession,
      input: Dataset[(String, String)],
      app: MRApp,
      numReduce: Int): Dataset[KeyValue] = {
    import spark.implicits._
    input
      .flatMap { case (f, c) => combine(app.map(f, c)) }
      // ihash(key) % R routing (reference: src/mr/worker.go:26-30,92-94).
      // Spark's Murmur3-based HashPartitioner differs from the reference's
      // FNV-1a only in *which* bucket a key lands in — invisible to results
      // (the reference's own tests sort-concatenate all buckets, reference:
      // src/main/test-mr.sh:90).
      .repartition(numReduce, $"key")
      // Per-partition binary-order sort (reference: src/mr/worker.go:129);
      // Spark's UTF8String comparison is bytewise like Go `<` on strings.
      .sortWithinPartitions($"key")
      // Two-pointer run grouping + whole-list reduce
      // (reference: src/mr/worker.go:133-142), expanding each combined
      // row back to its count.
      .mapPartitions { it =>
        new Iterator[KeyValue] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): KeyValue = {
            val k = buf.head.key
            val values = ArraySeq.newBuilder[String]
            while (buf.hasNext && buf.head.key == k) {
              val r = buf.next()
              var i = 0
              while (i < r.n) { values += r.value; i += 1 }
            }
            KeyValue(k, app.reduce(k, values.result()))
          }
        }
      }
  }

  /** One map call's emissions with identical pairs collapsed into one
    * counted row each, in order of first emission: the rows, and so the
    * shuffle's bytes, depend only on what the call emitted. */
  private def combine(kvs: Seq[KeyValue]): Iterator[CountedKeyValue] = {
    val counts = new java.util.LinkedHashMap[KeyValue, Integer]()
    kvs.foreach(kv => counts.merge(kv, 1, (a: Integer, b: Integer) => a + b))
    counts.entrySet.iterator.asScala.map(e =>
      CountedKeyValue(e.getKey.key, e.getKey.value, e.getValue))
  }

  /** Text sink: one "key value" line per record, R output partitions —
    * the shape of mr-out-<r> files (reference: src/mr/worker.go:131-152).
    * Task-temp-file + atomic commit comes from Spark's FileOutputCommitter
    * (the reference hand-rolls the same via os.CreateTemp + os.Rename,
    * reference: src/mr/worker.go:96-99,149-152).
    */
  def writeText(result: Dataset[KeyValue], outDir: String): Unit = {
    val spark = result.sparkSession
    import spark.implicits._
    result.map(kv => s"${kv.key} ${kv.value}").write.mode("overwrite").text(outDir)
  }
}

/** Single-process golden oracle, mirroring the course's mrsequential
  * (reference: src/main/mrsequential.go:25-87): read everything → map →
  * one global sort → group runs → reduce. Used by the parity test suite
  * exactly as test-mr.sh uses mrsequential (reference:
  * src/main/test-mr.sh:66-98).
  */
object SequentialOracle {
  def run(app: MRApp, inputs: Seq[(String, String)]): Seq[KeyValue] = {
    val intermediate = inputs
      .flatMap { case (f, c) => app.map(f, c) }
      .sortBy(_.key) // bytewise, like sort.Sort(ByKey) (mrsequential.go:59)
    val out = scala.collection.mutable.ArrayBuffer[KeyValue]()
    var i = 0
    while (i < intermediate.length) {
      var j = i
      while (j < intermediate.length && intermediate(j).key == intermediate(i).key) j += 1
      val values = intermediate.slice(i, j).map(_.value)
      out += KeyValue(intermediate(i).key, app.reduce(intermediate(i).key, values))
      i = j
    }
    out.toSeq
  }

  def runOnFiles(app: MRApp, paths: Seq[String]): Seq[KeyValue] =
    run(app, paths.map { p =>
      p -> new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8)
    })
}
