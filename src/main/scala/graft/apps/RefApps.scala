package graft.apps

import graft.core.{KeyValue, MRApp}
import graft.functions.Tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's eight Map/Reduce application programs
  * (reference: the eight files under src/mrapps/) re-expressed as
  * [[MRApp]] closures.
  * These are the "queries" the golden-parity suite checks against
  * [[graft.core.SequentialOracle]], mirroring src/main/test-mr.sh.
  */
object RefApps {

  /** Word count (reference: src/mrapps/wc.go:21-44): one ("word","1") per
    * occurrence; reduce = number of values. */
  object WordCount extends MRApp {
    def map(file: String, contents: String): Seq[KeyValue] =
      Tokens.split(contents).map(w => KeyValue(w, "1"))
    def reduce(key: String, values: Seq[String]): String =
      values.length.toString
  }

  /** Inverted index (reference: src/mrapps/indexer.go:20-39): per-document
    * DISTINCT words → (word, doc); reduce sorts the doc list and emits
    * "<n> <doc1,doc2,...>". */
  object Indexer extends MRApp {
    def map(file: String, contents: String): Seq[KeyValue] =
      Tokens.split(contents).distinct.map(w => KeyValue(w, file))
    def reduce(key: String, values: Seq[String]): String = {
      val docs = values.sorted
      s"${docs.length} ${docs.mkString(",")}"
    }
  }

  /** Per-file row count (reference: src/mrapps/early_exit.go:21-40,
    * minus the 3 s straggler sleep — that behavior is covered by Spark
    * speculation config, not by data semantics). */
  object PerFileCount extends MRApp {
    def map(file: String, contents: String): Seq[KeyValue] =
      Seq(KeyValue(file, "1"))
    def reduce(key: String, values: Seq[String]): String =
      values.length.toString
  }

  /** The crash/nocrash apps' data semantics (reference:
    * src/mrapps/nocrash.go:17-47, identical emissions to crash.go with the
    * fault injection disabled): map emits four fixed keys per file; reduce
    * sorts values and space-joins them. `contents.getBytes.length` mirrors
    * Go's byte-length `len()` (reference: src/mrapps/crash.go:39-40). */
  object CrashShape extends MRApp {
    def map(file: String, contents: String): Seq[KeyValue] = Seq(
      KeyValue("a", file),
      KeyValue("b", file.getBytes("UTF-8").length.toString),
      KeyValue("c", contents.getBytes("UTF-8").length.toString),
      KeyValue("d", "xyzzy"))
    def reduce(key: String, values: Seq[String]): String =
      values.sorted.mkString(" ")
  }

  /** rtiming's data shape (reference: src/mrapps/rtiming.go:62-84): ten
    * single-letter keys spanning all R=10 buckets. The concurrency probe
    * itself is asserted via SparkListener in tests, not via data. */
  object TenKeys extends MRApp {
    def map(file: String, contents: String): Seq[KeyValue] =
      ('a' to 'j').map(c => KeyValue(c.toString, "1"))
    def reduce(key: String, values: Seq[String]): String =
      values.length.toString
  }

  // ---- Idiomatic DataFrame twins (what a Spark user would write) ----

  /** Word count as a declarative plan: explode/split → filter → count.
    * Catalyst adds map-side partial aggregation the reference lacks
    * (reference: src/mr/worker.go:92-94 ships every ("w","1") through the
    * shuffle) — same result, far less shuffle IO at scale. */
  def wordCountDF(docs: DataFrame, textCol: String): DataFrame =
    Tokens.words(docs, col(textCol))
      .groupBy("word")
      .count()

  /** Inverted index, declarative: distinct (word, doc) before the shuffle
    * (mirrors the map-side set in indexer.go:21-27), then per-word count +
    * sorted comma-joined doc list. */
  def invertedIndexDF(docs: DataFrame, textCol: String, docCol: String): DataFrame =
    Tokens.words(docs, col(textCol), col(docCol).cast("string").as("doc"))
      .distinct()
      .groupBy("word")
      .agg(
        count("*").as("n_docs"),
        concat_ws(",", sort_array(collect_set(col("doc")))).as("docs"))
}
