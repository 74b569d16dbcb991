package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import graft.apps.RefApps
import graft.core.{KeyValue, MRApp, MapReduceJob, SequentialOracle}
import graft.functions.{SqlFunctions, Tokens}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

/** The test-mr.sh golden diff (reference: src/main/test-mr.sh:66-129) on a
  * corpus the suite writes itself: a seeded multi-file text with
  * Zipf-repeated words over Latin, Greek and Cyrillic letters (plus one
  * supplementary-plane word), separated by punctuation, digits and `_`.
  * Every reference app runs through `MapReduceJob.run` + `writeText` at
  * R = 10 and R = 3, and the written part files must sort-compare equal
  * to the sequential oracle. A count lock pins the per-map-call
  * combining: the shuffle carries one record per distinct (file, word).
  */
class LocalCorpusParitySpec extends TestSpark {
  import LocalCorpusParitySpec._

  private lazy val corpusDir: Path = writeCorpus()
  private lazy val files = corpus.map { case (name, _, _) => corpusDir.resolve(name).toString }
  private def glob = s"$corpusDir/*.txt"

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(corpusDir.toFile)
    super.afterAll()
  }

  private def sortedLines(kvs: Seq[KeyValue]): Seq[String] =
    kvs.map(kv => s"${kv.key} ${kv.value}").sorted

  /** Runs `app` distributed and returns the written lines, sorted — what
    * test-mr.sh compares after `sort mr-out* | grep .`. */
  private def writtenLines(app: MRApp, numReduce: Int): Seq[String] = {
    val outDir = Files.createTempDirectory("graft_mrout")
    try {
      MapReduceJob.writeText(MapReduceJob.run(spark, glob, app, numReduce), outDir.toString)
      val parts = outDir.toFile.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty, s"no part files written to $outDir")
      parts.toSeq.flatMap(f => Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String])).sorted
    } finally org.apache.commons.io.FileUtils.deleteDirectory(outDir.toFile)
  }

  private val apps: Seq[(String, MRApp)] = Seq(
    "wc" -> ByBasename(RefApps.WordCount),
    "indexer" -> ByBasename(RefApps.Indexer),
    "per-file count" -> ByBasename(RefApps.PerFileCount),
    "crash shape" -> ByBasename(RefApps.CrashShape),
    "ten keys" -> ByBasename(RefApps.TenKeys))

  for (numReduce <- Seq(10, 3); (name, app) <- apps)
    test(s"$name: written output matches the sequential oracle at R = $numReduce") {
      val oracle = sortedLines(SequentialOracle.runOnFiles(app, files))
      val written = writtenLines(app, numReduce)
      assert(written == oracle, {
        val diff = written.diff(oracle) ++ oracle.diff(written)
        s"output differs from oracle; first diffs: ${diff.take(5)}"
      })
    }

  test("corpus repeats words in every script and tokenizes to the generated words") {
    val wc = SequentialOracle.runOnFiles(RefApps.WordCount, files)
    val words = wc.map(_.key)
    assert(wc.exists(_.value.toInt >= 50), "no word repeats often")
    assert(words.exists(_.exists(c => c >= 'a' && c <= 'z')))
    assert(words.exists(_.exists(c => c >= 'α' && c <= 'ω')))
    assert(words.exists(_.exists(c => c >= 'а' && c <= 'я')))
    assert(words.exists(_.exists(Character.isHighSurrogate)))
    assert(wc.map(_.value.toLong).sum == corpus.map(_._3.size).sum)
  }

  test("shuffle carries one record per distinct (file, word) for wc and indexer") {
    val distinctPairs = corpus.map(_._3.distinct.size).sum.toLong
    val occurrences = corpus.map(_._3.size).sum.toLong
    assert(distinctPairs * 2 < occurrences, "corpus repeats too little to show combining")
    for (app <- Seq(RefApps.WordCount, RefApps.Indexer)) {
      val group = s"shuffle-count-${app.getClass.getSimpleName}"
      val counter = new ShuffleRecords(group)
      val sc = spark.sparkContext
      sc.addSparkListener(counter)
      sc.setJobGroup(group, group)
      try {
        writtenLines(app, numReduce = 10)
        assert(counter.total(sc) == distinctPairs, s"app ${app.getClass.getSimpleName}")
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(counter)
      }
    }
  }

  test("tokenize equals the regex split it replaced") {
    def regexSplit(s: String): Seq[String] = s.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)
    def hex(s: String): String = s.map(c => f"\\u${c.toInt}%04x").mkString
    val cases = Seq(
      "𝐀", "a𝐀b c", "𠀀𠀁", // U+1D400, U+20000, U+20001
      "e\u0301te", "\u0301", "x\u0301", // combining acute accent U+0301
      "ab\ud800cd", "ab\udc00cd", "\ud800", "\udc00", "x\ud800", "\udc00x",
      "\ud835𝐀", "𝐀\udc00", // an unpaired surrogate next to a pair
      "abc123def", "snake_case_word", "42", "_",
      "", " ", ",.;:!? \t\n-_0", "word", "  leading and trailing  ",
      "αβγ-кир Latin")
    // single UTF-16 units, so random strings also split surrogate pairs
    val alphabet = "aZ e\u0301\u03b1\u043a_9,𝐀𠀀\n".toVector
    val rnd = new scala.util.Random(7)
    val inputs = cases ++ Seq.fill(2000)(
      Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    for (s <- inputs) assert(Tokens.split(s) == regexSplit(s), hex(s))

    // the Spark form and the tokenize UDTF over the same inputs; Spark
    // stores an unpaired surrogate as '?', a separator like the surrogate
    import spark.implicits._
    val df = inputs.zipWithIndex.toDF("s", "i")
    val viaCol = df.select(col("i"), Tokens.col(col("s")))
      .as[(Int, Seq[String])].collect().toMap
    SqlFunctions.register(spark)
    df.createOrReplaceTempView("tokenize_parity_t")
    val viaUdtf = spark.sql(
      "SELECT i, pos, tok FROM tokenize_parity_t LATERAL VIEW tokenize(s) t AS pos, tok")
      .as[(Int, Int, String)].collect().groupBy(_._1)
      .map { case (i, rs) => i -> rs.sortBy(_._2).map(_._3).toSeq }
    for ((s, i) <- inputs.zipWithIndex) {
      assert(viaCol(i) == regexSplit(s), s"Tokens.col ${hex(s)}")
      assert(viaUdtf.getOrElse(i, Seq.empty) == regexSplit(s), s"tokenize UDTF ${hex(s)}")
    }
  }
}

object LocalCorpusParitySpec {

  /** Runs `app` with the file name cut to its base name: the distributed
    * path sees `file:` URIs, the oracle plain paths. */
  final case class ByBasename(app: MRApp) extends MRApp {
    def map(f: String, c: String): Seq[KeyValue] = app.map(f.substring(f.lastIndexOf('/') + 1), c)
    def reduce(k: String, vs: Seq[String]): String = app.reduce(k, vs)
  }

  private val latin = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private val greek = "αβγδεζηθλμπσω"
  private val cyrillic = "абвгдежиклмноя"
  private val separators = Vector(" ", " ", " ", "\n", ", ", ". ", " 42 ", "7", "_", " -- ", "\t", "!(", "0_")

  /** (file name, text, words in order) for six files; words are letter
    * runs and every separator holds no letter, so the words are exactly
    * what the tokenizer must find. */
  val corpus: Seq[(String, String, Seq[String])] = {
    val rnd = new scala.util.Random(20261017L)
    val words = (0 until 400).map { i =>
      val alphabet = Seq(latin, greek, cyrillic)(i % 3)
      Seq.fill(1 + rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val vocab = (words.take(5) :+ "𝐀𝐁") ++ words.drop(5)
    // Zipf(1.1) over the vocabulary, by inverse CDF
    val cdf = vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      vocab(if (i >= 0) i else -i - 1)
    }
    (0 until 6).map { f =>
      val tokens = Seq.fill(500 + rnd.nextInt(1500))(word())
      val text = new StringBuilder
      tokens.foreach(w => text.append(w).append(separators(rnd.nextInt(separators.size))))
      (f"doc-$f%02d.txt", text.toString, tokens)
    }
  }

  /** Writes `corpus` to a new temp directory, one `.txt` file per entry,
    * and returns the directory; the caller deletes it. */
  def writeCorpus(): Path = {
    val dir = Files.createTempDirectory("graft_mr_corpus")
    corpus.foreach { case (name, text, _) => Files.writeString(dir.resolve(name), text, UTF_8) }
    dir
  }

  /** Sums the shuffle records written by the tasks of one job group's
    * jobs. */
  final class ShuffleRecords(group: String) extends SparkListener {
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    private val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
    private val barrier = new CountDownLatch(1)
    private val records = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
        case `group` => e.stageIds.foreach(stages.add)
        case g if g == s"$group-barrier" => barrierJobs.add(e.jobId)
        case _ =>
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (barrierJobs.contains(e.jobId)) barrier.countDown()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)

    /** The records written so far. Runs a one-task job after the group's
      * jobs and waits for its end: the listener bus delivers events in
      * order, so by then every earlier task end has arrived. */
    def total(sc: SparkContext): Long = {
      sc.setJobGroup(s"$group-barrier", "listener barrier")
      sc.parallelize(Seq(0), 1).count()
      if (!barrier.await(60, TimeUnit.SECONDS)) throw new IllegalStateException("barrier job never ended")
      records.get
    }
  }
}
