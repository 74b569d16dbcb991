package graft

import graft.operators.SignatureStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The materialized signature store's production contracts, driven on
  * synthetic corpora through the exact q129/q130 code paths:
  *   - consecutive deltas see each other's survivors (batch N admits
  *     against the seed PLUS batches 0..N-1's appended bands);
  *   - append is idempotent under batch replay (dynamic partition
  *     overwrite replaces exactly the batch's own partition);
  *   - the streaming ingestion pipeline admits sequentially across
  *     micro-batches and a RESTART (same checkpoint) re-admits nothing.
  */
class SignatureStoreSpec extends TestSpark {

  // 12-token texts: extending one by a token gives 3-shingle Jaccard
  // 10/11 ≈ 0.909 (≥ 0.8 — a near-dup); disjoint vocabularies give 0.
  // Letter-only tokens: the reference tokenizer splits on non-letters,
  // so a digit suffix would collapse every token to its stem.
  private def vocab(stem: String) = (0 until 12).map(i => stem + ('a' + i).toChar)
  private val base = vocab("alpha")
  private val beta = vocab("beta")
  private val novelX = vocab("xray")
  private val novelZ = vocab("zulu")

  private def docsDf(rows: (Long, Seq[String])*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def idsOf(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("consecutive deltas: batch 1 admits against batch 0's survivors") {
    val dir = tmp("sigstore")
    SignatureStore.build(spark, docsDf(1L -> base, 2L -> beta), dir)
    // batch 0: doc 10 near-dups seed doc 1; doc 11 is novel
    val d0 = docsDf(10L -> (base :+ "extra"), 11L -> novelX)
    val p0 = SignatureStore.admit(spark, d0, dir, beforeBatch = 0L)
    assert(pairsOf(p0) == Set((10L, 1L)))
    val s0 = SignatureStore.survivors(d0, p0)
    assert(idsOf(s0) == Set(11L))
    SignatureStore.append(spark, s0, dir, 0L)
    // batch 1: doc 20 near-dups batch 0's SURVIVOR 11 (never in the
    // seed); doc 21 is novel — the cross-batch visibility contract
    val d1 = docsDf(20L -> (novelX :+ "tail"), 21L -> novelZ)
    val p1 = SignatureStore.admit(spark, d1, dir, beforeBatch = 1L)
    assert(pairsOf(p1) == Set((20L, 11L)),
      "batch 1 must see batch 0's survivor through the stored bands")
    assert(idsOf(SignatureStore.survivors(d1, p1)) == Set(21L))
  }

  test("append replay is idempotent, and a batch never admits against itself") {
    val dir = tmp("sigstore_replay")
    SignatureStore.build(spark, docsDf(1L -> base), dir)
    val d0 = docsDf(11L -> novelX)
    SignatureStore.append(spark, d0, dir, 0L)
    val once = spark.read.parquet(SignatureStore.bandsPath(dir)).count()
    // replayed batch (foreachBatch retry): same id, same rows — the
    // dynamic partition overwrite must replace, not accumulate
    SignatureStore.append(spark, d0, dir, 0L)
    assert(spark.read.parquet(SignatureStore.bandsPath(dir)).count() == once)
    // a REPLAYED admission of batch 0 (beforeBatch = 0) must not see
    // batch 0's own earlier append — else a replay would reject every
    // row of the batch as a duplicate of itself
    val replay = SignatureStore.admit(spark, d0, dir, beforeBatch = 0L)
    assert(pairsOf(replay).isEmpty,
      "batch 0's replayed admission saw its own appended bands")
  }

  test("compaction preserves admission results and shrinks the store's file count") {
    val dir = tmp("sigstore_compact")
    val gen2 = tmp("sigstore_gen2")
    SignatureStore.build(spark, docsDf(1L -> base, 2L -> beta), dir)
    SignatureStore.append(spark, docsDf(11L -> novelX), dir, 0L)
    SignatureStore.append(spark, docsDf(12L -> novelZ), dir, 1L)
    // probe hits the seed AND an appended batch — both survive the roll
    val probe = docsDf(20L -> (novelX :+ "tail"), 21L -> (base :+ "extra"))
    val pre = pairsOf(SignatureStore.admit(spark, probe, dir, beforeBatch = 2L))
    assert(pre == Set((20L, 11L), (21L, 1L)))
    SignatureStore.compact(spark, dir, gen2, throughBatch = 1L)
    val post = pairsOf(SignatureStore.admit(spark, probe, gen2, beforeBatch = 0L))
    assert(post == pre, "compaction changed admission results")
    // the point of compaction: 3 batch partitions of small files roll
    // into one partition with fewer files
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(SignatureStore.bandsPath(dir))
    val after = parquetFiles(SignatureStore.bandsPath(gen2))
    assert(after < before,
      s"compaction did not shrink the band table: $before -> $after files")
  }

  test("q143 forget: physical erasure, untouched partitions, and re-admission of unblocked docs") {
    val dir = tmp("sigstore_forget")
    // seed doc 2 blocks delta doc 100; seed doc 3 blocks delta doc 101;
    // batch 0 holds an unrelated survivor (the partition forgetting must
    // NOT touch)
    SignatureStore.build(spark, docsDf(2L -> base, 3L -> beta), dir)
    SignatureStore.append(spark, docsDf(11L -> novelX), dir, 0L)
    val delta = docsDf(100L -> (base :+ "extra"), 101L -> (beta :+ "extra"))
    val p0 = pairsOf(SignatureStore.admit(spark, delta, dir, beforeBatch = 0L))
    assert(p0 == Set((100L, 2L), (101L, 3L)))

    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      Seq(SignatureStore.bandsPath(dir), SignatureStore.shinglesPath(dir))
        .flatMap(p => walk(new java.io.File(p + "/batch_id=0")))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val batch0Before = snapshot()

    import spark.implicits._
    SignatureStore.forget(spark, Seq(2L).toDF("doc_id"), dir)
    // physical erasure: no band or shingle row of doc 2 survives — its
    // shingle arrays (content!) are gone from disk, not masked
    Seq(SignatureStore.bandsPath(dir), SignatureStore.shinglesPath(dir))
      .foreach { p =>
        assert(spark.read.parquet(p).filter(col("doc_id") === 2L).count() == 0L,
          s"forgotten doc still present under $p")
      }
    // proportional cost: the batch-0 partition held no forgotten row, so
    // its files are byte-for-byte untouched
    assert(snapshot() == batch0Before,
      "forget rewrote a partition that held no forgotten doc")
    // re-admission: 100's only blocker is gone — it comes back clean;
    // 101's blocker survives — still rejected
    val p1 = pairsOf(SignatureStore.admit(spark, delta, dir, beforeBatch = 0L))
    assert(p1 == Set((101L, 3L)),
      s"post-forget admission wrong: $p1")
  }

  test("streaming ingestion admits across micro-batches; restart re-admits nothing") {
    val root = tmp("ingest")
    val in = new java.io.File(root, "in"); in.mkdirs()
    val storeDir = s"$root/store"
    val corpusDir = s"$root/corpus"
    val cp = s"$root/cp"
    val seed = docsDf(1L -> base)
    SignatureStore.build(spark, seed, storeDir)
    MicroBatch.write(seed, corpusDir, MicroBatch.Seed)
    val schema = seed.schema

    // drop a docs batch into the stream dir as a single parquet file
    def addFile(name: String, df: DataFrame): Unit = {
      val staged = s"$root/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
      ()
    }

    // q130's batch body, pointed at this spec's dirs + checkpoint
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(s"$in/*.parquet")
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          SignatureStore.ingestBatch(spark, batch, id, storeDir, corpusDir)
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    def admitted(): Set[Long] = idsOf(spark.read.parquet(corpusDir))

    // batch 0: doc 10 near-dups the seed (rejected), doc 11 is novel
    addFile("a", docsDf(10L -> (base :+ "extra"), 11L -> novelX))
    runOnce()
    assert(admitted() == Set(1L, 11L))
    // batch 1 (restart continues from the checkpoint — only the new
    // file is processed): doc 20 near-dups batch 0's survivor 11
    // (rejected — sequential admission), doc 21 is novel
    addFile("b", docsDf(20L -> (novelX :+ "tail"), 21L -> novelZ))
    runOnce()
    assert(admitted() == Set(1L, 11L, 21L))
    // restart with no new input: nothing is re-admitted, nothing duplicated
    runOnce()
    assert(admitted() == Set(1L, 11L, 21L))
    assert(spark.read.parquet(corpusDir).count() == 3L,
      "restart must not duplicate admitted rows")
  }
}
