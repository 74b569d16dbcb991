package graft

import graft.operators.AnnIndexStore
import org.apache.spark.sql.functions._

/** Production contracts of the materialized IVF+PQ index (q135) the
  * value-level oracle can't see: append idempotency under replay,
  * visibility of late appends (the train/encode decoupling that makes a
  * store a store), and partition-level pruning of unprobed inverted
  * lists. */
class AnnIndexStoreSpec extends TestSpark {

  /** Deterministic per-id synthetic 64-d vectors (seeded per id, so the
    * set is stable regardless of construction order). Consecutive raw
    * seeds give java.util.Random highly correlated first draws — which
    * collapses the PQ codebook into one code — so the seed is bit-mixed
    * and the first draws discarded. */
  private def vec(id: Long): Array[Float] = {
    val r = new scala.util.Random((id + 1) * 0x9E3779B97F4A7C15L)
    r.nextLong(); r.nextLong()
    Array.fill(64)(r.nextFloat() * 2f - 1f)
  }

  private def df(ids: Seq[Long], over: Map[Long, Array[Float]] = Map.empty) = {
    import spark.implicits._
    ids.map(id => (id, over.getOrElse(id, vec(id)).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  private def collectPairs(res: org.apache.spark.sql.DataFrame) =
    res.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getDouble(3))).toSeq

  test("q135 store: replayed appends are idempotent; a late-appended duplicate becomes rank 1") {
    val dir = Tables.scratchDir(spark, "annstore_spec")
    val build = df(0L until 300L)
    AnnIndexStore.build(spark, build, dir)
    val probe5 = df(Seq(5L))

    AnnIndexStore.append(spark, df(300L until 310L), dir, 0L)
    val r2 = collectPairs(AnnIndexStore.search(spark, dir, probe5, 5))
    // replaying batch 0 overwrites exactly its own partitions — the
    // search result cannot change
    AnnIndexStore.append(spark, df(300L until 310L), dir, 0L)
    val r3 = collectPairs(AnnIndexStore.search(spark, dir, probe5, 5))
    assert(r2 == r3, s"replayed append changed the result:\n$r2\nvs\n$r3")

    // vec 400 = an exact copy of probe 5, appended as a LATER batch
    // against the frozen quantizers: it lands in probe 5's own cell with
    // probe 5's codes, so its ADC distance is the quantization floor —
    // it must surface at rank 1 (train/encode decoupling, end to end)
    AnnIndexStore.append(spark, df(Seq(400L), Map(400L -> vec(5))), dir, 1L)
    val r4 = collectPairs(AnnIndexStore.search(spark, dir, probe5, 5))
    assert(r4.nonEmpty && r4.head._1 == 5L && r4.head._2 == 1 && r4.head._3 == 400L,
      s"late-appended duplicate not at rank 1: $r4")
  }

  test("q135 search plan: unprobed inverted lists partition-pruned, corpus floats never read") {
    // the store contract at the plan level: the codes scan carries a
    // PartitionFilter on `cell` (unprobed list directories are never
    // opened), and the search plan reads NO embeddings at all — the
    // corpus floats were read once at build, never at search
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val plan =
      try {
        val res = AnnIndexStore.queries("q135_ann_store_search")(spark, sf0001)
        res.collect()
        res.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    val codesScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("/codes")).toSeq
    assert(codesScans.nonEmpty, s"no codes scan in the search plan:\n${plan.take(3000)}")
    codesScans.foreach(sc =>
      assert(sc.contains("PartitionFilters") && sc.contains("cell"),
        s"codes scan without cell partition pruning:\n${sc.take(800)}"))
    // probes are collected (bounded, 10 rows) before the search plan is
    // built, so the SEARCH plan itself must contain NO embeddings scan
    // at all — only the stored index relations
    val embScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("embeddings.parquet")).toSeq
    assert(embScans.isEmpty,
      s"search plan reads corpus embeddings:\n${embScans.mkString("\n").take(1600)}")
  }

  test("q138 streaming admission: cross-batch dedup visibility; restart re-admits nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("vecingest").toString
    val in = new java.io.File(root, "in"); in.mkdirs()
    val storeDir = s"$root/store"
    val corpusDir = s"$root/corpus"
    val cp = s"$root/cp"
    val seedIds = 0L until 50L
    val seed = df(seedIds)
    AnnIndexStore.build(spark, seed, storeDir)
    MicroBatch.write(seed, corpusDir, MicroBatch.Seed)
    val schema = seed.schema

    def addFile(name: String, d: org.apache.spark.sql.DataFrame): Unit = {
      val staged = s"$root/stage_$name"
      d.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
      ()
    }

    // q138's batch body, pointed at this spec's dirs + checkpoint
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).parquet(s"$in/*.parquet")
      val q = src.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          AnnIndexStore.vectorBatch(spark, batch, id, storeDir, corpusDir)
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    def admitted(): Set[Long] = spark.read.parquet(corpusDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // batch 0: vec 100 is novel (random 64-d vectors sit far below the
    // 0.4 cosine edge) — admitted and indexed
    addFile("a", df(Seq(100L)))
    runOnce()
    assert(admitted() == seedIds.toSet + 100L)
    // batch 1 (restart continues from the checkpoint): vec 101 is an
    // exact copy of batch 0's SURVIVOR 100 — rejected through the
    // index's appended codes + the corpus floats (cross-batch
    // visibility); vec 102 is novel
    addFile("b", df(Seq(101L, 102L), Map(101L -> vec(100))))
    runOnce()
    assert(admitted() == seedIds.toSet + 100L + 102L,
      "batch 1 must reject the copy of batch 0's survivor and admit the novel vector")
    // restart with no new input: nothing re-admitted, nothing duplicated
    runOnce()
    assert(spark.read.parquet(corpusDir).count() == seedIds.size + 2L,
      "restart must not duplicate admitted rows")
  }

  test("q148 hybrid serve: every fused doc comes from an index, both sides contribute, and fusion tracks exact") {
    import graft.functions.Similarity
    val res = AnnIndexStore.queries("q148_hybrid_index_serve")(spark, sf0001).collect()
    assert(res.length == 50, s"expected 10 probes x 5, got ${res.length}")
    res.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 5),
        s"probe $p ranks malformed")
      val sc = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("rrf"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    }
    // provenance: re-serve the vector list from the store the query just
    // built, recompute the lexical sharers driver-side — every fused doc
    // must be reachable through one of the two indexes, and globally
    // BOTH must contribute (else the fusion is decorative)
    val dir = Tables.scratchDir(spark, "q148_ann_" + Tables.datasetTag(sf0001))
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val vec = AnnIndexStore.search(spark, dir, emb.filter(col("vec_id") < 10), 50)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("vec_id"))).toSet
    val texts = Tables.documents(spark, sf0001)
      .join(emb.select(col("vec_id").as("doc_id")), "doc_id")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> graft.functions.Tokens
        .split(r.getString(1)).toSet).toMap
    val lexSet = (for {
      p <- texts.keys.filter(_ < 10); c <- texts.keys
      if c != p && (texts(p) & texts(c)).nonEmpty
    } yield (p, c)).toSet
    res.foreach { r =>
      val key = (r.getLong(0), r.getAs[Long]("doc_id"))
      assert(vec(key) || lexSet(key), s"fused doc from neither index: $key")
    }
    assert(res.exists(r => vec((r.getLong(0), r.getAs[Long]("doc_id")))),
      "vector index never contributed")
    // lexical evidence must move the result: for at least one probe the
    // fused top-5 is NOT simply the vector list's first five
    val vecTop5 = AnnIndexStore.search(spark, dir,
        emb.filter(col("vec_id") < 10), 5).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("vec_id")).toSeq)
      .toMap
    val fusedTop5 = res.groupBy(_.getAs[Long]("probe_id")).view
      .mapValues(_.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("doc_id")).toSeq)
      .toMap
    assert(fusedTop5.exists { case (p, s) => vecTop5.get(p).forall(_ != s) },
      "fusion never departed from the vector-only order")
    // directional: the index-served fusion keeps a healthy share of the
    // exact fusion's top-5 (fixture measures 16/50; pin with margin)
    val exact = Similarity.queries("q146_hybrid_rrf")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("doc_id"))).toSet
    val kept = res.count(r => exact((r.getLong(0), r.getAs[Long]("doc_id"))))
    assert(kept >= 6, s"index-served fusion kept only $kept/50 of the exact fusion")
  }

  test("q145 staleness: same-distribution appends spread over cells; a drifted batch concentrates") {
    val dir = Tables.scratchDir(spark, "annstore_stale_spec")
    AnnIndexStore.build(spark, df(0L until 300L), dir)
    // batch 0: drawn from the same distribution as the build corpus
    AnnIndexStore.append(spark, df(300L until 340L), dir, 0L)
    // batch 1: DRIFTED — one fixed direction with per-id jitter small
    // enough that every vector keeps the same nearest centroid
    val base = vec(7777L)
    val drifted = (400L until 440L).map { id =>
      id -> base.zip(vec(id)).map { case (b, j) => b + 0.001f * j }
    }.toMap
    AnnIndexStore.append(spark, df(400L until 440L, drifted), dir, 1L)

    // occupancy: the same-distribution batch spreads over many cells,
    // the drifted batch piles into (nearly) one — the retrain signal
    val cells = spark.read.parquet(AnnIndexStore.codesPath(dir))
      .select(col("batch_id").cast("long").as("b"), col("cell").cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val spread0 = cells.filter(_._1 == 0L).map(_._2).distinct.length
    val spread1 = cells.filter(_._1 == 1L).map(_._2).distinct.length
    assert(spread1 <= 3 && spread0 >= 10,
      s"drift not visible in occupancy: same-dist $spread0 cells, drifted $spread1")

    // the report itself: totals account for every stored vector, and
    // every populated side carries a worst-fit cosine in [-1, 1]
    val emb = df(0L until 340L) // build + batch 0 ids use vec(id)
      .union(df(400L until 440L, drifted))
    val rep = AnnIndexStore.staleness(spark, dir, emb).collect()
    assert(rep.map(_.getAs[Long]("n_build")).sum == 300L)
    assert(rep.map(_.getAs[Long]("n_appended")).sum == 80L)
    rep.foreach { r =>
      Seq(("n_build", "min_ccos_build"), ("n_appended", "min_ccos_appended"))
        .foreach { case (n, m) =>
          if (r.getAs[Long](n) > 0L) {
            val v = r.getAs[Double](m)
            assert(!v.isNaN && v >= -1.0 && v <= 1.0, s"$m out of range: $v")
          } else assert(r.isNullAt(r.fieldIndex(m)), s"$m must be NULL when $n = 0")
        }
    }
    // the drifted cell dominates appended occupancy in the report too
    assert(rep.map(_.getAs[Long]("n_appended")).max >= 38L,
      "drifted batch should concentrate in one report row")
  }

  test("q142 deletes: mask ≡ vacuum, physical erasure, unaffected lists untouched, whole-list removal") {
    val dir = Tables.scratchDir(spark, "annstore_delete_spec")
    AnnIndexStore.build(spark, df(0L until 300L), dir)
    AnnIndexStore.append(spark, df(300L until 310L), dir, 0L)
    val probes = df(Seq(5L, 7L))
    val before = collectPairs(AnnIndexStore.search(spark, dir, probes, 5))
    // erase exactly what the pre-delete search surfaced for probe 5 —
    // its entire result set must turn over, nothing erased may resurface
    val del = before.filter(_._1 == 5L).map(_._3).distinct
    assert(del.nonEmpty)
    AnnIndexStore.delete(spark, df(del), dir)
    val masked = collectPairs(AnnIndexStore.search(spark, dir, probes, 5))
    assert(masked.forall(r => !del.contains(r._3)), "tombstoned id surfaced")
    assert(masked.count(_._1 == 5L) == 5, "probe 5 must be refilled to k")

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(AnnIndexStore.codesPath(dir)), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        b += (f.getPath.toString -> f.getModificationTime)
      }
      b.result()
    }
    val affected = spark.read.parquet(AnnIndexStore.codesPath(dir))
      .filter(col("vec_id").isin(del: _*))
      .select(col("batch_id").cast("long"), col("cell").cast("long"))
      .distinct().collect()
      .map(r => s"batch_id=${r.getLong(0)}/cell=${r.getLong(1)}").toSet
    val beforeFiles = files()

    AnnIndexStore.vacuum(spark, dir)
    val vacuumed = collectPairs(AnnIndexStore.search(spark, dir, probes, 5))
    assert(vacuumed == masked, "vacuum changed search results")
    // physical erasure: the codes table no longer holds the ids at all
    assert(spark.read.parquet(AnnIndexStore.codesPath(dir))
      .filter(col("vec_id").isin(del: _*)).count() == 0L)
    // tombstone table removed outright — searches are back on the
    // maskless fast path
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      AnnIndexStore.tombstonesPath(dir))))
    // proportional cost: every file of every UNAFFECTED inverted list is
    // byte-for-byte untouched (same path, same mtime)
    val afterFiles = files()
    val untouchedBefore = beforeFiles.filterNot { case (p, _) =>
      affected.exists(p.contains) }
    val untouchedAfter = afterFiles.filterNot { case (p, _) =>
      affected.exists(p.contains) }
    assert(untouchedBefore == untouchedAfter,
      "vacuum rewrote an inverted list that held no tombstoned row")

    // whole-list removal: erase EVERY member of one inverted list — a
    // dynamic overwrite cannot emit an empty partition, so vacuum must
    // remove the list directory itself
    val codes = spark.read.parquet(AnnIndexStore.codesPath(dir))
      .select(col("vec_id"), col("batch_id").cast("long").as("b"),
        col("cell").cast("long").as("c")).collect()
    val (tb, tc) = codes.groupBy(r => (r.getLong(1), r.getLong(2)))
      .minBy(_._2.length)._1
    val members = codes.filter(r => r.getLong(1) == tb && r.getLong(2) == tc)
      .map(_.getLong(0)).toSeq
    AnnIndexStore.delete(spark, df(members), dir)
    AnnIndexStore.vacuum(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"${AnnIndexStore.codesPath(dir)}/batch_id=$tb/cell=$tc")),
      "wholly-deleted inverted list directory must be removed")
    val after2 = collectPairs(AnnIndexStore.search(spark, dir, probes, 5))
    assert(after2.forall(r => !members.contains(r._3)))
  }
}
