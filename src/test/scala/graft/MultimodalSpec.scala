package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Byte-level contracts for the multimodal operators, verified against
  * independent recomputation (the DuckDB oracle already replays the
  * header arithmetic and checksums; these pin the payloads themselves).
  */
class MultimodalSpec extends TestSpark {

  private val samples = Seq(
    "key agg row scan slow fast",
    "a" * 64,
    "x" * 553,
    "short")

  test("BMP synthesize/parse roundtrip honors the dimension contract") {
    samples.foreach { text =>
      val tb = text.getBytes("UTF-8")
      val bmp = Multimodal.synthesizeBmp(tb)
      val (w, h) = Multimodal.parseBmp(bmp)
      assert(w == tb.length % 64 + 1 && h == (tb.length / 64) % 64 + 1)
      val rowSize = ((w * 3 + 3) / 4) * 4
      assert(bmp.length == 54 + rowSize * h)
    }
  }

  test("resize: every resized pixel equals the source pixel at (2x, 2y)") {
    samples.foreach { text =>
      val bmp = Multimodal.synthesizeBmp(text.getBytes("UTF-8"))
      val (w, h) = Multimodal.parseBmp(bmp)
      val rowSize = ((w * 3 + 3) / 4) * 4
      val resized = Multimodal.resizeBmpHalf(bmp)
      val (nw, nh) = Multimodal.parseBmp(resized)
      assert(nw == (w + 1) / 2 && nh == (h + 1) / 2)
      val nRowSize = ((nw * 3 + 3) / 4) * 4
      assert(resized.length == 54 + nRowSize * nh)
      for (y <- 0 until nh; x <- 0 until nw; k <- 0 until 3) {
        val got = resized(54 + y * nRowSize + x * 3 + k)
        val want = bmp(54 + 2 * y * rowSize + 2 * x * 3 + k)
        assert(got == want, s"pixel ($x,$y) byte $k differs at ${w}x$h")
      }
      // padding must be zeroed
      for (y <- 0 until nh; p <- nw * 3 until nRowSize)
        assert(resized(54 + y * nRowSize + p) == 0)
    }
  }

  test("frame sampling equals direct computation from the text bytes") {
    val rows = Multimodal.queries("q94_audio_frames")(spark, sf0001)
      .filter(col("doc_id") < 20).collect()
    val texts = Tables.documents(spark, sf0001).filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tb = texts(r.getAs[Long]("doc_id")).getBytes("UTF-8")
      val nFrames = tb.length / 64
      val expected = (0 until nFrames).filter(_ % 2 == 0)
        .flatMap(fr => (0 until 64).map(i => (tb(fr * 64 + i) & 0xFF).toLong))
        .sum
      assert(r.getAs[Long]("amp_sum") == expected)
      assert(r.getAs[Long]("n_samples") == tb.length)
    }
  }

  test("resize query checksum equals a direct sum over the resized payload") {
    val viaQuery = Multimodal.queries("q93_image_resize")(spark, sf0001)
      .filter(col("doc_id") < 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pixel_checksum")).toMap
    val direct = Tables.documents(spark, sf0001).filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val resized = Multimodal.resizeBmpHalf(
          Multimodal.synthesizeBmp(r.getAs[String]("text").getBytes("UTF-8")))
        r.getAs[Long]("doc_id") ->
          resized.drop(54).map(b => (b & 0xFF).toLong).sum
      }.toMap
    assert(viaQuery == direct && viaQuery.nonEmpty)
  }

  /** Same pixel array, different container bytes: rebuild the BMP with
    * zeroed dpi fields and a junk reserved word — the lossless re-encode
    * a scraper pipeline sees constantly (EXIF strips, metadata rewrites). */
  private def reencodeBmp(b: Array[Byte]): Array[Byte] = {
    val out = b.clone()
    out(6) = 0x7F; out(7) = 0x7F // reserved word: junk
    for (i <- 38 until 46) out(i) = 0 // x/y pixels-per-meter: zeroed
    out
  }

  test("q121: perceptual hash catches a re-encoded duplicate image byte dedup misses") {
    import spark.implicits._
    val texts = Seq(
      1L -> "the original document behind the image payload with enough text",
      2L -> "a completely different document producing unrelated pixel noise",
      3L -> "yet another unrelated body of text for the negative control set")
    val base = texts.map { case (id, t) =>
      (id, Multimodal.synthesizeBmp(t.getBytes("UTF-8")))
    }
    // doc 4 = doc 1's image re-encoded: identical pixels, different bytes
    val media = (base :+ (4L, reencodeBmp(base.head._2))).toDF("doc_id", "img")

    // byte-level identity (the q26 exact-dedup key) misses the pair…
    val bytesDistinct = media.select(md5(col("img"))).distinct().count()
    assert(bytesDistinct == 4, "re-encode must change the payload bytes")
    // …the perceptual hash is IDENTICAL (only pixels enter the hash)
    assert(Multimodal.aHash64(base.head._2) ==
      Multimodal.aHash64(reencodeBmp(base.head._2)))

    val pairs = Multimodal.phashPairs(spark, media)
      .orderBy(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 4L, 0L)),
      s"expected exactly the re-encoded pair at hamming 0, got ${pairs.toSeq}")
  }

  test("q147 store admission: re-encoded duplicate caught via STORED hashes; corpus blobs never re-decoded") {
    import spark.implicits._
    val dir = Tables.scratchDir(spark, "phash_store_spec")
    val texts = Seq(
      1L -> "the original document behind the image payload with enough text",
      2L -> "a completely different document producing unrelated pixel noise",
      3L -> "yet another unrelated body of text for the negative control set")
    val corpus = texts.map { case (id, t) =>
      (id, Multimodal.synthesizeBmp(t.getBytes("UTF-8")))
    }
    Multimodal.buildPhashStore(spark, corpus.toDF("doc_id", "img"), dir)
    // the delta: a re-encode of corpus doc 1's image (new bytes, same
    // pixels) plus a novel image
    val delta = Seq(
      (10L, reencodeBmp(corpus.head._2)),
      (11L, Multimodal.synthesizeBmp(
        "a fourth novel body with no perceptual twin in the stored index"
          .getBytes("UTF-8")))).toDF("doc_id", "img")
    // metadata truncation would cut the scratch paths out of the plan
    // string before the scan assertions see them (the q129-spec lesson)
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try {
      val res = Multimodal.admitPhash(spark, delta, dir, beforeBatch = 0L)
      val pairs = res.orderBy(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(pairs.toSeq == Seq((10L, 1L, 0L)),
        s"expected exactly the re-encoded match against the store, got ${pairs.toSeq}")
      // the admission PLAN decodes only the delta: the corpus img bytes
      // exist nowhere on disk (only 8-byte hashes + blocks were
      // persisted), and the plan's only file scans are the store tables
      val plan = res.queryExecution.executedPlan.toString
      val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scans.nonEmpty && scans.forall(l =>
        l.contains("/phashes") || l.contains("/pblocks")),
        s"admission must scan only the stored index:\n${scans.mkString("\n").take(1500)}")
    } finally {
      spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
      SessionCache.release(spark, "multimodal")
    }
  }

  test("q149 streaming phash admission: batch 1 rejects a dup of batch 0's survivor; restart admits nothing") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val storeDir = Tables.scratchDir(spark, "phash_stream_store")
    val sinkDir = Tables.scratchDir(spark, "phash_stream_sink")
    val srcDir = java.nio.file.Files.createTempDirectory("phash_src").toString
    val cp = java.nio.file.Files.createTempDirectory("phash_cp").toString
    def img(t: String) = Multimodal.synthesizeBmp(t.getBytes("UTF-8"))
    Multimodal.buildPhashStore(spark, Seq(
      (1L, img("stored corpus image number one with plenty of text body")),
      (2L, img("stored corpus image number two, quite unlike the others")))
      .toDF("doc_id", "img"), storeDir)

    def addFile(name: String, rows: Seq[(Long, Array[Byte])]): Unit =
      rows.toDF("doc_id", "img").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    def runOnce(): Unit = {
      val schema = spark.read.parquet(s"$srcDir/*").schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          // q149's batch body over a raw (doc_id, img) stream
          Multimodal.phashBatch(spark, batch, id, storeDir, sinkDir)
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sinkPairs(): Set[(Long, Long)] =
      spark.read.parquet(sinkDir).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch 0: doc 10 = re-encode of stored doc 1 (rejected); doc 11 novel
    addFile("a", Seq(10L -> reencodeBmp(img(
      "stored corpus image number one with plenty of text body")),
      11L -> img("a brand new image body that matches nothing stored yet")))
    runOnce()
    assert(sinkPairs() == Set((10L, 1L)), s"batch 0 pairs: ${sinkPairs()}")
    // batch 1: doc 20 = re-encode of batch 0's SURVIVOR 11 — rejected
    // through the store's appended hashes (cross-batch visibility)
    addFile("b", Seq(20L -> reencodeBmp(img(
      "a brand new image body that matches nothing stored yet"))))
    runOnce()
    assert(sinkPairs() == Set((10L, 1L), (20L, 11L)),
      s"batch 1 must reject the dup of batch 0's survivor: ${sinkPairs()}")
    // restart with no new input: nothing re-admitted, store unchanged
    val storedBefore = spark.read.parquet(
      Multimodal.phashHashesPath(storeDir)).count()
    runOnce()
    assert(sinkPairs() == Set((10L, 1L), (20L, 11L)))
    assert(spark.read.parquet(
      Multimodal.phashHashesPath(storeDir)).count() == storedBefore)
  }

  /** Same audio signal, different container bytes: rewrite the declared
    * sample rate (metadata a transcoder touches) and add a +10 DC offset
    * to every 8-bit sample — the level-shifted re-encode byte dedup
    * can't see through. The Haitsma-Kalker fingerprint cancels the
    * offset by construction (each window's energy shifts by 10·L, every
    * delta is unchanged). */
  private def dcOffsetWav(b: Array[Byte]): Array[Byte] = {
    val out = b.clone()
    out(24) = 0x40; out(25) = 0x1F; out(26) = 0; out(27) = 0 // rate: 8000
    for (i <- 44 until out.length) out(i) = (out(i) + 10).toByte
    out
  }

  test("q134: acoustic fingerprint catches a DC-offset re-encode byte dedup misses") {
    import spark.implicits._
    val texts = Seq(
      1L -> ("the original narration behind the audio payload " +
        "with enough sample bytes to fingerprint"),
      2L -> ("a completely different narration producing an unrelated " +
        "energy envelope over its windows"),
      3L -> ("yet another unrelated narration body for the negative " +
        "control side of this spec"))
    val base = texts.map { case (id, t) =>
      (id, Multimodal.synthesizeWav(t.getBytes("UTF-8")))
    }
    // doc 4 = doc 1 level-shifted + rate-rewritten; doc 5 = sub-65-sample
    // payload (no fingerprintable signal — must be excluded, not paired)
    val media = (base :+ (4L, dcOffsetWav(base.head._2)) :+
      (5L, Multimodal.synthesizeWav("tiny".getBytes("UTF-8"))))
      .toDF("doc_id", "wav")

    val bytesDistinct = media.select(md5(col("wav"))).distinct().count()
    assert(bytesDistinct == 5, "the re-encode must change the payload bytes")
    assert(Multimodal.audioFp64(base.head._2) ==
      Multimodal.audioFp64(dcOffsetWav(base.head._2)))

    val pairs = Multimodal.audioFpPairs(spark, media)
      .orderBy(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 4L, 0L)),
      s"expected exactly the level-shifted pair at hamming 0, got ${pairs.toSeq}")
  }
}
