package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.functions._

/** Structured Streaming results must equal their batch equivalents over
  * the bounded events fixture (complete mode + AvailableNow = exact batch
  * answer).
  */
class StreamingSpec extends TestSpark {

  test("tumbling stream windows == batch date_trunc aggregation") {
    val streamed = StreamingQueries.queries("q33_stream_tumbling")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf0001)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("sliding windows double-count every event") {
    val total = StreamingQueries.queries("q34_stream_sliding")(spark, sf0001)
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    val nEvents = Tables.events(spark, sf0001).count()
    assert(total == 2 * nEvents)
  }

  test("append mode with watermark emits only finalized windows (q52 vs q33)") {
    val appended = StreamingQueries.queries("q52_stream_append")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val complete = StreamingQueries.queries("q33_stream_tumbling")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // append emits a strict subset: finalized windows agree exactly with
    // the complete-mode answer; the trailing windows (within the 30-min
    // watermark delay of max event time) are withheld.
    assert(appended.subsetOf(complete))
    assert(appended.nonEmpty && appended.size < complete.size)
    val withheld = complete -- appended
    val maxStart = withheld.map(_._1).max
    assert(complete.filter(_._1 == maxStart).subsetOf(withheld),
      "the latest window must be among the withheld ones")
  }

  test("late data beyond the watermark is dropped (production path + checkpoint recovery)") {
    import org.apache.spark.sql.functions.{col, count, lit, window}
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_late").toString
    val inDir = s"$base/in"; val chk = s"$base/chk"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()
    import spark.implicits._
    def write(name: String, rows: Seq[(java.sql.Timestamp, String)]): Unit = {
      rows.toDF("ts", "k").repartition(1).write.parquet(s"$base/stage_$name")
      // move the single part file in atomically, as a file source expects
      val part = new java.io.File(s"$base/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
      ()
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // a fault-tolerant FILE sink (memory sink cannot restart from a
    // checkpoint): emitted rows accumulate in outDir across restarts
    def runBatch(): Unit = {
      val src = spark.readStream
        .schema("ts timestamp, k string").parquet(inDir)
      val q = src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("k"))
        .agg(count(lit(1)).as("n"))
        .selectExpr("date_format(window.start, 'HH:mm') as w", "k", "n")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emitted(): Set[(String, String, Long)] =
      spark.read.parquet(outDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    try {
      // run 1: two on-time rows in the 10:00 window, then 11:00 advances
      // the watermark to 10:50 → the 10:00-10:10 window is finalized.
      write("f1", Seq((ts("2024-01-01 10:00:30"), "a"),
        (ts("2024-01-01 10:05:00"), "a"), (ts("2024-01-01 11:00:00"), "a")))
      runBatch()
      val run1 = emitted()
      assert(run1 == Set(("10:00", "a", 2L)), s"run1 emitted $run1")
      // run 2 (same checkpoint → watermark restored at 10:50): a LATE row
      // at 10:02 must be dropped, not re-open the finalized window; 12:00
      // advances the watermark past the 11:00 window.
      write("f2", Seq((ts("2024-01-01 10:02:00"), "a"),
        (ts("2024-01-01 12:00:00"), "a")))
      runBatch()
      val run2 = emitted()
      // the finalized 10:00 window is NOT re-emitted or amended (the late
      // row was dropped), and the 11:00 window appears exactly once with
      // only its on-time row
      assert(run2 == Set(("10:00", "a", 2L), ("11:00", "a", 1L)),
        s"late row changed the output: $run2")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("dropDuplicatesWithinWatermark evicts state: a post-watermark duplicate is re-admitted") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_dedup_wm").toString
    val inDir = s"$base/in"; val chk = s"$base/chk"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()
    import spark.implicits._
    def write(name: String, rows: Seq[(java.sql.Timestamp, String)]): Unit = {
      rows.toDF("ts", "k").repartition(1).write.parquet(s"$base/stage_$name")
      val part = new java.io.File(s"$base/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
      ()
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def runBatch(): Unit = {
      val q = spark.readStream.schema("ts timestamp, k string").parquet(inDir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("k")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      // run 1: "dup" twice in-batch (second dropped), "adv" advances the
      // watermark to 10:50 — past dup's 10:00 + 10 min, so dup's dedup
      // state is EVICTED (that is the bounded-state contract).
      write("f1", Seq((ts("2024-01-01 10:00:00"), "dup"),
        (ts("2024-01-01 10:00:05"), "dup"), (ts("2024-01-01 11:00:00"), "adv")))
      runBatch()
      val run1 = spark.read.parquet(outDir).collect().map(_.getString(1))
      assert(run1.count(_ == "dup") == 1,
        s"within-watermark duplicate must be dropped: ${run1.mkString(",")}")
      // run 2 (same checkpoint → watermark restored): the same key at a
      // fresh event time is RE-ADMITTED — its state no longer exists.
      // An unbounded dropDuplicates would still suppress it.
      write("f2", Seq((ts("2024-01-01 11:05:00"), "dup"),
        (ts("2024-01-01 11:05:30"), "dup")))
      runBatch()
      val run2 = spark.read.parquet(outDir).collect().map(_.getString(1))
      assert(run2.count(_ == "dup") == 2,
        s"post-eviction duplicate must be re-admitted exactly once: ${run2.mkString(",")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("file source streams a multi-file directory (no single-file glob workaround)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_multifile").toString
    try {
      // the real production shape: a DIRECTORY of many parquet files
      val events = Tables.events(spark, sf0001)
      events.repartition(4).write.parquet(s"$base/in")
      val nFiles = new java.io.File(s"$base/in").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(nFiles >= 4, s"fixture should span >=4 files, got $nFiles")
      spark.catalog.dropTempView("sink_multifile")
      val q = spark.readStream.schema(events.schema).parquet(s"$base/in")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .writeStream.format("memory").queryName("sink_multifile")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamed = spark.table("sink_multifile").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = events
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("q70 timer sessions: gap-closed sessions inline, trailing sessions via event-time timers") {
    // semantic cross-check against q35 (all sessions, complete mode):
    // q70 must emit a SUBSET — every session except trailing ones whose
    // 30-min watchdog timer the final watermark never reached.
    val timed = graft.streaming.StatefulCounts.rocksDbQueries(
      "q70_stream_session_timers")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val all = StreamingQueries.queries("q35_stream_session")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(timed.nonEmpty)
    assert(timed.subsetOf(all), s"timer sessions disagree: ${(timed -- all).take(5)}")
    // at least every user's non-trailing sessions are present: any user
    // with >=2 sessions contributes at least one emitted session
    val multiSessionUsers = all.groupBy(_._1).filter(_._2.size >= 2).keySet
    val emittedUsers = timed.map(_._1)
    assert(multiSessionUsers.subsetOf(emittedUsers),
      "users with multiple sessions must have their closed sessions emitted")
  }

  test("session timers: late-but-within-watermark event merges exactly into the open session") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sess_merge").toString
    val inDir = s"$base/in"; val chk = s"$base/chk"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()
    def write(name: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      rows.toDF("user_id", "ts").repartition(1).write.parquet(s"$base/stage_$name")
      val part = new java.io.File(s"$base/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
      ()
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def runBatch(): Unit = {
      val rs = graft.streaming.StatefulCounts.rocksDbSession(spark)
      val q = rs.readStream.schema("user_id long, ts timestamp").parquet(inDir)
        .withWatermark("ts", "30 minutes")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.SessionTimerProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emitted(): Set[(Long, String, Long)] =
      spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    try {
      // run 1: u1 open session [10:00, 10:10], u2 open [10:20];
      // watermark settles at 10:20 - 30 min = 09:50 → nothing emitted.
      write("f1", Seq((1L, ts("2024-01-01 10:00:00")),
        (1L, ts("2024-01-01 10:10:00")), (2L, ts("2024-01-01 10:20:00"))))
      runBatch()
      assert(!new java.io.File(outDir).exists() || emitted().isEmpty,
        s"run1 should emit nothing")
      // run 2: u1 gets a LATE event at 10:04 (>= restored watermark
      // 09:50, INSIDE the open span → joins it, n=3), then 10:35
      // (25 min gap from the true lastUs 10:10 → EXTENDS the session;
      // the pre-fix code moved lastUs backward to 10:04 and wrongly
      // split here), then 11:30 (55 min gap → closes [10:00..10:35] n=4
      // inline). u2's 12:40 closes its 10:20 session and pushes the
      // final watermark to 12:10 → u1's trailing [11:30] timer (12:00)
      // fires; u2's trailing timer (13:10) does not.
      write("f2", Seq((1L, ts("2024-01-01 10:04:00")),
        (1L, ts("2024-01-01 10:35:00")), (1L, ts("2024-01-01 11:30:00")),
        (2L, ts("2024-01-01 12:40:00"))))
      runBatch()
      assert(emitted() == Set(
        (1L, "2024-01-01 10:00:00", 4L),
        (1L, "2024-01-01 11:30:00", 1L),
        (2L, "2024-01-01 10:20:00", 1L)), s"got ${emitted()}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("session timer firing at expiry == watermark is pinned to the oracle's <= semantics") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    // u1's trailing-session timer lands at 10:00 + 30 min = 10:30, and
    // the final watermark is exactly 11:00 - 30 min = 10:30 — the
    // boundary case q70's oracle decides with `expiry <= watermark`
    // (round-3 advisor: this boundary was unpinned; the fixture never
    // exercises it). If this test fails, Spark fires timers strictly
    // below the watermark and the q70 oracle must flip to `<`.
    val base = java.nio.file.Files.createTempDirectory("graft_sess_edge").toString
    try {
      val rows = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      rows.toDF("user_id", "ts").write.parquet(s"$base/in")
      val rs = graft.streaming.StatefulCounts.rocksDbSession(spark)
      val q = rs.readStream.schema("user_id long, ts timestamp")
        .parquet(s"$base/in")
        .withWatermark("ts", "30 minutes")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.SessionTimerProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
        .writeStream.format("memory").queryName("sink_sess_edge")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = rs.table("sink_sess_edge").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set((1L, "2024-01-01 10:00:00", 1L)),
        s"expiry==watermark timer did not fire (oracle uses <=): $got")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("TTL'd transformWithState state expires: a later batch restarts the count") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    val inDir = s"$base/in"; val chk = s"$base/chk"; val outDir = s"$base/out"
    new java.io.File(inDir).mkdirs()
    def write(name: String, keys: Seq[String]): Unit = {
      keys.toDF("k").repartition(1).write.parquet(s"$base/stage_$name")
      val part = new java.io.File(s"$base/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
      ()
    }
    // ProcessingTime time-mode schedules no-data state-cleanup batches
    // back-to-back forever; with them enabled AvailableNow never
    // terminates and processAllAvailable can starve (each cleanup batch
    // commits state, so the stream never looks quiescent — observed as a
    // 13k-batch stall). TTL expiry is checked on state READ, not by the
    // cleanup batches, so disabling them keeps the semantics and makes
    // AvailableNow terminate deterministically.
    def runBatch(): Unit = {
      val rs = ChildSession(spark, graft.streaming.StatefulCounts.rocksDbConfs :+
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"): _*)
      val q = rs.readStream.schema("k string").parquet(inDir)
        .as[String]
        .groupByKey(identity)
        .transformWithState(new graft.streaming.TtlCountProcessor(500L),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("k", "n")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    try {
      write("f1", Seq("a", "a"))
      runBatch()
      val run1 = spark.read.parquet(outDir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(run1 == Set(("a", 2L)), s"run1 emitted $run1")
      // let the 500 ms TTL lapse, then send the key again: without TTL
      // the count would continue at 3; with TTL the state is gone and
      // the count RESTARTS at 1.
      Thread.sleep(2000)
      write("f2", Seq("a"))
      runBatch()
      val run2 = spark.read.parquet(outDir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(run2.contains(("a", 1L)) && !run2.contains(("a", 3L)),
        s"TTL'd state should have expired (count restarts at 1): $run2")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("stream-stream join equals the batch interval join (q54)") {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    val streamed = StreamingQueries.queries("q54_stream_stream_join")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val e = Tables.events(spark, sf0001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        expr("p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("c_id"), col("p_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
  }

  test("session windows partition each user's events") {
    val sessions = StreamingQueries.queries("q35_stream_session")(spark, sf0001)
    val perUser = sessions.groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf0001).groupBy(col("user_id"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perUser == batch, "session event counts must partition per-user events")
  }
  test("q107 batch gaps-and-islands sessions equal q35 streaming session windows") {
    // Two independent engine paths for the same semantics (the q72≡q88
    // pattern): the batch islands formulation must reproduce streaming
    // session_window's sessions one-for-one — same boundary rule (a gap
    // of exactly the 30-minute timeout starts a new session).
    val batch = graft.operators.ExtendedQueries
      .queries("q107_batch_sessionize")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[String]("sess_start").substring(0, 19), // micros → seconds
        r.getAs[Long]("n_events")))
      .sorted
    val streamed = graft.streaming.StreamingQueries
      .queries("q35_stream_session")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("sess_start"),
        r.getAs[Long]("n_events")))
      .sorted
    assert(batch.nonEmpty && batch.sameElements(streamed),
      s"batch sessions (${batch.length}) != streaming sessions (${streamed.length})")
  }

  test("q126 streaming KMV sketch == its batch twin, near the exact cardinality") {
    // KMV of a set is order-independent, so the streaming run (state
    // store, micro-batch boundaries) must produce BIT-identical output
    // to the same Aggregator over a batch read
    val streamed = StreamingQueries.queries("q126_stream_kmv_users")(spark, sf0001)
      .collect()
    val kmv = udaf(graft.functions.CustomAgg.KmvDistinct)
    val batch = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        kmv(md5(col("user_id").cast("string"))).as("est_users"))
      .orderBy(col("event_type"))
      .collect()
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming KMV diverged from the batch aggregation")
    // and the sketch estimates the truth within the k=64 design band
    val exact = Tables.events(spark, sf0001)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    streamed.foreach { r =>
      val est = r.getAs[Double]("est_users")
      val ex = exact(r.getString(0)).toDouble
      assert(math.abs(est - ex) / ex < 0.5,
        s"${r.getString(0)}: estimate $est vs exact $ex outside 50%")
    }
  }

  test("q173 MV refresh: generations accumulate across batches; replay is idempotent") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mv").toString
    val inDir = s"$base/in"; val cp = s"$base/cp"; val mvDir = s"$base/mv"
    new java.io.File(inDir).mkdirs()
    def write(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      rows.toDF("user_id", "event_type", "value")
        .repartition(1).write.parquet(s"$base/stage_$name")
      val part = new java.io.File(s"$base/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
      ()
    }
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          max(round(col("value"), 2)).as("max_value"))
    // seed generation -1
    write("seedsrc", Seq((1L, "click", 1.0)))
    rollup(spark.read.parquet(s"$inDir/seedsrc.parquet"))
      .withColumn("gen", lit(-1L))
      .write.mode("overwrite").partitionBy("gen").parquet(mvDir)
    val schema = spark.read.parquet(s"$inDir/seedsrc.parquet").schema
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$inDir/seedsrc.parquet"))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$inDir/*.parquet")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.operators.PipelineOps.refreshGeneration(
            spark, mvDir, rollup(b), id)
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def latestState(): Map[(Long, String), (Long, Double)] = {
      val mv = spark.read.parquet(mvDir)
      val latest = mv.agg(max(col("gen"))).first().getAs[Number](0).longValue()
      mv.filter(col("gen") === latest).collect().map(r =>
        (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("max_value")))).toMap
    }
    write("a", Seq((1L, "click", 5.0), (2L, "view", 3.0)))
    runOnce()
    assert(latestState() == Map(
      (1L, "click") -> ((2L, 5.0)), (2L, "view") -> ((1L, 3.0))))
    // second batch through the SAME checkpoint: only the new file merges
    write("b", Seq((1L, "click", 2.0), (3L, "buy", 9.0)))
    runOnce()
    val after = latestState()
    assert(after == Map((1L, "click") -> ((3L, 5.0)),
      (2L, "view") -> ((1L, 3.0)), (3L, "buy") -> ((1L, 9.0))))
    // replaying a processed batch by hand recomputes its own generation
    // from inputs that exclude it — the store is unchanged
    graft.operators.PipelineOps.refreshGeneration(spark, mvDir,
      rollup(spark.read.parquet(s"$inDir/b.parquet")), 1L)
    assert(latestState() == after, "replay must not double-merge")
  }

  test("q156 streaming quantile sketch == its batch twin, near the exact quantiles") {
    // bottom-K of a set is order-independent, so micro-batch boundaries
    // and state checkpoints must leave the sketch BIT-identical to the
    // same Aggregator over a batch read
    val streamed = StreamingQueries.queries("q156_stream_quantiles")(spark, sf0001)
      .collect()
    val qs = udaf(graft.functions.CustomAgg.QuantileSketch)
    val batch = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        qs(md5(col("event_id").cast("string")), col("value")).as("qs"))
      .select(col("event_type"), col("n_events"),
        col("qs.sample_n").as("sample_n"), col("qs.p25").as("p25"),
        col("qs.p50").as("p50"), col("qs.p75").as("p75"),
        col("qs.p90").as("p90"))
      .orderBy(col("event_type"))
      .collect()
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streaming quantile sketch diverged from the batch aggregation")
    // and the bounded sample estimates the true quantiles usefully: the
    // p50 estimate must sit within the group's true p25..p75 band
    val bands = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.25)").as("lo"),
        expr("percentile(value, 0.75)").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    streamed.foreach { r =>
      val (lo, hi) = bands(r.getString(0))
      val p50 = r.getAs[Double]("p50")
      assert(p50 >= lo && p50 <= hi,
        s"${r.getString(0)}: p50 estimate $p50 outside true IQR [$lo, $hi]")
    }
  }
}
