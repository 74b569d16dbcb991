package graft.streaming

import graft.MicroBatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Custom streaming state via `KeyValueGroupedDataset.mapGroupsWithState`:
  * per-user running (event count, value sum) aggregator — the arbitrary-
  * state primitive the built-in windowed aggs can't express (e.g. custom
  * decay, per-key ML state).
  *
  * State is one small case class per user key, so state-store size is
  * O(distinct users), shuffle is keyed on user — the standard stateful
  * streaming scale shape.
  */
object StatefulCounts {

  case class UserState(nEvents: Long, sumValue: Double)
  case class UserRow(user_id: Long, n_events: Long, sum_value: Double)
  case class OpenSess(startUs: Long, lastUs: Long, n: Long)
  case class SessRow(user_id: Long, sess_start: String, n_events: Long)

  def updateState(userId: Long,
      rows: Iterator[(Long, Double)],
      state: GroupState[UserState]): UserRow = {
    val prev = state.getOption.getOrElse(UserState(0L, 0.0))
    var n = prev.nEvents
    var s = prev.sumValue
    // fold in deterministic (stable) order: sort batch rows by value key
    rows.toSeq.sortBy(_._1).foreach { case (_, v) => n += 1; s += v }
    val next = UserState(n, s)
    state.update(next)
    UserRow(userId, n, s)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-user totals maintained as custom state; with a bounded replay the
    // last update per user equals the batch aggregate.
    "q36_stream_stateful" -> ((s, d) => {
      import s.implicits._
      s.catalog.dropTempView("sink_stateful")
      val src = MicroBatch.source(s, d, "events")
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("value").cast("double"))
        .as[(Long, Long, Double)]
      val updated = src
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
          (k: Long, it: Iterator[(Long, Long, Double)], st: GroupState[UserState]) =>
            updateState(k, it.map(r => (r._2, r._3)), st))
      val q = updated.toDF()
        .writeStream.format("memory").queryName("sink_stateful")
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // keep only each user's final state (last update wins), rounded
      s.table("sink_stateful")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          round(max(col("sum_value")), 6).as("sum_value"))
        .orderBy(col("user_id"))
    })
  )

  /** The RocksDB state-store provider: the state backend that scales
    * past executor heap (state spills to local SST files with changelog
    * checkpointing) — the provider any 100 TB streaming job uses instead
    * of the default in-memory HDFS-backed store. Changelog checkpointing
    * writes the per-batch delta instead of a full native RocksDB snapshot
    * per commit — the production setting for frequent micro-batches (a
    * full Checkpoint.createCheckpoint per batch costs seconds of native
    * IO and serialized a 13k-batch test run into a multi-minute stall). */
  private[graft] val rocksDbConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** A child session (see [[graft.ChildSession]]) running [[rocksDbConfs]]. */
  private[graft] def rocksDbSession(s: SparkSession): SparkSession =
    graft.ChildSession(s, rocksDbConfs: _*)

  val rocksDbQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The q33-shaped tumbling aggregation running on the RocksDB state
    // store — identical results, production state backend.
    "q65_stream_rocksdb" -> ((s, d) => {
      val rs = rocksDbSession(s)
      val src = MicroBatch.source(rs, d, "events")
      val q = src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .writeStream.format("memory").queryName("sink_rocksdb")
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rs.table("sink_rocksdb")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Spark 4's transformWithState — the successor to mapGroupsWithState:
    // typed per-key ValueState through a StatefulProcessor handle, timers,
    // TTL, multiple state variables. Requires the RocksDB provider. Same
    // per-user aggregate as q36, expressed through the new API.
    "q66_transform_with_state" -> ((s, d) => {
      import s.implicits._
      val rs = rocksDbSession(s)
      val src = MicroBatch.source(rs, d, "events")
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("value").cast("double"))
        .as[(Long, Long, Double)]
      val updated = src
        .groupByKey(_._1)
        .transformWithState(new CountProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = updated.toDF()
        .writeStream.format("memory").queryName("sink_tws")
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rs.table("sink_tws")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          round(max(col("sum_value")), 6).as("sum_value"))
        .orderBy(col("user_id"))
    }),

    // transformWithState with EVENT-TIME TIMERS — the feature that
    // distinguishes the API from mapGroupsWithState (and the streaming
    // analog of the reference coordinator's 10 s task watchdog,
    // reference: src/mr/coordinator.go:114-141): per-user session
    // tracking where a session closed by a ≥30-min in-stream gap is
    // emitted inline, while the user's TRAILING open session is guarded
    // by a registered timer at (last event + 30 min) that fires when the
    // event-time watermark passes it. Deterministic on bounded replay:
    // the final watermark settles at max(ts) − 30 min, so the trailing
    // session emits iff its timer expiry is at or under that — exactly
    // what the DuckDB oracle computes.
    "q70_stream_session_timers" -> ((s, d) => {
      import s.implicits._
      val rs = rocksDbSession(s)
      val src = MicroBatch.source(rs, d, "events")
        .withWatermark("ts", "30 minutes")
        .select(col("user_id").cast("long").as("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("ts"))
        .as[(Long, Long, java.sql.Timestamp)]
      val sessions = src
        .groupByKey(_._1)
        .transformWithState(new SessionTimerProcessor(),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      val q = sessions.toDF()
        .writeStream.format("memory").queryName("sink_timers")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rs.table("sink_timers")
        .select(col("user_id"), col("sess_start"), col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q36_stream_stateful" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q65_stream_rocksdb" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, count(*) AS n_events
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "q66_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    // Sessions = 30-min-gap islands per user. Non-trailing sessions are
    // closed by a later in-stream event → always emitted. The trailing
    // session is emitted by its event-time timer, which Spark registers
    // at floor_ms(last event) + 30 min and fires once the final
    // watermark (= floor_ms(max ts) − 30 min) reaches it.
    "q70_stream_session_timers" ->
      """WITH gaps AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
               >= INTERVAL '30 minutes' OR
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_sess
           FROM events),
         islands AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM gaps),
         sess AS (
           SELECT user_id, min(ts) AS s_start, max(ts) AS s_end,
             count(*) AS n_events
           FROM islands GROUP BY user_id, sess_id),
         wm AS (
           SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '30 minutes' AS w
           FROM events),
         lastsess AS (
           SELECT user_id, max(s_end) AS last_end FROM sess GROUP BY user_id)
         SELECT s.user_id,
           strftime(s.s_start, '%Y-%m-%d %H:%M:%S') AS sess_start,
           s.n_events
         FROM sess s JOIN lastsess l ON s.user_id = l.user_id, wm
         WHERE s.s_end < l.last_end
            OR date_trunc('milliseconds', s.s_end) + INTERVAL '30 minutes' <= wm.w
         ORDER BY s.user_id, sess_start"""
  )
}

/** transformWithState processor with EVENT-TIME TIMERS: per-user session
  * tracker. Sessions closed by an in-stream ≥30-min gap emit inline from
  * [[handleInputRows]]; the trailing open session is held in a ValueState
  * guarded by a timer at floor_ms(last event) + 30 min, emitted from
  * [[handleExpiredTimer]] when the watermark passes — the timer-driven
  * state pattern (cf. the reference coordinator's task-timeout watchdog,
  * reference: src/mr/coordinator.go:114-141). */
class SessionTimerProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, java.sql.Timestamp), StatefulCounts.SessRow] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM,
    TimeMode, TimerValues, TTLConfig, ValueState}
  import StatefulCounts.{OpenSess, SessRow}

  private val GapUs = 30L * 60 * 1000000 // 30 min in micros
  private val GapMs = 30L * 60 * 1000

  @transient private var open: ValueState[OpenSess] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    open = getHandle.getValueState[OpenSess]("openSess",
      org.apache.spark.sql.Encoders.product[OpenSess], TTLConfig.NONE)
  }

  private def fmt(us: Long): String =
    java.time.LocalDateTime.ofEpochSecond(
      math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  private def timerFor(lastUs: Long): Long = math.floorDiv(lastUs, 1000L) + GapMs

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[SessRow] = {
    // deterministic event-time order within the batch (ties collapse to
    // the same session either way — the gap is computed on ts alone)
    val sorted = rows.map(_._2).toArray.sorted
    if (sorted.isEmpty) return Iterator.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[SessRow]
    // plain gap-islands fold for a run of events with no restored state
    def fold(events: Iterator[Long], start: OpenSess): OpenSess = {
      var cur = start
      for (ts <- events) {
        if (cur == null) cur = OpenSess(ts, ts, 1L)
        else if (ts - cur.lastUs >= GapUs) {
          // the gap closes the previous session — final, emit inline
          out += SessRow(key, fmt(cur.startUs), cur.n)
          cur = OpenSess(ts, ts, 1L)
        } else cur = OpenSess(cur.startUs, ts, cur.n + 1)
      }
      cur
    }
    val cur: OpenSess = if (!open.exists()) fold(sorted.iterator, null) else {
      val o = open.get()
      getHandle.deleteTimer(timerFor(o.lastUs))
      // EXACT merge with a restored session on multi-batch replay: a
      // late-but-within-watermark event may precede the open span
      // [startUs, lastUs]. Events inside the span can never split it
      // (the span is gap-free by construction) — they only add to the
      // count. Events before it form their own gap-islands; the last
      // such island merges into the open session iff its gap to startUs
      // is < 30 min. (The round-3 form assumed all new events were
      // >= lastUs and silently corrupted session bounds otherwise.)
      val within = sorted.count(ts => ts >= o.startUs && ts <= o.lastUs)
      val pre = fold(sorted.iterator.takeWhile(_ < o.startUs), null)
      val merged =
        if (pre == null) OpenSess(o.startUs, o.lastUs, o.n + within)
        else if (o.startUs - pre.lastUs >= GapUs) {
          out += SessRow(key, fmt(pre.startUs), pre.n)
          OpenSess(o.startUs, o.lastUs, o.n + within)
        } else OpenSess(pre.startUs, o.lastUs, o.n + pre.n + within)
      fold(sorted.iterator.filter(_ > o.lastUs), merged)
    }
    open.update(cur)
    // watchdog for the trailing session: fires iff no further event
    // extends it before the watermark passes last + 30 min
    getHandle.registerTimer(timerFor(cur.lastUs))
    out.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessRow] = {
    if (open.exists()) {
      val cur = open.get()
      open.clear()
      Iterator.single(SessRow(key, fmt(cur.startUs), cur.n))
    } else Iterator.empty
  }
}

/** transformWithState processor with a TTL'd ValueState: per-key running
  * count whose state EXPIRES `ttlMs` after its last update (processing
  * time). After expiry the count restarts from zero — the bounded-state
  * pattern for per-entity counters that must not accumulate forever
  * (StreamingSpec pins the semantics across two checkpointed runs). */
class TtlCountProcessor(ttlMs: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, String, (String, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}

  @transient private var cnt: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    cnt = getHandle.getValueState[Long]("cnt",
      org.apache.spark.sql.Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofMillis(ttlMs)))
  }

  override def handleInputRows(key: String, rows: Iterator[String],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(String, Long)] = {
    val prev = if (cnt.exists()) cnt.get() else 0L
    val n = prev + rows.size
    cnt.update(n)
    Iterator.single((key, n))
  }
}

/** transformWithState processor: per-user running (count, sum) in a typed
  * ValueState — the new-API twin of [[StatefulCounts.updateState]]. */
class CountProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Double), StatefulCounts.UserRow] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}

  @transient private var state: ValueState[StatefulCounts.UserState] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[StatefulCounts.UserState](
      "userTotals", org.apache.spark.sql.Encoders.product[StatefulCounts.UserState],
      TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[StatefulCounts.UserRow] = {
    val prev = if (state.exists()) state.get() else StatefulCounts.UserState(0L, 0.0)
    var n = prev.nEvents
    var sum = prev.sumValue
    // deterministic fold order (stable event_id sort), as in q36
    rows.toSeq.sortBy(_._2).foreach { r => n += 1; sum += r._3 }
    state.update(StatefulCounts.UserState(n, sum))
    Iterator.single(StatefulCounts.UserRow(key, n, sum))
  }
}
