package graft.streaming

import graft.MicroBatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators over the `events` table, replayed
  * through the file source so the REAL streaming machinery runs —
  * readStream → event-time window aggregation → memory sink — then the
  * final result is returned as a batch DataFrame for the correctness gate.
  *
  * The reference is batch-only with a hard map→reduce barrier (SURVEY.md
  * §2.4 — no streaming anywhere), so semantics here are Structured
  * Streaming's own contract: event-time tumbling/sliding/session windows.
  * The driver replays a bounded fixture, so `complete` output mode +
  * `Trigger.AvailableNow` gives the exact batch-equivalent answer (no
  * windows withheld by watermark at end-of-stream); in production the same
  * plans run unbounded with `withWatermark` + append mode.
  *
  * Scale: windowed aggregation state is keyed on (window, group) and
  * partial-aggregated before the shuffle; session windows merge per key.
  * State store size ∝ open windows × keys, bounded by the watermark in
  * production.
  */
object StreamingQueries {

  /** Replay a parquet table as a file-source stream, run `build`, collect
    * the final result from a memory sink. `outputMode` "complete" gives
    * the batch-equivalent answer for bounded replay; "append" (with a
    * watermark inside `build`) exercises the PRODUCTION path — only
    * windows finalized by the watermark are emitted, state is evicted as
    * the watermark advances, and late rows beyond the delay are dropped. */
  private def runStream(s: SparkSession, d: String, table: String, sinkName: String,
      outputMode: String = "complete")(
      build: DataFrame => DataFrame): DataFrame = {
    val child = graft.ChildSession.forStream(s)
    // the sink registers its table on the child, fresh per call
    build(MicroBatch.source(child, d, table)).writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    child.table(sinkName)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour event-time windows per event type.
    "q33_stream_tumbling" -> ((s, d) => {
      runStream(s, d, "events", "sink_tumbling") { src =>
        src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      }
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Sliding 1-hour windows advancing every 30 minutes (each event lands
    // in two windows).
    "q34_stream_sliding" -> ((s, d) => {
      runStream(s, d, "events", "sink_sliding") { src =>
        src.groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
      }
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("n_events"))
        .orderBy(col("win_start"))
    }),

    // Stateful streaming dedup: dropDuplicates keeps one row per
    // (user_id, event_type) across the stream (state keyed on the dedup
    // key — at scale bounded with withWatermark + dropDuplicatesWithinWatermark),
    // then counts per type. Count is deterministic even though WHICH
    // duplicate survives is not.
    "q46_stream_dedup" -> ((s, d) => {
      runStream(s, d, "events", "sink_dedup") { src =>
        src.dropDuplicates("user_id", "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"))
      }
        .select(col("event_type"), col("n_users"))
        .orderBy(col("event_type"))
    }),

    // BOUNDED-STATE streaming dedup — the production variant of q46:
    // dropDuplicatesWithinWatermark evicts a key's dedup state once the
    // watermark passes its event time + delay, so state is O(keys per
    // watermark window) instead of growing forever. Emission is append
    // (first sighting of each key); on the bounded single-file replay
    // every duplicate lands in one batch, so exactly one row per
    // (user_id, event_type) is emitted and the distinct-count oracle is
    // exact. StreamingSpec proves the eviction semantics directly: a
    // duplicate arriving after its key's state was evicted is re-admitted.
    "q69_stream_dedup_watermark" -> ((s, d) => {
      runStream(s, d, "events", "sink_dedup_wm", outputMode = "append") { src =>
        src.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
      }
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // PRODUCTION streaming path: tumbling windows with a 30-minute
    // WATERMARK in APPEND mode — only windows the watermark has finalized
    // are emitted, and their state is evicted (bounded state at scale; the
    // complete-mode q33 is the bounded-replay twin). Deterministic on the
    // bounded fixture: after the last batch the watermark settles at
    // max(ts) - 30min, so exactly the windows ending at or before it are
    // in the sink — which is what the DuckDB oracle computes.
    "q52_stream_append" -> ((s, d) => {
      runStream(s, d, "events", "sink_append", outputMode = "append") { src =>
        src.withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      }
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Watermarked session windows in append mode: sessions whose end
    // (last event + 30-minute gap) precedes the final watermark are
    // emitted and their state dropped — the unbounded-stream contract.
    "q53_stream_session_append" -> ((s, d) => {
      runStream(s, d, "events", "sink_session_append", outputMode = "append") { src =>
        src.withWatermark("ts", "30 minutes")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // Stream-stream inner join: clicks joined to purchases by the same
    // user within [click, click + 30min]. Both sides carry watermarks so
    // the symmetric-hash-join state is evicted as event time advances —
    // without the time bound + watermark the join state would grow
    // without limit on an unbounded stream. Inner-join matches are
    // emitted as both sides arrive, so bounded replay equals the batch
    // join (the oracle).
    // STREAM-STATIC join — the most common production enrichment shape
    // (a stream joined against a slowly-changing dimension): the event
    // stream enriched with the customer table (user u ↦ customer u+1 —
    // the fixtures' key ranges line up shifted by one), BROADCAST into
    // every micro-batch, so the join is stateless (no watermark, no join
    // state — only the downstream per-segment aggregation keeps state).
    // At 100 TB the dimension is the small side by construction; a
    // non-broadcastable dimension becomes a stream-stream join (q54).
    "q105_stream_static_join" -> ((s, d) => {
      val dim = graft.Tables.customer(s, d)
        .select((col("c_custkey") - 1).as("user_id"),
          col("c_mktsegment").as("segment"))
      runStream(s, d, "events", "sink_static_join") { src =>
        src.join(broadcast(dim), Seq("user_id"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 6).as("sum_value"))
      }
        .select(col("segment"), col("n_events"), col("sum_value"))
        .orderBy(col("segment"))
    }),

    // SKETCHES INSIDE STREAMING STATE — the monitoring pattern a 100 TB
    // pipeline runs continuously: per-type distinct-user cardinality via
    // the mergeable KMV Aggregator ([[graft.functions.CustomAgg
    // .KmvDistinct]]) as the streaming aggregate, so state per group is
    // a BOUNDED 64-hash sketch (~2 KB) no matter how many users flow
    // through — where an exact streaming countDistinct would hold every
    // key forever. KMV of a set is order-independent, so micro-batch
    // boundaries, shuffle order, and state-store checkpoints cannot
    // change the answer — the oracle replays the batch arithmetic
    // exactly (same k-smallest selection, same hex fold, same division
    // order) rather than settling for a rows-only check.
    "q126_stream_kmv_users" -> ((s, d) => {
      val kmv = udaf(graft.functions.CustomAgg.KmvDistinct)
      runStream(s, d, "events", "sink_kmv") { src =>
        src.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            kmv(md5(col("user_id").cast("string"))).as("est_users"))
      }
        .select(col("event_type"), col("n_events"), col("est_users"))
        .orderBy(col("event_type"))
    }),

    // The ORDER-STATISTICS twin of q126: per-type value-distribution
    // monitoring through the bounded bottom-K-hash quantile sketch
    // ([[graft.functions.CustomAgg.QuantileSketch]]) as the streaming
    // aggregate — p25/p50/p75/p90 of the event value, held in ≤256
    // (hash, value) pairs per group (~10 KB) no matter how many events
    // flow through, where an exact streaming percentile would buffer
    // every value forever. Bottom-K of a set is order-independent, so
    // micro-batch boundaries and state checkpoints cannot change the
    // answer — the oracle replays the batch estimator exactly (same
    // bottom-K selection on the md5 row key, same positional pick).
    "q156_stream_quantiles" -> ((s, d) => {
      val qs = udaf(graft.functions.CustomAgg.QuantileSketch)
      runStream(s, d, "events", "sink_quantiles") { src =>
        src.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            qs(md5(col("event_id").cast("string")), col("value")).as("qs"))
      }
        .select(col("event_type"), col("n_events"),
          col("qs.sample_n").as("sample_n"), col("qs.p25").as("p25"),
          col("qs.p50").as("p50"), col("qs.p75").as("p75"),
          col("qs.p90").as("p90"))
        .orderBy(col("event_type"))
    }),

    "q54_stream_stream_join" -> ((s, d) => {
      def side(tpe: String, alias: String) =
        MicroBatch.source(s, d, "events")
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(s"${alias}_id"), col("user_id").as(s"${alias}_user"),
            col("ts").as(s"${alias}_ts"))
          .withWatermark(s"${alias}_ts", "30 minutes")
      s.catalog.dropTempView("sink_ss_join")
      val joined = side("click", "c").join(side("purchase", "p"),
        expr("""c_user = p_user AND
                p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"""))
      val q = joined.writeStream.format("memory").queryName("sink_ss_join")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("sink_ss_join")
        .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
          col("p_id").as("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }),

    // LEFT-OUTER stream-stream join — the production semantics where an
    // unmatched left row is emitted (with nulls) only once the watermark
    // proves no match can still arrive. On bounded replay that means:
    // matched pairs always emit; unmatched clicks emit iff their match
    // window (click + 30min) closed under the final global watermark
    // (min of both sides' max event time, minus the 30-min delay) —
    // exactly what the oracle computes.
    "q64_stream_outer_join" -> ((s, d) => {
      def side(tpe: String, alias: String) =
        MicroBatch.source(s, d, "events")
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(s"${alias}_id"), col("user_id").as(s"${alias}_user"),
            col("ts").as(s"${alias}_ts"))
          .withWatermark(s"${alias}_ts", "30 minutes")
      s.catalog.dropTempView("sink_outer_join")
      val joined = side("click", "c").join(side("purchase", "p"),
        expr("""c_user = p_user AND
                p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"""),
        "leftOuter")
      val q = joined.writeStream.format("memory").queryName("sink_outer_join")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("sink_outer_join")
        .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
          col("p_id").as("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }),

    // foreachBatch EXACTLY-ONCE sink — the production pattern for sinks
    // with no native streaming writer: each micro-batch is compacted to
    // its latest row per key, then written to a staging table under its
    // batch id ([[graft.MicroBatch]]), so a retried batch replaces exactly
    // its own output. A final batch pass
    // compacts the staging table to the current state per key — the
    // standard "append + compact" CDC sink. State here lives in the SINK
    // (partitioned files), not the state store, so the streaming side
    // scales with batch size, not key cardinality.
    "q82_stream_foreach_upsert" -> ((s, d) => {
      val src = MicroBatch.source(graft.ChildSession.forStream(s), d, "events")
      // per-(session, source-dir) staging path, reset before the stream
      // starts: a re-run replaces the table instead of leaking a new
      // tree, and a smaller re-run leaves no partition of a larger one
      val stage = graft.Tables.scratchDir(s,
        "q82_upsert_stage_" + graft.Tables.datasetTag(d))
      val stageSchema = src.schema.add("batch_id", "long")
      MicroBatch.reset(s, stageSchema, stage)
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      def latestPerUser(df: DataFrame): DataFrame =
        df.withColumn("rk", row_number().over(latest))
          .filter(col("rk") === 1).drop("rk")
      MicroBatch.drain(src)((batch, id) =>
        MicroBatch.write(latestPerUser(batch), stage, id))
      latestPerUser(s.read.schema(stageSchema).parquet(stage))
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"))
        .orderBy(col("user_id"))
    }),

    // Session windows per user with a 30-minute inactivity gap.
    "q35_stream_session" -> ((s, d) => {
      runStream(s, d, "events", "sink_session") { src =>
        src.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    })
  )

  val oracles: Map[String, String] = Map(
    // Append mode emits exactly the windows whose end precedes the final
    // watermark = max(event time at ms precision) - 30min. Spark tracks
    // the watermark in milliseconds, hence the ms truncation of max(ts).
    "q52_stream_append" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
         FROM events
         WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <=
           (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '30 minutes'
            FROM events)
         GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "q53_stream_session_append" ->
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
           SELECT user_id, min(ts) AS s_start, max(ts) AS s_end, count(*) AS n_events
           FROM islands GROUP BY user_id, sess_id)
         SELECT user_id, strftime(s_start, '%Y-%m-%d %H:%M:%S') AS sess_start,
           n_events
         FROM sess
         WHERE s_end + INTERVAL '30 minutes' <=
           (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '30 minutes'
            FROM events)
         ORDER BY user_id, sess_start""",
    // Inner stream-stream join emits every match once both sides arrive,
    // so bounded replay equals the batch interval join.
    "q105_stream_static_join" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_events,
         round(sum(e.value), 6) AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey - 1
         GROUP BY c.c_mktsegment ORDER BY segment""",
    // streaming KMV replay: per-type k-smallest distinct md5 keys and
    // the shared estimator at the aggregator's K
    "q126_stream_kmv_users" -> {
      val K = graft.functions.CustomAgg.KmvDistinct.K
      s"""WITH keys AS (
           SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS h
           FROM events),
         ranked AS (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM keys),
         agg AS (
           SELECT event_type,
             count(*) FILTER (WHERE rn <= $K) AS k_used,
             max(CASE WHEN rn = $K THEN h END) AS kth
           FROM ranked GROUP BY event_type),
         ev AS (
           SELECT event_type, count(*) AS n_events FROM events
           GROUP BY event_type)
         SELECT e.event_type, e.n_events,
           ${graft.functions.Kmv.estimateSql("a.k_used", "a.kth", K)} AS est_users
         FROM ev e JOIN agg a USING (event_type)
         ORDER BY e.event_type"""
    },
    // streaming quantile-sketch replay: per-type bottom-256 md5 row
    // keys, the q153 (value, key)-ordered positional pick
    "q156_stream_quantiles" ->
      """WITH h AS (
           SELECT event_type AS grp, value AS val,
             md5(CAST(event_id AS VARCHAR)) AS hh
           FROM events),
         samp AS (
           SELECT grp, val, hh FROM (
             SELECT grp, val, hh,
               row_number() OVER (PARTITION BY grp ORDER BY hh) AS rh
             FROM h)
           WHERE rh <= 256),
         ord AS (
           SELECT grp, val,
             row_number() OVER (PARTITION BY grp ORDER BY val, hh) - 1 AS idx,
             count(*) OVER (PARTITION BY grp) AS m
           FROM samp),
         tot AS (SELECT event_type AS grp, count(*) AS n_events
                 FROM events GROUP BY 1)
         SELECT o.grp AS event_type, t.n_events,
           CAST(max(m) AS BIGINT) AS sample_n,
           max(CASE WHEN idx = ((m - 1) * 25) // 100 THEN val END) AS p25,
           max(CASE WHEN idx = ((m - 1) * 50) // 100 THEN val END) AS p50,
           max(CASE WHEN idx = ((m - 1) * 75) // 100 THEN val END) AS p75,
           max(CASE WHEN idx = ((m - 1) * 90) // 100 THEN val END) AS p90
         FROM ord o JOIN tot t ON t.grp = o.grp
         GROUP BY o.grp, t.n_events ORDER BY o.grp""",
    "q54_stream_stream_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
         p.event_id AS purchase_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
         FROM events c JOIN events p
           ON c.user_id = p.user_id
           AND c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
         ORDER BY user_id, click_id, purchase_id""",
    // Matched pairs = the batch interval join; unmatched clicks appear
    // (null purchase) iff click_ts + 30min closed under the final global
    // watermark = min(max click ts, max purchase ts at ms precision) - 30min.
    "q64_stream_outer_join" ->
      """WITH wm AS (
           SELECT least(
             (SELECT date_trunc('milliseconds', max(ts)) FROM events
              WHERE event_type = 'click'),
             (SELECT date_trunc('milliseconds', max(ts)) FROM events
              WHERE event_type = 'purchase'))
             - INTERVAL '30 minutes' AS w),
         matches AS (
           SELECT c.user_id AS user_id, c.event_id AS click_id,
             p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
           FROM events c JOIN events p
             ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'),
         unmatched AS (
           SELECT c.user_id AS user_id, c.event_id AS click_id,
             NULL::BIGINT AS purchase_id, NULL::BIGINT AS gap_us
           FROM events c, wm
           WHERE c.event_type = 'click'
             AND c.ts + INTERVAL '30 minutes' <= wm.w
             AND NOT EXISTS (
               SELECT 1 FROM events p
               WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'))
         SELECT * FROM (SELECT * FROM matches UNION ALL SELECT * FROM unmatched)
         ORDER BY user_id, click_id, purchase_id""",
    "q46_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    // The staged-then-compacted sink converges to the same answer as the
    // batch latest-per-key query regardless of how the stream was split
    // into micro-batches.
    "q82_stream_foreach_upsert" ->
      """SELECT user_id, event_id, event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
         FROM (
           SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rk
           FROM events)
         WHERE rk = 1 ORDER BY user_id""",
    // Bounded replay = one batch ⇒ no state was evicted mid-stream, so
    // the emitted set is exactly one row per distinct key.
    "q69_stream_dedup_watermark" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q33_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "q34_stream_sliding" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, count(*) AS n_events
         FROM (
           SELECT time_bucket(INTERVAL '30 minutes', ts)
             - (k * INTERVAL '30 minutes') AS ws
           FROM events, (SELECT unnest([0, 1]) AS k))
         GROUP BY ws ORDER BY win_start""",
    "q35_stream_session" ->
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
           FROM gaps)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           count(*) AS n_events
         FROM islands GROUP BY user_id, sess_id
         ORDER BY user_id, sess_start"""
  )
}
