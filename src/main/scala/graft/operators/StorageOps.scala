package graft.operators

import graft.Tables._
import graft.functions.Tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-layout operators: Hive-style partitioned sinks and the
  * partition-pruned scans they enable — the data-layout half of the
  * 100 TB story (the reference's only sink is flat text files,
  * mr/worker.go:131-152; a lakehouse engine must also WRITE layouts that
  * make later reads cheap).
  */
object StorageOps {

  /** Morton (Z-order) code of two bucketed keys: interleaves `bits` bits
    * of `a` (even positions) and `b` (odd positions) into one long. The
    * multi-dimensional clustering key: `repartitionByRange + sort` on the
    * code gives every output file a small RECTANGLE of (a, b) space, so
    * parquet min/max stats skip files for predicates on EITHER column —
    * a 1-D sort can only serve its own leading column (the second
    * dimension's per-file span stays the full range). Pure integer bit
    * expression (codegen'd, deterministic); inputs must already be
    * bucketed into [0, 2^bits). ScaleTechniquesSpec measures the win
    * directly against a 1-D layout. */
  def mortonCode(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      (shiftright(a, i).bitwiseAND(1L) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(1L) * lit(1L << (2 * i + 1)))
    }.reduce[org.apache.spark.sql.Column](_ + _)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Partitioned write → pruned read: events land partitioned by
    // event_type (the canonical low-cardinality layout key), then the
    // read of ONE type touches exactly that directory — the scan's
    // PartitionFilters prune the rest without opening a file
    // (StorageOpsSpec asserts the pruned plan). At 100 TB this is the
    // difference between scanning 20 TB and scanning 1/5th of it; the
    // same mechanism drives date-partitioned retention and incremental
    // backfills. The daily rollup after the scan is value-identical to
    // aggregating the unpartitioned source, which is what the oracle
    // replays.
    "q84_partitioned_sink" -> ((s, d) => {
      val dir = graft.Tables.scratchDir(s,
        "q84_part_sink_" + graft.Tables.datasetTag(d))
      events(s, d)
        .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      s.read.parquet(dir)
        .filter(col("event_type") === "purchase")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 6).as("sum_value"))
        .orderBy(col("day"))
    }),

    // CSV sink + source roundtrip inside the correctness gate: orders
    // lands as headered CSV, is read back with the original schema, and
    // the rollup over the read-back rows must equal the oracle's rollup
    // over the parquet source — which holds only if every value survives
    // the text roundtrip (doubles print shortest-roundtrip form; dates
    // ISO). SourceSinkSpec extends the same roundtrip to JSON and ORC.
    "q87_csv_roundtrip" -> ((s, d) => {
      val dir = graft.Tables.scratchDir(s,
        "q87_csv_sink_" + graft.Tables.datasetTag(d))
      val o = orders(s, d)
      o.write.mode("overwrite").option("header", "true").csv(dir)
      s.read.schema(o.schema).option("header", "true").csv(dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))
        .orderBy(col("o_orderstatus"))
    }),

    // Gzipped-JSONL roundtrip — THE training-data exchange format (one
    // JSON object per line, gzip per file): documents export with their
    // token count as metadata, re-ingest through the json source with
    // an explicit schema (schema inference would re-scan — never at
    // 100 TB), and the per-lang rollup over the read-back rows must
    // equal the oracle's rollup over the parquet source, which holds
    // only if every value (unicode text lengths included) survives the
    // JSON encode/decode. gzip is per-file whole-stream compression —
    // NOT splittable, so the write sizes files via the partition count
    // and a 100 TB export tunes partitions, not maxPartitionBytes, for
    // the downstream reader's parallelism.
    // ORC roundtrip — the OTHER columnar warehouse format (completing
    // the interchange matrix: CSV q87, JSONL q124, ORC here; parquet is
    // the native fixture format): the 5 hot lineitem columns land as
    // ORC, read back under the original schema (TIMESTAMP_NTZ included
    // — the type most likely to drift across formats), and the
    // returnflag rollup must equal the oracle's rollup over the parquet
    // source. Column pruning and predicate pushdown work on ORC scans
    // the same as parquet, so the layout story carries over unchanged.
    "q128_orc_roundtrip" -> ((s, d) => {
      // dataset-qualified scratch name (q82's convention): running both
      // SFs in one session must not share a sink path (round-9 advisor)
      val dir = graft.Tables.scratchDir(s,
        "q128_orc_sink_" + graft.Tables.datasetTag(d))
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
      li.write.mode("overwrite").orc(dir)
      s.read.schema(li.schema).orc(dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
        .orderBy(col("l_returnflag"))
    }),

    "q124_jsonl_roundtrip" -> ((s, d) => {
      val dir = graft.Tables.scratchDir(s,
        "q124_jsonl_sink_" + graft.Tables.datasetTag(d))
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"),
          // literal-space split with empties kept: identical semantics in
          // Spark's split(-1 limit) and DuckDB's string_split, so the
          // token metadata needs no regex-dialect reconciliation
          size(split(col("text"), " ", -1)).as("n_ws_tokens"))
      docs.write.mode("overwrite").option("compression", "gzip").json(dir)
      s.read.schema(docs.schema).json(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("n_ws_tokens")).as("sum_tokens"))
        .orderBy(col("lang"))
    }),

    // SCHEMA EVOLUTION across store generations — the reality every
    // long-lived batch-appended table hits: the pipeline learns to emit
    // a new column (a score here), old batches keep their narrower
    // files, and readers must see ONE table with the old rows NULL in
    // the new column. Generation 0 writes the original 3-column ingest
    // schema; generation 1 appends with the added score column;
    // mergeSchema reconciles per-file footers at read (the option IS
    // the operator — a default read samples one footer and can miss the
    // column entirely, StorageOpsSpec pins both). The rollup proves the
    // semantics: pre-evolution rows count as schema-missing, and the
    // aggregates are NULL-correct. Order-independent metrics only
    // (counts + max of per-row rounded doubles) — a double SUM over
    // floats would be accumulation-order-dependent and unverifiable.
    "q150_schema_evolution" -> ((s, d) => {
      val dir = graft.Tables.scratchDir(s,
        "q150_evo_sink_" + graft.Tables.datasetTag(d))
      val ev = events(s, d)
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("batch_id", lit(0L))
        .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
      ev.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("score"))
        .withColumn("batch_id", lit(1L))
        .write.mode("append").partitionBy("batch_id").parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("score").isNull, 1L).otherwise(0L))
            .as("n_pre_evolution"),
          max(col("score")).as("max_score"))
        .orderBy(col("event_type"))
    }),

    // Z-ORDER LAYOUT AUDIT — [[mortonCode]] turned into the
    // file-skipping report a table-format OPTIMIZE command emits:
    // lineitem is laid out into 64 equi-depth files twice (clustered by
    // the Morton code of (l_partkey, l_suppkey), and 1-D sorted by
    // l_partkey), and per file the audit reports the min/max range of
    // BOTH dimensions plus whether a fixed probe predicate on each
    // dimension could skip the file. The claim a Z-layout exists to
    // make — the SECOND dimension's probe prunes files under Z but hits
    // every file under the 1-D sort, while the leading dimension prunes
    // under both — is visible in the hit columns and pinned in
    // ScaleTechniquesSpec. File assignment is deterministic equi-depth
    // (file = (rank-1)·64 div n over the total (code, key) order), with
    // the global rank computed by the DISTRIBUTED two-phase pattern: a
    // window over the COARSE-prefix group counts (bounded, ≤ 2^18 rows)
    // yields per-group offsets, and the per-row row_number runs
    // PARTITIONED by that prefix — no corpus-sized single-partition
    // window, the same shape a range-partitioned writer uses to number
    // rows at 100 TB.
    "q167_zorder_audit" -> ((s, d) => {
      // persisted: both layouts (and the count) consume the same slim
      // relation — one parquet scan instead of three. The Morton code is
      // MATERIALIZED INTO THE CACHE (r18 optimization): left as a lazy
      // withColumn, CollapseProject inlines the 32-node interleave tree
      // into every downstream reference (the coarse key, the join key,
      // the window sort key, both sides of the offset rollup), and the
      // Z leg re-evaluated it per consumer — measured 6.4 s for the Z
      // leg vs 1.5 s with z cached (the expression itself costs 0.33 s
      // once). Same trick as the kNN bucket cache: compute the derived
      // key once, every consumer reads the cached column.
      val base = lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 65536L).as("p"),
        (col("l_suppkey") % 65536L).as("sk"))
        .withColumn("z", mortonCode(col("p"), col("sk"), 16))
        .persist()
      val withZ = base
      val n = base.agg(count(lit(1)).as("__n"))
      // distributed total-order rank: coarse-group offsets + partitioned
      // row_number; `coarse` must be a prefix of the total order
      def fileOf(df: DataFrame, coarse: Column, fine: Seq[Column]): DataFrame = {
        val withC = df.withColumn("__c", coarse)
        val offs = withC.groupBy(col("__c")).agg(count(lit(1)).as("__cnt"))
          .select(col("__c"), coalesce(sum(col("__cnt")).over(
            Window.orderBy(col("__c"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .as("__off"))
        withC.join(broadcast(offs), "__c").crossJoin(broadcast(n))
          .select(col("p"), col("sk"),
            expr("((__off + " +
              "row_number() OVER (PARTITION BY __c ORDER BY " +
              fine.map(_.toString).mkString(", ") + ") - 1) * 64) div __n")
              .as("file_id"))
      }
      val zf = fileOf(withZ, expr("z div 16384"),
        Seq(col("z"), col("l_orderkey"), col("l_linenumber")))
        .withColumn("layout", lit("zorder"))
      val pf = fileOf(base, col("p"),
        Seq(col("sk"), col("l_orderkey"), col("l_linenumber")))
        .withColumn("layout", lit("partsort"))
      val outAudit = zf.unionByName(pf)
        .groupBy(col("layout"), col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("p")).as("p_min"), max(col("p")).as("p_max"),
          min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
        .select(col("layout"), col("file_id"), col("n_rows"),
          col("p_min"), col("p_max"), col("sk_min"), col("sk_max"),
          (col("p_min") <= 95 && col("p_max") >= 64).cast("int").as("hit_p"),
          (col("sk_min") <= 5 && col("sk_max") >= 2).cast("int").as("hit_sk"))
        .orderBy(col("layout"), col("file_id"))
        // eager so the base cache can be dropped immediately
        .localCheckpoint()
      try outAudit finally base.unpersist()
    }),

    // SMALL-FILES COMPACTION PLAN — the OPTIMIZE planner's shape: which
    // per-(source, lang) document groups merge into which ~64 KB output
    // file? Sorted-fill bin packing — groups pack in lang order within
    // each source, and a group's file is its PRECEDING cumulative bytes
    // div the target (the q60 token-packing rule pointed at file
    // layout). The plan runs entirely over the group-count-sized size
    // rollup: one aggregation over the corpus, then windows over ~100
    // rows — at 100 TB this is exactly the metadata-only query a table
    // service runs before rewriting a single byte.
    "q180_compaction_plan" -> ((s, d) => {
      val target = 65536L
      val sizes = documents(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val w = Window.partitionBy(col("source")).orderBy(col("lang"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sizes
        .withColumn("prev_bytes", coalesce(sum(col("bytes")).over(w), lit(0L)))
        .select(col("source"), col("lang"), col("n_docs"), col("bytes"),
          expr(s"prev_bytes div $target").as("out_file"))
        .orderBy(col("source"), col("lang"))
    }),

    // TRAINING-DATA EXPORT SHARD WRITER — the terminal operator a
    // 100 TB curation pipeline actually runs, composing three proven
    // pieces into the artifact a trainer consumes: (1) q187's
    // rendezvous-hash shard assignment (stable under resharding, pure
    // map-side), (2) a deterministic content-hash order WITHIN each
    // shard (md5(text) — re-exports of the same corpus byte-match
    // regardless of upstream row order), and (3) q118's token-budget
    // greedy packing (per-shard running sum → seq_id), then a Hive-
    // partitioned parquet write of one directory per shard. The export
    // plan has exactly ONE exchange — the window's hash partition on
    // shard (StorageOpsSpec pins it); the write adds none. Parallelism
    // = shard count by construction: a real export runs thousands of
    // shards, 8 here so fixture files stay realistic. The returned
    // MANIFEST re-reads the WRITTEN files (proving the sink, q84's
    // discipline): per shard — docs, packed sequences, token total,
    // source mix width, and the fullest sequence. Oracle replays
    // assignment + packing + rollup end to end.
    "q209_export_shards" -> ((s, d) => {
      val dir = graft.Tables.scratchDir(s,
        "q209_shards_" + graft.Tables.datasetTag(d))
      val packed = exportPacked(s, d, nShards = 8, budget = 512L)
      packed.write.mode("overwrite").partitionBy("shard").parquet(dir)
      val reread = s.read.parquet(dir)
        .select(col("shard").cast("long").as("shard"), col("doc_id"),
          col("source"), col("n_tok"), col("seq_id"))
      val perSeq = reread.groupBy(col("shard"), col("seq_id"))
        .agg(sum(col("n_tok")).as("seq_tok"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_seqs"), max(col("seq_tok")).as("max_seq_tokens"))
      reread.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .join(perSeq, "shard")
        .select(col("shard"), col("n_docs"), col("n_seqs"),
          col("n_tokens"), col("n_sources"), col("max_seq_tokens"))
        .orderBy(col("shard"))
    })
  )

  /** q209's per-doc export relation: (shard, doc_id, source, n_tok,
    * seq_id) — rendezvous-hash shard, content-hash in-shard order,
    * token-budget greedy packing. Factored so StorageOpsSpec can pin
    * the one-exchange plan and the write/read roundtrip against the
    * same derivation the sink writes. */
  private[graft] def exportPacked(s: SparkSession, d: String,
      nShards: Int, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        Tokens.count(col("text")).as("n_tok"),
        md5(col("text")).as("h"),
        CurationAudits.hrwOwner(nShards).cast("long").as("shard"))
      .withColumn("prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("shard"), col("doc_id"), col("source"), col("n_tok"),
        expr(s"prev div $budget").as("seq_id"))
  }

  val oracles: Map[String, String] = Map(
    "q84_partitioned_sink" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events,
         round(sum(value), 6) AS sum_value
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY day""",
    "q87_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price,
         strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q124_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS sum_chars,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "q128_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n_rows,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // the two generations replayed as a union with the old rows NULL in
    // the evolved column — exactly what mergeSchema reconstructs
    "q150_schema_evolution" ->
      """WITH unioned AS (
           SELECT event_type, NULL::DOUBLE AS score
           FROM events WHERE event_id % 2 = 0
           UNION ALL
           SELECT event_type, round(value, 2)
           FROM events WHERE event_id % 2 <> 0)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pre_evolution,
           max(score) AS max_score
         FROM unioned GROUP BY 1 ORDER BY 1""",

    // The Morton interleave is replayed as the same 32-term bit sum the
    // Spark expression compiles to; ranks replay as plain row_number
    // over the identical total orders.
    "q167_zorder_audit" -> {
      val z = (0 until 16).map(i =>
        s"((p >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((sk >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
      s"""WITH base AS (
           SELECT l_orderkey, l_linenumber,
             l_partkey % 65536 AS p, l_suppkey % 65536 AS sk
           FROM lineitem),
         n AS (SELECT count(*) AS n FROM base),
         z AS (SELECT *, $z AS z FROM base),
         zr AS (SELECT p, sk, row_number() OVER
             (ORDER BY z, l_orderkey, l_linenumber) AS rk FROM z),
         pr AS (SELECT p, sk, row_number() OVER
             (ORDER BY p, sk, l_orderkey, l_linenumber) AS rk FROM base),
         u AS (
           SELECT 'zorder' AS layout, ((rk - 1) * 64) // n.n AS file_id,
             p, sk FROM zr CROSS JOIN n
           UNION ALL
           SELECT 'partsort' AS layout, ((rk - 1) * 64) // n.n AS file_id,
             p, sk FROM pr CROSS JOIN n)
         SELECT layout, file_id, count(*) AS n_rows,
           min(p) AS p_min, max(p) AS p_max,
           min(sk) AS sk_min, max(sk) AS sk_max,
           CAST(min(p) <= 95 AND max(p) >= 64 AS INT) AS hit_p,
           CAST(min(sk) <= 5 AND max(sk) >= 2 AS INT) AS hit_sk
         FROM u GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    "q180_compaction_plan" ->
      """WITH sizes AS (
           SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY 1, 2)
         SELECT source, lang, n_docs, bytes,
           CAST(coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) // 65536 AS out_file
         FROM sizes ORDER BY source, lang""",

    // q209 replay: the q187 HRW argmax, the same content-hash in-shard
    // order, the same greedy token cumsum // budget, then the manifest
    // rollup — end to end, so the written shards are only correct if
    // every stage is.
    "q209_export_shards" ->
      s"""WITH h AS (
           SELECT doc_id, r.i AS s,
             md5(doc_id::VARCHAR || ':' || r.i::VARCHAR) AS hh
           FROM documents, range(8) r(i)),
         own AS (
           SELECT doc_id, s AS shard FROM (
             SELECT doc_id, s, row_number()
               OVER (PARTITION BY doc_id ORDER BY hh DESC, s DESC) AS rk
             FROM h) WHERE rk = 1),
         docs AS (
           SELECT d.doc_id, d.source, o.shard,
             ${Tokens.sqlCount("d.text")} AS n_tok,
             md5(d.text) AS ch
           FROM documents d JOIN own o USING (doc_id)),
         packed AS (
           SELECT shard, doc_id, source, n_tok,
             CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard
               ORDER BY ch, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) // 512 AS seq_id
           FROM docs),
         seqs AS (
           SELECT shard, seq_id, CAST(sum(n_tok) AS BIGINT) AS seq_tok
           FROM packed GROUP BY 1, 2),
         m1 AS (
           SELECT shard, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             count(DISTINCT source) AS n_sources
           FROM packed GROUP BY shard),
         m2 AS (
           SELECT shard, count(*) AS n_seqs, max(seq_tok) AS max_seq_tokens
           FROM seqs GROUP BY shard)
         SELECT shard, n_docs, n_seqs, n_tokens, n_sources, max_seq_tokens
         FROM m1 JOIN m2 USING (shard) ORDER BY shard"""
  )
}
