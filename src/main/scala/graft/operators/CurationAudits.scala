package graft.operators

import graft.MicroBatch
import graft.Tables._
import graft.functions.Tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Round-11 wave: corpus-growth and serving-governance audits — the
  * reports a data team reads BEFORE committing a crawl batch to the
  * training mix, plus the shard-placement stability check a serving
  * layer runs before resizing.
  *
  * - q186 n-gram novelty curve: how much genuinely NEW content each
  *   successive ingestion batch contributes (Baevski/olmo-style corpus
  *   datasheet material; diminishing novelty is the signal to stop
  *   crawling a source).
  * - q187 rendezvous-hash shard rebalance: highest-random-weight
  *   (Thaler & Ravishankar 1998) document→shard assignment at 8 and 9
  *   shards; HRW moves ONLY the ~1/9 of keys that land on the new
  *   shard, vs mod-N hashing which moves (N-1)/N of everything.
  * - q188 leakage-safe split: the q140 content-hash fold assignment
  *   hardened against NEAR-duplicate leakage — a train doc whose
  *   near-dup cluster (verified MinHash pairs, j ≥ 0.8) contains any
  *   eval doc is quarantined, so no eval document has a paraphrase in
  *   the training fold (the Lee et al. 2022 eval-contamination rule).
  *
  * Scale shapes: q186 shuffles 16-char gram keys only (text never
  * leaves the map side) and every post-rollup relation is ≤ 50 batch
  * rows; q187 is one map pass + one 8-row rollup — the 9 md5s per doc
  * are whole-stage-codegen'd, nothing but (shard_old, shard_new) pairs
  * reach the exchange; q188 broadcasts the tainted-cluster list (eval
  * near-dup clusters ≪ corpus) against the slim (doc_id, fold) relation.
  */
object CurationAudits {

  /** Persisted relations (q243's hashed-bigram stream, consumed by both
    * the model rollup and the doc scoring) tracked in the session
    * cache. */
  private def tracked(df: DataFrame): DataFrame =
    graft.SessionCache.tracked("audits", df)

  /** q243's hashed-bigram feature space (DSIR's n-gram hashing, Xie et
    * al. 2023 §3): buckets for the two multinomials. Interpolated into
    * BOTH the Spark plan and the oracle CTE so the sides cannot
    * drift. */
  private[graft] val DsirBuckets = 1024

  /** q243's selection size (Gumbel-top-K ⇔ K draws without replacement
    * ∝ e^w). */
  private[graft] val DsirK = 64

  /** Deterministic ingestion batch of a doc: 50 equal-width id ranges.
    * Width derives from max(doc_id) so the batch COUNT is fixed at any
    * corpus size — the cumulative pass downstream is a triangular join
    * over ≤ 50 rows, never a corpus-sized window. */
  private val NBatches = 50

  /** Rendezvous (HRW) owner of a doc among `n` shards: the shard whose
    * md5(doc_id ":" shard) is lexicographically largest. Pure map-side
    * column — `greatest` over n (hash, shard) structs stays inside
    * whole-stage codegen; ties (impossible for distinct md5 inputs, but
    * defined anyway) break toward the larger shard id, which the oracle
    * mirrors with ORDER BY h DESC, s DESC. */
  private[graft] def hrwOwner(nShards: Int): Column =
    hrwOwnerKeyed(col("doc_id").cast("string"), nShards)

  /** [[hrwOwner]] generalized to an arbitrary string key — the form the
    * epoch exporter (CurationPipeline q223) shards (doc_id, copy) pairs
    * with, so replicated copies of one doc spread across shards. Same
    * codegen `greatest`-over-structs argmax, same DESC tie rule. */
  private[graft] def hrwOwnerKeyed(key: Column, nShards: Int): Column =
    greatest((0 until nShards).map(i =>
      struct(md5(concat(key, lit(":" + i))).as("h"),
        lit(i).as("s"))): _*).getField("s")

  /** q140's content-hash fold rule (membership a pure function of TEXT —
    * byte-identical re-crawls land in the same fold by construction). */
  private def fold: Column = {
    val h4 = conv(substring(md5(col("text")), 1, 4), 16, 10)
      .cast("long") % 10
    when(h4 < 8, "train").when(h4 === 8, "val").otherwise("test")
  }

  /** Schema of the q190 gram store: 64-bit (16-hex md5) gram keys —
    * q120/q137's key discipline, so gram TEXT never lands on disk —
    * partitioned by the batch that first saw them. */
  private val gramStoreSchema = new StructType()
    .add("gh", "string").add("batch_id", "long")

  private val noveltySinkSchema = new StructType()
    .add("n_docs", "long").add("grams_seen", "long")
    .add("new_grams", "long").add("batch_id", "long")

  /** q219's two sinks: admitted doc ids and the one-row-per-batch gate
    * statistics, both batch-partitioned for the q190 exactly-once
    * replace-yourself discipline. */
  private val admitSinkSchema = new StructType()
    .add("doc_id", "long").add("batch_id", "long")
  private val admitStatsSchema = new StructType()
    .add("n_seen", "long").add("n_admitted", "long")
    .add("n_quality_rejects", "long").add("n_repetition_rejects", "long")
    .add("batch_id", "long")

  /** Schema of the q199 heavy-hitter store: ≤ CAP (token, counter) rows
    * per version plus ONE sentinel row (NULL token) whose counter is the
    * cumulative Misra-Gries subtraction Σδ — the store's error budget.
    * Versioned by batch: each micro-batch writes its complete post-state
    * under its own batch_id partition (replay replaces exactly itself —
    * the q190 exactly-once discipline for stateful stores). */
  private val hhStoreSchema = new StructType()
    .add("tok", "string").add("cnt", "long").add("batch_id", "long")

  /** One micro-batch of the streaming heavy-hitter maintenance (q199):
    * the MERGEABLE Misra-Gries summary algebra (Agarwal et al. 2012,
    * "Mergeable summaries") — merge = pointwise counter sum, then
    * subtract the (CAP+1)-th largest counter value δ from ALL counters
    * and drop the non-positive ones; ≤ CAP survive by construction, and
    * EVERY token's true count t satisfies cnt(t) ≤ t ≤ cnt(t) + Σδ
    * (absent tokens: t ≤ Σδ) — the clean cumulative error bound the
    * naive evict-bottom scheme does not have. The batch side is its
    * EXACT delta rollup (delta-sized, the q171 principle); the previous
    * state is ≤ CAP+1 rows from the latest store version; δ is a 1-row
    * scalar from a heap-cut limit — nothing here is corpus-sized and no
    * driver-side state exists. */
  private[graft] def heavyHittersBatch(s: SparkSession, batch: DataFrame,
      id: Long, storeDir: String, cap: Int): Unit = {
    val store = s.read.schema(hhStoreSchema).parquet(storeDir)
      .filter(col("batch_id") < id)
    val latest = store.agg(max(col("batch_id")).as("m"))
    val prev = store.join(latest, col("batch_id") === col("m"))
    val bc = batch.select(explode(Tokens.col(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("bn"))
    val prevTok = prev.filter(col("tok").isNotNull)
      .select(col("tok"), col("cnt").as("pc"))
    val prevDelta = prev.filter(col("tok").isNull)
      .agg(coalesce(max(col("cnt")), lit(0L)).as("pdelta"))
    val merged = prevTok.join(bc, Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("pc"), lit(0L)) + coalesce(col("bn"), lit(0L)))
          .as("cnt"))
    // δ = the (CAP+1)-th largest merged counter (0 when ≤ CAP counters):
    // a distributed heap cut (TakeOrdered), then a 1-row aggregate
    val lim = merged.orderBy(col("cnt").desc, col("tok")).limit(cap + 1)
    val deltaDf = lim.agg(when(count(lit(1)) <= cap, lit(0L))
      .otherwise(min(col("cnt"))).as("delta"))
    val kept = merged.crossJoin(deltaDf)
      .select(col("tok"), (col("cnt") - col("delta")).as("cnt"))
      .filter(col("cnt") > 0)
    val sentinel = deltaDf.crossJoin(prevDelta)
      .select(lit(null).cast("string").as("tok"),
        (col("delta") + col("pdelta")).as("cnt"))
    MicroBatch.write(kept.unionByName(sentinel), storeDir, id)
  }

  /** Distinct 16-hex gram keys of a document batch — one map-side
    * shingle pass (shared tokenizer/trigram contract via
    * [[graft.functions.Dedup.shinglesOfDocs]]), keys deduped. */
  private def batchGramKeys(s: SparkSession, batch: DataFrame): DataFrame =
    graft.functions.Dedup.shinglesOfDocs(s, batch)
      .select(explode(col("shingles")).as("sgl"))
      .select(substring(md5(col("sgl")), 1, 16).as("gh"))
      .distinct()

  /** One micro-batch of the streaming novelty monitor (q190), factored
    * so CurationAuditsSpec can drive the SAME body over a checkpointed
    * two-file stream: count the batch's distinct grams, anti-join
    * against every EARLIER batch's store partitions (batch_id < id —
    * partition-pruned, and replay-safe: a replayed batch never sees its
    * own previous output), land the one-row summary and the fresh gram
    * keys in batch partitions (the [[graft.MicroBatch]] contract: a
    * replayed batch replaces exactly its own partitions). Per-batch
    * cost: one gram pass over the batch + a hash-keyed join against the
    * store — linear, nothing doc-pairwise; the three scalar counts are
    * 1-row aggregates over the persisted batch relations. */
  private[graft] def noveltyBatch(s: SparkSession, batch: DataFrame,
      id: Long, storeDir: String, sinkDir: String): Unit = {
    import s.implicits._
    val store = s.read.schema(gramStoreSchema).parquet(storeDir)
      .filter(col("batch_id") < id)
    MicroBatch.scoped(batchGramKeys(s, batch)) { bg =>
      val unseen = bg.join(store.select(col("gh")), Seq("gh"), "left_anti")
      MicroBatch.scoped(unseen) { fresh =>
        MicroBatch.write(Seq((batch.count(), bg.count(), fresh.count()))
          .toDF("n_docs", "grams_seen", "new_grams"), sinkDir, id)
        MicroBatch.write(fresh, storeDir, id)
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // N-GRAM NOVELTY CURVE — per ingestion batch (50 equal doc_id
    // ranges): distinct trigrams seen, trigrams appearing for the FIRST
    // time anywhere in the corpus, and the cumulative gram vocabulary.
    // A flattening curve says the source is exhausted. Plan shape: the
    // shared shingle relation (one persisted scan, q27's cache) explodes
    // to (gram, batch) rows — grams are the only thing shuffled; the
    // first-seen rollup keys on gram; everything after (new-per-batch,
    // seen-per-batch, cumulative triangular join) is ≤ NBatches rows.
    "q186_ngram_novelty" -> ((s, d) => {
      val w = documents(s, d)
        .agg(expr(s"(max(doc_id) + $NBatches) div $NBatches").as("w"))
      val g = graft.functions.Dedup.sharedShingles(s, d)
        .select(col("doc_id"), explode(col("shingles")).as("s"))
        .crossJoin(broadcast(w))
        .select(col("s"), expr("doc_id div w").as("batch"))
      val firstSeen = g.groupBy(col("s")).agg(min(col("batch")).as("fb"))
      val newPer = firstSeen.groupBy(col("fb").as("batch"))
        .agg(count(lit(1)).as("new_grams"))
      val seenPer = g.groupBy(col("batch"))
        .agg(countDistinct(col("s")).as("grams_seen"))
      val spine = documents(s, d).crossJoin(broadcast(w))
        .groupBy(expr("doc_id div w").as("batch"))
        .agg(count(lit(1)).as("n_docs"))
      val cum = spine.alias("b")
        .join(newPer.alias("n"), col("n.batch") <= col("b.batch"), "left_outer")
        .groupBy(col("b.batch").as("batch"))
        .agg(coalesce(sum(col("n.new_grams")), lit(0L)).as("cum_grams"))
      spine.join(seenPer, Seq("batch"), "left_outer")
        .join(newPer, Seq("batch"), "left_outer")
        .join(cum, Seq("batch"))
        .select(col("batch"), col("n_docs"),
          coalesce(col("grams_seen"), lit(0L)).as("grams_seen"),
          coalesce(col("new_grams"), lit(0L)).as("new_grams"),
          col("cum_grams"),
          when(coalesce(col("grams_seen"), lit(0L)) === 0, lit(0.0))
            .otherwise(round(coalesce(col("new_grams"), lit(0L)) /
              col("grams_seen").cast("double"), 6)).as("novelty_rate"))
        .orderBy(col("batch"))
    }),

    // RENDEZVOUS-HASH SHARD REBALANCE AUDIT — assign every doc to its
    // HRW owner among 8 shards and again among 9, and report per OLD
    // shard how many docs move. HRW's guarantee (the reason consistent
    // placement uses it): a doc moves ONLY if the new shard wins its
    // argmax, so ~1/9 of each shard relocates and nothing shuffles
    // between surviving shards. One codegen map pass, one 8-row rollup.
    "q187_rendezvous_shards" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), hrwOwner(8).cast("long").as("shard_old"),
          hrwOwner(9).cast("long").as("shard_new"))
        .groupBy(col("shard_old"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("shard_new") =!= col("shard_old")).cast("long"))
            .as("n_moved"))
        .select(col("shard_old"), col("n_docs"), col("n_moved"),
          round(col("n_moved") / col("n_docs").cast("double"), 6)
            .as("moved_frac"))
        .orderBy(col("shard_old"))
    }),

    // LEAKAGE-SAFE SPLIT — q140's fold assignment plus the
    // near-duplicate quarantine: a TRAIN doc whose verified near-dup
    // cluster (MinHash j ≥ 0.8, q27's pair graph → q72's components)
    // contains any val/test doc is reassigned to 'quarantine' (dropped
    // from training), so no eval doc has a paraphrase across the fold
    // boundary. Exact duplicates can never straddle folds to begin with
    // (fold is a function of the text hash) — the quarantine closes the
    // NEAR-dup gap. Plan shape: folds are map-side; cluster labels are
    // the cached component relation (bounded by docs-in-pairs); the
    // tainted-cluster list broadcasts.
    "q188_leakage_safe_split" -> ((s, d) => {
      val folds = documents(s, d).select(col("doc_id"), fold.as("fold"))
      val labels = graft.functions.Dedup.nearDupLabels(s, d)
      val tainted = labels.join(folds.filter(col("fold") =!= "train"), "doc_id")
        .select(col("cluster_id")).distinct()
        .withColumn("tainted", lit(true))
      folds.join(labels, Seq("doc_id"), "left_outer")
        .join(broadcast(tainted), Seq("cluster_id"), "left_outer")
        .select(col("doc_id"),
          when(col("fold") === "train" &&
            coalesce(col("tainted"), lit(false)), "quarantine")
            .otherwise(col("fold")).as("fold"))
        .orderBy(col("doc_id"))
    }),

    // WEIGHTED SAMPLING WITHOUT REPLACEMENT — per-source quality-
    // weighted subsampling by the Efraimidis–Spirakis A-ES scheme
    // (priority = u^(1/w), keep the k largest per stratum): the
    // principled "sample the mixture, favor quality" primitive behind
    // corpus down-sampling, where mod-coin quotas (q95/q185) cannot
    // express weights. Everything is deterministic and REPLAYABLE:
    // u is a 52-bit content-hash fold mapped to [0,1) (exact in a
    // double), weights are the powers {1,2,4} so u^(1/w) is a sqrt
    // CHAIN — sqrt is IEEE-correctly-rounded on both engines, so
    // priorities are bit-identical and the top-k selection cannot
    // diverge (an exp/ln-based pow would not give that guarantee).
    // Plan: priorities are map-side; the per-source top-10 runs through
    // the TopKPerGroupExec heap (partial pre-cut, no per-group sort);
    // the rank window numbers only the ≤10 survivors.
    "q192_weighted_sample" -> ((s, d) => {
      val u = conv(substring(md5(col("text")), 1, 13), 16, 10)
        .cast("long").cast("double") / lit(4503599627370496.0)
      val wgt = when(col("n_chars") >= 400, 4L)
        .when(col("n_chars") >= 250, 2L).otherwise(1L)
      val keyed = documents(s, d).select(col("doc_id"), col("source"),
        wgt.as("w"),
        when(wgt === 4L, sqrt(sqrt(u)))
          .when(wgt === 2L, sqrt(u)).otherwise(u).as("key"))
      val top = graft.plans.TopKPerGroup.topK(keyed,
        Seq("source"), Seq("key" -> false, "doc_id" -> true), k = 10)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("key").desc, col("doc_id"))
      top.withColumn("rk", row_number().over(win).cast("long"))
        .select(col("source"), col("rk"), col("doc_id"), col("w"),
          round(col("key"), 6).as("priority"))
        .orderBy(col("source"), col("rk"))
    }),

    // ENTITY RESOLUTION via deletion-neighborhood blocking (FastSS,
    // Bocek et al. 2007) — the record-linkage operator a curation
    // pipeline runs on misspelled entity references: probes are
    // deterministic single-character deletions of customer names
    // (every 7th customer, deletion position keyed by custkey); each
    // CANONICAL name is indexed under its identity + all single-
    // deletion variants (16-hex md5 keys, ~len+1 slim rows per entity,
    // map-side), so an edit-distance-1 probe finds its candidates by
    // EXACT hash join — never an all-pairs or per-pair edit-distance
    // scan; levenshtein verifies candidates and the deterministic
    // (dist, custkey) argmin resolves ambiguity (a digit-run deletion
    // can legitimately match several entities — n_candidates reports
    // it). Candidate fan-out per probe is bounded by the name's
    // deletion neighborhood, independent of corpus size.
    "q191_entity_resolution" -> ((s, d) => {
      val names = customer(s, d).select(col("c_custkey"), col("c_name"))
      val probes = names.filter(col("c_custkey") % 7 === 0)
        .withColumn("pos",
          (col("c_custkey") % length(col("c_name"))).cast("int"))
        .select((col("c_custkey") + 10000000L).as("probe_id"),
          expr("concat(substr(c_name, 1, pos), substr(c_name, pos + 2))")
            .as("probe_name"))
      val canon = names
        .select(col("c_custkey"), col("c_name"),
          explode(expr("""array_union(array(c_name),
            transform(sequence(1, length(c_name)),
              i -> concat(substr(c_name, 1, i - 1), substr(c_name, i + 1))))"""))
            .as("v"))
        .select(col("c_custkey"), col("c_name"),
          substring(md5(col("v")), 1, 16).as("vh"))
        .distinct()
      val cands = probes
        .withColumn("ph", substring(md5(col("probe_name")), 1, 16))
        .join(canon, col("ph") === col("vh"))
        .withColumn("dist",
          levenshtein(col("probe_name"), col("c_name")).cast("long"))
        .filter(col("dist") <= 1)
      cands.groupBy(col("probe_id"))
        .agg(min(struct(col("dist"), col("c_custkey"))).as("best"),
          countDistinct(col("c_custkey")).as("n_candidates"))
        .select(col("probe_id"), col("best.c_custkey").as("match_custkey"),
          col("best.dist").as("dist"), col("n_candidates"))
        .orderBy(col("probe_id"))
    }),

    // STREAMING HEAVY HITTERS — q106's top-k maintained INCREMENTALLY
    // over a document stream with bounded state (the seventh streaming-
    // admission path): each micro-batch's exact token rollup merges into
    // a ≤ 64-counter Misra-Gries store via the mergeable-summary
    // subtraction ([[heavyHittersBatch]]); the store is versioned per
    // batch (replay-safe dynamic overwrite) and the final report is the
    // top-10 with HONEST bounds — cnt_lb ≤ true ≤ cnt_ub = cnt_lb + Σδ,
    // the cumulative subtraction budget. On the fixture's ≤ 64-token
    // vocabulary δ stays 0 and the bounds collapse to the exact counts
    // (which is what makes the oracle bit-exact); the > CAP compaction
    // path is pinned by CurationAuditsSpec on a wide hand vocabulary.
    // Bounded single-file replay = one batch, replayed directly.
    "q199_stream_heavy_hitters" -> ((s, d) => {
      val tag = graft.Tables.datasetTag(d)
      val storeDir = graft.Tables.scratchDir(s, "q199_store_" + tag)
      MicroBatch.reset(s, hhStoreSchema, storeDir)
      val src = MicroBatch.source(graft.ChildSession.forStream(s), d, "documents")
      MicroBatch.drain(src)(heavyHittersBatch(s, _, _, storeDir, cap = 64))
      val store = s.read.schema(hhStoreSchema).parquet(storeDir)
      val latest = store.agg(max(col("batch_id")).as("m"))
      val fin = store.join(latest, col("batch_id") === col("m"))
      val delta = fin.filter(col("tok").isNull)
        .agg(coalesce(max(col("cnt")), lit(0L)).as("dsum"))
      val top = fin.filter(col("tok").isNotNull)
        .orderBy(col("cnt").desc, col("tok")).limit(10)
      top.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("tok"))).cast("long"))
        .crossJoin(delta)
        .select(col("rk"), col("tok"), col("cnt").as("cnt_lb"),
          (col("cnt") + col("dsum")).as("cnt_ub"))
        .orderBy(col("rk"))
    }),

    // STREAMING NOVELTY MONITOR — q186's curve as an ingestion-time
    // signal (the sixth streaming-admission path after q130/q138/q139/
    // q149/q173): documents ARRIVE as a stream; each micro-batch counts
    // its distinct trigram keys against the persisted gram store (all
    // earlier batches), lands a one-row novelty summary exactly-once,
    // and appends its fresh grams so the NEXT batch sees them — a
    // crawler stuck in a loop shows up as novelty_rate collapsing while
    // doc volume holds. Sequential multi-batch semantics (batch N+1's
    // novelty measured against N's store; restart admits nothing twice)
    // are pinned by CurationAuditsSpec on a checkpointed two-file
    // stream; bounded single-file replay = one batch, which the oracle
    // replays directly. At 100 TB the exact gram store would swap for a
    // KMV/Bloom sketch (q110's operator) — the exact store is what
    // makes the oracle bit-exact, and its join is hash-keyed on 64-bit
    // keys, linear, partition-pruned to earlier batches.
    "q190_stream_novelty" -> ((s, d) => {
      val tag = graft.Tables.datasetTag(d)
      val storeDir = graft.Tables.scratchDir(s, "q190_store_" + tag)
      val sinkDir = graft.Tables.scratchDir(s, "q190_sink_" + tag)
      MicroBatch.reset(s, gramStoreSchema, storeDir)
      MicroBatch.reset(s, noveltySinkSchema, sinkDir)
      val src = MicroBatch.source(graft.ChildSession.forStream(s), d, "documents")
      MicroBatch.drain(src)(noveltyBatch(s, _, _, storeDir, sinkDir))
      s.read.schema(noveltySinkSchema).parquet(sinkDir)
        .select(col("batch_id"), col("n_docs"), col("grams_seen"),
          col("new_grams"),
          when(col("grams_seen") === 0, lit(0.0))
            .otherwise(round(col("new_grams") /
              col("grams_seen").cast("double"), 6)).as("novelty_rate"))
        .orderBy(col("batch_id"))
    }),

    // STREAMING QUALITY-GATED ADMISSION — the learned gate (q208's
    // frozen logit) and the repetition gate (q210) in the INGEST path,
    // completing the streaming-admission family (dedup q130, vectors
    // q138, novelty q190): each arriving micro-batch of src0 documents
    // is scored entirely map-side (both gates are stateless — no store,
    // no state between batches, unlike the dedup admissions), admitted
    // ids land exactly-once under their batch partition, and a one-row
    // gate-statistics summary lands beside them. Docs too short for the
    // 5-gram window pass the repetition gate vacuously (the gate can't
    // fire on what it can't measure). The returned row sums the stats
    // across batches AND recounts the admitted sink — n_sink_docs ≡
    // n_admitted is the exactly-once evidence the driver hashes.
    "q219_stream_quality_admit" -> ((s, d) => {
      val tag = graft.Tables.datasetTag(d)
      val sinkDir = graft.Tables.scratchDir(s, "q219_sink_" + tag)
      val statsDir = graft.Tables.scratchDir(s, "q219_stats_" + tag)
      MicroBatch.reset(s, admitSinkSchema, sinkDir)
      MicroBatch.reset(s, admitStatsSchema, statsDir)
      val src = MicroBatch.source(graft.ChildSession.forStream(s), d, "documents")
        .filter(col("source") === "src0")
      MicroBatch.drain(src) { (batch, id) =>
        val gates = batch.select(col("doc_id"))
          .join(CorpusCleaning.qualityLogitOf(batch)
            .select(col("doc_id"), (col("score") >= 0).as("q_keep")),
            Seq("doc_id"))
          .join(CorpusCleaning.repetitionStatsOf(batch)
            .select(col("doc_id"), (col("keep") === 1).as("r_keep")),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("q_keep"),
            coalesce(col("r_keep"), lit(true)).as("r_keep"))
        MicroBatch.scoped(gates) { verdicts =>
          MicroBatch.write(verdicts.filter(col("q_keep") && col("r_keep"))
            .select(col("doc_id")), sinkDir, id)
          MicroBatch.write(verdicts.agg(count(lit(1)).as("n_seen"),
              sum((col("q_keep") && col("r_keep")).cast("long"))
                .as("n_admitted"),
              sum((!col("q_keep")).cast("long")).as("n_quality_rejects"),
              sum((!col("r_keep")).cast("long"))
                .as("n_repetition_rejects")), statsDir, id)
        }
      }
      val sunk = s.read.schema(admitSinkSchema).parquet(sinkDir)
        .agg(count(lit(1)).as("n_sink_docs"))
      s.read.schema(admitStatsSchema).parquet(statsDir)
        .agg(sum(col("n_seen")).as("n_seen"),
          sum(col("n_admitted")).as("n_admitted"),
          sum(col("n_quality_rejects")).as("n_quality_rejects"),
          sum(col("n_repetition_rejects")).as("n_repetition_rejects"))
        .crossJoin(sunk)
    }),

    // DSIR DATA SELECTION (Xie et al., NeurIPS 2023 — "Data Selection
    // for Language Models via Importance Resampling"): pick the raw
    // docs whose HASHED-BIGRAM distribution best matches a target
    // domain (here the src0 slice), by importance weight under two
    // Laplace-smoothed bag-of-hashed-bigrams multinomials — per doc
    // w = Σ_bigrams [ln p_target(bucket) − ln p_raw(bucket)] — with
    // Gumbel-top-k resampling (adding Gumbel(u) noise to w and taking
    // the top K is EXACTLY sampling without replacement ∝ e^w). All
    // noise is the deterministic md5 fold (the q192 discipline) and
    // every per-doc sum is INTEGER micro-units (the q231 discipline:
    // round(lr·1e6) per bucket, summed as longs), so a shuffled
    // aggregation order cannot move a hash-compared double. Scale
    // shape: one map-side bigram pass feeds BOTH model counts (one
    // bucket rollup with conditional sums — buckets, never bigram
    // text, shuffle) and doc scoring (the 1024-row log-ratio table
    // broadcasts back onto the stream), one doc-keyed rollup, then
    // TakeOrdered for the global top-K — nothing corpus-sized crosses
    // twice and the model itself is O(B) rows at any corpus size.
    "q243_dsir_select" -> ((s, d) => dsirSelect(s, documents(s, d))))

  /** q243's engine over an arbitrary (doc_id, source, lang, text)
    * relation — docs with source 'src0' are the TARGET domain, every
    * other doc is a selection candidate. Public so the spec can drive
    * crafted corpora through the exact production path. */
  private[graft] def dsirSelect(s: SparkSession, docs: DataFrame): DataFrame = {
    val B = DsirBuckets
    val K = DsirK
    val ts = Tokens.col(col("text"))
    val bi = tracked(docs
      .select(col("doc_id"), col("source"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr("transform(sequence(1, size(ts) - 1)," +
          " i -> concat(ts[i-1], ' ', ts[i]))")).as("bg"))
      .select(col("doc_id"), col("source"),
        pmod(conv(substring(md5(col("bg")), 1, 13), 16, 10).cast("long"),
          lit(B.toLong)).as("b")))
    val cnt = bi.groupBy(col("b")).agg(
      sum((col("source") === "src0").cast("long")).as("ct"),
      sum((col("source") =!= "src0").cast("long")).as("cr"))
    val tot = cnt.agg(sum(col("ct")).as("t"), sum(col("cr")).as("r"))
    val lr = cnt.crossJoin(broadcast(tot)).select(col("b"),
      round((log((col("ct") + 0.5) / (col("t") + lit(0.5 * B))) -
        log((col("cr") + 0.5) / (col("r") + lit(0.5 * B)))) * 1e6)
        .cast("long").as("lrm"))
    val w = bi.filter(col("source") =!= "src0")
      .join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("lrm")).as("w_micro"),
        count(lit(1)).as("n_bigrams"))
    // u = (fold + 1) / (2^52 + 1) ∈ (0, 1) strictly: the raw fold/2^52
    // can be exactly 0 (all-zero hash prefix, p ≈ 2e-16/doc), where
    // Spark log(0) yields NULL (doc silently drops from the top-K) but
    // DuckDB ln(0) = -inf errors the BIGINT cast — an asymmetric
    // engine/oracle divergence. Clamped identically on both sides.
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13),
      16, 10).cast("long") + lit(1L)).cast("double") / lit(4503599627370497.0)
    val keyed = w.withColumn("key_micro",
      col("w_micro") + round(-log(-log(u)) * 1e6).cast("long"))
    // TakeOrdered FIRST, then the 1:1 metadata join onto the K
    // survivors — joining before the cut would shuffle-join two
    // corpus-sized relations only to truncate to K rows (the ordering
    // keys live on `keyed`, so the reorder is result-identical)
    val top = keyed
      .orderBy(col("key_micro").desc, col("doc_id")).limit(K)
      .join(docs.select(col("doc_id"), col("source"), col("lang")),
        "doc_id")
    top.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("key_micro").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("source"), col("lang"),
        col("n_bigrams"), col("w_micro"), col("key_micro"))
      .orderBy(col("rk"))
  }

  val oracles: Map[String, String] = Map(
    "q186_ngram_novelty" ->
      s"""WITH w AS (SELECT (max(doc_id) + 50) // 50 AS w FROM documents),
         t AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS toks
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
             FROM t WHERE len(toks) >= 3)),
         g AS (SELECT s, doc_id // (SELECT w FROM w) AS batch FROM sh),
         fs AS (SELECT s, min(batch) AS fb FROM g GROUP BY s),
         np AS (SELECT fb AS batch, count(*) AS new_grams FROM fs GROUP BY fb),
         sp AS (SELECT batch, count(DISTINCT s) AS grams_seen FROM g GROUP BY batch),
         dp AS (SELECT doc_id // (SELECT w FROM w) AS batch, count(*) AS n_docs
                FROM documents GROUP BY 1)
         SELECT dp.batch, dp.n_docs,
           coalesce(sp.grams_seen, 0) AS grams_seen,
           coalesce(np.new_grams, 0) AS new_grams,
           CAST(sum(coalesce(np.new_grams, 0))
             OVER (ORDER BY dp.batch) AS BIGINT) AS cum_grams,
           CASE WHEN coalesce(sp.grams_seen, 0) = 0 THEN 0.0
             ELSE round(coalesce(np.new_grams, 0) * 1.0 / sp.grams_seen, 6)
           END AS novelty_rate
         FROM dp
         LEFT JOIN sp ON dp.batch = sp.batch
         LEFT JOIN np ON dp.batch = np.batch
         ORDER BY dp.batch""",

    "q187_rendezvous_shards" ->
      """WITH h AS (
           SELECT doc_id, r.i AS s,
             md5(doc_id::VARCHAR || ':' || r.i::VARCHAR) AS h
           FROM documents, range(9) r(i)),
         o8 AS (
           SELECT doc_id, s AS shard_old FROM (
             SELECT doc_id, s, row_number()
               OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rk
             FROM h WHERE s < 8) WHERE rk = 1),
         o9 AS (
           SELECT doc_id, s AS shard_new FROM (
             SELECT doc_id, s, row_number()
               OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rk
             FROM h) WHERE rk = 1)
         SELECT shard_old, count(*) AS n_docs,
           count(*) FILTER (WHERE shard_new <> shard_old) AS n_moved,
           round(count(*) FILTER (WHERE shard_new <> shard_old) * 1.0
             / count(*), 6) AS moved_frac
         FROM o8 JOIN o9 USING (doc_id)
         GROUP BY shard_old ORDER BY shard_old""",

    // the q76-oracle component labels (recursive transitive closure over
    // the exact-Jaccard ≥ 0.8 pair graph) + the q140 fold rule, then the
    // quarantine CASE
    "q188_leakage_safe_split" ->
      s"""WITH RECURSIVE ${graft.functions.Dedup.shingleCtes},
         pairs AS (
           SELECT doc_a, doc_b
           FROM common
           JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         edges AS (
           SELECT doc_a AS s, doc_b AS e FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(src, node) AS (
           SELECT s, s FROM (SELECT DISTINCT s FROM edges)
           UNION
           SELECT r.src, g.e FROM reach r JOIN edges g ON r.node = g.s),
         labels AS (
           SELECT src AS doc_id, min(node) AS cluster_id
           FROM reach GROUP BY src),
         folds AS (
           SELECT doc_id,
             CASE WHEN h4 < 8 THEN 'train' WHEN h4 = 8 THEN 'val'
               ELSE 'test' END AS fold
           FROM (
             SELECT doc_id,
               list_reduce(list_prepend(0::BIGINT,
                 [strpos('0123456789abcdef', c)::BIGINT - 1
                  for c in string_split(substr(md5(text), 1, 4), '')]),
                 (a, x) -> a * 16 + x) % 10 AS h4
             FROM documents)),
         tainted AS (
           SELECT DISTINCT l.cluster_id
           FROM labels l JOIN folds f USING (doc_id)
           WHERE f.fold <> 'train')
         SELECT f.doc_id,
           CASE WHEN f.fold = 'train' AND l.cluster_id IN
             (SELECT cluster_id FROM tainted) THEN 'quarantine'
             ELSE f.fold END AS fold
         FROM folds f LEFT JOIN labels l USING (doc_id)
         ORDER BY f.doc_id""",

    // the 52-bit hex fold (q140's technique widened to 13 chars), the
    // same sqrt-chain priorities, row_number replay of the heap top-10
    "q192_weighted_sample" ->
      """WITH h AS (
           SELECT doc_id, source,
             list_reduce(list_prepend(0::BIGINT,
               [strpos('0123456789abcdef', c)::BIGINT - 1
                for c in string_split(substr(md5(text), 1, 13), '')]),
               (a, x) -> a * 16 + x) / 4503599627370496.0 AS u,
             CASE WHEN n_chars >= 400 THEN 4::BIGINT
               WHEN n_chars >= 250 THEN 2::BIGINT
               ELSE 1::BIGINT END AS w
           FROM documents),
         k AS (
           SELECT doc_id, source, w,
             CASE WHEN w = 4 THEN sqrt(sqrt(u))
               WHEN w = 2 THEN sqrt(u) ELSE u END AS key
           FROM h),
         r AS (
           SELECT source, doc_id, w, key,
             row_number() OVER (PARTITION BY source
               ORDER BY key DESC, doc_id) AS rk
           FROM k)
         SELECT source, rk, doc_id, w, round(key, 6) AS priority
         FROM r WHERE rk <= 10 ORDER BY source, rk""",

    // the deletion-neighborhood index replayed with an i = 0..len
    // unnest (i = 0 is the identity variant), the same 16-hex keys,
    // levenshtein verify, and the (dist, custkey) argmin as a window
    "q191_entity_resolution" ->
      """WITH names AS (SELECT c_custkey, c_name FROM customer),
         probes AS (
           SELECT c_custkey + 10000000 AS probe_id,
             substr(c_name, 1, (c_custkey % length(c_name))::INT)
               || substr(c_name, (c_custkey % length(c_name))::INT + 2)
               AS probe_name
           FROM names WHERE c_custkey % 7 = 0),
         vars AS (
           SELECT c_custkey, c_name,
             unnest(range(0, length(c_name) + 1)) AS i
           FROM names),
         canon AS (
           SELECT DISTINCT c_custkey, c_name,
             substr(md5(CASE WHEN i = 0 THEN c_name
               ELSE substr(c_name, 1, i::INT - 1) || substr(c_name, i::INT + 1)
               END), 1, 16) AS vh
           FROM vars),
         cands AS (
           SELECT pr.probe_id, c.c_custkey,
             levenshtein(pr.probe_name, c.c_name) AS dist
           FROM probes pr
           JOIN canon c ON substr(md5(pr.probe_name), 1, 16) = c.vh
           WHERE levenshtein(pr.probe_name, c.c_name) <= 1),
         agg AS (
           SELECT probe_id, count(DISTINCT c_custkey) AS n_candidates
           FROM cands GROUP BY probe_id),
         best AS (
           SELECT probe_id, c_custkey AS match_custkey, CAST(dist AS BIGINT) AS dist
           FROM (
             SELECT probe_id, c_custkey, dist, row_number()
               OVER (PARTITION BY probe_id ORDER BY dist, c_custkey) AS rk
             FROM cands) WHERE rk = 1)
         SELECT b.probe_id, b.match_custkey, b.dist, a.n_candidates
         FROM best b JOIN agg a USING (probe_id)
         ORDER BY b.probe_id""",

    // bounded single-file replay = ONE micro-batch (id 0) against an
    // empty store: every distinct 16-hex gram key is fresh
    "q190_stream_novelty" ->
      s"""WITH t AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS toks
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
             FROM t WHERE len(toks) >= 3)),
         g AS (SELECT DISTINCT substr(md5(s), 1, 16) AS gh FROM sh)
         SELECT 0::BIGINT AS batch_id,
           (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM g) AS grams_seen,
           (SELECT count(*) FROM g) AS new_grams,
           CASE WHEN (SELECT count(*) FROM g) = 0 THEN 0.0
             ELSE 1.0 END AS novelty_rate""",

    // bounded single-file replay = ONE micro-batch against an empty
    // store: the fixture vocabulary fits the 64-counter cap, so δ = 0
    // and the store holds the exact rollup — top-10 with lb = ub
    "q199_stream_heavy_hitters" ->
      raw"""WITH vocab AS (
           SELECT tok, count(*) AS n FROM (
             SELECT unnest(${Tokens.sql("text")}) AS tok
             FROM documents) t
           GROUP BY tok),
         r AS (
           SELECT tok, n,
             row_number() OVER (ORDER BY n DESC, tok) AS rk
           FROM vocab)
         SELECT rk, tok, n AS cnt_lb, n AS cnt_ub
         FROM r WHERE rk <= 10 ORDER BY rk""",

    // single-batch replay: the q208 score fragment + q210's repetition
    // recount restricted to the src0 stream slice; short docs pass the
    // repetition gate vacuously (LEFT JOIN + coalesce TRUE)
    "q219_stream_quality_admit" ->
      s"""WITH ${CorpusCleaning.qualityScoreCtes},
         q AS (SELECT doc_id, score >= 0 AS q_keep FROM qscore
               WHERE source = 'src0'),
         rt AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS toks
           FROM documents WHERE source = 'src0'),
         rn AS (SELECT doc_id, len(toks) AS n FROM rt WHERE len(toks) >= 5),
         rbi AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
             i -> toks[i+1] || ' ' || toks[i+2])) AS g
           FROM rt WHERE len(toks) >= 5),
         rg5 AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 4),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
               || ' ' || toks[i+4] || ' ' || toks[i+5])) AS g
           FROM rt WHERE len(toks) >= 5),
         rbs AS (SELECT doc_id, max(c) AS top FROM
           (SELECT doc_id, g, count(*) AS c FROM rbi GROUP BY 1, 2)
           GROUP BY 1),
         rfs AS (SELECT doc_id, count(DISTINCT g) AS nd FROM rg5
           GROUP BY 1),
         rk AS (
           SELECT rn.doc_id,
             (round(rbs.top * 1.0 / (rn.n - 1), 6) <= 0.05
              AND round((rn.n - 4 - rfs.nd) * 1.0 / (rn.n - 4), 6) <= 0.15)
               AS r_keep
           FROM rn JOIN rbs USING (doc_id) JOIN rfs USING (doc_id)),
         v AS (
           SELECT q.doc_id, q.q_keep, coalesce(rk.r_keep, TRUE) AS r_keep
           FROM q LEFT JOIN rk USING (doc_id))
         SELECT count(*) AS n_seen,
           CAST(sum((q_keep AND r_keep)::BIGINT) AS BIGINT) AS n_admitted,
           CAST(sum((NOT q_keep)::BIGINT) AS BIGINT) AS n_quality_rejects,
           CAST(sum((NOT r_keep)::BIGINT) AS BIGINT)
             AS n_repetition_rejects,
           CAST(sum((q_keep AND r_keep)::BIGINT) AS BIGINT) AS n_sink_docs
         FROM v""",

    // q243: identical hashed-bigram bucketing (the q192 md5 13-hex
    // fold), identical double-op order in the log-ratio, per-bucket
    // micro-rounding then BIGINT sums (order-free), the same Gumbel
    // fold, and a single-window replay of TakeOrdered (fine at oracle
    // SF). Explicit BIGINT casts on the sums — DuckDB's sum(BIGINT)
    // widens to HUGEINT, which the driver's pandas canonicalization
    // renders as a float string.
    "q243_dsir_select" ->
      s"""WITH tl AS (
           SELECT doc_id, source,
             ${Tokens.sql("text")} AS ts
           FROM documents),
         bg AS (
           SELECT doc_id, source,
             list_reduce(list_prepend(0::BIGINT,
               [strpos('0123456789abcdef', c)::BIGINT - 1
                for c in string_split(substr(md5(w1 || ' ' || w2), 1, 13), '')]),
               (a, x) -> a * 16 + x) % $DsirBuckets AS b
           FROM (SELECT doc_id, source,
                   unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
                   unnest(list_slice(ts, 2, len(ts))) AS w2
                 FROM tl WHERE len(ts) >= 2)),
         cnt AS (
           SELECT b, count(*) FILTER (WHERE source = 'src0') AS ct,
             count(*) FILTER (WHERE source <> 'src0') AS cr
           FROM bg GROUP BY b),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS t,
                 CAST(sum(cr) AS BIGINT) AS r FROM cnt),
         lr AS (
           SELECT b, CAST(round((ln((ct + 0.5) / (t + ${0.5 * DsirBuckets}))
             - ln((cr + 0.5) / (r + ${0.5 * DsirBuckets}))) * 1000000) AS BIGINT) AS lrm
           FROM cnt, tot),
         w AS (
           SELECT g.doc_id, CAST(sum(lrm) AS BIGINT) AS w_micro,
             count(*) AS n_bigrams
           FROM bg g JOIN lr USING (b) WHERE g.source <> 'src0' GROUP BY 1),
         k AS (
           SELECT doc_id, w_micro, n_bigrams,
             w_micro + CAST(round(-ln(-ln(
               (list_reduce(list_prepend(0::BIGINT,
                 [strpos('0123456789abcdef', c)::BIGINT - 1
                  for c in string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), '')]),
                 (a, x) -> a * 16 + x) + 1) / 4503599627370497.0)) * 1000000)
               AS BIGINT) AS key_micro
           FROM w),
         r AS (
           SELECT row_number() OVER (ORDER BY key_micro DESC, k.doc_id) AS rk,
             k.doc_id, d.source, d.lang, k.n_bigrams, k.w_micro, k.key_micro
           FROM k JOIN documents d USING (doc_id))
         SELECT rk, doc_id, source, lang, n_bigrams, w_micro, key_micro
         FROM r WHERE rk <= $DsirK ORDER BY rk""")
}
