package graft.operators

import graft.MicroBatch
import graft.Tables._
import graft.functions.{Dedup, Tokens}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MATERIALIZED MinHash signature store — the persistent form of the
  * incremental delta-vs-corpus near-dedup (q127), and its composition
  * with the exactly-once streaming sink (q82) into the end-to-end
  * ingestion-admission pipeline a production corpus actually runs.
  *
  * q127 recomputes the corpus shingles/signatures/bands on every
  * invocation; at 100 TB that is a full corpus scan per ingest batch.
  * The store amortizes it: ONE build pass writes the corpus's shingle
  * sets and LSH band buckets as parquet tables partitioned by
  * `batch_id` (seed corpus = partition -1), and from then on every
  * admission reads ONLY the store — the corpus TEXT is never scanned
  * again (PlanSpec locks this: the only documents.parquet scan in the
  * admission plan carries the delta's pushed source filter). Each
  * batch's survivors append their own shingles/bands as partition
  * `batch_id`, so consecutive deltas see each other's survivors and a
  * REPLAYED batch overwrites exactly its own partition (the
  * [[graft.MicroBatch]] contract).
  *
  * Scale shape per admission (identical to q127's locked plan): delta
  * bands BROADCAST against the store's band table (the store side never
  * shuffles for candidates — partition pruning on `batch_id <
  * beforeBatch` additionally keeps a replayed batch from seeing its own
  * earlier append), candidates verify with exact Jaccard by streaming
  * the store's shingle table past the broadcast candidate set, and the
  * only hash exchange is the candidate-pair distinct. Recall is q27's
  * 32×4 banding (per-pair miss ≈ 5e-8 at j ≥ 0.8), so the exact
  * cross-partition Jaccard join is the oracle.
  */
object SignatureStore {

  def shinglesPath(dir: String): String = dir + "/shingles"
  def bandsPath(dir: String): String = dir + "/bands"

  /** Build the store from a corpus: one text scan computes the shingle
    * sets, signatures/bands derive from the persisted shingles, and both
    * land as the seed generation (a rebuild replaces any prior store at
    * this path). */
  def build(s: SparkSession, corpus: DataFrame, dir: String): Unit =
    append(s, corpus, dir, MicroBatch.Seed)

  /** Append one batch's documents (its admitted survivors) to the store
    * as partition `batchId`: replaying the same batch id replaces exactly
    * its own partition — idempotent under foreachBatch retry. */
  def append(s: SparkSession, docs: DataFrame, dir: String, batchId: Long): Unit =
    MicroBatch.scoped(Dedup.shinglesOfDocs(s, docs))(
      writeBatchShingles(s, _, dir, batchId))

  /** [[append]] over a caller-provided (already persisted) shingle
    * relation — the shared-derivation seam (r19, guide §5 reuse within
    * one query): an admission that already derived the delta's shingles
    * appends its survivors by FILTERING that relation instead of
    * re-scanning the survivor text (shingling is per-doc, so the
    * restriction is value-identical to re-deriving). */
  private def writeBatchShingles(s: SparkSession, sh: DataFrame,
      dir: String, batchId: Long): Unit = {
    // File sizing examined in r18 and LEFT ALONE: the writes emit one
    // file per upstream partition (32 tiny band files per batch at
    // fixture scale), and an AQE `rebalance` hint before each write
    // was measured a 2x NET LOSS here (q129 2.6 s -> 5.2 s, q133
    // 4.0 s -> 5.8 s) — the rebalance shuffles the heavy shingle
    // arrays, which costs far more than the per-file open/list
    // overhead it saves. At 100 TB the per-partition file count is the
    // right order anyway; compact() remains the explicit small-files
    // remedy.
    MicroBatch.write(sh, shinglesPath(dir), batchId)
    MicroBatch.write(Dedup.bandedBuckets(Dedup.signaturesFromShingles(s, sh)),
      bandsPath(dir), batchId)
  }

  /** Append one batch's SURVIVOR shingles derived by restriction: the
    * delta's tracked shingle relation minus the rejected doc ids — the
    * one shingle derivation pass serves the admission (signatures +
    * verification) AND the append (r19; previously the append
    * re-derived survivor shingles from the raw text the admission had
    * already shingled). */
  private def appendSurvivorShingles(s: SparkSession, deltaSh: DataFrame,
      pairs: DataFrame, dir: String, batchId: Long): Unit =
    writeBatchShingles(s,
      deltaSh.join(pairs.select(col("doc_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"),
      dir, batchId)

  /** Admit a delta batch against the STORED corpus: returns the verified
    * near-dup pairs (doc_a = delta, doc_b = stored corpus, jaccard ≥
    * 0.8). Reads only store partitions with `batch_id < beforeBatch`, so
    * batch N is admitted against the seed plus batches 0..N-1 — never
    * against its own (possibly replayed) append. The corpus text is
    * never scanned: both verification sides come from shingle RELATIONS
    * (the delta's one tracked scan, the store's parquet). */
  def admit(s: SparkSession, delta: DataFrame, dir: String,
      beforeBatch: Long = 0L): DataFrame =
    admitShingles(s, Dedup.trackedShingles(s, delta), dir, beforeBatch)

  /** [[admit]] over a caller-managed shingle relation. The streaming
    * pipeline (q130) persists each micro-batch's shingles itself and
    * unpersists them at batch end — the session-tracked cache would
    * otherwise grow by one entry per micro-batch on an unbounded
    * stream. */
  def admitShingles(s: SparkSession, deltaSh: DataFrame, dir: String,
      beforeBatch: Long): DataFrame = {
    val deltaBands = Dedup.bandedBuckets(Dedup.signaturesFromShingles(s, deltaSh))
    val storeBands = s.read.parquet(bandsPath(dir))
      .filter(col("batch_id") < beforeBatch)
    val cands = storeBands.alias("b")
      .join(broadcast(deltaBands.alias("dl")),
        col("b.band") === col("dl.band") && col("b.bucket") === col("dl.bucket"))
      .select(col("dl.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .observe("store_candidates", count(lit(1)).as("n_candidates"))
    val storeSh = s.read.parquet(shinglesPath(dir))
      .filter(col("batch_id") < beforeBatch)
    // candidate set ⋈ delta shingles is batch-sized — broadcast it past
    // the store's shingle table so the store side streams with no
    // exchange (the only hash shuffle in the plan is the distinct above)
    val withA = cands.join(
      broadcast(deltaSh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))),
      "doc_a")
    storeSh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
      .join(broadcast(withA), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa"), col("sb")))
          / (size(col("sa")) + size(col("sb"))
            - size(array_intersect(col("sa"), col("sb")))).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Survivors of an admission: delta docs with no admitted pair — the
    * rows an ingestion pipeline appends to the corpus (and whose
    * shingles/bands [[append]] adds to the store). */
  def survivors(delta: DataFrame, pairs: DataFrame): DataFrame =
    delta.join(pairs.select(col("doc_a").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** COMPACT the store: roll the seed plus every appended batch with
    * `batch_id <= throughBatch` into a fresh store generation at
    * `newDir` (everything lands as partition -1). The small-files
    * answer for a batch-appended store — a daily ingest appends one
    * partition per batch, and after N batches the band table is N+1
    * partitions of progressively tinier files; admission then pays
    * open/list overhead per file. Production runs this on a schedule
    * and swaps the generation pointer; admission against the compacted
    * generation returns EXACTLY what the uncompacted store returned
    * (SignatureStoreSpec pins equality and the file-count reduction).
    * Writes a NEW directory rather than rewriting in place — a reader
    * mid-admission on the old generation is never disturbed. */
  def compact(s: SparkSession, dir: String, newDir: String,
      throughBatch: Long, numFiles: Int = 1): Unit = {
    // explicit output sizing IS the operation: without the repartition,
    // the scan bin-packs each tiny input file as its own openCost-sized
    // partition and faithfully re-emits one output file per input file.
    // At scale, size numFiles to total bytes / target file size.
    def roll(path: String => String): Unit =
      MicroBatch.write(s.read.parquet(path(dir))
        .filter(col("batch_id") <= throughBatch)
        .drop("batch_id").repartition(numFiles), path(newDir), MicroBatch.Seed)
    roll(shinglesPath)
    roll(bandsPath)
  }

  /** FORGET documents (the erasure-request path, q143): physically
    * remove every band and shingle row of `ids` by rewriting ONLY the
    * batch partitions that hold them — survivors stage to a scratch dir
    * and swap in by rename, partitions emptied whole have their
    * directories removed (a dynamic overwrite cannot emit an empty
    * partition) — so admission never again matches a forgotten doc and
    * no trace of its content remains on disk (shingle arrays ARE
    * content; the mask-only alternative would retain it). Cost:
    * proportional to the affected partitions — an erasure request names
    * few docs, which live in few batches — never the store; the vector
    * index's [[AnnIndexStore.vacuum]] discipline applied to the text
    * side. The quantizer-free store needs no training caveat: forgetting
    * here is complete. */
  def forget(s: SparkSession, ids: DataFrame, dir: String): Unit = {
    PartitionRewrite.erase(s, shinglesPath(dir), Seq("batch_id"), ids, "doc_id")
    PartitionRewrite.erase(s, bandsPath(dir), Seq("batch_id"), ids, "doc_id")
  }

  /** One micro-batch of the streaming admission (q130): admit the batch
    * against the store's partitions below `id`, land its survivors in the
    * admitted-corpus table and append their shingles/bands to the store,
    * both as partition `id`. The shingles feed signatures and
    * verification, the survivors two writes; both persist for this batch
    * only. */
  private[graft] def ingestBatch(s: SparkSession, batch: DataFrame, id: Long,
      storeDir: String, corpusDir: String): Unit =
    MicroBatch.scoped(Dedup.shinglesOfDocs(s, batch)) { deltaSh =>
      val pairs = admitShingles(s, deltaSh, storeDir, beforeBatch = id)
      MicroBatch.scoped(survivors(batch, pairs)) { surv =>
        MicroBatch.write(surv, corpusDir, id)
        append(s, surv, storeDir, id)
      }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q127 THROUGH THE STORE: build the corpus band/shingle tables once
    // (the production one-time cost), admit the src0 delta against the
    // STORED relations only, then append the survivors' bands as batch 0
    // (the store leaves this query fully maintained — the (b) half of
    // the production loop). Result = the same delta-vs-corpus pair set
    // as q127, so they share the exact-Jaccard oracle; what changed is
    // the plan: admission never re-reads corpus text (PlanSpec lock).
    "q129_store_delta_dedup" -> ((s, d) => {
      val dir = scratchDir(s, "q129_store_" + graft.Tables.datasetTag(d))
      val docs = documents(s, d)
      // null-safe split (q127's anti-join convention): a null source is
      // CORPUS, exactly as the oracle's NOT IN delta computes it
      build(s, docs.filter(!(col("source") <=> "src0")), dir)
      val delta = docs.filter(col("source") === "src0")
      // ONE shingle derivation serves admission AND append (r19): the
      // admission's tracked delta shingles, restricted to survivors,
      // replace the append's re-derivation from the survivor text
      val deltaSh = Dedup.trackedShingles(s, delta)
      // pairs persist (session-tracked): the survivor append below and
      // the returned relation would otherwise each execute the full
      // admission subplan (round-10 review finding)
      val pairs = graft.SessionCache.tracked("sigstore",
        admitShingles(s, deltaSh, dir, beforeBatch = 0L))
      appendSurvivorShingles(s, deltaSh, pairs, dir, 0L)
      pairs.orderBy(col("doc_a"), col("doc_b"))
    }),

    // STORE COMPACTION under live admission — the full store lifecycle
    // (build → append → compact → admit) in one oracle-checked query:
    // the src0 delta splits into two waves by doc_id mod 40 (src0 ids
    // are multiples of 20, so parity would be degenerate); wave A
    // admits against the seed and its survivors append as batch 0; the
    // store then COMPACTS into a fresh generation (seed + batch 0
    // rolled into one partition -1); wave B admits against the
    // compacted generation. The result is exactly "wave B vs corpus +
    // wave-A survivors" — compaction must be invisible to admission
    // (the spec also pins result equality against the uncompacted
    // store, plus the file-count reduction that is compaction's point).
    "q133_store_compact_admit" -> ((s, d) => {
      val dir = scratchDir(s, "q133_store_" + graft.Tables.datasetTag(d))
      val gen2 = scratchDir(s, "q133_store_gen2_" + graft.Tables.datasetTag(d))
      val docs = documents(s, d)
      val corpus = docs.filter(!(col("source") <=> "src0"))
      val deltaA = docs.filter(col("source") === "src0" && col("doc_id") % 40 === 0)
      val deltaB = docs.filter(col("source") === "src0" && col("doc_id") % 40 =!= 0)
      build(s, corpus, dir)
      // shared shingle derivation for wave A (r19 — see q129): admit
      // and append read one tracked shingle relation
      val deltaASh = Dedup.trackedShingles(s, deltaA)
      val pairsA = graft.SessionCache.tracked("sigstore",
        admitShingles(s, deltaASh, dir, beforeBatch = 0L))
      appendSurvivorShingles(s, deltaASh, pairsA, dir, 0L)
      compact(s, dir, gen2, throughBatch = 0L)
      // the compacted generation is all partition -1, so beforeBatch = 0
      // admits against everything rolled into it
      admit(s, deltaB, gen2, beforeBatch = 0L)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // FORGET-THEN-READMIT — the erasure request propagated through the
    // store, closing its lifecycle (build → append → compact → FORGET):
    // the corpus is indexed, the delta admitted once, then every EVEN
    // corpus doc that blocked a delta doc is forgotten — its bands and
    // shingles physically erased by partition rewrite — and the SAME
    // delta re-admits. Delta docs whose only near-dup partners were
    // forgotten now come back clean; docs with a surviving odd blocker
    // stay rejected — the result is exactly the delta-vs-remaining-
    // corpus pair set, which the oracle replays (q127's CTEs with the
    // forgotten side excluded). SignatureStoreSpec pins the mechanics:
    // zero store rows for forgotten ids after the rewrite, untouched
    // files in unaffected partitions, and a previously-blocked doc
    // admitted on re-run.
    "q143_store_forget_readmit" -> ((s, d) => {
      val dir = scratchDir(s, "q143_store_" + graft.Tables.datasetTag(d))
      val docs = documents(s, d)
      build(s, docs.filter(!(col("source") <=> "src0")), dir)
      val delta = docs.filter(col("source") === "src0")
      val pairs0 = graft.SessionCache.tracked("sigstore",
        admit(s, delta, dir, beforeBatch = 0L))
      val forgetIds = pairs0.filter(col("doc_b") % 2 === 0)
        .select(col("doc_b").as("doc_id")).distinct()
      forget(s, forgetIds, dir)
      admit(s, delta, dir, beforeBatch = 0L)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING INGESTION-ADMISSION — the end-to-end pipeline: the src0
    // slice arrives as a stream; each micro-batch is admitted against
    // the store (seed corpus + all earlier batches' survivors), its
    // survivors land in the admitted-corpus table partitioned by batch
    // id (exactly-once under replay, the [[graft.MicroBatch]] contract),
    // and their bands/shingles append to the store so the
    // NEXT batch sees them. Bounded single-file replay = one batch, so
    // the final table is: seed corpus + delta docs with no ≥0.8 match
    // in the seed — exactly what the oracle computes; the multi-batch
    // sequential semantics (batch N+1 rejected against batch N's
    // survivors, restart without duplicate admission) are pinned by
    // SignatureStoreSpec on a two-file stream.
    "q130_stream_ingest_admit" -> ((s, d) => {
      val storeDir = scratchDir(s, "q130_store_" + graft.Tables.datasetTag(d))
      val corpusDir = scratchDir(s, "q130_corpus_" + graft.Tables.datasetTag(d))
      // null-safe split, matching q129 and the oracle's source <> 'src0'
      // ... OR NOT IN dup semantics: a null source is corpus
      val seed = documents(s, d).filter(!(col("source") <=> "src0"))
      build(s, seed, storeDir)
      MicroBatch.write(seed, corpusDir, MicroBatch.Seed)
      val src = MicroBatch.source(graft.ChildSession.forStream(s), d, "documents")
        .filter(col("source") === "src0")
      MicroBatch.drain(src)(ingestBatch(s, _, _, storeDir, corpusDir))
      s.read.parquet(corpusDir)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    })
  )

  /** The q127 pair CTE block (delta × non-delta exact shingle Jaccard);
    * q129 shares q127's full oracle, q130 derives the admitted set. */
  private val deltaPairCtes: String =
    s"""t AS (
         SELECT doc_id,
           ${Tokens.sql("text")} AS toks
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
           FROM t WHERE len(toks) >= 3)),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       delta AS (SELECT doc_id FROM documents WHERE source = 'src0'),
       common AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         FROM sh a JOIN delta da ON a.doc_id = da.doc_id
         JOIN sh b ON a.s = b.s
         WHERE b.doc_id NOT IN (SELECT doc_id FROM delta)
         GROUP BY 1, 2)"""

  val oracles: Map[String, String] = Map(
    // identical pair set to q127 (admission at beforeBatch = 0 reads
    // only the seed partition), so the oracle is q127's: the exact
    // shingle-Jaccard join across the delta/corpus split.
    "q129_store_delta_dedup" ->
      s"""WITH $deltaPairCtes
         SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY doc_a, doc_b""",

    // q127's pair replay with the forgotten side excluded: forgetting
    // every even blocker leaves exactly the pairs whose stored partner
    // is odd (the forget set is definitionally a subset of the
    // blockers, and removal can only remove pairs, never add them).
    "q143_store_forget_readmit" ->
      s"""WITH $deltaPairCtes
         SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
           AND doc_b % 2 <> 0
         ORDER BY doc_a, doc_b""",

    // two-wave sequential admission replay: wave A's rejected set vs
    // the corpus, keepset = corpus + wave-A survivors, wave B's pairs
    // vs the keepset — compaction cannot change values, so the oracle
    // never models it.
    "q133_store_compact_admit" ->
      s"""WITH t AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS toks
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
             FROM t WHERE len(toks) >= 3)),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         delta_a AS (SELECT doc_id FROM documents
                     WHERE source = 'src0' AND doc_id % 40 = 0),
         delta_b AS (SELECT doc_id FROM documents
                     WHERE source = 'src0' AND doc_id % 40 <> 0),
         corpus AS (SELECT doc_id FROM documents
                    WHERE source IS DISTINCT FROM 'src0'),
         common_a AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN delta_a da ON a.doc_id = da.doc_id
           JOIN sh b ON a.s = b.s
           JOIN corpus cb ON b.doc_id = cb.doc_id
           GROUP BY 1, 2),
         rej_a AS (
           SELECT DISTINCT doc_a FROM common_a
           JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         keepset AS (
           SELECT doc_id FROM corpus
           UNION ALL
           SELECT doc_id FROM delta_a
           WHERE doc_id NOT IN (SELECT doc_a FROM rej_a)),
         common_b AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN delta_b db ON a.doc_id = db.doc_id
           JOIN sh b ON a.s = b.s
           JOIN keepset kb ON b.doc_id = kb.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM common_b
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY doc_a, doc_b""",

    // single-batch bounded replay: final admitted corpus = non-delta
    // docs + delta docs with no ≥0.8 cross-partition match.
    "q130_stream_ingest_admit" ->
      s"""WITH $deltaPairCtes,
         dup AS (
           SELECT DISTINCT doc_a FROM common
           JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8)
         SELECT d.doc_id, length(d.text) AS n_chars
         FROM documents d
         WHERE d.source <> 'src0'
            OR d.doc_id NOT IN (SELECT doc_a FROM dup)
         ORDER BY d.doc_id"""
  )
}
