package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the full query inventory: relational operators (q01-q18,
  * q37-q40, q45, q47-q51, q55-q59, q86, q89, q96-q97, q100 unpivot, q108 moments,
  * q103 distribution windows, q104 map functions + q109 map transforms,
  * q107 sessionization),
  * graph analytics (q152 scaled-integer PageRank over the trade graph,
  * q157 Doulion-sampled degree-oriented triangle counting, q159
  * TextRank keywords through the same pagerank kernel),
  * sketches and audits (q153 bottom-K-hash quantile sketch, q156 its
  * streaming form, q154 join-key skew audit, q158 retention cohorts,
  * q155 Okapi BM25 ranking, q160 data-quality contracts, q161
  * trailing-window anomaly detection, q162 PSI drift report, q163 the
  * composed batch-admission gate over q160/q162/q127's relations, q164
  * SCD Type-2 dimension build, q165 ranked 3-gram path mining, q166
  * ANALYZE-style column statistics — one scan per table, multi-DISTINCT
  * via one Expand, q172 the join-cardinality estimation audit those
  * stats feed, q171 incremental aggregate maintenance — the
  * materialized-view refresh as a delta merge, q173 its STREAMING form
  * — generational exactly-once refresh per micro-batch, q174 the
  * point-in-time snapshot probing q164's dimension at day boundaries,
  * q167 the Z-order layout audit — Morton-clustered equi-depth files vs
  * a 1-D sort with second-dimension pruning made visible, q180 the
  * small-files compaction plan — sorted-fill bin packing over the
  * group-sized rollup, q169 k-hop BFS reachability via delta-frontier
  * iteration, q175 label-propagation communities — the neighbor-label
  * MODE kernel, q182 item-item co-purchase recommendations — top-5 by
  * shared-order count over the bounded pair relation, q176 last-touch
  * attribution via a conditional running MAX — no self-join, q181 RFM
  * behavioral features on one user_id exchange, q178 the Zipf-law
  * audit, q179 temperature-scaled mixture weights, q183 sketched table
  * statistics — the ANALYZE profile with KMV NDV and the exact path
  * kept in-query as its error-bound audit, q184 canonical-URL dedup —
  * the C4/CCNet crawl pre-step with a real canonicalizer over synthetic
  * URL variants, q185 per-domain quotas through the TopKPerGroup heap,
  * q186 the n-gram novelty curve — per-ingestion-batch new/cumulative
  * gram vocabulary, q187 the rendezvous-hash shard-rebalance audit —
  * HRW owners at 8 vs 9 shards, only ~1/9 of keys move, q188 the
  * leakage-safe split — q140's content-hash folds with near-dup
  * (j ≥ 0.8) train docs quarantined away from eval, q189 the
  * vocab-coverage/OOV curve over the distributed vocabulary rank, q190
  * the STREAMING novelty monitor — per-micro-batch new-gram rates
  * against the persisted gram store, the crawler-loop alarm, q191
  * entity resolution — edit-distance-1 record linkage by FastSS
  * deletion-neighborhood blocking, hash-join candidates + levenshtein
  * verify, never all-pairs, q192 Efraimidis–Spirakis weighted
  * sampling — per-source quality-weighted top-k with bit-exact
  * sqrt-chain priorities through the TopKPerGroup heap, q193 the
  * conversion funnel — chained per-user min-timestamp steps on one
  * user_id exchange, q194 the equi-depth ANALYZE histogram — two-phase
  * coarse-offset cumsum over the value rollup, no unpartitioned
  * window, q195 KMV set-operation estimates — per-pair union/
  * intersection/Jaccard composed from bottom-256 sketches alone,
  * q196 count-min sketch frequency estimation — 4×4096 bounded
  * counters via partial-aggregated (row, bucket) cells, q197 the
  * mergeable day-sketch rollup — rolling distinct-user estimates by
  * sketch MERGE, events scanned once, q198 the range-selectivity
  * audit — the q194 histogram consumed for cardinality estimation,
  * interpolated vs actual, q199 STREAMING heavy hitters — the
  * mergeable Misra-Gries store with the cnt ≤ true ≤ cnt + Σδ bound,
  * q200 the EWMA volume monitor — exact dyadic α = 1/2 smoothing,
  * q201 peak session concurrency — the ±1 boundary sweep distributed
  * by the day-keyed two-phase carry pattern, q202 association rules —
  * Apriori-1 support/confidence/lift over the shared co-purchase
  * rollup, q203 snapshot gram drift — Laplace-smoothed log-ratio
  * movers between crawl halves, q204 index-assisted regex search —
  * literal-token posting prefilter, regex verifies candidates only,
  * q205 histogram merge — partition-local equi-depth histograms
  * combined by piecewise-linear CDF inversion, no raw-row rescan,
  * q206 target-distribution mix reweighting — guardrailed multipliers
  * toward an explicit language target, feasibility gap reported, q207
  * the sketch-only PRODUCTION ANALYZE — q183's profile from the
  * bounded KMV path alone, no exact-NDV Expand, the form you run at
  * 100 TB with q183 as its standing error-bound audit, q208 learned
  * quality-classifier inference — offline-trained logistic weights
  * frozen as a literal, scored as one map-side dot product per doc,
  * the fastText/CCNet gate with an exp-free exact-logit contract,
  * q209 the training-data shard-export writer — rendezvous-hash
  * shards, content-hash deterministic order, token-budget packed
  * sequences, one-exchange partitioned sink with a re-read manifest,
  * q210 the Gopher within-document repetition gate — modal-bigram and
  * duplicate-5-gram occupancy folded map-side from sorted gram arrays,
  * per-doc state, the only exchange the final sort, q211 CCNet
  * head/middle/tail perplexity terciles per source — the distributed
  * two-phase rank over the q101 LM score, exact integer tercile cuts,
  * q212 best-of-cluster canonical selection — near-dup clusters keep
  * their highest-quality member by the learned logit instead of an
  * arbitrary min-id, q213 template-prefix boilerplate detection —
  * shared opening stubs across distinct docs, heap-cut top families,
  * q214 epoch-sample materialization — q206's multipliers become
  * per-doc copy counts via a deterministic md5 coin, q215 the
  * sequence-packing efficiency curve — exact ceil-sum sequences and
  * waste per candidate context length, q216 semantic centroid drift —
  * per-label half-centroid cosine, the embedding-space twin of gram
  * drift, q217 embedding outlier scrub — bottom-5 centroid cosines
  * per label through the TopKPerGroup heap, q218 Bloom-filter
  * decontamination — the broadcast membership sketch with the exact
  * join retained as the per-doc false-positive audit, q219 streaming
  * quality-gated admission — both learned gates stateless in the
  * ingest path, exactly-once sinks, q220 cross-label near-duplicates
  * — SemDeDup's cross-slice signal over the IVF kNN graph, q221 the
  * END-TO-END curation pipeline with per-doc provenance — URL dedup →
  * repetition gate → learned quality → best-of-cluster keeper →
  * broadcast decontamination in production order, every gate resolved
  * from its one shared definition, emitting the first gate that killed
  * each doc, q222 its per-stage attrition funnel — n_in/n_dropped/n_out
  * per stage, reconciling with every standalone gate, q223 the
  * EPOCH-AWARE shard exporter — q214's stochastic-rounding copy counts
  * composed into q209's HRW/pack/sink derivation, copies spread by
  * (doc, copy) rendezvous keys, still exactly one corpus-sized
  * exchange, q224 the epoch mix audit — per-language realized token
  * multiplier vs q206's target with the deterministic floor(m) ≤
  * realized ≤ floor(m)+1 stochastic-rounding bound asserted in-query,
  * q225 the CURATED epoch export — the full nightly chain: provenance
  * keeps → mix weights recomputed over the survivors → stochastic-
  * rounding copies → rendezvous shards → packed sequences → sink →
  * re-read manifest, everything a training run consumes from one
  * provenance relation and one exporter, q226 the INCREMENTAL delta
  * curation — today's batch through the same five gates against frozen
  * base state: the URL store check, the shared per-doc passes, q127's
  * broadcast-delta-bands near-dup admission with a within-batch min-id
  * rule, and the broadcast benchmark-gram probe, per-doc first-drop
  * verdicts with 'admit' as the append set, q227 the post-curation
  * release data card — per (source, language): raw/kept counts, drops
  * by gate, kept token mass, kept share, off one join of the cached
  * provenance relation, q228 the multi-epoch schedule — each epoch an
  * independent deterministic draw keyed on (doc, epoch), conserving
  * per-language expected mass while resampling different tail docs,
  * q229 the packed-sequence composition audit — languages-per-sequence
  * histogram of the exported epoch, the cross-document attention-
  * contamination number a packing policy is chosen on, q230 the
  * learned-gate calibration audit — per logit threshold the keep share
  * and rule-teacher agreement, the table a classifier deployment's
  * operating point is tuned on, q231 the PRODUCTION kNN graph —
  * LSH-seeded NN-descent with quasi-linear candidate volume, replacing
  * the flat-IVF q73 graph (now the audit path) under q77/q122/q220,
  * q232 STREAMING delta curation — q226's five-gate verdict per
  * arriving micro-batch against frozen base state, verdicts and
  * admissions exactly-once per batch partition, sharing q226's oracle
  * verbatim, q233 the packing-policy comparison — one epoch base
  * packed mixed vs per-(shard, language) homogeneous, padding cost vs
  * single-language purity, the decision q229's audit feeds, q234 the
  * multi-epoch exporter — epochs 1..3 under one Hive-partitioned
  * manifest with the q224 mass bound asserted per epoch and one
  * corpus-sized exchange for the whole relation, q235 the
  * attention-purity audit — per-policy cross-document attention-pair
  * share, the doc-boundary-mask decision number, q236 the
  * release-datasheet diff — per (source, lang) kept deltas between
  * the without-src1 release and the full release, including the
  * cross-source cluster-displacement column no single-release card
  * can show, q237 ADVANCING-STATE streaming ingest — the production
  * form of q232: each batch's admissions fold into the URL and
  * signature stores so cross-batch near-dup/URL twins are caught,
  * verdicts and state appends exactly-once per batch partition, with
  * a full sequential-replay oracle over the ordered batch list, q238
  * the CURATED multi-epoch export — q234's manifest composed with the
  * provenance keeps and the survivor-recomputed mix, per-epoch mass
  * bound against the kept corpus, one shared base/pack definition
  * with the raw exporter, q239 the CUMULATIVE release-lineage store —
  * q236's diff accrued across a three-release ingestion series into a
  * release_id-partitioned SCD-style store, per-step n_new_kept and
  * cross-source n_displaced queryable three releases later, q240 the
  * SAMPLED EXACT kNN-graph audit — a fixed deterministic ~200-vector
  * sample exact-re-ranked against the full corpus in one map-side
  * pass, scoring the production graph's recall at any corpus size;
  * the scale-path audit replacing the fixture-only flat-IVF q73, q241
  * the DOC-BOUNDARY mask manifest — per packed sequence the segment
  * count, continuations, fill, and ordered start offsets a
  * masked-attention loader consumes, off the shared epoch base's one
  * window exchange, q242 EXACT-SUBSTRING SCRUB — the ExactSubstr
  * REMOVAL transform (Lee et al. 2022) q120 only audits: every
  * non-canonical occurrence of a duplicated 8-token window excised
  * and each doc reassembled from its surviving tokens, linear via
  * per-gram argmin (no self-join, no df cap), q243 DSIR data
  * selection (Xie et al. 2023) — hashed-bigram importance weights
  * between a target-domain and raw multinomial in exact integer
  * micro-units, Gumbel-top-K resampling on a deterministic md5
  * fold, q244 D4 diversity pruning (Tirumala et al. 2023) — the
  * ⌊n/4⌋ most-central vectors per label pruned via the shared
  * centroid-cosine scoring (q217's far-tail scrub's mirror) and the
  * q211 two-phase distributed rank, q245 HARD-NEGATIVE mining
  * (ANCE/DPR) — per vector the best same-label and best other-label
  * graph neighbor with the contrastive margin, a fourth production
  * consumer of the q231 kNN graph),
  * text/MapReduce operators
  * over documents (q19-q25, q60-q62, q75, q78-q81, q83, q85, q91-q92,
  * q95, q101 LM quality, q106 heavy hitters with a runtime-guarded
  * Misra-Gries bound, q110/q112 KMV distinct-count sketches, q113 BPE
  * pre-tokenizer fertility, q115 TRUE BPE encode under a frozen merge
  * table, q170 BPE merge LEARNING — where that table comes from, the
  * training loop replayed bit-exactly through literal string replace,
  * q118 BPE-budget sequence packing, q114 rolling-hash
  * fingerprinting, q168 exact phrase search — verbatim 2-/3-gram
  * occurrence counts, map-side with only probe hits shuffling, q177
  * bigram-LM perplexity scoring — the CCNet/C4 quality filter),
  * dedup and clustering (q26-q29, q67-q68, q72,
  * q74, q76-q77, q88, q99 stop-shingle LSH, q116/q117/q119 CDC
  * chunk-level dedup: per-doc sharing, duplicate pairs, and the
  * clustered survivor list, q120 exact shared-span pairs, q127
  * incremental delta-vs-corpus near-dedup with broadcast delta bands,
  * q151 the threshold-sensitivity sweep behind the j ≥ 0.8 policy,
  * q129 the materialized signature-store form — admission against
  * persisted bands, corpus text never re-scanned, q130 the streaming
  * ingestion-admission pipeline through the exactly-once sink, q133
  * store compaction under live admission — the full build → append →
  * compact → admit lifecycle, q137 store-backed decontamination — the
  * benchmark gram index persisted once as 16-hex keys, q139 its
  * STREAMING form — micro-batches checked against the frozen broadcast
  * store, verdicts exactly-once, q143 forget/erasure propagation —
  * named docs' bands and shingles physically rewritten out of the
  * store, unblocked deltas re-admitting clean, and
  * q132 the modality-bridging per-doc verdict report),
  * similarity search and embedding ops (q30-q31, q41, q63, q73,
  * q146 hybrid lexical+vector search fused by reciprocal rank, q148
  * the same fusion served entirely from the materialized indexes,
  * q102 hyperplane-LSH ANN, q122 embedding-family survivor list,
  * q123 product-quantization ANN — 8-byte codes + ADC table search,
  * the memory-compression scale path, q131 IVF+PQ composed IVFADC —
  * coarse-cell pruning + residual codes, q135 the materialized vector
  * index — build/append/search against stored cell-partitioned codes,
  * frozen quantizers, partition-pruned inverted lists, q138 streaming
  * vector ingestion-admission — IVF-pruned exact-cosine dedup per
  * micro-batch, survivors appended exactly-once and indexed, q142
  * index deletes — instant tombstone mask, then physical vacuum of
  * only the affected inverted lists, q145 the index staleness audit —
  * per-cell build-vs-appended occupancy and worst fit under the
  * frozen quantizers),
  * multimodal decode/resize/frame-sample + perceptual-hash image dedup
  * and acoustic-fingerprint audio dedup (q32, q93-q94, q121, q134,
  * q147 the materialized phash index — new images admitted against
  * stored hashes, corpus blobs never re-decoded, q149 its streaming
  * form — per-batch decode-once admission with exactly-once pair
  * sinks and survivor appends),
  * SQL-registered native expressions and the tokenize UDTF (q71, q90),
  * storage layout and interchange
  * (q84, q87, q124 gzipped-JSONL roundtrip, q150 schema evolution
  * across store generations via mergeSchema), corpus mixing and
  * lifecycle (q125 deterministic per-source rebalancing, q136 the
  * end-to-end curation run: shared q79 verdict → survivor mixing →
  * per-source raw/cleaned/final/token funnel, q140 the
  * contamination-safe content-hash train/val/test split, q141 the
  * crawl-snapshot diff — added/removed/changed/unchanged off one
  * slim full-outer join, q144 the per-(source, language) corpus
  * datasheet),
  * and Structured Streaming incl. the watermark+append
  * production path, stream-stream joins, bounded-state dedup,
  * event-time-timer sessions, and the foreachBatch exactly-once sink
  * (q33-q36, q46, q52-q54, q64-q66, q69-q70, q82, q105 stream-static
  * broadcast join).
  * EVERY query has a
  * DuckDB oracle in [[oracleSql]] — the probabilistic paths (MinHash,
  * SimHash, IVF) verify their candidates with exact deterministic math
  * so the exact result is their oracle too, with recall additionally
  * pinned in the ScalaTest suite.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.RelationalQueries.queries("q04_join_star")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.ExtendedQueries.queries ++
      operators.PipelineOps.queries ++
      operators.CurationPipeline.queries ++
      operators.CorpusCleaning.queries ++
      operators.CurationAudits.queries ++
      operators.StorageOps.queries ++
      operators.SignatureStore.queries ++
      operators.AnnIndexStore.queries ++
      operators.DedupReport.queries ++
      operators.RelationalQueries.queries ++
      functions.TextQueries.queries ++
      functions.Dedup.queries ++
      functions.Similarity.queries ++
      functions.KnnDescent.queries ++
      functions.Embeddings.queries ++
      functions.Embeddings.quantizeQueries ++
      functions.LangId.queries ++
      functions.CustomAgg.queries ++
      functions.SqlFunctions.queries ++
      operators.SaltedJoin.queries ++
      operators.GraphOps.queries ++
      plans.TopKPerGroup.queries ++
      plans.TopKRewrite.queries ++
      operators.Multimodal.queries ++
      streaming.StreamingQueries.queries ++
      streaming.StatefulCounts.queries ++
      streaming.StatefulCounts.rocksDbQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (MinHash/SimHash/LSH-ANN) → driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    operators.ExtendedQueries.oracles ++
      operators.PipelineOps.oracles ++
      operators.CurationPipeline.oracles ++
      operators.CorpusCleaning.oracles ++
      operators.CurationAudits.oracles ++
      operators.StorageOps.oracles ++
      operators.SignatureStore.oracles ++
      operators.AnnIndexStore.oracles ++
      operators.DedupReport.oracles ++
      operators.RelationalQueries.oracles ++
      functions.TextQueries.oracles ++
      functions.Dedup.oracles ++
      functions.Similarity.oracles ++
      functions.KnnDescent.oracles ++
      functions.Embeddings.oracles ++
      functions.LangId.oracles ++
      functions.CustomAgg.oracles ++
      functions.SqlFunctions.oracles ++
      operators.SaltedJoin.oracles ++
      operators.GraphOps.oracles ++
      plans.TopKPerGroup.oracles ++
      plans.TopKRewrite.oracles ++
      operators.Multimodal.oracles ++
      streaming.StreamingQueries.oracles ++
      streaming.StatefulCounts.oracles
}
