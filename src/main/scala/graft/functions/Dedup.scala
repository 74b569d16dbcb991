package graft.functions

import graft.MicroBatch
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the training-data-pipeline
  * surface: exact hash dedup, MinHash+LSH near-dedup, SimHash near-dedup,
  * and exact n-gram-shingle Jaccard (the small-scale oracle the
  * probabilistic methods are verified against).
  *
  * Scale design: the MinHash signature (64 permutations) is computed
  * entirely MAP-SIDE as nested array expressions over each document's
  * shingle array — zero explode, zero shuffle, one codegen pass; the only
  * shuffles in the LSH path are the (band, bucket) self-join (linear in
  * corpus + bucket collisions, never the O(n²) pair space) and the
  * candidate-pair verification join. Verification fetches each side's
  * shingle ARRAY and intersects in-expression (`array_intersect`), so the
  * pair space is never exploded either.
  * Skew note: degenerate buckets (boilerplate shingles) are the classic
  * hot-key risk — AQE skew-join handles moderate cases; pathological
  * corpora pre-filter top-frequency shingles with [[stopShingleFiltered]]
  * (q99 runs the full LSH pipeline behind it; DedupSimilaritySpec pins
  * bounded candidates on a boilerplate-heavy synthetic corpus where the
  * unfiltered path goes quadratic).
  */
object Dedup {

  /** Distinct word 3-gram shingles of a text — plain Scala, shared by the
    * typed signature/shingle passes (Catalyst higher-order functions are
    * interpreted, so building ~100-element shingle arrays per row in
    * expressions costs ms/row; this loop costs µs). */
  def shingleSet(text: String): Array[String] = {
    val t = Tokens.split(text)
    if (t.length < 3) Array.empty
    else {
      val out = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + 2 < t.length) { out += (t(i) + " " + t(i + 1) + " " + t(i + 2)); i += 1 }
      out.toArray
    }
  }

  /** Distinct word n-gram set of a text — [[shingleSet]] generalized to
    * any n (q74's decontamination uses n = 8). Same tokenizer, same
    * distinct-set contract, same µs-per-row typed-map cost profile. */
  def ngramSet(text: String, n: Int): Array[String] = {
    val t = Tokens.split(text)
    if (t.length < n) Array.empty
    else {
      val out = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n - 1 < t.length) {
        out += t.slice(i, i + n).mkString(" "); i += 1
      }
      out.toArray
    }
  }

  /** (id, 16-hex md5 gram key) relation of a (doc_id, text) slice —
    * q74's 8-gram pass projected to stored keys in the SAME map stage
    * (q120's discipline), so raw gram text never shuffles and never
    * lands on disk. Shared by the one-shot store-backed check (q137)
    * and its streaming-admission form (q139). */
  private def gramKeys(s: SparkSession, part: DataFrame, idCol: String): DataFrame = {
    import s.implicits._
    part.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => ngramSet(t, 8).map(g => (id, g)) }
      .toDF(idCol, "gram")
      .select(col(idCol), substring(md5(col("gram")), 1, 16).as("gh"))
  }

  /** Per-doc contamination verdict of a [[gramKeys]] relation against a
    * stored benchmark gram index (columns gh, bdoc): docs sharing ≥1
    * stored 8-gram key, with shared-gram and benchmark-doc counts. ONE
    * rule for the batch and streaming paths, so they cannot drift. */
  private def checkAgainstGramStore(corpusGrams: DataFrame, store: DataFrame): DataFrame =
    corpusGrams.join(store, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_shared"),
        countDistinct(col("bdoc")).as("n_bench_docs"))

  /** q139's per-batch verdict sink. Read with this schema: a corpus with
    * no contaminated doc writes no sink file to infer one from. */
  private val decontamFlagsSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", "long").add("n_shared", "long")
    .add("n_bench_docs", "long").add("batch_id", "long")

  /** (doc_id, shingles array) relation — the base for signatures and
    * verification; one typed map pass. Callers that use it more than once
    * in a query should pass it through [[sharedShingles]] so the scan runs
    * once per query, not once per consumer. */
  def docShingles(s: SparkSession, d: String): DataFrame =
    shinglesOfDocs(s, documents(s, d))

  /** [[docShingles]] over an arbitrary (doc_id, text) relation — the form
    * the signature store (q129/q130) builds from corpus slices, delta
    * batches, and foreachBatch micro-batches. */
  def shinglesOfDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, shingleSet(text)) }
      .toDF("doc_id", "shingles")
  }

  /** A persisted [[shinglesOfDocs]] relation tracked for the session
    * release — the delta-batch twin of [[sharedShingles]]
    * (admission consumes the delta's shingles three times: signatures,
    * verification, survivor computation). */
  private[graft] def trackedShingles(s: SparkSession, docs: DataFrame): DataFrame =
    tracked(shinglesOfDocs(s, docs))

  /** Persisted relations (shared shingles, q99's filtered shingles,
    * q120's positional grams) tracked in the session cache, which
    * unpersists them on release. */
  private def tracked(df: DataFrame): DataFrame =
    graft.SessionCache.tracked("dedup", df)

  /** The shingle relation persisted for the lifetime of a query that
    * consumes it several times (signatures + both verification joins).
    * Spark's CacheManager dedupes by canonicalized plan, so repeated calls
    * reuse one cache entry; MEMORY_AND_DISK spills instead of OOMing when
    * the corpus outgrows executor memory at large SF. */
  def sharedShingles(s: SparkSession, d: String): DataFrame =
    tracked(docShingles(s, d))

  // ---- MinHash parameters (fixed seed → fully deterministic plans) ----
  // 32 bands × 4 rows: P(miss) at j≥0.8 is (1-0.8⁴)³² ≈ 5e-8 per pair —
  // the exact-join oracle's full-recall assumption holds with margin at
  // any fixture scale (a narrower banding left ~5% odds of one miss per
  // regenerated fixture). Row width 4 keeps the S-curve sharp: a j=0.1
  // pair still collides in <0.4% of bands, so candidates stay linear.
  private val MinhashPerms = 128
  private val Bands = 32
  private val RowsPerBand = MinhashPerms / Bands
  private val P = 2147483647L // 2^31 - 1, prime; a*x+b stays < 2^62
  private val permAB: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(MinhashPerms)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature per doc as a single typed-map pass: tokenize,
    * shingle, FNV-1a-64 hash each shingle once, fold the 64 permutation
    * minima in a tight loop. One scan, no shuffle, no per-permutation
    * expression trees.
    *
    * Why not pure Column expressions: Catalyst higher-order functions
    * (`transform`/`array_min`) are interpreted (no codegen), and
    * CollapseProject inlines the shingle construction into every
    * permutation column — measured ~20 ms/row. This per-record loop is
    * the documented last-resort tier (SURVEY §7.1) and is ~1000× faster;
    * it scales as a map-only stage at any corpus size.
    */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signaturesFromShingles(s, docShingles(s, d))

  /** MinHash signatures derived from an existing (doc_id, shingles)
    * relation — lets q27 share ONE shingle scan between signature
    * generation and Jaccard verification instead of re-tokenizing the
    * corpus per consumer. */
  def signaturesFromShingles(s: SparkSession, sh: DataFrame): DataFrame = {
    import s.implicits._
    val perms = permAB.toArray
    val p = P
    sh.as[(Long, Array[String])]
      .flatMap { case (id, shingles) =>
        if (shingles.isEmpty) Iterator.empty
        else {
          val sig = Array.fill(perms.length)(Long.MaxValue)
          shingles.foreach { sh =>
            val x = java.lang.Math.floorMod(Fnv1a.hash64(sh), p)
            var j = 0
            while (j < perms.length) {
              val (a, b) = perms(j)
              val v = java.lang.Math.floorMod(a * x + b, p)
              if (v < sig(j)) sig(j) = v
              j += 1
            }
          }
          Iterator.single((id, sig))
        }
      }
      .toDF("doc_id", "sig")
  }

  /** LSH candidate pairs: equal band-slices of the signature land in the
    * same bucket; a self-join keyed on (band, bucket) yields candidates.
    */
  def minhashCandidates(s: SparkSession, d: String): DataFrame =
    candidatesFromSignatures(minhashSignatures(s, d))

  /** (doc_id, band, bucket) rows from a signature relation — the LSH
    * banding shared by the self-join (q27/q99) and the delta-vs-corpus
    * join (q127). */
  def bandedBuckets(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { j =>
      val slice = (0 until RowsPerBand)
        .map(r => element_at(col("sig"), j * RowsPerBand + r + 1))
      struct(lit(j).as("band"), xxhash64(slice: _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bucket").as("bucket"))
  }

  /** LSH candidate pairs from a banded self-join. The candidate relation
    * carries an `observe()` metric (`lsh_candidates`) so production runs
    * report candidate volume from the main action — no second job;
    * DedupSimilaritySpec reads it to pin bucket-explosion bounds. */
  def candidatesFromSignatures(sig: DataFrame): DataFrame = {
    val banded = bandedBuckets(sig)
    banded.alias("l")
      .join(banded.alias("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
      .observe("lsh_candidates", count(lit(1)).as("n_candidates"))
  }

  /** Stop-shingle pre-filter — the LSH hot-bucket mitigation the scale
    * note promises: drop shingles whose DOCUMENT FREQUENCY exceeds
    * `greatest(5, n_docs div 10)`. Boilerplate shingles (shared headers /
    * footers / licence blocks) dominate every member document's MinHash
    * minima, collapsing LSH buckets toward all-pairs candidates; they are
    * exactly the shingles with corpus-scale df, and they carry no
    * near-dup signal a 10%-of-corpus-rare shingle doesn't carry better.
    * Deterministic (integer threshold — `div`, not a float fraction, so
    * DuckDB replays it bit-exactly) and linear: one vocabulary-sized df
    * aggregation, one broadcast-able anti-join, one keyed re-group. Docs
    * whose every shingle is stopped drop out (empty effective set — no
    * pair could verify ≥ 0.8 anyway). Shingle-array order after the
    * re-group is nondeterministic, which is immaterial: signatures fold
    * min() over the set and verification intersects sets.
    */
  /** The stop-shingle document-frequency cap as a pure function —
    * max(5, n/10) — for callers that need the VALUE (Bench emits it
    * into the bench artifact so scripts/scale_sweep.py reads derived
    * constants instead of mirroring formulas; round-11 advisor
    * finding). [[stopShingleFiltered]]'s in-plan
    * `greatest(lit(5), n_docs div 10)` is this rule's Column twin —
    * change them together. */
  def dfCap(nDocs: Long): Long = math.max(5L, nDocs / 10L)

  def stopShingleFiltered(sh: DataFrame): DataFrame = {
    val exploded = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val nDocs = sh.agg(count(lit(1)).as("n_docs"))
    val stops = exploded.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")) // shingleSet is distinct-per-doc ⇒ df
      .crossJoin(nDocs)
      .filter(col("df") > greatest(lit(5L), expr("n_docs div 10")))
      .select(col("shingle"))
    exploded.join(stops, Seq("shingle"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("shingles"))
  }

  /** Exact shingle-Jaccard for (doc_a, doc_b) pairs: fetch both shingle
    * arrays and intersect in-expression. Integer/integer division →
    * bit-identical doubles anywhere. Pass a [[sharedShingles]] relation so
    * the two fetch joins reuse one cached shingle scan. */
  def verifyJaccard(s: SparkSession, d: String, pairs: DataFrame): DataFrame =
    verifyJaccardWith(sharedShingles(s, d), pairs)

  def verifyJaccardWith(sh: DataFrame, pairs: DataFrame): DataFrame =
    verifyJaccardSides(sh, sh, pairs)

  /** [[verifyJaccardWith]] with the two sides drawn from DIFFERENT
    * shingle relations — the delta-vs-store shape (doc_a from the delta
    * batch, doc_b from the materialized store). */
  def verifyJaccardSides(shA: DataFrame, shB: DataFrame, pairs: DataFrame): DataFrame = {
    pairs
      .join(shA.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(shB.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa"), col("sb")))
          / (size(col("sa")) + size(col("sb"))
            - size(array_intersect(col("sa"), col("sb")))).cast("double"), 6)
          .as("jaccard"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup on whitespace-normalized lowercase content: one group
    // per distinct normalized text, keeping the smallest doc_id.
    "q26_dedup_exact" -> ((s, d) => {
      documents(s, d)
        .withColumn("norm",
          regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        .groupBy(md5(col("norm")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("content_hash"), col("n_dups"))
        .orderBy(col("keep_id"))
    }),

    // MinHash+LSH near-dedup: banded signature buckets → candidate pairs →
    // exact-Jaccard verification at threshold 0.8. ONE shared shingle scan
    // feeds signatures and both verification joins (persisted for the
    // query's lifetime). Because every candidate is verified against exact
    // Jaccard there are no false positives, and at 32 bands × 4 rows the
    // per-pair miss probability at j≥0.8 is ≤(1-0.8^4)^32 ≈ 5e-8 — so
    // the result equals the exact q29 join (the DuckDB oracle) with
    // overwhelming probability; DedupSimilaritySpec pins recall too.
    "q27_dedup_minhash" -> ((s, d) => {
      val sh = sharedShingles(s, d)
      verifyJaccardWith(sh, candidatesFromSignatures(signaturesFromShingles(s, sh)))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // q27 behind the stop-shingle pre-filter — the production LSH recipe
    // for boilerplate-heavy corpora (see [[stopShingleFiltered]]): df-cap
    // the shingle vocabulary, THEN signature → band → verify, with
    // Jaccard measured on the same filtered sets the oracle replays.
    // On the fixture (random text, no corpus-wide boilerplate) the df
    // filter is a near-no-op, so the result matches q27's — which is the
    // point: the mitigation costs nothing when it isn't needed, and the
    // synthetic-boilerplate spec shows it collapsing quadratic candidate
    // growth when it is.
    "q99_dedup_stop_shingle" -> ((s, d) => {
      val filtered = tracked(stopShingleFiltered(sharedShingles(s, d)))
      verifyJaccardWith(filtered,
        candidatesFromSignatures(signaturesFromShingles(s, filtered)))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // INCREMENTAL (delta-vs-corpus) near-dedup — the admission filter an
    // ingestion pipeline runs per batch: does a NEW batch (source
    // 'src0' stands in for today's ingest) near-duplicate anything
    // already in the corpus? The plan shape is the 100 TB
    // differentiator vs q27's self-join: one shared shingle scan feeds
    // both sides' signatures, and the candidate join BROADCASTS the
    // delta's bands (a day's ingest ≪ the corpus) against the corpus
    // bands — THE CORPUS SIDE NEVER SHUFFLES for candidates, and at
    // scale the corpus bands/signatures would be precomputed once and
    // appended per batch. Candidates verify with exact Jaccard through
    // the same cached shingle relation. Recall: identical 32×4 banding
    // to q27 (per-pair miss ≈ 5e-8 at j ≥ 0.8), so the exact
    // cross-partition join is the oracle; output = (delta doc, corpus
    // doc, jaccard).
    "q127_delta_dedup" -> ((s, d) => {
      val sh = sharedShingles(s, d)
      val sig = signaturesFromShingles(s, sh)
      val deltaIds = documents(s, d).filter(col("source") === "src0")
        .select(col("doc_id"))
      val bands = bandedBuckets(sig)
      val deltaBands = bands.join(deltaIds, "doc_id")
      val baseBands = bands.join(deltaIds, Seq("doc_id"), "left_anti")
      val cands = baseBands.alias("b")
        .join(broadcast(deltaBands.alias("dl")),
          col("b.band") === col("dl.band") && col("b.bucket") === col("dl.bucket"))
        .select(col("dl.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .observe("delta_candidates", count(lit(1)).as("n_candidates"))
      verifyJaccardWith(sh, cands)
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // SimHash near-dedup: candidates from 64-bit sign-aggregated
    // token-frequency hashes (block-pair banding, Hamming ≤ 12 cutoff),
    // then — like the production pipeline and q27 — exact-Jaccard
    // verification of the candidate set at threshold 0.8. The token hash
    // is md5-derived, so the DuckDB oracle REPLAYS the whole algorithm
    // (signatures → banding → Hamming → Jaccard) — the check is exact by
    // construction at any scale, with no recall assumption (verified at
    // sf0.1 where xxhash-era full-recall luck ran out). Raw Hamming pairs
    // stay available via [[simhashPairs]] for DedupSimilaritySpec.
    "q28_dedup_simhash" -> ((s, d) => {
      verifyJaccardWith(sharedShingles(s, d),
        simhashPairs(s, d).filter(col("hamming") <= 12)
          .select(col("doc_a"), col("doc_b")))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Exact n-gram (3-shingle) Jaccard similarity join at threshold 0.8 —
    // the quadratic ground truth (fine at fixture scale, superseded by
    // q27's LSH at 100 TB), and the one the DuckDB oracle can replay.
    // ORACLE-ONLY: guarded against corpora where all-pairs would explode.
    "q29_ngram_jaccard" -> ((s, d) => {
      // O(n²)-pair guard: this query exists as ground truth for the LSH
      // paths; refuse to run it on a corpus where the quadratic shingle
      // self-join would be a scale-killer. (Metadata-only count — cheap.)
      val n = documents(s, d).count()
      require(n <= 200000,
        s"q29_ngram_jaccard is the quadratic ORACLE for q27/q28; corpus has " +
          s"$n docs (> 200k). Use q27_dedup_minhash at scale.")
      val shRel = sharedShingles(s, d)
      val sh = shRel.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val allPairs = sh.select(col("doc_id").as("doc_a"), col("shingle"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      verifyJaccardWith(shRel, allPairs)
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // DEDUP-THRESHOLD SENSITIVITY SWEEP — the evidence table behind the
    // "j ≥ 0.8" policy decision every dedup deployment makes: for each
    // candidate threshold (50..90%), how many pairs would match and how
    // many documents would be touched. ONE pass computes every pair's
    // exact Jaccard (the q29 relation, same quadratic guard — at scale
    // the pair source would be LSH banded for the LOWEST threshold under
    // consideration, everything downstream unchanged); thresholds then
    // explode over the scored pairs (pairs × 5 slim rows), and two tiny
    // rollups join on the integer percent. Integer thresholds — a 0.7
    // double literal is DECIMAL in DuckDB; pct/100 division yields the
    // identical double in both engines.
    "q151_threshold_sweep" -> ((s, d) => {
      val n = documents(s, d).count()
      require(n <= 200000,
        s"q151_threshold_sweep shares q29's quadratic pair relation; corpus " +
          s"has $n docs (> 200k). Derive candidates from LSH at scale.")
      val shRel = sharedShingles(s, d)
      val sh = shRel.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val allPairs = sh.select(col("doc_id").as("doc_a"), col("shingle"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val scored = verifyJaccardWith(shRel, allPairs)
      val hits = scored
        .select(explode(array((50 to 90 by 10).map(lit): _*)).as("pct"),
          col("doc_a"), col("doc_b"), col("jaccard"))
        .filter(col("jaccard") >= col("pct").cast("double") / lit(100))
        .select(col("pct"), col("doc_a"), col("doc_b"))
      val nPairs = hits.groupBy(col("pct")).agg(count(lit(1)).as("n_pairs"))
      val nDocs = hits
        .select(col("pct"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy(col("pct")).agg(countDistinct(col("doc")).as("n_docs"))
      nPairs.join(nDocs, "pct").orderBy(col("pct"))
    }),

    // Near-dup CLUSTERING — the step that turns q27's verified pairs into
    // dedup groups (the canonical end of a MinHash pipeline: pairs →
    // connected components → keep one doc per component). Components via
    // alternating large-star/small-star rounds (O(log n) convergence at
    // any component shape — see [[connectedComponents]]); deterministic
    // (min over a fixed edge set) → DuckDB replays it with a recursive
    // transitive-closure CTE.
    "q72_dedup_clusters" -> ((s, d) => {
      val labels = nearDupLabels(s, d)
      val sizes = labels.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // SQL-NATIVE recursive closure (Spark 4 WITH RECURSIVE): the same
    // cluster assignment as q72, computed through the engine's recursive
    // CTE instead of the iterative star-contraction — two independent
    // implementations cross-validated against one oracle. Spark's
    // recursive CTEs accept UNION ALL only, so the walk carries its
    // visited path and prunes revisits (cycle-safe termination). Path
    // enumeration is factorial in clique size and the walk is bounded by
    // the engine's CTE recursion-depth limit, so this is a GUARDED
    // SQL-surface demonstration (q29 precedent): edge count and max
    // degree are checked up front and violations fail loudly instead of
    // hanging. q72's checkpointed star-contraction is the
    // unbounded-scale path for arbitrary graphs.
    "q88_recursive_clusters" -> ((s, d) => {
      val sh = sharedShingles(s, d)
      val pairs = verifyJaccardWith(sh,
        candidatesFromSignatures(signaturesFromShingles(s, sh)))
        .filter(col("jaccard") >= 0.8)
        .select(col("doc_a"), col("doc_b"))
      val degRow = pairs.select(col("doc_a").as("v"))
        .unionAll(pairs.select(col("doc_b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .agg(count(lit(1)).as("n_vertices"), max(col("deg")).as("max_deg"))
        .collect()(0)
      val maxDeg = if (degRow.isNullAt(1)) 0L else degRow.getLong(1)
      require(maxDeg <= 10,
        s"q88 is a guarded recursive-CTE demo: max near-dup degree $maxDeg " +
          "exceeds 10 (factorial path blow-up inside a clique) — use " +
          "q72_dedup_clusters (star-contraction) at this density")
      // Degree alone does NOT bound the walk: an 11-clique passes deg ≤ 10
      // yet enumerates ~10! simple paths per source, and sparse cyclic
      // components can be exponential in their size (round-5 advisor
      // finding). Bound COMPONENT SIZE too, from the star-contraction
      // labels (cached — q72/q76 share the build; used only as the guard,
      // so the recursive CTE below remains an independent computation of
      // the assignment it is cross-validated against).
      val compRow = nearDupLabels(s, d).groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz")).agg(max(col("sz"))).collect()(0)
      val maxComp = if (compRow.isNullAt(0)) 0L else compRow.getLong(0)
      require(maxComp <= 10,
        s"q88 is a guarded recursive-CTE demo: a near-dup component has " +
          s"$maxComp members (> 10 — simple-path count can explode " +
          "combinatorially even at bounded degree) — use q72_dedup_clusters")
      pairs.createOrReplaceTempView("q88_pairs")
      s.sql(
        """WITH RECURSIVE edges AS (
             SELECT doc_a AS s, doc_b AS e FROM q88_pairs
             UNION ALL SELECT doc_b, doc_a FROM q88_pairs),
           reach(src, node, path) AS (
             SELECT s, s, array(s) FROM (SELECT DISTINCT s FROM edges)
             UNION ALL
             SELECT r.src, g.e, array_append(r.path, g.e)
             FROM reach r JOIN edges g
               ON r.node = g.s AND NOT array_contains(r.path, g.e)),
           labels AS (
             SELECT src AS doc_id, min(node) AS cluster_id
             FROM reach GROUP BY src),
           csizes AS (
             SELECT cluster_id, count(*) AS cluster_size
             FROM labels GROUP BY cluster_id)
           SELECT l.doc_id, l.cluster_id, cs.cluster_size
           FROM labels l JOIN csizes cs ON l.cluster_id = cs.cluster_id
           ORDER BY l.doc_id""")
    }),

    // DECONTAMINATION — flag corpus documents that share any word 8-gram
    // with a held-out benchmark set (the standard eval-leak check before
    // training; cf. GPT-3/Gopher 8-13-gram overlap filtering). The
    // benchmark here is modeled as the doc_id % 5 == 0 slice so the
    // fixture exercises real overlap (near-dup partners across the
    // split); in production the benchmark is a small external table and
    // its gram set is BROADCAST. Both sides are one map-side n-gram pass;
    // the overlap join is keyed on the gram (shuffle linear in gram
    // volume, never pairwise in docs).
    "q74_decontaminate" -> ((s, d) => {
      import s.implicits._
      val grams = documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) => ngramSet(t, 8).map(g => (id, g)) }
        .toDF("doc_id", "gram")
      val bench = grams.filter(col("doc_id") % 5 === 0)
        .select(col("gram"), col("doc_id").as("bdoc"))
      grams.filter(col("doc_id") % 5 =!= 0)
        .join(bench, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared"),
          countDistinct(col("bdoc")).as("n_bench_docs"))
        .orderBy(col("doc_id"))
    }),

    // BLOOM-FILTER DECONTAMINATION — the missing member of the sketch
    // algebra (KMV q195, count-min q196, Misra-Gries q199: Bloom is the
    // MEMBERSHIP sketch) applied where production actually uses it: the
    // benchmark gram set compressed to a fixed bit array that BROADCASTS
    // to every executor, so the 100 TB corpus probes map-side and the
    // gram-keyed shuffle of the exact join (q74/q137) never happens.
    // Deterministic by construction — k=3 positions per gram from the
    // q192 52-bit md5 fold mod m, with m the next power of two ≥
    // 8 × bench-gram-count (a load factor that sets ~31% of bits; the
    // oracle derives the same m via integer bit-length, never floating
    // log2). Per flagged doc the EXACT membership join is retained
    // in-query as the audit (the q183 discipline): n_false_pos =
    // bloom hits − exact hits is the measured FP cost of the broadcast
    // shortcut, visible per row. The bit array is modeled relationally
    // as its distinct set-position table (membership ≡ all 3 positions
    // present), which is what lets DuckDB replay the filter bit-exactly.
    "q218_bloom_decontam" -> ((s, d) => {
      import s.implicits._
      val grams = tracked(documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) => ngramSet(t, 8).map(g => (id, g)) }
        .toDF("doc_id", "gram"))
      val bench = grams.filter(col("doc_id") % 5 === 0)
        .select(col("gram")).distinct()
      // bounded scalar (benchmarks are small and fixed-size); the bit
      // width derives from it by integer arithmetic both engines share
      val nb = bench.count()
      val m = 1L << java.lang.Long.toBinaryString(
        math.max(8 * nb, 1024L) - 1).length
      def posOf(i: Int) = pmod(
        conv(substring(md5(concat(col("gram"), lit(s":$i"))), 1, 13), 16, 10)
          .cast("long"), lit(m))
      val bits = bench
        .select(explode(array(posOf(0), posOf(1), posOf(2))).as("pos"))
        .distinct()
      val corpus = grams.filter(col("doc_id") % 5 =!= 0)
      val hits = corpus
        .select(col("doc_id"), col("gram"),
          explode(array(posOf(0), posOf(1), posOf(2))).as("pos"))
        .join(broadcast(bits), Seq("pos"))
        .groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("nhit"))
        .filter(col("nhit") === 3)
      val nH = hits.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bloom_hits"))
      val nG = corpus.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"))
      val nE = corpus.join(bench, Seq("gram"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
      nH.join(nG, Seq("doc_id"))
        .join(nE, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"), col("n_bloom_hits"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (col("n_bloom_hits") - coalesce(col("n_exact"), lit(0L)))
            .as("n_false_pos"))
        .orderBy(col("doc_id"))
    }),

    // STORE-BACKED DECONTAMINATION — q74 through a persisted benchmark
    // gram index, completing the persisted-artifact trio (LSH bands
    // q129, ANN codes q135, contamination grams here). A benchmark
    // suite is a FIXED artifact: production hashes its 8-grams once
    // into a store (16-hex md5 keys, q120's discipline — no benchmark
    // TEXT ever leaves the build pass or lands on disk, which matters
    // because benchmark text is exactly what a training corpus must
    // not retain), then checks every new corpus or delta against the
    // stored keys. Admission cost: one corpus gram pass + a hash-keyed
    // join against the (benchmark-sized, usually broadcastable) store —
    // the benchmark text is never re-read. Results match q74 with
    // grams counted by 64-bit key (the oracle truncates identically).
    "q137_decontam_store" -> ((s, d) => {
      val dir = graft.Tables.scratchDir(s,
        "q137_decon_" + graft.Tables.datasetTag(d))
      val docs = documents(s, d)
      gramKeys(s, docs.filter(col("doc_id") % 5 === 0), "bdoc")
        .write.mode("overwrite").parquet(dir)
      checkAgainstGramStore(
        gramKeys(s, docs.filter(col("doc_id") % 5 =!= 0), "doc_id"),
        s.read.parquet(dir))
        .orderBy(col("doc_id"))
    }),

    // STREAMING DECONTAMINATION — the fourth streaming-admission path
    // (LSH-store admission q130, vector-store admission q138, the
    // contamination store here): the benchmark gram index is built ONCE
    // (it is a FROZEN artifact — q137's 16-hex-key store), then corpus
    // documents ARRIVE as a stream and every micro-batch's grams check
    // against it, per-doc verdicts landing in a batch-partitioned sink
    // exactly-once (the [[graft.MicroBatch]] contract: a replayed batch
    // replaces exactly its own partition). Unlike dedup
    // admission, a verdict depends ONLY on the frozen index — never on
    // earlier batches — so the streamed result is bit-identical to the
    // one-shot batch check under ANY batch-boundary placement, and
    // q137's oracle verifies it directly (DedupSimilaritySpec pins the
    // batching-invariance on a two-file split stream). Per-batch cost:
    // one map-side gram pass over the batch + a BROADCAST hash join
    // (the index is benchmark-sized, never corpus-sized); no state
    // store, nothing corpus-sized ever shuffles.
    "q139_stream_decontam" -> ((s, d) => {
      val tag = graft.Tables.datasetTag(d)
      val storeDir = graft.Tables.scratchDir(s, "q139_decon_store_" + tag)
      val sinkDir = graft.Tables.scratchDir(s, "q139_decon_flags_" + tag)
      val docs = documents(s, d)
      gramKeys(s, docs.filter(col("doc_id") % 5 === 0), "bdoc")
        .write.mode("overwrite").parquet(storeDir)
      MicroBatch.reset(s, decontamFlagsSchema, sinkDir)
      val src = MicroBatch.source(graft.ChildSession.forStream(s), d, "documents")
        .filter(col("doc_id") % 5 =!= 0)
      MicroBatch.drain(src)((batch, id) =>
        MicroBatch.write(checkAgainstGramStore(gramKeys(s, batch, "doc_id"),
          broadcast(s.read.parquet(storeDir))), sinkDir, id))
      s.read.schema(decontamFlagsSchema).parquet(sinkDir)
        .select(col("doc_id"), col("n_shared"), col("n_bench_docs"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end near-dup dedup: the SURVIVOR list — every document except
    // cluster members that are not their cluster's canonical (minimum)
    // doc. Anti-join of the corpus against the non-canonical cluster rows;
    // one keyed shuffle past the clustering itself.
    "q76_dedup_keep" -> ((s, d) => {
      val dropped = nearDupLabels(s, d).filter(col("doc_id") =!= col("cluster_id"))
      documents(s, d)
        .join(dropped.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // EXACT SHARED-SPAN dedup — the suffix-array-style operator from the
    // dedup literature (Lee et al. 2022's "any shared substring ≥ N
    // tokens", built bucketed instead of via an actual suffix array):
    // report every doc pair sharing an exact run of ≥ SpanN tokens, with
    // the pair's LONGEST run and its maximal-run count. A shared run of
    // length L ≥ N contains an aligned shared N-gram and vice versa, so
    // detection is exact via a positional-N-gram key join (q74's gram
    // machinery with positions kept); adjacent hits at the same position
    // offset then merge into maximal runs with a gaps-and-islands pass.
    // Catches sub-chunk quotes CDC (q116, expected 64-char chunks) rolls
    // past, and sub-document overlap doc-level Jaccard (q27) scores
    // below threshold — spec-pinned on both counts. Scale shape: the
    // positional-gram relation is one map pass (~1 row/token, 16-char
    // key), the join is gram-keyed with q117's 2..64 df cap (hot-gram
    // guard), islands shuffle on (pair, offset) — never doc-pairwise.
    "q120_shared_spans" -> ((s, d) => sharedSpans(s, documents(s, d))
      .orderBy(col("doc_a"), col("doc_b"))),

    // EXACT-SUBSTRING SCRUB — the REMOVAL transform q120 only audits
    // (Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better", the ExactSubstr dedup every frontier pipeline
    // runs): every occurrence of a cross- or within-doc duplicated
    // [[SpanN]]-token window EXCEPT the globally first one (minimum
    // (doc_id, pos)) has its token positions excised, and each doc is
    // reassembled from its surviving tokens — per doc the before/after
    // token counts and the scrubbed text. Window granularity (the
    // standard reimplementation simplification) rather than maximal
    // suffix-array substrings: overlapping duplicated windows union
    // into exactly the maximal duplicated run minus nothing, so runs
    // ≥ SpanN are fully excised except their canonical copy. Scale
    // shape — and why this is NOT q120's plan: no self-join and no df
    // cap, because removal needs per-gram ARGMIN, not pairs. The
    // canonical occurrence comes from a map-side-combinable
    // min(struct)/count aggregation and an AQE-skew-splittable join
    // back (a window over gram would pile a million-occurrence
    // boilerplate gram onto one partition; partial agg + skew-join
    // handle it), so a gram duplicated across the whole corpus costs
    // O(occurrences) — strictly linear end to end. Removed windows are
    // merged into per-doc maximal intervals BEFORE the reassembly join
    // (gaps-and-islands over the start positions), so what shuffles is
    // one row per duplicated run, not SpanN rows per removed token.
    // The reassembly shuffles (doc_id, idx, token) once — wordcount-
    // scale. Gram key is the FULL 128-bit md5: removal is destructive,
    // and a 64-bit cross-gram collision would silently excise unrelated
    // tokens with no oracle signal (both sides would share the key).
    "q242_substr_scrub" -> ((s, d) => substrScrub(s, documents(s, d))
      .orderBy(col("doc_id")))
  )

  /** Minimum shared-run length (tokens) for q120. 8 matches q74's
    * decontamination gram width (the GPT-3/Gopher overlap standard) —
    * long enough that natural text never collides, short enough to catch
    * a one-sentence exact quote. */
  private val SpanN = 8

  /** q120's engine over an arbitrary (doc_id, text) relation — exact
    * shared-span detection via positional N-gram join + run-length merge
    * (see the q120 query comment for the full rationale). Public so the
    * spec can drive synthetic corpora through the exact production path. */
  def sharedSpans(s: SparkSession, docs: DataFrame, n: Int = SpanN): DataFrame = {
    import s.implicits._
    // positional word n-grams, keyed by a 16-hex-char md5 prefix: rows ~
    // one per token, key fixed-width (the raw ~50-char gram text never
    // shuffles); md5 is replayed by the oracle so both engines join on
    // identical keys.
    val grams = tracked(docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = Tokens.split(t)
        (0 to toks.length - n).iterator
          .map(i => (id, (i + 1).toLong, toks.slice(i, i + n).mkString(" ")))
      }
      .toDF("doc_id", "pos", "gram")
      .select(col("doc_id"), col("pos"),
        substring(md5(col("gram")), 1, 16).as("g")))
    // hot-gram guard (q117's 2..64 df cap): a boilerplate gram in
    // thousands of docs would blow the self-join quadratically; df is
    // DISTINCT docs so in-doc repeats don't evict a gram.
    val keep = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df").between(2, 64))
      .select(col("g"))
    val kept = grams.join(keep, Seq("g"), "left_semi")
    val hits = kept.select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("g"))
      .join(kept.select(col("doc_id").as("doc_b"), col("pos").as("pb"), col("g")), "g")
      .filter(col("doc_a") < col("doc_b"))
    // run-length merge: hits from one shared run share (pair, pa−pb) and
    // have consecutive pa, so pa − row_number() is constant per maximal
    // run (gaps-and-islands); run of L tokens ⇒ L−n+1 hits ⇒ span
    // max(pa)−min(pa)+n.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diff")).orderBy(col("pa"))
    hits.withColumn("diff", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diff"), col("grp"))
      .agg((max(col("pa")) - min(col("pa")) + lit(n.toLong)).as("span_toks"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span_toks")).as("max_span_toks"),
        count(lit(1)).as("n_spans"))
  }

  /** q242's engine over an arbitrary (doc_id, text) relation — see the
    * query comment for semantics and scale rationale. One typed map
    * pass emits each token WITH the n-gram starting at its position
    * (md5'd to a FULL 128-bit key before the persist, so the raw
    * ~50-char gram never outlives the map side — unlike q120's 16-hex
    * audit key, this is a destructive removal transform, and a 64-bit
    * cross-gram birthday collision at frontier gram counts would
    * silently excise unrelated tokens with no oracle signal, since
    * both sides would share the truncated key);
    * the persisted (doc_id, idx, tok, g) relation then feeds both the
    * duplicate detection and the reassembly. Docs that tokenize to
    * nothing have no rows and are absent from the output — the oracle
    * builds from the identical token relation. Public so the spec can
    * drive crafted corpora through the exact production path. */
  def substrScrub(s: SparkSession, docs: DataFrame, n: Int = SpanN): DataFrame = {
    import s.implicits._
    val base = tracked(docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val toks = Tokens.split(t)
        toks.iterator.zipWithIndex.map { case (tok, i) =>
          val gram = if (i + n <= toks.length)
            toks.slice(i, i + n).mkString(" ") else null
          (id, (i + 1).toLong, tok, gram)
        }
      }
      .toDF("doc_id", "idx", "tok", "gram")
      .select(col("doc_id"), col("idx"), col("tok"),
        when(col("gram").isNotNull, md5(col("gram"))).as("g")))
    val grams = base.filter(col("g").isNotNull)
      .select(col("doc_id"), col("idx").as("pos"), col("g"))
    // canonical occurrence per DUPLICATED gram: partial-agg'd argmin —
    // a hot boilerplate gram combines map-side instead of piling one
    // window partition, and the join back is AQE-skew-splittable
    val dupMins = grams.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("m"),
        count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("g"), col("m.doc_id").as("mdoc"), col("m.pos").as("mpos"))
    // Interval-merge instead of per-position explode: each non-canonical
    // occurrence removes the window [pos, pos+n-1]; exploding that to n
    // rows and distinct()-ing inflates the exchange n=8× on scrub-heavy
    // corpora. Instead merge overlapping/adjacent windows per doc into
    // maximal removal intervals (running-max-end gaps-and-islands — the
    // classic pos − row_number() trick assumes step-1 starts, but a doc
    // holding the CANONICAL copy of an interior gram skips that start,
    // so islands are cut on a genuine coverage gap, prev running max end
    // < pos − 1). The window partitions by doc_id over removal STARTS
    // (≤ doc token count — the same per-doc bound the reassembly's
    // collect_list already accepts), and what shuffles afterward is one
    // row per maximal duplicated run, not 8 rows per removed token.
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val intervals = grams.join(dupMins, "g")
      .filter(col("doc_id") =!= col("mdoc") || col("pos") =!= col("mpos"))
      .select(col("doc_id"), col("pos"))
      .withColumn("pmax", max(col("pos") + lit(n - 1)).over(
        wDoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("cut",
        (col("pmax").isNull || col("pos") > col("pmax") + 1).cast("long"))
      .withColumn("island", sum(col("cut")).over(wDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("lo"), (max(col("pos")) + lit(n - 1)).as("hi"))
      .select(col("doc_id").as("rdoc"), col("lo"), col("hi"))
    // equi-join on doc_id with the range as a post-condition; merged
    // intervals are disjoint, so each token matches ≤ 1 interval and the
    // left join cannot multiply rows
    base.join(intervals,
        base("doc_id") === intervals("rdoc") &&
          base("idx").between(col("lo"), col("hi")), "left_outer")
      .withColumn("rm", when(col("lo").isNotNull, lit(true)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("rm"), lit(false)).cast("long")).as("n_removed"),
        // collect_list skips the CASE's nulls, so only surviving tokens
        // sort (by unique idx — deterministic) and rejoin
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN rm IS NULL THEN struct(idx, tok) END)), x -> x.tok)"),
          " ").as("text_clean"))
  }

  /** Connected-component labels over an undirected pair graph
    * (`doc_a`, `doc_b` columns) via alternating LARGE-STAR / SMALL-STAR
    * rounds — the Connected Components in MapReduce algorithm (Kiveris et
    * al., SoCC'14; also the shape Spark GraphFrames uses). Each round is
    * two keyed aggregations + joins, and the edge set provably converges
    * to per-component stars rooted at the component-minimum id in
    * O(log n) rounds. Plain min-label propagation (the round-3 form)
    * needs O(component DIAMETER) shuffles — a 10k-node chain of near-dups
    * would take 10k iterations; this takes ~a dozen — and on cap-hit it
    * silently returned partial (wrong) labels. Non-convergence now
    * THROWS instead. Deterministic (min over a fixed edge set) → DuckDB
    * replays the result with a recursive transitive-closure CTE.
    *
    * Returns (doc_id, cluster_id = component minimum) for every node that
    * appears in an edge, persisted and materialized (callers release via
    * [[graft.SessionCache]]). */
  private[graft] def connectedComponents(s: SparkSession, pairs: DataFrame): DataFrame = {
    // Lineage MUST be truncated every round: each round's plan references
    // the previous round's ~6× (two unionByName sides, join + agg
    // re-reads), so plan size grows ~6^rounds — persist() alone does not
    // cut the analyzed tree, and by round ~12 plan rendering alone OOMs
    // the driver ([[graft.Tables.truncate]]).
    // canonical directed form: u > v (self-loops dropped)
    var e = truncate(s, pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // cheap edge-set signature: (count, order-free hash XOR). XOR never
    // overflows (the round-4 sum() form hit ANSI ARITHMETIC_OVERFLOW on
    // any nontrivial edge set) and is order-independent; edges are
    // distinct, so no pair cancels its own duplicate. Both star operations
    // preserve a star fixpoint, so signature equality across a full round
    // == convergence (modulo a 2^-64 hash collision).
    def sigOf(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = sigOf(e)
    var converged = false
    var iters = 0
    while (!converged) {
      iters += 1
      if (iters > 40)
        throw new IllegalStateException(
          "connectedComponents did not converge in 40 large-star/small-star " +
            "rounds (O(log n) expected — 40 covers any feasible graph); " +
            "refusing to return partial labels")
      // LARGE-STAR: every node connects its strictly-larger neighbors to
      // the minimum of its neighborhood (including itself)
      val nbrs = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = nbrs.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // SMALL-STAR: every node connects itself and its smaller neighbors
      // to their minimum (edges are already u > v directed)
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = ls.join(mins2, "u")
      val ss = truncate(s, withM.select(col("u"), col("m").as("v"))
        .unionByName(withM.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v")))
        .distinct())
      val nsig = sigOf(ss)
      e = ss // prior round's checkpoint blocks are freed by ContextCleaner on GC
      converged = nsig == sig
      sig = nsig
    }
    // fixpoint edges are stars (u = member, v = component-minimum root)
    val labels = e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(e.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
      .persist()
    labels.count() // materialize while the final round's checkpoint is live
    labels
  }

  /** Cached [[connectedComponents]] over an arbitrary edge builder,
    * keyed by (session, key): q72/q76 and repeated invocations reuse one
    * persisted result, and concurrent first calls of one key run the
    * multi-job clustering loop once. Also used by Similarity's
    * embedding-space dedup (key-prefixed so shingle and embedding graphs
    * never collide). */
  private[graft] def cachedComponents(s: SparkSession, key: String)
      (pairs: => DataFrame): DataFrame =
    graft.SessionCache.memo(s, "dedup", key)(connectedComponents(s, pairs))

  /** Connected-component labels over the verified near-dup pair graph
    * (jaccard ≥ 0.8): [[connectedComponents]] over q27's verified pairs,
    * cached per (session, dataset). */
  private[graft] def nearDupLabels(s: SparkSession, d: String): DataFrame =
    cachedComponents(s, d) {
      val sh = sharedShingles(s, d)
      verifyJaccardWith(
        sh, candidatesFromSignatures(signaturesFromShingles(s, sh)))
        .filter(col("jaccard") >= 0.8)
        .select(col("doc_a"), col("doc_b"))
    }

  /** SimHash near-dup pairs by Hamming distance: 64-bit sign-aggregated
    * token-frequency hash, 16-bit bands for candidate generation, exact
    * Hamming distance on candidates. The raw (doc_a, doc_b, hamming)
    * relation — q28 verifies these candidates with exact Jaccard. */
  /** 64-bit token hash assembled from the first 16 hex chars of md5 —
    * chosen over xxhash64 because BOTH engines compute md5 identically,
    * which lets the DuckDB oracle replay the entire SimHash algorithm
    * instead of trusting recall. The signed-adjust + multiply form stays
    * inside BIGINT range on both sides (DuckDB rejects overflowing
    * shifts); bits are identical to (hi << 32) | lo. */
  private def tokHash(c: Column): Column = {
    val hi = conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(md5(c), 9, 8), 16, 10).cast("long")
    (hi - when(hi >= 2147483648L, 4294967296L).otherwise(0L)) * 4294967296L + lo
  }

  /** 64-bit SimHash signature per document: sign-aggregated
    * token-frequency hash (one aggregation, vocabulary-sized shuffle). */
  def simhashSigs(s: SparkSession, d: String): DataFrame = {
      val tokenCounts = documents(s, d)
        .select(col("doc_id"), explode(Tokens.col(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("h", tokHash(col("tok")))
      val bitSums = (0 until 64).map { k =>
        sum(when(shiftright(col("h"), k).bitwiseAND(1L) === 1L, col("cnt"))
          .otherwise(-col("cnt"))).as(s"b$k")
      }
      tokenCounts.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (0 until 64).map(k =>
            when(col(s"b$k") >= 0, lit(1L << k)).otherwise(lit(0L)).as(s"bit$k"))
            .reduce[Column](_ + _).as("simhash"))
  }

  def simhashPairs(s: SparkSession, d: String): DataFrame = {
      val sigs = simhashSigs(s, d)
      // Banding with GUARANTEED recall at Hamming ≤ 6 (Manku-style block
      // combinations): split the 64-bit signature into 8 blocks of 8 bits
      // and bucket on every pair of blocks (C(8,2) = 28 bands, 16-bit
      // keys). A pair within Hamming 6 dirties ≤ 6 blocks, so ≥ 2 blocks
      // are clean and some block-pair key matches — detection is exact,
      // not probabilistic (plain 4×16 banding only guarantees Hamming ≤ 3
      // and was measured missing distance-6 pairs). Shuffle is 28 rows per
      // doc + bucket collisions — still linear in the corpus.
      def block(j: Int): Column =
        shiftrightunsigned(col("simhash"), j * 8).bitwiseAND(0xFFL)
      val blockPairs = for (i <- 0 until 8; j <- i + 1 until 8) yield (i, j)
      val banded = sigs.select(col("doc_id"), col("simhash"),
        explode(array(blockPairs.map { case (i, j) =>
          struct(lit(i * 8 + j).as("band"),
            (block(i) * 256 + block(j)).as("bucket"))
        }: _*)).as("b"))
        .select(col("doc_id"), col("simhash"), col("b.band"), col("b.bucket"))
      banded.alias("l")
        .join(banded.alias("r"),
          col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
            && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
          bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
        .distinct()
  }

  /** Exact all-pairs shingle-Jaccard in DuckDB — the ground truth the
    * probabilistic paths converge to. q27 and q28 verify every candidate
    * with exact Jaccard (zero false positives) and their candidate
    * generators have near-total recall at j≥0.8 (MinHash 32×4 banding:
    * per-pair miss ≈ 5e-8; SimHash Hamming≤6 on heavy-copy near-dups),
    * so all three queries share this oracle; DedupSimilaritySpec
    * additionally pins recall at fixture scale. */
  /** Shared CTE block: documents → shingles → pairwise intersection
    * counts (reused by the exact-Jaccard oracle and q72's clustering
    * oracle). */
  private[graft] val shingleCtes: String =
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
         common AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)"""

  private val exactJaccardSql: String =
      s"""WITH $shingleCtes
         SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY doc_a, doc_b"""

  /** q99's oracle: the exact-Jaccard join computed on the STOP-FILTERED
    * shingle sets — replays [[stopShingleFiltered]]'s integer df
    * threshold (greatest(5, n_docs div 10)) before the pairwise
    * intersection, then the same ≥ 0.8 cut. */
  private val stopFilteredJaccardSql: String =
      s"""WITH t AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS toks
           FROM documents),
         sh0 AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
             FROM t WHERE len(toks) >= 3)),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         sdf AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
         sh AS (
           SELECT sh0.doc_id, sh0.s
           FROM sh0 JOIN sdf ON sh0.s = sdf.s CROSS JOIN nd
           WHERE sdf.df <= greatest(5, n_docs // 10)),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY doc_a, doc_b"""

  private val oraclesBase: Map[String, String] = Map(
    "q26_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
         count(*) AS n_dups
         FROM documents GROUP BY content_hash ORDER BY keep_id""",
    "q27_dedup_minhash" -> exactJaccardSql,
    "q99_dedup_stop_shingle" -> stopFilteredJaccardSql,
    // q127's oracle: the exact shingle-Jaccard join computed ACROSS the
    // delta/corpus partition (same shingle fragment as q27/q29, pair
    // space restricted to delta × non-delta; no a<b rule — the sides
    // are disjoint sets)
    "q127_delta_dedup" ->
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
         delta AS (SELECT doc_id FROM documents WHERE source = 'src0'),
         common AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN delta da ON a.doc_id = da.doc_id
           JOIN sh b ON a.s = b.s
           WHERE b.doc_id NOT IN (SELECT doc_id FROM delta)
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY doc_a, doc_b""",
    // Full algorithmic replay of q28: md5-derived 64-bit token hash,
    // sign-aggregated signature, C(8,2) block-pair banding, Hamming ≤ 12,
    // exact shingle-Jaccard ≥ 0.8 on the candidates. Shift semantics:
    // (x >> k) & mask is identical for arithmetic and logical shifts, and
    // summing distinct bit values (with bit 63 as Long.MinValue) equals
    // the bitwise OR on both engines.
    "q28_dedup_simhash" ->
      s"""WITH tokcnt AS (
           SELECT doc_id, tok, count(*) AS cnt FROM (
             SELECT doc_id, unnest(${Tokens.sql("text")}) AS tok
             FROM documents)
           GROUP BY doc_id, tok),
         hashed AS (
           SELECT doc_id, cnt,
             (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
               - CASE WHEN CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
                   >= 2147483648 THEN 4294967296 ELSE 0 END) * 4294967296
               + CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS h
           FROM tokcnt),
         bits AS (
           SELECT doc_id, k,
             CASE WHEN sum(CASE WHEN ((h >> k) & 1) = 1 THEN cnt ELSE -cnt END) >= 0
               THEN CASE WHEN k = 63 THEN -9223372036854775808
                    ELSE (1::BIGINT << CAST(k AS INTEGER)) END
               ELSE 0 END AS bit
           FROM hashed, range(64) t(k)
           GROUP BY doc_id, k),
         sigs AS (
           SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id),
         banded AS (
           SELECT doc_id, simhash, i, j,
             ((simhash >> CAST(i * 8 AS INTEGER)) & 255) * 256
               + ((simhash >> CAST(j * 8 AS INTEGER)) & 255) AS bucket
           FROM sigs, (SELECT a.i AS i, b.j AS j
                       FROM range(8) a(i), range(8) b(j) WHERE a.i < b.j)),
         cand AS (
           SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
             l.simhash AS sa, r.simhash AS sb
           FROM banded l JOIN banded r
             ON l.i = r.i AND l.j = r.j AND l.bucket = r.bucket
             AND l.doc_id < r.doc_id),
         ham AS (
           SELECT doc_a, doc_b FROM cand
           WHERE bit_count(xor(sa, sb)) <= 12),
         t AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS toks
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS s
             FROM t WHERE len(toks) >= 3)),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           JOIN ham ON ham.doc_a = a.doc_id AND ham.doc_b = b.doc_id
           GROUP BY 1, 2)
         SELECT common.doc_a, common.doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON common.doc_a = sa.doc_id
         JOIN sizes sb ON common.doc_b = sb.doc_id
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY doc_a, doc_b""",
    "q29_ngram_jaccard" -> exactJaccardSql,

    // the same scored-pair relation, thresholds unnested over it; the
    // round(.., 6) mirrors the engine's verified jaccard exactly, and
    // CAST(pct AS DOUBLE)/100 reproduces the engine's comparison value
    "q151_threshold_sweep" ->
      s"""WITH $shingleCtes,
         j AS (
           SELECT doc_a, doc_b,
             round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
           FROM common
           JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id),
         hits AS (
           SELECT t.pct, j.doc_a, j.doc_b
           FROM j CROSS JOIN (SELECT unnest([50, 60, 70, 80, 90]) AS pct) t
           WHERE j.jaccard >= CAST(t.pct AS DOUBLE) / 100),
         np AS (SELECT pct, count(*) AS n_pairs FROM hits GROUP BY pct),
         nd AS (
           SELECT pct, count(DISTINCT doc) AS n_docs FROM (
             SELECT pct, doc_a AS doc FROM hits
             UNION ALL SELECT pct, doc_b FROM hits)
           GROUP BY pct)
         SELECT np.pct, np.n_pairs, nd.n_docs
         FROM np JOIN nd ON np.pct = nd.pct
         ORDER BY np.pct""",
    // Connected components replayed as a recursive transitive closure:
    // a node's cluster id = min doc_id reachable over the verified
    // near-dup edges — exactly the fixpoint min-label propagation reaches.
    "q72_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCtes,
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
         csizes AS (
           SELECT cluster_id, count(*) AS cluster_size
           FROM labels GROUP BY cluster_id)
         SELECT l.doc_id, l.cluster_id, cs.cluster_size
         FROM labels l JOIN csizes cs ON l.cluster_id = cs.cluster_id
         ORDER BY l.doc_id""",

    // Same tokenizer, distinct word 8-grams per doc, benchmark slice =
    // doc_id % 5 == 0; DuckDB can't lateral-join range() on a column, so
    // the gram positions come from list_transform over range(...) + unnest.
    "q74_decontaminate" ->
      s"""WITH toks AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS t
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t)-6, 1)),
               i -> array_to_string(t[i:i+7], ' '))) AS g
           FROM toks),
         bench AS (SELECT g, doc_id AS bdoc FROM grams WHERE doc_id % 5 = 0)
         SELECT c.doc_id, count(DISTINCT c.g) AS n_shared,
           count(DISTINCT b.bdoc) AS n_bench_docs
         FROM grams c JOIN bench b ON c.g = b.g
         WHERE c.doc_id % 5 <> 0
         GROUP BY 1 ORDER BY 1""",

    // the filter's bit array replayed as its distinct set-position
    // table: same md5 fold, same m by integer bit-length, membership ≡
    // all three positions present; the exact join audits FP per doc
    "q218_bloom_decontam" ->
      s"""WITH toks AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS t
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t)-6, 1)),
               i -> array_to_string(t[i:i+7], ' '))) AS g
           FROM toks),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 = 0),
         mm AS (SELECT CAST(2 ** length(bin(
             greatest(8 * count(*), 1024) - 1)) AS BIGINT) AS m
           FROM bench),
         bpos AS (
           SELECT DISTINCT
             list_reduce(list_prepend(0::BIGINT,
               [strpos('0123456789abcdef', c)::BIGINT - 1
                for c in string_split(
                  substr(md5(g || ':' || i), 1, 13), '')]),
               (a, x) -> a * 16 + x) % (SELECT m FROM mm) AS pos
           FROM (SELECT g, unnest([0, 1, 2]) AS i FROM bench)),
         corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 5 <> 0),
         probe AS (
           SELECT doc_id, g,
             list_reduce(list_prepend(0::BIGINT,
               [strpos('0123456789abcdef', c)::BIGINT - 1
                for c in string_split(
                  substr(md5(g || ':' || i), 1, 13), '')]),
               (a, x) -> a * 16 + x) % (SELECT m FROM mm) AS pos
           FROM (SELECT doc_id, g, unnest([0, 1, 2]) AS i FROM corpus)),
         hits AS (
           SELECT doc_id, g FROM probe JOIN bpos USING (pos)
           GROUP BY doc_id, g HAVING count(*) = 3),
         nh AS (SELECT doc_id, count(*) AS n_bloom_hits FROM hits
           GROUP BY doc_id),
         ne AS (SELECT c.doc_id, count(*) AS n_exact
           FROM corpus c JOIN bench b ON c.g = b.g GROUP BY c.doc_id),
         ng AS (SELECT doc_id, count(*) AS n_grams FROM corpus
           GROUP BY doc_id)
         SELECT nh.doc_id, ng.n_grams, nh.n_bloom_hits,
           coalesce(ne.n_exact, 0) AS n_exact,
           nh.n_bloom_hits - coalesce(ne.n_exact, 0) AS n_false_pos
         FROM nh JOIN ng USING (doc_id) LEFT JOIN ne USING (doc_id)
         ORDER BY nh.doc_id""",

    // q74's replay with grams counted by their stored 64-bit key
    // (substr(md5, 1, 16)) — exactly what the store persists.
    "q137_decontam_store" ->
      s"""WITH toks AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS t
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id,
             substr(md5(unnest(list_transform(range(1, greatest(len(t)-6, 1)),
               i -> array_to_string(t[i:i+7], ' ')))), 1, 16) AS gh
           FROM toks),
         bench AS (SELECT gh, doc_id AS bdoc FROM grams WHERE doc_id % 5 = 0)
         SELECT c.doc_id, count(DISTINCT c.gh) AS n_shared,
           count(DISTINCT b.bdoc) AS n_bench_docs
         FROM grams c JOIN bench b ON c.gh = b.gh
         WHERE c.doc_id % 5 <> 0
         GROUP BY 1 ORDER BY 1""",

    // identical to q137's replay: a verdict depends only on the frozen
    // benchmark index, so the streamed check must equal the batch check
    // regardless of micro-batch boundaries.
    "q139_stream_decontam" ->
      s"""WITH toks AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS t
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id,
             substr(md5(unnest(list_transform(range(1, greatest(len(t)-6, 1)),
               i -> array_to_string(t[i:i+7], ' ')))), 1, 16) AS gh
           FROM toks),
         bench AS (SELECT gh, doc_id AS bdoc FROM grams WHERE doc_id % 5 = 0)
         SELECT c.doc_id, count(DISTINCT c.gh) AS n_shared,
           count(DISTINCT b.bdoc) AS n_bench_docs
         FROM grams c JOIN bench b ON c.gh = b.gh
         WHERE c.doc_id % 5 <> 0
         GROUP BY 1 ORDER BY 1""",

    // q72's transitive-closure labels, then the corpus minus non-canonical
    // cluster members = the deduplicated survivor list.
    "q76_dedup_keep" ->
      s"""WITH RECURSIVE $shingleCtes,
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
           FROM reach GROUP BY src)
         SELECT d.doc_id, length(d.text) AS n_chars
         FROM documents d
         WHERE d.doc_id NOT IN
           (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
         ORDER BY d.doc_id""",

    // Positional 8-grams (same tokenizer), 16-hex md5 keys, df cap 2..64,
    // then the identical gaps-and-islands merge: pa − row_number() per
    // (pair, pa−pb) partition is constant per maximal run on both engines
    // (integer arithmetic end to end).
    "q120_shared_spans" ->
      s"""WITH tokd AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS lst
           FROM documents),
         grams AS (
           SELECT doc_id, i AS pos,
             substring(md5(array_to_string(lst[i:i+7], ' ')), 1, 16) AS g
           FROM tokd,
             LATERAL (SELECT unnest(generate_series(1, greatest(len(lst)-7, 0))) AS i) s),
         gdf AS (
           SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g)
           WHERE df BETWEEN 2 AND 64),
         hits AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
           FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
           WHERE a.g IN (SELECT g FROM gdf)),
         runs AS (
           SELECT doc_a, doc_b, pa, pa - pb AS diff,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
           FROM hits),
         spans AS (
           SELECT doc_a, doc_b, max(pa) - min(pa) + 8 AS span_toks
           FROM runs GROUP BY doc_a, doc_b, diff, grp)
         SELECT doc_a, doc_b, max(span_toks) AS max_span_toks, count(*) AS n_spans
         FROM spans GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""",

    // q242: the window rn > 1 ⟺ the engine's "duplicated gram, not the
    // (doc_id, pos)-minimum occurrence" (fine at oracle SF — the engine
    // avoids the window for skew, the SEMANTICS are identical); token
    // indices, gram keys, and the space-rejoin replay the engine's
    // exactly. Gram width interpolated from SpanN so the two sides
    // cannot drift.
    "q242_substr_scrub" ->
      s"""WITH tokd AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS lst
           FROM documents),
         toks AS (
           SELECT doc_id, i AS idx, lst[i] AS tok
           FROM tokd, LATERAL (SELECT unnest(generate_series(1, len(lst))) AS i) s),
         grams AS (
           SELECT doc_id, i AS pos,
             md5(array_to_string(lst[i:i+${SpanN - 1}], ' ')) AS g
           FROM tokd,
             LATERAL (SELECT unnest(generate_series(1, greatest(len(lst)-${SpanN - 1}, 0))) AS i) s),
         occ AS (
           SELECT doc_id, pos,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
           FROM grams),
         rem AS (
           SELECT DISTINCT doc_id, pos + k AS idx
           FROM occ, LATERAL (SELECT unnest(generate_series(0, ${SpanN - 1})) AS k) t
           WHERE rn > 1),
         mk AS (
           SELECT t.doc_id, t.idx, t.tok, (r.idx IS NOT NULL) AS rm
           FROM toks t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.idx = r.idx)
         SELECT doc_id, count(*) AS n_tokens,
           count(*) FILTER (WHERE rm) AS n_removed,
           coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY idx), '')
             AS text_clean
         FROM mk GROUP BY doc_id ORDER BY doc_id"""
  )

  /** q88 computes exactly q72's cluster assignment (different engine
    * path, same answer), so it shares q72's oracle text verbatim. */
  val oracles: Map[String, String] =
    oraclesBase + ("q88_recursive_clusters" -> oraclesBase("q72_dedup_clusters"))
}
