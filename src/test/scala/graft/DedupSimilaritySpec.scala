package graft

import graft.functions.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Probabilistic dedup + ANN operators verified against their exact
  * counterparts at small SF — the LSH methods have no SQL oracle, so this
  * suite is their correctness gate.
  */
class DedupSimilaritySpec extends TestSpark {

  test("minhash LSH finds (almost) all pairs the exact jaccard join finds") {
    val exact = Dedup.queries("q29_ngram_jaccard")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.queries("q27_dedup_minhash")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-duplicates")
    // LSH candidates are verified by exact jaccard, so no false positives:
    assert(lsh.subsetOf(exact))
    // 32 bands x 4 rows at j>=0.8 : P(miss) = (1-j^4)^32 ~= 5e-8 per
    // pair — q27's DuckDB oracle assumes full recall on the fixture;
    // pin exact equality here (deterministic: fixed permutation seed).
    assert(lsh == exact, s"LSH missed pairs: ${exact -- lsh}")
  }

  test("minhash signatures are deterministic across runs") {
    val s1 = Dedup.minhashSignatures(spark, sf0001).orderBy(col("doc_id")).collect()
    val s2 = Dedup.minhashSignatures(spark, sf0001).orderBy(col("doc_id")).collect()
    assert(s1.sameElements(s2))
  }

  test("simhash hamming candidates overlap heavily with exact near-dups") {
    val exact = Dedup.queries("q29_ngram_jaccard")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(spark, sf0001).filter(col("hamming") <= 6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    // SimHash measures token-frequency similarity, not shingle jaccard —
    // expect strong but not perfect agreement on the raw candidates.
    val hits = exact.count(sim.contains)
    assert(hits.toDouble / exact.size >= 0.5,
      s"simhash found only $hits of ${exact.size} exact near-dup pairs")
  }

  test("q28 (simhash candidates + exact-jaccard verify) is a high-recall subset of the exact join") {
    // q28's DuckDB oracle replays the algorithm itself (md5-based token
    // hash), so value-exactness is the oracle's job at any scale; here pin
    // the SEMANTIC contract: no false positives (verification) and strong
    // recall of the exact near-dup set on the fixture.
    val exact = Dedup.queries("q29_ngram_jaccard")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.queries("q28_dedup_simhash")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(exact), s"false positives: ${verified -- exact}")
    val recall = exact.count(verified.contains).toDouble / exact.size
    assert(recall >= 0.8, s"simhash recall $recall (${verified.size}/${exact.size})")
  }

  test("q76 survivors: corpus minus non-canonical cluster members, exactly") {
    val clustered = Dedup.queries("q72_dedup_clusters")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val dropped = clustered.collect { case (d, c) if d != c => d }.toSet
    val all = Tables.documents(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.queries("q76_dedup_keep")(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture should contain near-duplicates to drop")
    assert(kept == all -- dropped)
    // every cluster keeps exactly one member — its canonical minimum
    clustered.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).toSet.intersect(kept) == Set(cid))
    }
  }

  test("q74 decontamination: flags exactly the docs sharing an 8-gram with the benchmark slice") {
    val rows = Dedup.queries("q74_decontaminate")(spark, sf0001).collect()
    assert(rows.nonEmpty, "fixture should contain cross-slice 8-gram overlap")
    // recompute ground truth driver-side from the raw text
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Dedup.ngramSet(r.getString(1), 8).toSet)
    val benchGrams = docs.filter(_._1 % 5 == 0)
    val expected = docs.filter(_._1 % 5 != 0).flatMap { case (id, gs) =>
      val shared = gs.filter(g => benchGrams.exists(_._2.contains(g)))
      val nBench = benchGrams.count(_._2.exists(shared.contains))
      if (shared.nonEmpty) Some(id -> ((shared.size.toLong, nBench.toLong))) else None
    }.toMap
    val got = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_shared"), r.getAs[Long]("n_bench_docs")))).toMap
    assert(got == expected)
  }

  test("q73 knn graph: 3 ranked neighbors per vector, no self-edges, exact cos on edges") {
    val rows = Similarity.queries("q73_knn_graph")(spark, sf0001).collect()
    val n = Tables.embeddings(spark, sf0001).count()
    val bySrc = rows.groupBy(_.getAs[Long]("src_id"))
    assert(bySrc.size == n, "every vector must appear as a source")
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    bySrc.foreach { case (src, es) =>
      val sorted = es.sortBy(_.getAs[Int]("rk"))
      // ranks are contiguous from 1, at most k=3 (a probe whose 4 cells
      // hold fewer than 3 other vectors legitimately has fewer edges)
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.length <= 3 && sorted.nonEmpty)
      // ranks are by non-increasing cosine; cos matches an exact recompute
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      sorted.foreach { r =>
        val nbr = r.getAs[Long]("nbr_id")
        assert(nbr != src)
        assert(r.getAs[Double]("cos") ==
          Similarity.roundedCosine(emb(src), emb(nbr)))
      }
    }
  }

  test("q72 clusters: every near-dup pair co-clusters, cluster id = min member") {
    val pairs = Dedup.queries("q27_dedup_minhash")(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = Dedup.queries("q72_dedup_clusters")(spark, sf0001).collect()
    val label = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(rows.nonEmpty)
    // transitive-closure contract: both endpoints of every verified
    // near-dup pair end up in the same cluster
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across clusters")
    }
    // the cluster id is its minimum member (min-label fixpoint)
    label.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid does not own its min member")
    }
    // every clustered doc appears exactly once
    assert(rows.length == label.size)
  }

  test("q77 embedding dedup: clusters honor the thresholded knn edges") {
    // q77 consumes the PRODUCTION graph (q231 NN-descent) since round 14
    val edges = graft.functions.KnnDescent.queries("q231_knn_descent")(spark, sf0001)
      .filter(col("cos") >= 0.4)
      .select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Similarity.queries("q77_embedding_dedup")(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(edges.nonEmpty, "fixture should contain knn edges above threshold")
    // both endpoints of every thresholded edge share a cluster
    edges.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across clusters")
    }
    // cluster id = minimum member; only nodes on an edge are clustered
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
    }
    val onEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(labels.keySet == onEdges)
  }

  test("q122 embedding survivor list partitions the corpus against q77's clusters") {
    // the keep-list contract all three near-dup families share
    // (q76/q119/q122): survivors = everything outside a cluster, plus
    // exactly the min-id canonical of each cluster
    val labels = Similarity.queries("q77_embedding_dedup")(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    val survivors = Similarity.queries("q122_embedding_dedup_keep")(spark, sf0001)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val corpus = Tables.embeddings(spark, sf0001)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(labels.nonEmpty, "fixture should produce embedding clusters")
    assert(survivors.size < corpus.size, "clusters exist, so some doc must drop")
    // unclustered vectors all survive
    assert(corpus.diff(labels.keySet).subsetOf(survivors))
    // per cluster: the canonical (min = cluster_id) survives, others drop
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(survivors.contains(cid), s"canonical $cid was dropped")
      members.keys.filter(_ != cid).foreach(m =>
        assert(!survivors.contains(m), s"non-canonical $m of cluster $cid survived"))
    }
  }

  test("q127 delta dedup finds exactly the cross-partition pairs the exact join finds") {
    val res = Dedup.queries("q127_delta_dedup")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth: every delta×base pair through the exact
    // Jaccard verifier (25 × 475 pairs — fine at spec scale)
    val docs = Tables.documents(spark, sf0001)
    val pairs = docs.filter(col("source") === "src0")
      .select(col("doc_id").as("doc_a"))
      .crossJoin(docs.filter(col("source") =!= "src0")
        .select(col("doc_id").as("doc_b")))
    val exact = Dedup.verifyJaccard(spark, sf0001, pairs)
      .filter(col("jaccard") >= 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain cross-source near-dups")
    assert(res == exact,
      s"delta LSH missed ${exact -- res} / false positives ${res -- exact}")
  }

  test("q139 streaming decontamination equals the one-shot batch check, and re-runs idempotently") {
    // A verdict depends only on the FROZEN benchmark gram index, never on
    // earlier batches, so the streamed check must be bit-identical to
    // q137's batch check under any batching — and a full re-run (fresh
    // temp checkpoint, dynamic partition overwrite) must change nothing.
    val batch = Dedup.queries("q137_decontam_store")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val streamed = Dedup.queries("q139_stream_decontam")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.nonEmpty, "fixture should contain benchmark-contaminated docs")
    assert(streamed.sameElements(batch),
      s"streamed verdicts diverge from batch: ${streamed.toSet.diff(batch.toSet)}")
    val rerun = Dedup.queries("q139_stream_decontam")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rerun.sameElements(batch), "re-run is not idempotent")
  }

  test("q151 threshold sweep: counts non-increasing in threshold; the 80% row equals q29's pair set") {
    val rows = Dedup.queries("q151_threshold_sweep")(spark, sf0001).collect()
      .sortBy(_.getAs[Int]("pct"))
    assert(rows.map(_.getAs[Int]("pct")).sameElements(Array(50, 60, 70, 80, 90)))
    val np = rows.map(_.getAs[Long]("n_pairs"))
    val nd = rows.map(_.getAs[Long]("n_docs"))
    assert(np.zip(np.tail).forall { case (a, b) => a >= b },
      s"pair counts must be non-increasing: ${np.mkString(",")}")
    assert(nd.zip(nd.tail).forall { case (a, b) => a >= b })
    // the sweep's 80% row IS the production threshold's pair count
    val q29 = Dedup.queries("q29_ngram_jaccard")(spark, sf0001).count()
    assert(rows.find(_.getAs[Int]("pct") == 80).get.getAs[Long]("n_pairs") == q29)
  }

  test("q146 hybrid RRF: well-formed ranks, and fusion departs from the pure-vector order") {
    val rows = Similarity.queries("q146_hybrid_rrf")(spark, sf0001).collect()
    assert(rows.length == 50, s"expected 10 probes x 5, got ${rows.length}")
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 5),
        s"probe $p ranks malformed")
      val sc = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("rrf"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b },
        s"probe $p rrf not non-increasing: ${sc.mkString(",")}")
    }
    // the lexical side must actually move the needle: at least one
    // probe's fused top-5 differs from its pure-cosine top-5
    val vtop = Similarity.queries("q30_cosine_topk")(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val ftop = rows.groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(ftop.keySet == vtop.keySet)
    assert(ftop.exists { case (p, s) => s != vtop(p) },
      "fusion never departed from the vector-only ranking")
  }

  test("q123 PQ ANN: well-formed per-probe ranking and ADC tracks exact cosine") {
    val pq = Similarity.queries("q123_ann_pq")(spark, sf0001).collect()
    assert(pq.length == 50, s"expected 10 probes x 5, got ${pq.length}")
    pq.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rows) =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 5),
        s"probe $p ranks malformed")
      val ds = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("adist"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b },
        s"probe $p approximate distances not non-decreasing: ${ds.mkString(",")}")
    }
    // approximation quality: 16 codes/subspace over near-random 64-d
    // vectors is deliberately coarse, so pin the DIRECTIONAL contract —
    // PQ's top-5 lands inside the exact cosine top-50 (10% of the
    // corpus) far above chance (~5 of 50 expected at random; fixture
    // measures 21)
    val emb = Tables.embeddings(spark, sf0001)
    val exact50 = Similarity.cosineTopK(emb.filter(col("vec_id") < 10), emb, 50)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = pq.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
      .count(exact50.contains)
    assert(hits >= 12,
      s"PQ top-5 only $hits/50 inside exact top-50 — ADC lost the signal (chance ≈ 5)")
    info(s"PQ top-5 ∩ exact top-50 = $hits/50")
  }

  test("q131 IVF+PQ: cells prune the candidate space; quality tracks exact cosine") {
    val df = Similarity.queries("q131_ann_ivfpq")(spark, sf0001)
    val rows = df.collect()
    assert(rows.length == 50, s"expected 10 probes x 5, got ${rows.length}")
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 5),
        s"probe $p ranks malformed")
    }
    // the composition's POINT vs flat PQ (q123): candidates come only
    // from each probe's 4 probed cells, never the whole corpus — read
    // from the ivfpq_candidates observe() metric riding the main action
    val cands = df.queryExecution.observedMetrics("ivfpq_candidates")
      .getAs[Long]("n_candidates")
    val n = Tables.embeddings(spark, sf0001).count()
    val flatScan = 10L * (n - 1) // q123's candidate volume
    assert(cands > 0 && cands < flatScan / 2,
      s"IVF+PQ scored $cands candidates — cells are not pruning (flat PQ = $flatScan)")
    info(s"IVF+PQ candidates = $cands vs flat PQ $flatScan")
    // directional quality pin (q123's precedent): top-5 lands inside the
    // exact cosine top-50 (10% of the corpus) far above chance (~5/50)
    val emb = Tables.embeddings(spark, sf0001)
    val exact50 = Similarity.cosineTopK(emb.filter(col("vec_id") < 10), emb, 50)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
      .count(exact50.contains)
    assert(hits >= 12,
      s"IVF+PQ top-5 only $hits/50 inside exact top-50 (chance ≈ 5)")
    info(s"IVF+PQ top-5 ∩ exact top-50 = $hits/50")
  }

  test("connected components: 300-node chain converges (diameter >> any iteration cap)") {
    // A chain is the worst case for plain min-label propagation (one
    // label hop per round — the round-3 algorithm capped at 50 rounds and
    // silently returned WRONG labels for this graph). Large-star/
    // small-star halves star depth every round, so 300 nodes converge in
    // ~log2(300) rounds or the cap-throw fires.
    import spark.implicits._
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val df = Dedup.connectedComponents(spark, chain)
    val labels = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    df.unpersist()
    assert(labels.size == 300)
    assert(labels.values.forall(_ == 0L), "every chain node must label to the minimum (0)")
  }

  test("connected components match driver-side union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val n = 200
    val edges = Seq.fill(160)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // driver-side union-find ground truth
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct.map { v =>
      val root = find(v.toInt)
      val minMember = (0 until n).filter(find(_) == root)
        .filter(m => edges.exists(e => e._1 == m || e._2 == m)).min
      v -> minMember.toLong
    }.toMap
    val ccDf = Dedup.connectedComponents(spark, edges.toDF("doc_a", "doc_b"))
    val got = ccDf.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    ccDf.unpersist()
    assert(got == expected)
  }

  test("connected components write RELIABLE checkpoints when a dir is configured") {
    // TestSpark configures a checkpoint dir (as Verify does), so the
    // df.checkpoint() production branch — not localCheckpoint — runs in
    // the gate; assert the branch actually materialized checkpoint files.
    import spark.implicits._
    val dir = spark.sparkContext.getCheckpointDir
      // getCheckpointDir returns a URI ("file:/…") — resolve to a local path
      .map(d => new java.io.File(new java.net.URI(
        if (d.contains(":/")) d else "file://" + d)))
    assert(dir.isDefined, "suite session must configure a checkpoint dir")
    val before = countFiles(dir.get)
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val df = Dedup.connectedComponents(spark, chain)
    val labels = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    df.unpersist()
    assert(labels.size == 64 && labels.values.forall(_ == 0L))
    assert(countFiles(dir.get) > before,
      "no reliable checkpoint files were written — the production branch did not run")
  }

  private def countFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0)
    else 1

  test("stop-shingle filter collapses quadratic LSH candidates on boilerplate corpora") {
    // 120 docs = one shared 40-token boilerplate block + 3 unique tokens:
    // unfiltered, the boilerplate owns nearly every MinHash minimum, so
    // all signatures collide and candidates go ~all-pairs; the df filter
    // (df > max(5, n div 10)) drops exactly those shingles and candidates
    // collapse to near-zero. This is the documented hot-bucket scale
    // hazard made concrete, and the mitigation pinned.
    import spark.implicits._
    val boiler = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = (0 until 120)
      .map(i => (i.toLong, s"$boiler unique${i}a unique${i}b unique${i}c"))
      .toDF("doc_id", "text")
    val sh = docs.as[(Long, String)]
      .map { case (id, t) => (id, Dedup.shingleSet(t)) }
      .toDF("doc_id", "shingles")
    def nCands(rel: org.apache.spark.sql.DataFrame): Long = {
      val df = Dedup.candidatesFromSignatures(
        Dedup.signaturesFromShingles(spark, rel))
      val n = df.collect().length.toLong
      // the lsh_candidates observe() metric rides the same action and
      // must agree with the materialized count (production observability)
      val m = df.queryExecution.observedMetrics("lsh_candidates")
      assert(m.getAs[Long]("n_candidates") == n, "observe metric disagrees")
      n
    }
    val raw = nCands(sh)
    val filtered = nCands(Dedup.stopShingleFiltered(sh))
    val allPairs = 120L * 119 / 2
    info(s"candidates: unfiltered $raw of $allPairs pairs; stop-filtered $filtered")
    assert(raw > allPairs / 2,
      s"fixture lost its pathology: only $raw of $allPairs pairs collide unfiltered")
    assert(filtered < 120,
      s"stop-shingle filter left $filtered candidates — hot buckets survived")
    // and on the REAL fixture the filter is a near-no-op: q99 ≡ q27
    val q27 = Dedup.queries("q27_dedup_minhash")(spark, sf0001).collect()
    val q99 = Dedup.queries("q99_dedup_stop_shingle")(spark, sf0001).collect()
    assert(q99.sameElements(q27),
      "fixture has no corpus-wide boilerplate, so q99 must equal q27")
  }

  test("roundedCosine propagates non-finite values instead of throwing") {
    // zero-norm (or corrupt) embeddings divide to NaN/Inf; BigDecimal
    // rounding would throw and kill the whole IVF job (round-3 advisor
    // finding) — the guard must propagate like the Column round() did
    val zero = Array.fill(4)(0.0f)
    val v = Array(1.0f, 2.0f, 3.0f, 4.0f)
    assert(Similarity.roundedCosine(zero, v).isNaN)
    assert(Similarity.roundedCosine(zero, zero).isNaN)
    assert(Similarity.roundedCosine(v, v) == 1.0)
  }

  test("exact dedup groups: every group keeps its minimum doc_id") {
    val rows = Dedup.queries("q26_dedup_exact")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_dups")).sum
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(total == nDocs, "dup-group sizes must partition the corpus")
  }

  test("IVF ANN achieves decent recall@5 vs brute-force cosine") {
    def pairs(name: String) =
      Similarity.queries(name)(spark, sf0001)
        .select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q30_cosine_topk")
    val ann = pairs("q31_ann_ivf")
    assert(exact.size == 50) // 10 probes x top-5
    val recall = exact.count(ann.contains).toDouble / exact.size
    // nProbe=4 of 64 cells over weakly-clustered synthetic vectors:
    // asserts the machinery works with meaningful recall, not SOTA quality.
    assert(recall >= 0.3, s"ANN recall@5 = $recall")
    info(s"IVF recall@5 = $recall")
  }

  test("IVF coarse quantizer scales as √n — different k at different corpus sizes") {
    // k(n) = max(16, ⌈√n⌉): deterministic, replayed by the oracle's
    // greatest(16, ceil(sqrt(count(*)))). The two fixture scales must
    // yield DIFFERENT k (the adaptivity is exercised, not latent), and
    // the plan must not embed centroids as literals (broadcast variable
    // instead), so plan size stays corpus-independent.
    assert(Similarity.ivfK(1) == 16)
    assert(Similarity.ivfK(500) == 23)
    assert(Similarity.ivfK(2000) == 45)
    assert(Similarity.ivfK(1000000) == 1000)
    val k1 = Similarity.ivfK(Tables.embeddings(spark, sf0001).count())
    val k2 = Similarity.ivfK(
      Tables.embeddings(spark, "/root/testdata/sf0.1").count())
    assert(k1 != k2, s"fixture scales yield the same k ($k1) — rule untested")
    val df = Similarity.queries("q31_ann_ivf")(spark, sf0001)
    val planChars = df.queryExecution.analyzed.toString.length
    assert(planChars < 100000,
      s"q31 plan is $planChars chars — centroids are leaking into the plan as literals")
  }

  test("IVF knn-graph candidate volume grows SUB-quadratically across scales") {
    // The round-5 scale flaw: fixed k=64 made q73-style candidate volume
    // grow ~n²/64. With k = ⌈√n⌉ it grows ~nProbe·n^1.5. Measured through
    // the ivf_candidates observe() metric riding the main action.
    def run(d: String): (Long, Long) = {
      val df = Similarity.queries("q73_knn_graph")(spark, d)
      df.collect() // collect() runs THIS Dataset's queryExecution, so the
      // observed metrics land on it (a write would plan a fresh execution)
      val m = df.queryExecution.observedMetrics("ivf_candidates")
      (Tables.embeddings(spark, d).count(), m.getAs[Long]("n_candidates"))
    }
    val (n1, c1) = run(sf0001)
    val (n2, c2) = run("/root/testdata/sf0.1")
    assert(c1 > 0 && c2 > 0)
    val nRatio = n2.toDouble / n1
    val cRatio = c2.toDouble / c1
    info(f"n: $n1 -> $n2 (×$nRatio%.1f); candidates: $c1 -> $c2 (×$cRatio%.1f); " +
      f"quadratic would be ×${nRatio * nRatio}%.1f")
    assert(cRatio < nRatio * nRatio * 0.75,
      f"candidate growth ×$cRatio%.1f is not meaningfully sub-quadratic " +
        f"(n ratio ×$nRatio%.1f, quadratic ×${nRatio * nRatio}%.1f)")
  }

  test("q88 recursive-CTE clusters equal q72's star-contraction clusters") {
    // two independent engine paths (iterative checkpointed contraction vs
    // SQL-native WITH RECURSIVE) must produce the identical assignment
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"))
    val viaIteration = Dedup.queries("q72_dedup_clusters")(spark, sf0001)
      .collect().map(key).sorted
    val viaRecursion = Dedup.queries("q88_recursive_clusters")(spark, sf0001)
      .collect().map(key).sorted
    assert(viaRecursion.sameElements(viaIteration))
    assert(viaRecursion.nonEmpty)
  }

  test("LSH ANN (q102): plane count adapts to corpus size, results verify exactly") {
    // integer plane-count rule: smallest p with 8·2^p ≥ n, clamped [4,24]
    assert(Similarity.lshNPlanes(1) == 4)
    assert(Similarity.lshNPlanes(500) == 6)
    assert(Similarity.lshNPlanes(2000) == 8)
    assert(Similarity.lshNPlanes(1000000000000L) == 24)
    val rows = Similarity.queries("q102_ann_lsh")(spark, sf0001).collect()
    assert(rows.nonEmpty, "no probe shared a bucket with any vector")
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val bySrc = rows.groupBy(_.getAs[Long]("probe_id"))
    // multi-probe (own bucket + p Hamming-1 flips) gives every probe a
    // candidate pool on this fixture
    assert(bySrc.size == 10, s"only ${bySrc.size} of 10 probes found neighbors")
    bySrc.foreach { case (probe, es) =>
      val sorted = es.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.length <= 5)
      sorted.foreach { r =>
        val nbr = r.getAs[Long]("vec_id")
        assert(nbr != probe)
        assert(r.getAs[Double]("cos") ==
          Similarity.roundedCosine(emb(probe), emb(nbr)))
      }
    }
    // recall vs the exact brute force — fully deterministic (fixed data,
    // seeded planes), so the floor just pins today's measured behavior
    val exact = Similarity.queries("q30_cosine_topk")(spark, sf0001)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    info(s"multi-probe LSH recall@5 = $recall")
    assert(recall > 0.0, "LSH found none of the true top-5 neighbors")
    // determinism (seeded planes + deterministic rule)
    assert(Similarity.queries("q102_ann_lsh")(spark, sf0001).collect()
      .sameElements(rows))
  }

  test("cosine scores are in [-1, 1] and self-similarity excluded") {
    val rows = Similarity.queries("q30_cosine_topk")(spark, sf0001).collect()
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cos"); c >= -1.0001 && c <= 1.0001 })
    assert(rows.forall(r => r.getAs[Long]("probe_id") != r.getAs[Long]("vec_id")))
  }

  test("ANN re-rank plans through the heap operator (q30, q102, q31)") {
    // Round-6 judge ask #5: the per-probe top-k windows must not depend
    // on Spark's InferWindowGroupLimit for their pre-sort cut — the heap
    // operator (partial pre-cut under the exchange, O(n log k), no sort
    // buffer) cuts candidates to k, and the rank window then sorts ≤ k
    // rows per probe on the heap's own partitioning.
    for (q <- Seq("q30_cosine_topk", "q102_ann_lsh", "q31_ann_ivf")) {
      val df = Similarity.queries(q)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("TopKPerGroup "),
        s"$q lost its heap pre-cut:\n${plan.take(3000)}")
      // the window consumes the heap output (plan prints top-down)
      assert(plan.indexOf("Window") < plan.indexOf("TopKPerGroup "),
        s"$q: window must sit above the heap cut:\n${plan.take(3000)}")
    }
  }

  test("q120 shared spans: catches a 40-char quote CDC misses and Jaccard under-scores") {
    import spark.implicits._
    // An 8-token, 40-char exact quote embedded in two otherwise-unrelated
    // docs — the overlap class the repo's other dedup operators each roll
    // past: CDC (q116) expects ~64-char chunks so no content-defined
    // chunk fits inside the quote, and whole-doc shingle Jaccard (q27)
    // scores the pair far below the 0.8 threshold.
    // chosen so NO interior 8-char rolling-hash window satisfies
    // h % 64 == 0 — boundary cuts inside the quote would be context-free
    // and land identically in both docs, handing CDC the pair for free
    val quote = "howls leaps over wise the lazy sings red"
    assert(quote.length == 40)
    val docA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      quote + " lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docB = "one two three four five six seven eight nine ten " +
      quote + " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    val docC = "unrelated filler words carrying no repeated span at all " +
      "more filler continuing differently onwards"
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")

    val spans = Dedup.sharedSpans(spark, docs).collect()
    assert(spans.length == 1, s"expected exactly the (1,2) pair, got ${spans.toSeq}")
    val r = spans.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    // the maximal run is the quote's 8 tokens (surrounding text disjoint)
    assert(r.getLong(2) == 8L, s"max_span_toks = ${r.getLong(2)}")
    assert(r.getLong(3) == 1L, s"n_spans = ${r.getLong(3)}")

    // CDC chunking finds NO shared chunk on the same pair: no boundary
    // pair lands inside the 40-char quote, so every chunk containing it
    // also contains unshared context.
    val chunksA = functions.TextQueries.cdcChunks(docA).toSet
    val chunksB = functions.TextQueries.cdcChunks(docB).toSet
    assert((chunksA & chunksB).isEmpty,
      s"CDC unexpectedly shares chunks: ${chunksA & chunksB}")

    // and whole-doc shingle Jaccard is far below the q27 dedup threshold
    val shA = Dedup.shingleSet(docA).toSet
    val shB = Dedup.shingleSet(docB).toSet
    val j = (shA & shB).size.toDouble / (shA | shB).size
    assert(j < 0.8, s"jaccard $j should be sub-threshold")
  }

  test("q242 substr scrub: non-canonical duplicated windows excised, canonical and clean docs intact") {
    import spark.implicits._
    // the q120 fixture shape: an 8-token quote shared by two docs, one
    // clean doc, plus a WITHIN-doc repeat and a 10-token shared run
    // (overlapping duplicated windows must union to the full run)
    val quote = "howls leaps over wise the lazy sings red"
    val docA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      quote + " lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docB = "one two three four five six seven eight nine ten " +
      quote + " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    val docC = "unrelated words carrying no repeated span at all " +
      "more content continuing differently onwards"
    val phrase = "copper silver golden iron bronze nickel zinc lead"
    val docD = phrase + " amid quiet " + phrase
    val run10 = "ember frost petal stone river cloud meadow thorn grove spark"
    val docE = "aa bb cc " + run10 + " dd ee"
    val docF = "ff gg hh ii " + run10 + " jj"
    val docs = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD),
      (5L, docE), (6L, docF), (7L, null: String)).toDF("doc_id", "text")

    val r = Dedup.substrScrub(spark, docs).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // null text tokenizes to nothing (the SQL-side split semantics, not
    // a task NPE) — absent from the output exactly like the oracle
    assert(!r.contains(7L) && r.size == 6)
    // doc 1 holds the canonical (min (doc_id, pos)) quote — untouched
    assert(r(1L) == ((28L, 0L, docA)))
    // doc 2 loses EXACTLY the 8 quote tokens; its own context survives
    assert(r(2L) == ((25L, 8L,
      "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen seventeen")))
    // no duplicated window anywhere → byte-identical
    assert(r(3L) == ((13L, 0L, docC)))
    // within-doc repeat: the SECOND occurrence of the phrase goes
    assert(r(4L) == ((18L, 8L, phrase + " amid quiet")))
    // 10-token shared run: the three overlapping duplicated windows
    // union to the run's full 10 positions in the non-canonical doc
    assert(r(5L) == ((15L, 0L, docE)))
    assert(r(6L) == ((15L, 10L, "ff gg hh ii jj")))
  }

  test("q155 BM25: well-formed top-5, and idf/length-norm depart from raw overlap") {
    val rows = Similarity.queries("q155_bm25_topk")(spark, sf0001).collect()
    assert(rows.length == 50, s"expected 10 probes x 5, got ${rows.length}")
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 5),
        s"probe $p ranks malformed")
      assert(!rs.exists(_.getAs[Long]("doc_id") == p), s"probe $p ranked itself")
      val sc = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("bm25"))
      assert(sc.forall(_ > 0) && sc.zip(sc.tail).forall { case (a, b) => a >= b },
        s"probe $p scores not positive/non-increasing: ${sc.mkString(",")}")
    }
    // BM25's idf damping + tf saturation + length norm must actually
    // change the answer vs q146's raw distinct-token overlap arm: at
    // least one probe's BM25 top-5 set differs from its overlap top-5
    import spark.implicits._
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        functions.Tokens.split(t).distinct.map(w => (id, w)) }
      .toDF("doc_id", "tok")
    val overlapTop = toks.join(
        toks.filter(col("doc_id") < 10)
          .select(col("doc_id").as("probe_id"), col("tok")), "tok")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("ov"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("ov").desc, col("doc_id"))))
      .filter(col("rk") <= 5).collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    val bmTop = rows.groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(bmTop.keySet == overlapTop.keySet)
    assert(bmTop.exists { case (p, s) => s != overlapTop(p) },
      "BM25 never departed from raw overlap — weighting is inert")
  }

  test("q168 phrase search: counts equal a direct sliding-window recount") {
    val rows = Similarity.queries("q168_phrase_search")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("doc_id"))
        -> r.getAs[Long]("n_matches")).toMap
    assert(rows.nonEmpty, "probe phrases must occur in the fixture")
    // recount every (phrase, doc) pair independently: tokenize the raw
    // text and slide a window — overlapping occurrences count each time
    val texts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val probes = Seq("table table", "fast sort", "scan query",
      "sort key agg").map(p => p -> p.split(' ').toSeq)
    val expected = (for {
      (docId, text) <- texts.toSeq
      ts = text.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq
      (p, ws) <- probes
      n = ts.sliding(ws.length).count(_ == ws) if n > 0
    } yield (p, docId) -> n.toLong).toMap
    assert(rows == expected, "phrase counts must match the direct recount")
  }

  test("q216 centroid drift: halves partition each label, crafted stable class reads 1.0 and orthogonal class 0.0") {
    val rows = graft.functions.Embeddings.queries("q216_centroid_drift")(
      spark, sf0001).collect()
    assert(rows.nonEmpty)
    val labelCounts = Tables.embeddings(spark, sf0001)
      .groupBy(col("label")).count().collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val c = r.getAs[Double]("drift_cos")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"$r")
      assert(r.getAs[Long]("n_even") + r.getAs[Long]("n_odd") ==
        labelCounts(r.getAs[Int]("label")), s"$r")
    }
    // crafted contract: a class whose two halves share one direction
    // drifts to exactly 1.0; a class whose halves are orthogonal to 0.0
    import spark.implicits._
    val dir = Tables.scratchDir(spark, "q216vecs")
    def basis(i: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    Seq(
      (0L, basis(0), 0), (1L, basis(0), 0), // label 0: stable
      (2L, basis(1), 1), (3L, basis(2), 1), // label 1: orthogonal halves
      (4L, basis(3), 2), (6L, basis(3), 2)) // label 2: one parity half only
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val crafted = graft.functions.Embeddings.queries("q216_centroid_drift")(
      spark, dir).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("drift_cos")).toMap
    assert(crafted(0) == 1.0, s"stable class must read 1.0: $crafted")
    assert(crafted(1) == 0.0, s"orthogonal class must read 0.0: $crafted")
    // pinned contract (round-12 advisor): a label whose vectors all land
    // in one vec_id-parity half has no between-half drift to measure and
    // is ABSENT from the monitor (the oracle inner-joins identically) —
    // degenerate arrival is a count-query problem, not a drift number
    assert(!crafted.contains(2),
      s"single-half label must be absent from the drift report: $crafted")
  }

  test("q217 embedding outliers: five per label, ascending, scores track a brute-force recount") {
    val rows = graft.functions.Embeddings.queries("q217_embedding_outliers")(
      spark, sf0001).collect()
    val byLabel = rows.groupBy(_.getAs[Int]("label"))
    // brute-force: rounded per-label centroid, rounded cosine per vector
    val vecs = Tables.embeddings(spark, sf0001).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cen = vecs.groupBy(_._2).map { case (l, vs) =>
      l -> Array.tabulate(64)(j => r6(vs.map(_._3(j)).sum / vs.length))
    }
    val brute = vecs.map { case (id, l, e) =>
      val m = cen(l)
      val dp = e.zip(m).map { case (a, b) => a * b }.sum
      val c = dp / (math.sqrt(e.map(x => x * x).sum) *
        math.sqrt(m.map(x => x * x).sum))
      (l, id, r6(c))
    }
    byLabel.foreach { case (l, rs) =>
      assert(rs.length == 5, s"label $l: ${rs.length} outliers")
      val cs = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(cs.toSeq == cs.sorted.toSeq, s"label $l not ascending")
      // each reported score matches the recount for that vector, and the
      // cut is genuinely the bottom of the distribution (≤ the 6th-lowest
      // brute score, with an ulp allowance at the rounding boundary)
      val bs = brute.filter(_._1 == l).map(_._3).sorted
      rs.foreach { r =>
        val want = brute.find(b => b._1 == l &&
          b._2 == r.getAs[Long]("vec_id")).get._3
        assert(math.abs(r.getAs[Double]("cos") - want) <= 2e-6, s"$r vs $want")
      }
      assert(cs.max <= bs(5) + 2e-6, s"label $l cut above the 6th-lowest")
    }
  }

  test("q242 substr scrub: randomized parity against an in-JVM brute reference") {
    import spark.implicits._
    // tiny vocab (3^8 = 6561 possible 8-grams vs ~hundreds drawn) forces
    // ORGANIC duplicated windows; a planted 10-token run in two random
    // docs guarantees at least one cross-doc removal per seed
    val vocab = Vector("ash", "birch", "cedar")
    val run10 = "ember frost petal stone river cloud meadow thorn grove spark"
    def corpus(seed: Long): Seq[(Long, String)] = {
      val rnd = new scala.util.Random(seed)
      val base = (0 until 8).map { i =>
        (i.toLong,
          Seq.fill(20 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val Seq(a, b) = rnd.shuffle(base.indices.toList).take(2)
      base.zipWithIndex.map { case ((id, t), i) =>
        if (i == a || i == b) (id, t + " " + run10) else (id, t)
      }
    }
    def brute(docs: Seq[(Long, String)], n: Int = 8)
        : Map[Long, (Long, Long, String)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.split("[^\\p{L}]+").filter(_.nonEmpty).toVector }
      val occ = scala.collection.mutable.Map
        .empty[String, List[(Long, Int)]].withDefaultValue(Nil)
      toks.foreach { case (id, ts) =>
        (0 to ts.length - n).foreach { i =>
          val g = ts.slice(i, i + n).mkString(" ")
          occ(g) = (id, i + 1) :: occ(g)
        }
      }
      val removed = scala.collection.mutable.Set.empty[(Long, Int)]
      occ.values.foreach { os =>
        if (os.length >= 2) {
          val canon = os.minBy(o => (o._1, o._2))
          os.filterNot(_ == canon).foreach { case (id, p) =>
            (p until p + n).foreach(k => removed += ((id, k))) }
        }
      }
      toks.map { case (id, ts) =>
        val kept = ts.zipWithIndex.collect {
          case (t, i) if !removed((id, i + 1)) => t }
        id -> ((ts.length.toLong, (ts.length - kept.length).toLong,
          kept.mkString(" ")))
      }.toMap
    }
    (1L to 5L).foreach { seed =>
      val docs = corpus(seed)
      val want = brute(docs)
      val got = Dedup.substrScrub(spark, docs.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got == want, s"seed=$seed")
      assert(want.values.map(_._2).sum > 0, s"seed=$seed vacuous")
    }
  }

  test("q244 diversity prune: rank is the brute (cos DESC, vec_id) order, exactly the most-central quarter pruned") {
    val rows = graft.functions.Embeddings.queries("q244_diversity_prune")(
      spark, sf0001).collect()
    // brute-force: the q217 recount (same rounded centroid/cosine), then
    // the full per-label (cos DESC, vec_id ASC) order
    val vecs = Tables.embeddings(spark, sf0001).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cen = vecs.groupBy(_._2).map { case (l, vs) =>
      l -> Array.tabulate(64)(j => r6(vs.map(_._3(j)).sum / vs.length))
    }
    val brute = vecs.map { case (id, l, e) =>
      val m = cen(l)
      val dp = e.zip(m).map { case (a, b) => a * b }.sum
      (l, id, r6(dp / (math.sqrt(e.map(x => x * x).sum) *
        math.sqrt(m.map(x => x * x).sum))))
    }.groupBy(_._1).map { case (l, vs) =>
      l -> vs.sortBy(v => (-v._3, v._2)).map(v => (v._2, v._3))
    }
    // every vector appears exactly once
    assert(rows.length == vecs.length)
    rows.groupBy(_.getAs[Int]("label")).foreach { case (l, rs) =>
      val got = rs.sortBy(_.getAs[Long]("rk"))
      val want = brute(l)
      assert(got.length == want.length, s"label $l size")
      // the distributed two-phase ladder reproduces the brute total
      // order (modulo rounding-boundary ties, which both sides break by
      // vec_id on IDENTICAL rounded scores — so ids must match exactly)
      got.zip(want).zipWithIndex.foreach { case ((g, (id, c)), i) =>
        assert(g.getAs[Long]("vec_id") == id,
          s"label $l rank ${i + 1}: ${g.getAs[Long]("vec_id")} vs $id")
        assert(math.abs(g.getAs[Double]("cos") - c) <= 2e-6)
        assert(g.getAs[Long]("rk") == i + 1)
      }
      // keep rule: exactly the floor(n/4) most-central (highest-cos)
      // pruned, everything else kept
      val n = want.length
      got.foreach { g =>
        assert(g.getAs[Boolean]("kept") == (g.getAs[Long]("rk") * 4 > n),
          s"label $l rk ${g.getAs[Long]("rk")}")
      }
      assert(got.count(!_.getAs[Boolean]("kept")) == n / 4, s"label $l quota")
    }
  }

  test("q245 hard negatives: argmax per class recounted from the graph, labels honest, margin exact") {
    val lab = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val edges = graft.functions.KnnDescent.queries("q231_knn_descent")(
      spark, sf0001).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Double]("cos")))
    val rows = graft.functions.KnnDescent.queries("q245_hard_negatives")(
      spark, sf0001).collect()
    assert(rows.nonEmpty, "fixture mined no pairs — vacuous")
    // brute argmax per (src, same/other-label side), (cos, nbr) order
    def bestOf(same: Boolean) = edges
      .filter { case (s, n, _) => (lab(s) == lab(n)) == same }
      .groupBy(_._1)
      .map { case (s, es) => s -> es.maxBy(e => (e._3, e._2)) }
    val (pos, neg) = (bestOf(true), bestOf(false))
    // exactly the srcs with BOTH sides present, each row the argmax pair
    assert(rows.map(_.getAs[Long]("src_id")).toSet ==
      (pos.keySet & neg.keySet))
    rows.foreach { r =>
      val s = r.getAs[Long]("src_id")
      assert((r.getAs[Long]("pos_id"), r.getAs[Double]("pos_cos")) ==
        (pos(s)._2, pos(s)._3), s"src $s positive")
      assert((r.getAs[Long]("neg_id"), r.getAs[Double]("neg_cos")) ==
        (neg(s)._2, neg(s)._3), s"src $s negative")
      // the labels really are same-class / other-class
      assert(lab(r.getAs[Long]("pos_id")) == lab(s))
      assert(lab(r.getAs[Long]("neg_id")) != lab(s))
      assert(math.abs(r.getAs[Double]("margin") -
        (r.getAs[Double]("pos_cos") - r.getAs[Double]("neg_cos"))) < 2e-6)
    }
    // the mining is non-trivial on the fixture: both margin signs occur
    // (some points are confusable — the rows a curriculum oversamples)
    val margins = rows.map(_.getAs[Double]("margin"))
    assert(margins.exists(_ > 0) && margins.exists(_ < 0),
      s"degenerate margins: ${margins.take(5).toSeq}")
  }

  test("q218 bloom decontamination: no false negatives vs the exact join, audit column is honest, FP rate sane") {
    val rows = graft.functions.Dedup.queries("q218_bloom_decontam")(
      spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // Bloom filters never produce false negatives: every doc q74 flags
    // must appear here with n_exact equal to q74's shared-gram count and
    // n_bloom_hits covering it
    val exact = graft.functions.Dedup.queries("q74_decontaminate")(
      spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(exact.nonEmpty, "fixture has no contamination — vacuous")
    exact.foreach { case (id, n) =>
      val r = rows.getOrElse(id,
        fail(s"doc $id flagged by the exact join but missed by Bloom"))
      assert(r.getAs[Long]("n_exact") == n, s"$id exact count drifted")
      assert(r.getAs[Long]("n_bloom_hits") >= n, s"$id bloom < exact")
    }
    // the audit arithmetic holds row by row and FPs are a minority
    var bloom = 0L; var fp = 0L
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_false_pos") ==
        r.getAs[Long]("n_bloom_hits") - r.getAs[Long]("n_exact"), s"$r")
      assert(r.getAs[Long]("n_false_pos") >= 0, s"$r")
      assert(r.getAs[Long]("n_bloom_hits") <= r.getAs[Long]("n_grams"), s"$r")
      bloom += r.getAs[Long]("n_bloom_hits"); fp += r.getAs[Long]("n_false_pos")
    }
    assert(fp < bloom, s"false positives dominate: $fp of $bloom")
  }

  test("q217/q218 plan shapes: centroid and bit-array joins broadcast, heap cut in the outlier plan") {
    // q217: the ≤labels×64 centroid rollup must broadcast (the corpus
    // never shuffles for the join) and the bottom-5 cut must be the
    // TopKPerGroup heap, not a global sort
    val p17 = graft.functions.Embeddings.queries("q217_embedding_outliers")(
      spark, sf0001).queryExecution.executedPlan.toString
    assert(p17.contains("BroadcastHashJoin"),
      s"centroid join is not broadcast:\n${p17.take(600)}")
    assert(p17.contains("TopKPerGroup "),
      s"bottom-5 cut is not the heap:\n${p17.take(600)}")
    // q218: the Bloom bit-position table must broadcast — the whole
    // point of the sketch is that the corpus side probes map-side
    val p18 = graft.functions.Dedup.queries("q218_bloom_decontam")(
      spark, sf0001).queryExecution.executedPlan.toString
    assert(p18.contains("BroadcastHashJoin"),
      s"bit-array join is not broadcast:\n${p18.take(600)}")
  }

  test("q220 cross-label near-dups: exactly the q231 edges above the near-dup threshold with mismatched labels") {
    val rows = graft.functions.Similarity.queries("q220_crosslabel_neardup")(
      spark, sf0001).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id")) ->
        (r.getAs[Int]("src_label"), r.getAs[Int]("nbr_label"),
          r.getAs[Double]("cos"))).toMap
    assert(rows.nonEmpty, "fixture has no cross-label near-dups — vacuous")
    val labels = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    // compose recount: the q231 NN-descent edges (the production graph
    // since round 14), thresholded and label-filtered
    val want = graft.functions.KnnDescent.queries("q231_knn_descent")(
      spark, sf0001).collect()
      .filter(_.getAs[Double]("cos") >= 0.4)
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id")) ->
        r.getAs[Double]("cos"))
      .filter { case ((a, b), _) => labels(a) != labels(b) }.toMap
    assert(rows.keySet == want.keySet,
      s"edge set diverges from the q231 composition: ${rows.keySet.size} vs ${want.keySet.size}")
    rows.foreach { case ((a, b), (la, lb, c)) =>
      assert(la == labels(a) && lb == labels(b), s"($a,$b) labels wrong")
      assert(la != lb, s"($a,$b) labels agree — must have been filtered")
      assert(c == want((a, b)), s"($a,$b) cos drifted")
      assert(c >= 0.4, s"($a,$b) below the near-dup edge")
    }
  }

  test("q231 nn-descent graph: contiguous ranks, no self-edges, exact cos on edges") {
    val rows = graft.functions.KnnDescent.queries("q231_knn_descent")(
      spark, sf0001).collect()
    assert(rows.nonEmpty)
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.groupBy(_.getAs[Long]("src_id")).foreach { case (src, es) =>
      val sorted = es.sortBy(_.getAs[Int]("rk"))
      // ranks contiguous from 1, at most K (a vector whose probed
      // buckets and descent frontier hold fewer than K others
      // legitimately has fewer edges)
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.length <= graft.functions.KnnDescent.K)
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      sorted.foreach { r =>
        val nbr = r.getAs[Long]("nbr_id")
        assert(nbr != src)
        assert(r.getAs[Double]("cos") ==
          Similarity.roundedCosine(emb(src), emb(nbr)))
      }
    }
  }

  test("q231 descent rounds dominate pointwise: no src loses edges or cosine mass") {
    // candidates(t) always contain the current edges, so each round's
    // top-K per src is a pointwise >= replacement of the last round's —
    // the monotone-improvement invariant NN-descent's convergence
    // argument rests on (Dong et al. 2011 §2)
    val st = graft.functions.KnnDescent.stages(spark,
      Tables.embeddings(spark, sf0001), sf0001 + "#stages")
    val per: IndexedSeq[Map[Long, Seq[Double]]] = st.map(_.collect()
      .groupBy(_.getAs[Long]("src"))
      .map { case (s, es) =>
        s -> es.map(_.getAs[Double]("cos")).sortBy(-_).toSeq })
    assert(per.head.nonEmpty)
    for (t <- 1 until per.length; (src, prev) <- per(t - 1)) {
      val cur = per(t).getOrElse(src, Seq.empty)
      assert(cur.length >= prev.length, s"round $t dropped edges of $src")
      prev.indices.foreach { i =>
        assert(cur(i) >= prev(i),
          s"round $t worsened rank-${i + 1} cos of $src: ${prev(i)} -> ${cur(i)}")
      }
    }
  }

  test("NN-descent Hamming-2 probe radius: seed pairs a strict superset, seed cut pointwise dominates") {
    // the executable recall dial (probeRadius = 2): probed buckets at
    // radius 1 are a subset, so candidate PAIRS must be a superset and
    // the resulting top-K per src pointwise >= the radius-1 graph
    val emb = Tables.embeddings(spark, sf0001)
    def pairs(radius: Int) = graft.functions.KnnDescent
      .seedScored(spark, emb, sf0001 + "#radius", radius)
      .select("src", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs(1); val p2 = pairs(2)
    assert(p1.subsetOf(p2), "radius-2 seed must contain every radius-1 pair")
    assert(p2.size > p1.size, "radius-2 must actually widen the seed")
    // pointwise dominance holds at the SEED CUT (stage 0: top-K over a
    // superset of scored pairs) — NOT at the final graph, where the two
    // descent trajectories explore different neighbors-of-neighbors
    // and greedy local search can land elsewhere on individual srcs
    // (observed: radius 2 worsened one src's rank-2 at sf0.001)
    def seedTop(radius: Int): Map[Long, Seq[Double]] = graft.functions
      .KnnDescent.stages(spark, emb, sf0001 + "#radius", radius).head
      .collect().groupBy(_.getAs[Long]("src"))
      .map { case (s, es) =>
        s -> es.map(_.getAs[Double]("cos")).sortBy(-_).toSeq }
    val g1 = seedTop(1); val g2 = seedTop(2)
    g1.foreach { case (src, cs1) =>
      val cs2 = g2.getOrElse(src, Seq.empty)
      assert(cs2.length >= cs1.length)
      cs1.indices.foreach(i => assert(cs2(i) >= cs1(i),
        s"radius 2 worsened seed rank-${i + 1} of $src"))
    }
  }

  test("NN-descent seed candidate volume grows quasi-linearly across scales") {
    // the whole point of the LSH seed: candidate volume ~n·occ·(p+1) =
    // O(n log n), vs the flat-IVF graph's nProbe·n^1.5 (q73's bound,
    // measured alpha=1.36 at 10x in round 13)
    def run(d: String): (Long, Long) = {
      val df = graft.functions.KnnDescent.seedScored(spark,
        Tables.embeddings(spark, d), d + "#seedgrowth")
      df.collect()
      val m = df.queryExecution.observedMetrics("nnd_seed_candidates_r1")
      (Tables.embeddings(spark, d).count(), m.getAs[Long]("n_candidates"))
    }
    val (n1, c1) = run(sf0001)
    val (n2, c2) = run("/root/testdata/sf0.1")
    assert(c1 > 0 && c2 > 0)
    val nRatio = n2.toDouble / n1
    val cRatio = c2.toDouble / c1
    info(f"n: $n1 -> $n2 (×$nRatio%.1f); seed candidates: $c1 -> $c2 " +
      f"(×$cRatio%.1f); n^1.5 would be ×${math.pow(nRatio, 1.5)}%.1f")
    assert(cRatio < math.pow(nRatio, 1.5) * 0.85,
      f"seed candidate growth ×$cRatio%.1f is not meaningfully below " +
        f"the flat-IVF n^1.5 bound (×${math.pow(nRatio, 1.5)}%.1f)")
  }

  test("NN-descent graph cache detects a blanket RDD unpersist and rebuilds (r16 q240 anomaly)") {
    // the r16 anomaly's exact state: a harness residue sweep strips every
    // persisted RDD's blocks and storage levels while the module cache
    // keeps its DataFrame handle — graph() must detect the dead handle
    // (CacheManager entry present, buffers' level gone) and rebuild
    // instead of re-deriving the chain per consumer
    val emb = Tables.embeddings(spark, sf0001)
    val key = sf0001 + "#stalecheck"
    val g1 = graft.functions.KnnDescent.graph(spark, emb, key)
    val before = g1.orderBy(col("src"), col("cos").desc, col("nbr")).collect()
    assert(org.apache.spark.sql.graftbridge.GraftBridge
      .cachedAndMaterialized(g1), "fresh graph must read as materialized")
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    assert(!org.apache.spark.sql.graftbridge.GraftBridge
      .cachedAndMaterialized(g1), "the sweep must read as stale")
    val g2 = graft.functions.KnnDescent.graph(spark, emb, key)
    assert(org.apache.spark.sql.graftbridge.GraftBridge
      .cachedAndMaterialized(g2),
      "graph() must hand out a freshly materialized relation after the sweep")
    val after = g2.orderBy(col("src"), col("cos").desc, col("nbr")).collect()
    assert(before.sameElements(after),
      "the rebuild must reproduce the graph bit-for-bit")
    SessionCache.release(spark, "knnd")
  }

  test("q240 sampled audit: recounts from q231's edges vs in-JVM brute-force exact on the sample") {
    val row = graft.functions.KnnDescent.queries("q240_sampled_knn_audit")(
      spark, sf0001).head()
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val stride = math.max(1L, emb.size / 200L)
    val probes = emb.keys.filter(_ % stride == 0).toSeq
    val exact = probes.flatMap { p =>
      emb.keys.filter(_ != p).toSeq
        .map(c => (c, Similarity.roundedCosine(emb(p), emb(c))))
        .sortBy { case (c, cos) => (-cos, c) }.take(3)
        .map { case (c, _) => (p, c) }
    }.toSet
    val g = graft.functions.KnnDescent.queries("q231_knn_descent")(
      spark, sf0001).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id")))
      .filter(_._1 % stride == 0).toSet
    assert(row.getAs[Long]("n_sampled") == probes.size)
    assert(row.getAs[Long]("n_exact_edges") == exact.size)
    assert(row.getAs[Long]("n_graph_edges") == g.size)
    assert(row.getAs[Long]("n_hits") == exact.intersect(g).size)
    assert(row.getAs[Double]("recall_at_3") ==
      math.round(exact.intersect(g).size.toDouble / exact.size * 1e6) / 1e6)
    // the audit must measure something real on this fixture
    assert(row.getAs[Double]("recall_at_3") > 0.0 &&
      row.getAs[Double]("recall_at_3") <= 1.0)
  }

  test("NN-descent auto-dial: measured radius-1 recall under the floor escalates, a planted-twin corpus keeps radius 1") {
    // the recall-TARGETED policy (round-15 verdict #3): the dial now
    // measures the radius-1 graph's sampled-exact recall@3 (the q240
    // audit) instead of a seed-margin proxy. The unstructured fixture's
    // radius-1 graph measures ≈ 0.18 (ann_recall artifacts) — far under
    // the 0.8 floor — so the policy must escalate to the Hamming-2 seed
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    assert(graft.functions.KnnDescent.autoRadius(spark, emb,
      sf0001 + "#dial_weak") == 2)
    // a corpus of identical QUADRUPLETS: every vector's exact top-3 ARE
    // its three twins (rounded cos 1.0 beats any non-twin), and all
    // four share an LSH bucket, so the radius-1 graph finds them all —
    // measured recall 1.0, and the cheap path stands on a MEASUREMENT
    val quad = (0 to 3).map(i => emb.select(
        (col("vec_id") + lit(i * 100000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    assert(graft.functions.KnnDescent.autoRadius(spark, quad,
      sf0001 + "#dial_strong") == 1)
  }

  test("recall policy audits the SHIPPED graph: r2-miss fires exactly one extra round, recall monotone (r17 verdict #1)") {
    // the weak (near-random) fixture: radius 1 misses the floor, the
    // warm-started radius-2 rebuild ALSO misses it (ann_recall r14-r17:
    // no seed radius reaches 0.8 on structure-free vectors), so the
    // defined response — one extra descent round — must fire, and every
    // graph the policy considered must carry a recorded measurement
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val legs = graft.functions.KnnDescent.measuredRecallMicro(spark, emb,
      sf0001 + "#shipaudit")
    assert(legs.map(_._1) == Seq("r1", "r2", "r2x1"),
      s"expected all three measured legs on the weak fixture, got $legs")
    // each non-final leg measured under the floor — that is WHY the
    // next leg exists
    assert(legs.init.forall(_._2 < graft.Thresholds.NndRecallFloorMicro),
      s"a leg at/above the floor must terminate the build: $legs")
    // monotone: candidates always include the current edges (and the
    // escalation warm-starts from r1's edges), so a true-top-3 edge
    // once found can only be displaced by a better true-top-3 edge —
    // sampled hits never drop
    assert(legs.map(_._2) == legs.map(_._2).sorted,
      s"measured recall must be monotone across legs: $legs")
    // the quadruplet corpus (every vector's exact top-3 are its twins,
    // found at radius 1): exactly ONE leg, at/above the floor — the
    // cheap path ships with its measurement and no response fires
    val quad = (0 to 3).map(i => emb.select(
        (col("vec_id") + lit(i * 100000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val strong = graft.functions.KnnDescent.measuredRecallMicro(spark, quad,
      sf0001 + "#shipaudit_strong")
    assert(strong.map(_._1) == Seq("r1") &&
      strong.head._2 >= graft.Thresholds.NndRecallFloorMicro,
      s"strong-structure corpus must keep the cheap path, got $strong")
  }

  test("q248 delta admission: an EMPTY delta is a no-op — the base graph passes through bit-for-bit (the q246 re-crawl discipline)") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val key = sf0001 + "#deltaempty"
    val admitted = graft.functions.KnnDescent.admitDelta(spark, emb,
      emb.filter(col("vec_id") < 0), key).collect()
    assert(admitted.nonEmpty)
    assert(admitted.forall(_.getAs[String]("src_kind") == "kept"),
      "an empty delta must leave every node untouched")
    val base = graft.functions.KnnDescent.graph(spark, emb, key)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"),
        r.getAs[Double]("cos"))).toSet
    val adm = admitted.map(r => (r.getAs[Long]("src"), r.getAs[Long]("nbr"),
      r.getAs[Double]("cos"))).toSet
    assert(adm == base, "empty-delta admission must equal the base graph " +
      s"edge-for-edge (diff: ${(adm -- base) ++ (base -- adm)})")
  }

  test("q248 delta-admitted graph matches the full rebuild's recall where the graph contract holds, stays within noise of it on the weak fixture (r17 verdict #1 done criterion)") {
    // STRUCTURED corpus — the regime the recall floor contracts for:
    // base = twin PAIRS (v, v+100000); the delta plants a THIRD twin
    // (v+200000) for every 10th v. A sampled base node's exact top-3
    // then CONTAINS a delta vector (rounded cos 1.0), so base→delta
    // edges exist that ONLY the reverse repair can add, and every
    // delta node's twins live in base. The pin: the admission finds
    // every sampled planted-twin edge the full rebuild finds —
    // recall ≥ on exactly the edges a structured corpus is built on.
    val embDf = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val baseDf = embDf.union(embDf.select(
      (col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val deltaDf = embDf.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    val admStruct = graft.functions.KnnDescent.admitDelta(spark, baseDf,
      deltaDf, sf0001 + "#structbase")
      .select("src", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebStruct = graft.functions.KnnDescent.graph(spark,
      baseDf.union(deltaDf), sf0001 + "#structall")
      .select("src", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val allVecs = baseDf.union(deltaDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val strideS = math.max(1L, allVecs.size / 200L)
    // sampled exact top-3 restricted to the PLANTED edges (cos 1.0)
    val twinExact = allVecs.keys.filter(_ % strideS == 0).toSeq.flatMap { p =>
      allVecs.keys.filter(_ != p).toSeq
        .map(c => (c, Similarity.roundedCosine(allVecs(p), allVecs(c))))
        .sortBy { case (c, cos) => (-cos, c) }.take(3)
        .filter(_._2 >= 0.999999).map { case (c, _) => (p, c) }
    }.toSet
    assert(twinExact.nonEmpty)
    val twinB2D = twinExact.filter { case (s, n) => s < 200000L && n >= 200000L }
    assert(twinB2D.nonEmpty,
      "the construction must plant base→delta ground-truth edges")
    val admHits = twinExact.intersect(admStruct).size
    val rebHits = twinExact.intersect(rebStruct).size
    info(s"structured corpus: admitted $admHits vs rebuild $rebHits of " +
      s"${twinExact.size} planted twin edges (${twinB2D.size} base→delta)")
    assert(admHits >= rebHits,
      s"delta admission lost planted edges the rebuild finds " +
        s"(missing: ${twinExact.intersect(rebStruct) -- admStruct})")
    assert(twinB2D.subsetOf(admStruct),
      "the reverse repair must attach every sampled base→delta twin " +
        s"(missing: ${twinB2D -- admStruct})")

    // WEAK fixture (near-random vectors, both graphs deep under the
    // recall floor): a delta-local repair cannot strictly dominate the
    // full rebuild here — the rebuild's own descent rounds saw the
    // delta vectors as BRIDGES, a structural advantage measured at
    // ~0.009 recall (and an every-node repair round still measured
    // 435/438 hits) — so the pin is a bounded gap, not dominance.
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val stride = math.max(1L, emb.size / 200L)
    val exact = emb.keys.filter(_ % stride == 0).toSeq.flatMap { p =>
      emb.keys.filter(_ != p).toSeq
        .map(c => (c, Similarity.roundedCosine(emb(p), emb(c))))
        .sortBy { case (c, cos) => (-cos, c) }.take(3)
        .map { case (c, _) => (p, c) }
    }.toSet
    def sampledRecall(name: String): Double = {
      val edges = graft.functions.KnnDescent.queries(name)(spark, sf0001)
        .collect()
        .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id")))
        .filter(_._1 % stride == 0).toSet
      exact.intersect(edges).size.toDouble / exact.size
    }
    val adm = sampledRecall("q248_knn_delta_admit")
    val reb = sampledRecall("q231_knn_descent")
    info(f"weak fixture: delta-admitted recall $adm%.4f vs full-rebuild $reb%.4f")
    assert(adm >= reb - 0.015,
      f"delta admission fell more than the documented structural bound " +
        f"below the full rebuild ($adm%.4f vs $reb%.4f)")
    // and the admission exercises all three output arms on the fixture
    val kinds = graft.functions.KnnDescent
      .queries("q248_knn_delta_admit")(spark, sf0001)
      .select("src_kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("kept", "recut", "delta"),
      s"expected all three src_kind arms populated, got $kinds")
  }

  test("a cold NN-descent graph build runs at most 10 jobs and leaves one persisted relation") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val jobs = jobsIn("knnd-cold-build") {
      graft.functions.KnnDescent.graph(spark, emb, sf0001 + "#jobcount")
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    info(s"cold graph build: $jobs jobs, ${left.size} persisted RDD(s) left")
    // the count, the audit's probe collect and exact pass, one audit per
    // measured leg (three on this fixture) and the final materialization
    assert(jobs <= 10, s"a cold graph build ran $jobs jobs (the DataFrame " +
      "build this kernel replaced ran 88)")
    assert(left.size == 1, s"the build must leave exactly the graph persisted, got $left")
    // the stage the consumers analyze stays a shallow scan of its RDD
    val stageLines = graft.functions.KnnDescent
      .stages(spark, emb, sf0001 + "#roundshape2").last
      .queryExecution.executedPlan.toString.linesIterator.size
    assert(stageLines < 60,
      s"a built stage's analyzed plan should be a shallow scan, got " +
        s"$stageLines lines")
    SessionCache.release(spark, "knnd")
  }
}
