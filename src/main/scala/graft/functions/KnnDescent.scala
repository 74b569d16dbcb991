package graft.functions

import graft.Tables._
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.collection.mutable

/** NN-descent kNN graph — the sub-n^1.5 FULL-CORPUS neighbor path.
  *
  * The flat-IVF kNN graph (q73) is the right AUDIT shape but its
  * candidate volume is Θ(nProbe·n^1.5) under the √n quantizer. This
  * module is the PRODUCTION graph path: q77/q122/q220/q231/q240/q245
  * consume this graph, q248 admits deltas into it, and q73 stands as
  * the IVF-path audit.
  *
  * Algorithm (Dong, Moses & Li 2011, "Efficient k-nearest neighbor
  * graph construction for generic similarity measures", WWW'11 — made
  * fully deterministic so the DuckDB oracle replays it bit-for-bit):
  *
  *  1. SEED from the q102 LSH geometry: every vector's sign bucket
  *     under [[Similarity.lshNPlanes]](n) fixed Gaussian hyperplanes,
  *     multi-probed to its own bucket plus all Hamming-1 flips (plus
  *     the Hamming-2 flips at probe radius 2). Bucket count tracks n/8,
  *     so seed candidate volume is ~8·(p+1) per vector — O(n·log n).
  *     The probed buckets are distinct, so each candidate pair arises
  *     once.
  *  2. Cut to the top-[[K]] per vector by (rounded cosine desc, nbr asc)
  *     — the q73 ranking convention.
  *  3. DESCEND for [[Iters]] rounds: candidates = current edges ∪
  *     every ordered pair of distinct neighbors of a common mid in the
  *     UNDIRECTED graph, re-scored and re-cut to top-K. Current edges
  *     are always candidates, so the graph improves monotonically.
  *
  * The kernel runs on RDDs in the style of `GraphOps.pagerank`. The
  * corpus `(vec_id, embedding)` is hash-partitioned once and persisted,
  * and every graph stage `(src, top-K)` shares its partitioner, so
  * attaching a vector to an edge is a per-partition lookup. The seed
  * computes buckets map-side and cogroups on the bucket. A round ships
  * each edge to its nbr with the src's vector and back with the nbr's,
  * so each mid holds its undirected neighbors with their vectors and
  * scores their pairs in place. Every score is
  * [[Similarity.roundedCosine]], and every cut is one map-side-combined
  * `combineByKey` top-K. Nothing in a build runs a job but its count,
  * the recall audit and the final materialization.
  *
  * RECALL POLICY: the build starts at probe radius 1 and measures the
  * graph's sampled-exact recall@3 (the q240 audit: the fixed ~200-probe
  * sample vec_id % max(1, n/200) = 0, exact-re-ranked against the full
  * corpus in one broadcast pass — O(n) at any scale). Under
  * [[graft.Thresholds.NndRecallFloorMicro]] it rebuilds at radius 2,
  * warm-started: the radius-1 graph's edges join round 1's candidates.
  * When that graph also misses the floor, ONE more descent round runs
  * from it. Every comparison is integer-exact, so the oracle's
  * nnd_dial/nnd_dial2 CTEs take the identical branches. More [[Iters]]
  * is not the dial: on the random-vector fixture descent converges by
  * round 3 (seed 0.145 → 0.168 → 0.180 → 0.1833).
  */
object KnnDescent {

  /** Graph degree: top-3 neighbors per vector — q73's k, so the two
    * graph paths stay comparable edge-for-edge. */
  val K = 3

  /** Descent rounds per build; another round costs O(n·K²). */
  val Iters = 2

  /** Rounded-cosine column — the family-wide scoring convention. */
  private def cosC(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(Similarity.dot(a, b) / (Similarity.l2norm(a) * Similarity.l2norm(b)), 6)

  /** Exact top-K cut per src by (cos desc, nbr asc) through the heap
    * operator (partial pre-cut under the exchange). */
  private def cut(scored: DataFrame): DataFrame =
    graft.plans.TopKPerGroup.topK(scored, Seq("src"),
      Seq("cos" -> false, "nbr" -> true), K)

  /** One vector's neighbor list: ≤ [[K]] (nbr, cos), best first. */
  private type Nbrs = Array[(Long, Double)]

  /** A graph stage: each src's neighbor list, partitioned like the corpus. */
  private type Graph = RDD[(Long, Nbrs)]

  /** Rank order (cos desc, nbr asc) under Spark's double ordering: NaN
    * above every number, -0.0 equal to 0.0. */
  private def before(a: (Long, Double), b: (Long, Double)): Boolean = {
    val c = if (a._2 == b._2) 0 else java.lang.Double.compare(a._2, b._2)
    c > 0 || (c == 0 && a._1 < b._1)
  }

  /** `top` with `e` admitted: still ≤ K entries in rank order, one per
    * nbr. A pair's score depends only on the pair, so a repeat is a
    * duplicate and the cut has set semantics without a distinct. */
  private def admit(top: Nbrs, e: (Long, Double)): Nbrs =
    if (top.exists(_._1 == e._1)) top
    else top.indexWhere(before(e, _)) match {
      case -1 => if (top.length < K) top :+ e else top
      case i => ((top.take(i) :+ e) ++ top.drop(i)).take(K)
    }

  /** The top-K cut per src: one `combineByKey`, combined map-side. */
  private def topK(scored: RDD[(Long, (Long, Double))],
      part: Partitioner): Graph =
    scored.combineByKey((e: (Long, Double)) => Array(e), admit,
      (a: Nbrs, b: Nbrs) => b.foldLeft(a)(admit), part)

  private def edgesOf(g: Graph): RDD[(Long, (Long, Double))] =
    g.flatMap { case (s, nb) => nb.iterator.map(e => (s, e)) }

  /** The corpus keyed by vec_id and hash-partitioned; rows without an
    * id or a vector never match a bucket, so they are left out. */
  private def corpusOf(s: SparkSession,
      emb: DataFrame): RDD[(Long, Array[Float])] = {
    import s.implicits._
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    emb.select(col("vec_id"), col("embedding"))
      .where(col("vec_id").isNotNull && col("embedding").isNotNull)
      .as[(Long, Array[Float])].rdd
      .partitionBy(new HashPartitioner(width))
  }

  /** Scored seed candidates (src, (nbr, cos)): buckets are computed
    * map-side, every vector probes its own bucket and its flips up to
    * `radius`, and a cogroup on the bucket pairs each probe with the
    * bucket's members. */
  private def seedPairs(corpus: RDD[(Long, Array[Float])], n: Long,
      radius: Int): RDD[(Long, (Long, Double))] = {
    val planes = Similarity.lshPool.take(Similarity.lshNPlanes(n)).toArray
    val masks = Similarity.probeMasks(planes.length, radius)
    val bucketed = corpus.map { case (id, v) =>
      (Similarity.signBucket(v, planes), (id, v)) }
    bucketed.flatMap { case (b, x) => masks.iterator.map(m => (b ^ m, x)) }
      .cogroup(bucketed, corpus.partitioner.get)
      .flatMap { case (_, (probes, members)) =>
        for ((p, pv) <- probes.iterator; (c, cv) <- members.iterator if p != c)
          yield (p, (c, Similarity.roundedCosine(pv, cv)))
      }
  }

  /** ONE descent round: each edge s→n travels to n with s's vector and
    * back to s with n's, so every mid holds its undirected neighbors
    * with their vectors and scores each pair of them once (the rounded
    * cosine is symmetric bit-for-bit). The candidates are those pairs,
    * the current edges and `warm`'s, cut to top-K. */
  private def descentRound(corpus: RDD[(Long, Array[Float])], g: Graph,
      warm: Option[Graph] = None): Graph = {
    val part = corpus.partitioner.get
    val inbound = g.zipPartitions(corpus) { (es, vs) =>
      val v = vs.toMap
      es.flatMap { case (s, nb) =>
        nb.iterator.map { case (n, _) => (n, (s, v(s))) } }
    }.partitionBy(part)
    val back = inbound.zipPartitions(corpus) { (es, vs) =>
      val v = vs.toMap
      es.map { case (n, (s, _)) => (s, (n, v(n))) }
    }.partitionBy(part)
    val pairs = inbound.zipPartitions(back) { (a, b) =>
      val und = mutable.HashMap.empty[Long, mutable.HashMap[Long, Array[Float]]]
      (a ++ b).foreach { case (m, (x, vx)) =>
        und.getOrElseUpdate(m, mutable.HashMap.empty)(x) = vx }
      und.valuesIterator.flatMap { nb =>
        val xs = nb.toArray
        xs.indices.iterator.flatMap { i =>
          (i + 1 until xs.length).iterator.flatMap { j =>
            val c = Similarity.roundedCosine(xs(i)._2, xs(j)._2)
            Iterator((xs(i)._1, (xs(j)._1, c)), (xs(j)._1, (xs(i)._1, c)))
          }
        }
      }
    }
    topK((g +: warm.toSeq).map(edgesOf).fold(pairs)(_ union _), part)
  }

  /** Seed cut then [[Iters]] rounds (`warm` joins round 1): every stage
    * g0 … g[[Iters]], lazily chained over one lineage. */
  private def descend(corpus: RDD[(Long, Array[Float])], n: Long,
      radius: Int, warm: Option[Graph] = None): IndexedSeq[Graph] = {
    val g0 = topK(seedPairs(corpus, n, radius), corpus.partitioner.get)
    (1 to Iters).scanLeft(g0) { (g, i) =>
      descentRound(corpus, g, if (i == 1) warm else None)
    }
  }

  /** (src, nbr, cos) rows of a graph stage or a scored relation. */
  private def edgeDf(s: SparkSession, emb: DataFrame,
      edges: RDD[(Long, (Long, Double))]): DataFrame = {
    val id = emb.schema("vec_id")
    s.createDataFrame(edges.map { case (src, (nbr, c)) => Row(src, nbr, c) },
      StructType(Seq(id.copy(name = "src"), id.copy(name = "nbr"),
        StructField("cos", DoubleType))))
  }

  /** A built graph with the probe radius its build chose and the recall
    * it measured on each leg: one memo entry per (session, dataset). */
  private final case class Built(graph: DataFrame, radius: Int,
      legs: Seq[(String, Long)])

  /** The recall the build MEASURED for each graph it considered, in
    * exact micro-units of recall@3 (1e6·hits/exact_edges — the integer
    * arithmetic the dial branches on), in build order: ("r1", …)
    * always; ("r2", …) when the dial escalated; ("r2x1", …) when the
    * escalated graph also missed the floor and the extra round ran. The
    * LAST leg is the recall of the graph [[graph]] returns. Forces the
    * build like [[autoRadius]]. */
  private[graft] def measuredRecallMicro(s: SparkSession, emb: DataFrame,
      cacheKey: String): Seq[(String, Long)] = built(s, emb, cacheKey).legs

  /** The probe radius the build CHOSE for this corpus: 1, or 2 when the
    * radius-1 graph's measured recall@3 is under
    * [[graft.Thresholds.NndRecallFloorMicro]] (an empty sample
    * escalates). Forces the build if the session has not run it. */
  private[graft] def autoRadius(s: SparkSession, emb: DataFrame,
      cacheKey: String): Int = built(s, emb, cacheKey).radius

  /** The radius-1 build, its recall audit and the escalation legs (see
    * the object doc). The sampled-exact top-K is one broadcast
    * `mapPartitions` pass over the corpus; each leg's audit collects the
    * graph's sampled edges, which materializes that leg's persisted
    * graph. The corpus and every leg graph are released once the shipped
    * graph is materialized, so a build leaves exactly ONE persisted
    * relation behind. */
  private def buildAuto(s: SparkSession, emb: DataFrame,
      cacheKey: String): Built = {
    val n = Similarity.corpusCount(emb, cacheKey)
    val stride = math.max(1L, n / 200L)
    val corpus = corpusOf(s, emb).persist()
    val held = mutable.ArrayBuffer[RDD[_]](corpus)
    def kept(g: Graph): Graph = { held += g; g.persist() }
    try {
      val probes = s.sparkContext.broadcast(
        corpus.filter(_._1 % stride == 0).collect())
      val exact: Set[(Long, Long)] = corpus.mapPartitions { it =>
        val tops = mutable.HashMap.empty[Long, Nbrs]
        it.foreach { case (c, cv) =>
          probes.value.foreach { case (p, pv) =>
            if (p != c) tops(p) = admit(tops.getOrElse(p, Array.empty),
              (c, Similarity.roundedCosine(pv, cv)))
          }
        }
        tops.iterator
      }.collect().groupMapReduce(_._1)(_._2)((a, b) => b.foldLeft(a)(admit))
        .iterator.flatMap { case (p, nb) => nb.map(e => (p, e._1)) }.toSet
      probes.destroy()
      // sampled-exact recall@3 in micro-units; -1 on an empty sample
      def recallMicro(g: Graph): Long = {
        val sampled = g.filter(_._1 % stride == 0)
          .flatMap { case (p, nb) => nb.map(e => (p, e._1)) }.collect().toSet
        if (exact.isEmpty) -1L
        else 1000000L * exact.count(sampled) / exact.size
      }
      def misses(micro: Long): Boolean =
        micro < 0L || micro < graft.Thresholds.NndRecallFloorMicro
      val g1 = kept(descend(corpus, n, 1).last)
      val legs = mutable.ArrayBuffer("r1" -> recallMicro(g1))
      val r = if (misses(legs.last._2)) 2 else 1
      val out =
        if (r == 1) g1
        else {
          val g2 = kept(descend(corpus, n, 2, warm = Some(g1)).last)
          legs += ("r2" -> recallMicro(g2))
          if (!misses(legs.last._2)) g2
          else {
            val g3 = kept(descentRound(corpus, g2))
            legs += ("r2x1" -> recallMicro(g3))
            g3
          }
        }
      val graph = graft.SessionCache.tracked("knnd",
        edgeDf(s, emb, edgesOf(out)))
      // one job: a count() would add an AQE cache stage and an exchange
      graph.write.format("noop").mode("overwrite").save()
      Built(graph, r, legs.toSeq)
    } finally held.foreach(_.unpersist(blocking = false))
  }

  /** The NN-descent graph for a corpus, cached per (session, dataset)
    * so q231/q77/q122/q220/q245 in one session build it once. Columns:
    * (src, nbr, cos) — ≤ K edges per src, unranked.
    *
    * The cached handle is VERIFIED still materialized before reuse: a
    * harness-level blanket RDD unpersist can strip the graph's blocks
    * while the session cache keeps the DataFrame, and the stale handle
    * would recompute the build per consumer. On a stale hit, every
    * knnd-tracked relation is released and the graph rebuilds. */
  private[graft] def graph(s: SparkSession, emb: DataFrame,
      cacheKey: String): DataFrame = built(s, emb, cacheKey).graph

  private def built(s: SparkSession, emb: DataFrame, cacheKey: String): Built =
    graft.SessionCache.memo(s, "knnd", cacheKey, (b: Built) =>
      org.apache.spark.sql.graftbridge.GraftBridge.cachedAndMaterialized(b.graph)
    )(buildAuto(s, emb, cacheKey))

  /** q248's delta rule: a FIXED ~50-vector delta at any corpus size
    * (vec_id % stride = 7 % stride, stride = n/50) — fixed-absolute
    * rather than fixed-fraction, so the scale sweep can show per-delta
    * admission cost tracking DELTA size, not corpus size, exactly like
    * the fixed ~200-probe
    * audit sample beats an n^(2/3) one (q240's scaladoc argument). */
  private[graft] def deltaStride(n: Long): Long = math.max(1L, n / 50L)

  /** INCREMENTAL kNN-GRAPH MAINTENANCE, like every sibling store's
    * delta admission (signature q129/q143, phash q147/q149, ANN index
    * q135/q142, release lineage q246).
    * Admit `deltaEmb` into the FROZEN graph of `baseEmb` without
    * touching unaffected nodes:
    *
    *  1. FROZEN GEOMETRY (the q135/q145 frozen-quantizer discipline):
    *     the base build's plane count (lshNPlanes(n_base)) and its
    *     measured-recall radius pick are reused verbatim — admission
    *     never re-derives policy, so repeated deltas stay comparable
    *     and the oracle replays the recorded decision.
    *  2. DELTA SEED: the full corpus (base ∪ delta) is re-bucketed in
    *     one map-side pass (no index storage needed — the planes ARE
    *     the index); only the DELTA vectors multi-probe, so the seed
    *     join's probe side is delta-sized.
    *  3. DELTA DESCENT: [[Iters]] rounds restricted to delta sources —
    *     the neighbors-of-neighbors walk runs through base ∪ delta
    *     edges, but every relation that shuffles is delta-sized: the
    *     mid set (≤ 2K·|delta| nodes) broadcasts into the frozen
    *     graph's edge scan, so per-round cost is O(|delta|·K²) plus
    *     one linear scan of the CACHED base graph.
    *  4. REVERSE REPAIR — one descent round for the delta-affected
    *     neighborhood: every base node the admission ever SCORED
    *     against a delta vector re-cuts its top-K over its frozen
    *     edges ∪ the reversed scored delta pairs ∪ its
    *     neighbors-of-neighbors through the merged graph (delta nodes
    *     bridge base nodes the frozen build kept apart); every other
    *     base node's edges are REUSED untouched via one broadcast
    *     anti-join.
    *
    * Returns (src, nbr, cos, src_kind) with src_kind ∈ kept/recut/
    * delta. An EMPTY delta yields the base graph bit-for-bit (the q246
    * re-crawl no-op discipline — spec-pinned). At 100 TB this is the
    * difference between a nightly crawl delta costing O(|delta|) and
    * re-descending the whole corpus. */
  private[graft] def admitDelta(s: SparkSession, baseEmb: DataFrame,
      deltaEmb: DataFrame, cacheKey: String): DataFrame = {
    val Built(gB, r, _) = built(s, baseEmb, cacheKey)
    val nBase = Similarity.corpusCount(baseEmb, cacheKey)
    val planes = Similarity.lshPool.take(Similarity.lshNPlanes(nBase))
    val all = baseEmb.union(deltaEmb)
    val deltaIds = deltaEmb.select(col("vec_id"))
    // the bucket assignment IS the frozen LSH index — persisted (plan-
    // keyed, so repeated admissions in one session reuse one copy; at
    // production scale this is the stored index relation a delta
    // admission reads, the q135 materialized-index pattern) instead of
    // re-running VecDot × planes over the corpus per consumer
    val bucketed = graft.SessionCache.tracked("knnd",
      all.select(col("vec_id"), col("embedding"),
        Similarity.lshBucket(col("embedding"), planes).as("bucket")))
    val probes = bucketed.join(broadcast(deltaIds), "vec_id")
      .select(col("vec_id").as("src"), col("embedding").as("p_emb"),
        explode(Similarity.probeBuckets(planes, r)).as("bucket"))
    val seed = bucketed.join(probes, Seq("bucket"))
      .filter(col("src") =!= col("vec_id"))
      .select(col("src"), col("vec_id").as("nbr"),
        cosC(col("p_emb"), col("embedding")).as("cos"))
      .observe("knnd_delta_seed_candidates",
        count(lit(1)).as("n_candidates"))
    // each scored relation is persisted: it is consumed up to three
    // times (its own cut, the reverse-repair pool, the frontier) and
    // is delta-sized — O(|delta|·occupancy·probes) for the seed,
    // O(|delta|·K²) per round
    val seedP = graft.SessionCache.tracked("knnd", seed)
    var dg = graft.SessionCache.tracked("knnd", cut(seedP))
    // every (delta, ·) pair the admission SCORES feeds the reverse
    // repair below — not just the pairs that survive a top-K cut
    val scoredAll = scala.collection.mutable.ArrayBuffer[DataFrame](seedP)
    // embedding attach sides come off the PERSISTED bucket relation:
    // same (vec_id, embedding) rows, but every
    // per-round score join and the repair's re-cut read the cache
    // instead of re-scanning the base+delta parquet union per side
    val e1 = bucketed.select(col("vec_id").as("src"), col("embedding").as("e1"))
    val e2 = bucketed.select(col("vec_id").as("nbr"), col("embedding").as("e2"))
    val baseEdges = gB.select(col("src"), col("nbr"))
    for (_ <- 1 to Iters) {
      val dEdges = dg.select(col("src"), col("nbr"))
      // delta-anchored undirected adjacency: the reverse arm keeps only
      // rows whose NEW src is itself a delta vector (base graph edges
      // never point at delta nodes — the graph is frozen pre-delta).
      // NOT deduped here: everything is delta-sized with a bounded
      // duplicate factor, and the round's ONE result-bearing distinct —
      // the candidate set feeding the top-K cut — absorbs it.
      val undDelta = dEdges.union(
          dg.select(col("nbr").as("src"), col("src").as("nbr"))
            .join(broadcast(deltaIds.withColumnRenamed("vec_id", "src")),
              "src"))
      // undirected adjacency through base ∪ delta edges, keyed at the
      // mid directly by the NoN join, whose condition a.nbr = b.src is
      // the mid-set membership test (undDelta broadcasts; the frozen
      // graph is scanned — linear, cached — never shuffled)
      val allEdges = baseEdges.union(dEdges)
      val undAll = allEdges
        .union(allEdges.select(col("nbr").as("src"), col("src").as("nbr")))
      val non = broadcast(undDelta.as("a"))
        .join(undAll.as("b"), col("a.nbr") === col("b.src"))
        .filter(col("b.nbr") =!= col("a.src"))
        .select(col("a.src").as("src"), col("b.nbr").as("nbr"))
        .union(dEdges)
        .distinct()
      val scored = graft.SessionCache.tracked("knnd",
        non.join(e1, "src").join(e2, "nbr")
          .select(col("src"), col("nbr"), cosC(col("e1"), col("e2")).as("cos")))
      scoredAll += scored
      dg = graft.SessionCache.tracked("knnd", truncate(s, cut(scored)))
    }
    // REVERSE REPAIR as ONE descent round for the delta-affected
    // neighborhood: each affected base node re-cuts its top-K over
    // (a) its frozen edges, (b) every reversed scored delta pair at it
    // (the full scored pool, not just edges that survived a cut — the
    // cut-only pool left base→delta recall at 0.46 where the full
    // rebuild reads 0.56 on the weak fixture), and (c) its
    // neighbors-of-neighbors through the MERGED base ∪ delta graph —
    // the new delta nodes act as 2-hop BRIDGES between base nodes the
    // frozen build kept apart, which a cut-only repair can never see.
    // Every relation here is delta-sized and the NoN walk is keyed
    // through broadcast affected/mid sets — the frozen graph is
    // scanned (cached, linear), never shuffled.
    // the AFFECTED set is the REVERSE FRONTIER (Dong et al.'s reverse-
    // neighbor sampling at ρ·K): per delta vector, the base nodes among
    // its top-2K scored candidates of the final round — ≤ 2K·|delta|
    // nodes at ANY corpus size, so the repair stays provably
    // delta-sized while every node a delta vector ranks NEAR gets
    // repaired (an all-scored affected set degenerates to the whole
    // corpus at fixture scale: occupancy·probes ≈ n there)
    val frontier = graft.plans.TopKPerGroup.topK(scoredAll.last,
      Seq("src"), Seq("cos" -> false, "nbr" -> true), 2 * K)
    // NOT deduped: every consumer below is a left_semi / left_anti
    // membership probe — set-semantic by definition; the one
    // result-bearing dedup is the affCand distinct feeding the re-cut
    val affected = graft.SessionCache.tracked("knnd", frontier
      .select(col("nbr").as("src"))
      .join(broadcast(deltaIds.withColumnRenamed("vec_id", "src")),
        Seq("src"), "left_anti"))
    // ...but the candidate POOL at those nodes is every (delta, node)
    // pair the admission ever scored — richer than the frontier pairs
    // alone, and still bounded by the scored volume
    val revPool = scoredAll
      .map(_.select(col("nbr").as("src"), col("src").as("nbr")))
      .reduce(_ union _)
      .join(broadcast(affected), Seq("src"), "left_semi")
    val dEdgesF = dg.select(col("src"), col("nbr"))
    val mergedE = baseEdges.union(dEdgesF)
    val undMergedAll = mergedE
      .union(mergedE.select(col("nbr").as("src"), col("src").as("nbr")))
    def nonFrom(und: DataFrame): DataFrame = und.as("a")
      .join(undMergedAll.as("b"), col("a.nbr") === col("b.src"))
      .filter(col("b.nbr") =!= col("a.src"))
      .select(col("a.src").as("src"), col("b.nbr").as("nbr"))
    // the affected nodes' undirected edges, in two arms: the out-edges
    // are ≤ K per affected node, so they broadcast; the in-edges grow
    // with an affected node's in-degree (a hub's is unbounded), so AQE
    // chooses their join from their measured size
    val affNon = nonFrom(broadcast(
        mergedE.join(broadcast(affected), Seq("src"), "left_semi")))
      .union(nonFrom(mergedE.select(col("nbr").as("src"), col("src").as("nbr"))
        .join(broadcast(affected), Seq("src"), "left_semi")))
    val affCand = affNon
      .union(gB.join(broadcast(affected), Seq("src"), "left_semi")
        .select(col("src"), col("nbr")))
      .union(revPool.select(col("src"), col("nbr")))
      .distinct()
    val recut = cut(affCand.join(e1, "src").join(e2, "nbr")
      .select(col("src"), col("nbr"), cosC(col("e1"), col("e2")).as("cos")))
    val kept = gB.join(broadcast(affected), Seq("src"), "left_anti")
      .select(col("src"), col("nbr"), col("cos"))
    kept.withColumn("src_kind", lit("kept"))
      .union(recut.withColumn("src_kind", lit("recut")))
      .union(dg.select(col("src"), col("nbr"), col("cos"))
        .withColumn("src_kind", lit("delta")))
  }

  /** The multi-probed seed candidate relation (src, nbr, cos), with the
    * candidate-volume observe() metric riding it (DedupSimilaritySpec
    * pins its ~n·log n growth). `probeRadius` is the dial the recall
    * policy turns: radius 1 probes the own bucket and the p one-bit
    * flips; radius 2 adds the p(p−1)/2 two-bit flips, ~p/2× more
    * candidates, still O(n·log²n). */
  private[graft] def seedScored(s: SparkSession, emb: DataFrame,
      cacheKey: String, probeRadius: Int = 1): DataFrame =
    edgeDf(s, emb, seedPairs(corpusOf(s, emb),
        Similarity.corpusCount(emb, cacheKey), probeRadius))
      .observe(s"nnd_seed_candidates_r$probeRadius",
        count(lit(1)).as("n_candidates"))

  /** Every stage of one fixed-radius build — g0 (the seed cut) through
    * g[[Iters]] — as (src, nbr, cos) relations over one lazily chained
    * lineage, so computing a later stage reuses the earlier stages'
    * shuffles. For the per-round monotonic-improvement pin and
    * RecallProbe's fixed-radius legs; [[graph]] runs the policy. */
  private[graft] def stages(s: SparkSession, emb: DataFrame,
      cacheKey: String, probeRadius: Int = 1): IndexedSeq[DataFrame] =
    descend(corpusOf(s, emb), Similarity.corpusCount(emb, cacheKey),
      probeRadius).map(g => edgeDf(s, emb, edgesOf(g)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The production kNN graph: same shape as q73 (3 ranked neighbors
    // per vector) built by LSH-seeded NN-descent — quasi-linear
    // candidate volume instead of the flat-IVF n^1.5.
    // SAMPLED EXACT AUDIT of the production graph (an audit that itself
    // RUNS at 100×): a deterministic fixed
    // ~200-vector sample (the RecallProbe/auto-dial rule: vec_id %
    // max(1, n/200) = 0) exact-re-ranked brute-force against the FULL
    // corpus — the sample broadcasts, so the exact pass is ONE map-side
    // corpus scan, O(n) with a tiny constant at ANY scale — and the
    // graph's edges for the sampled sources are scored against that
    // ground truth. This replaces the flat-IVF q73 as the SCALE-path
    // audit: q73's Θ(n^1.5) candidate volume cannot run at 100× even
    // as an audit (its scope is now pinned fixture-only in
    // COVERAGE.md), while this one's recall estimate is unbiased at a
    // fixed ±~0.03 sampling sd regardless of corpus size. A FIXED
    // sample beats the suggested n^(2/3) sample here: n^(2/3)·n grows
    // n^(5/3) — superlinear again — while fixed·n stays linear and the
    // estimator's variance is already sampling-dominated, not
    // size-dominated.
    "q240_sampled_knn_audit" -> ((s, d) => {
      val e = embeddings(s, d)
      val n = Similarity.corpusCount(e, d)
      val stride = math.max(1L, n / 200L)
      val probes = e.filter(col("vec_id") % stride === 0)
      val exact = graft.SessionCache.tracked("knnd",
        Similarity.cosineTopK(probes, e, K)
          .select(col("probe_id").as("src"), col("vec_id").as("nbr")))
      val sampled = graph(s, e, d).filter(col("src") % stride === 0)
        .select(col("src"), col("nbr"))
      val m = exact.agg(countDistinct(col("src")).as("n_sampled"),
        count(lit(1)).as("n_exact_edges"))
      val h = exact.join(sampled, Seq("src", "nbr"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val g = sampled.agg(count(lit(1)).as("n_graph_edges"))
      m.crossJoin(h).crossJoin(g)
        .select(col("n_sampled"), col("n_exact_edges"),
          col("n_graph_edges"), col("n_hits"),
          round(col("n_hits") / col("n_exact_edges").cast("double"), 6)
            .as("recall_at_3"))
    }),

    "q231_knn_descent" -> ((s, d) => {
      graph(s, embeddings(s, d), d)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))))
        .select(col("src").as("src_id"), col("rk"), col("nbr").as("nbr_id"),
          col("cos"))
        .orderBy(col("src_id"), col("rk"))
    }),

    // HARD-NEGATIVE MINING (ANCE, Xiong et al. ICLR 2021; DPR,
    // Karpukhin et al. 2020) — the contrastive-pair construction an
    // embedding/retriever trainer consumes, and the fourth production
    // CONSUMER of the q231 graph (after q77/q122/q220): per vector,
    // its highest-cosine SAME-label graph neighbor (the positive) and
    // highest-cosine OTHER-label graph neighbor (the hard negative —
    // ANCE's insight is that negatives from the CURRENT index's top
    // candidates train far better than random ones), plus the
    // contrastive margin; a negative margin flags the confusable
    // points a curriculum oversamples. Vectors whose K graph edges are
    // single-class have no pair to mine and drop (inner join — the
    // trainer consumes complete triples). Cost: the shared graph build
    // + a slim label join + two src-keyed argmax rollups over the
    // linear n·K edge set; no new candidate generation — the graph IS
    // the index.
    "q245_hard_negatives" -> ((s, d) => {
      val lab = embeddings(s, d).select(col("vec_id"), col("label"))
      val g = graph(s, embeddings(s, d), d)
        .join(lab.select(col("vec_id").as("src"),
          col("label").as("src_label")), "src")
        .join(lab.select(col("vec_id").as("nbr"),
          col("label").as("nbr_label")), "nbr")
      def best(side: DataFrame, idName: String, cosName: String) = side
        .groupBy(col("src"))
        // argmax by (cos, nbr) — ties on the rounded cosine break
        // toward the larger id, which the oracle mirrors with
        // ORDER BY cos DESC, nbr DESC
        .agg(max(struct(col("cos"), col("nbr"))).as("m"))
        .select(col("src"), col("m.nbr").as(idName),
          col("m.cos").as(cosName))
      val pos = best(g.filter(col("src_label") === col("nbr_label")),
        "pos_id", "pos_cos")
      val neg = best(g.filter(col("src_label") =!= col("nbr_label")),
        "neg_id", "neg_cos")
      pos.join(neg, "src")
        .select(col("src").as("src_id"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
        .orderBy(col("src_id"))
    }),

    // INCREMENTAL kNN-GRAPH DELTA ADMISSION — see [[admitDelta]]. The
    // fixture delta is
    // the deterministic fixed-size slice vec_id % (n/50) = 7 (the
    // audit-sample rule's shape, a different residue so the two
    // samples don't alias); the base graph is built, dial-measured,
    // and frozen on the remaining corpus, then the delta descends
    // against it. Bench min-of-3 reads the warm form — base graph
    // cached — so the min prices the per-delta admission cost alone
    // (the q246 staging-memo convention), and the sweep's alpha on it
    // is the delta-size-not-corpus-size claim made measurable.
    "q248_knn_delta_admit" -> ((s, d) => {
      val e = embeddings(s, d)
      val n = Similarity.corpusCount(e, d)
      val st = deltaStride(n)
      val mark = lit(7L % st)
      val base = e.filter(col("vec_id") % st =!= mark)
      val delta = e.filter(col("vec_id") % st === mark)
      admitDelta(s, base, delta, d + "#q248base")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))))
        .select(col("src").as("src_id"), col("rk"), col("nbr").as("nbr_id"),
          col("cos"), col("src_kind"))
        .orderBy(col("src_id"), col("rk"))
    })
  )

  private def cosSql(a: String, b: String): String =
    s"""round(list_dot_product($a::DOUBLE[], $b::DOUBLE[])
             / (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[]))
              * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[]))), 6)"""

  /** The full oracle replay of the graph build, as a CTE chain ending
    * in [[finalCte]] (src, nbr, cos): q102's plane/bucket CTEs, the FULL
    * radius-1 descent (chain `*a`), the [[autoRadius]] recall audit
    * replayed (d_exact → nnd_dial — the identical integer-exact
    * comparison against the radius-1 graph's sampled edges), the
    * radius-2 descent (chain `*b`) with every probe arm AND its
    * warm-seed arm (chain a's final edges into round 1 — the engine's
    * escalation warm-start) gated on nnd_dial.r >= 2 (so the whole
    * chain is empty — near-free — when the measured recall clears the
    * floor), the shipped graph's audit and the gated extra round
    * (nnd_dial2), and the final selector CTE.
    * Within each chain: multi-probe seed join, then each descent round
    * unrolled — undirected edge set, neighbors-of-neighbors ∪ current
    * edges, re-score, top-K re-cut. Shared by the q231 oracle and the
    * q77/q122/q220/q240/q245 consumers. */
  private[graft] def nndCtes: String = nndCtesFrom("embeddings")

  /** [[nndCtes]] parameterized on the corpus relation (a table or an
    * earlier CTE name): q231/q240/q245 and the q77/q122/q220 consumers
    * replay the full-corpus build via [[nndCtes]]; the q248 delta
    * oracle replays the BASE-corpus build via
    * `nndCtesFrom("base_emb")` — the identical chain, so the frozen
    * graph the delta admits into is the one the engine froze. */
  private[graft] def nndCtesFrom(src: String): String = {
    // one descent chain (seed probes -> g0 -> Iters rounds), suffix
    // `t`; `gate` is an extra WHERE conjunct on every probe arm.
    // `warmFrom` names a prior chain's final
    // graph CTE whose edges union into ROUND 1's candidate set — gated
    // on the dial exactly like the probe arms, so the warm arm is empty
    // (near-free) whenever this chain is the dead branch.
    // Every CTE is declared AS MATERIALIZED at its definition site:
    // DuckDB inlines a plain CTE at every reference, and with the audit
    // plus two gated descent chains that re-expansion goes super-linear
    // (a replay of >12 min where the materialized form takes seconds).
    def chain(t: String, twoBit: Boolean,
        warmFrom: Option[String] = None): String = {
      val gate = if (twoBit) " AND nnd_dial.r >= 2" else ""
      val dial = if (twoBit) " CROSS JOIN nnd_dial" else ""
      val sb = new StringBuilder
      sb ++= s""",
         pb$t AS MATERIALIZED (
           SELECT b.vec_id, b.embedding, b.bucket FROM buck b$dial
           WHERE TRUE$gate
           UNION ALL
           SELECT b.vec_id, b.embedding,
             CAST(xor(b.bucket, (1::BIGINT << CAST(t.i AS INT))) AS BIGINT)
           FROM buck b CROSS JOIN np$dial CROSS JOIN range(0, 24) t(i)
           WHERE t.i < np.p$gate"""
      if (twoBit) sb ++= s"""
           UNION ALL
           SELECT b.vec_id, b.embedding,
             CAST(xor(b.bucket, (1::BIGINT << CAST(t.i AS INT))
               | (1::BIGINT << CAST(u.j AS INT))) AS BIGINT)
           FROM buck b CROSS JOIN np CROSS JOIN nnd_dial
           CROSS JOIN range(0, 24) t(i) CROSS JOIN range(0, 24) u(j)
           WHERE t.i < u.j AND u.j < np.p AND nnd_dial.r >= 2"""
      sb ++= s"""),
         s0$t AS MATERIALIZED (
           SELECT p.vec_id AS src, c.vec_id AS nbr,
             ${cosSql("p.embedding", "c.embedding")} AS cos
           FROM pb$t p JOIN buck c ON p.bucket = c.bucket
           WHERE p.vec_id <> c.vec_id),
         g0$t AS MATERIALIZED (
           SELECT src, nbr, cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM s0$t) WHERE rk <= $K)"""
      for (i <- 1 to Iters) {
        // set semantics via explicit DISTINCT over UNION ALL, never
        // bare UNION: inside a WITH RECURSIVE block (the q77/q122
        // closure), DuckDB gives UNION-bearing CTEs recursive-union
        // treatment even without a self-reference, silently dropping
        // the dedup — the duplicate candidate rows then eat top-K
        // slots (found at sf0.1: u1 7974 rows plain vs 12000
        // recursive)
        val warmArm =
          if (i == 1) warmFrom.fold("")(w => s"""
           UNION ALL SELECT g.src, g.nbr FROM $w g, nnd_dial
           WHERE nnd_dial.r >= 2""")
          else ""
        sb ++= s""",
         u$i$t AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT src, nbr FROM g${i - 1}$t
           UNION ALL SELECT nbr, src FROM g${i - 1}$t)),
         c$i$t AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT a.src AS src, b.nbr AS nbr FROM u$i$t a
           JOIN u$i$t b ON a.nbr = b.src
           WHERE b.nbr <> a.src
           UNION ALL SELECT src, nbr FROM g${i - 1}$t$warmArm)),
         s$i$t AS MATERIALIZED (
           SELECT c.src, c.nbr,
             ${cosSql("ea.embedding", "eb.embedding")} AS cos
           FROM c$i$t c JOIN $src ea ON ea.vec_id = c.src
           JOIN $src eb ON eb.vec_id = c.nbr),
         g$i$t AS MATERIALIZED (
           SELECT src, nbr, cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM s$i$t) WHERE rk <= $K)"""
      }
      sb.toString
    }
    val sb = new StringBuilder
    sb ++= s"""np AS MATERIALIZED (
           SELECT least(24, greatest(4,
             1 + (SELECT count(*) FROM range(1, 25) t(p)
                  WHERE (8::BIGINT << CAST(t.p AS INT)) <
                    (SELECT count(*) FROM $src)))) AS p),
         planes(pid, pv) AS MATERIALIZED (VALUES ${Similarity.lshPlanesSql}),
         buck AS MATERIALIZED (
           SELECT e.vec_id, e.embedding,
             CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
                 pl.pv::DOUBLE[]) >= 0
               THEN (1::BIGINT << CAST(pl.pid AS INT)) ELSE 0 END) AS BIGINT)
               AS bucket
           FROM $src e CROSS JOIN np JOIN planes pl ON pl.pid < np.p
           GROUP BY e.vec_id, e.embedding),
         nnd_stride AS MATERIALIZED (
           SELECT greatest(1, (SELECT count(*) FROM $src) // 200)
             AS st)"""
    sb ++= chain("a", twoBit = false)
    // the recall audit of the radius-1 graph, replayed exactly as
    // buildAuto measures it: sampled probes, exact top-K against the
    // full corpus (the q30 ranking convention), hits vs the radius-1
    // graph's sampled edges, then the integer-exact escalation rule
    sb ++= s""",
         d_probes AS MATERIALIZED (
           SELECT vec_id, embedding FROM $src, nnd_stride
           WHERE vec_id % nnd_stride.st = 0),
         d_scored AS MATERIALIZED (
           SELECT p.vec_id AS src, c.vec_id AS nbr,
             ${cosSql("p.embedding", "c.embedding")} AS cos
           FROM d_probes p JOIN $src c ON p.vec_id <> c.vec_id),
         d_exact AS MATERIALIZED (
           SELECT src, nbr FROM (
             SELECT src, nbr, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM d_scored) WHERE rk <= $K),
         d_hits AS MATERIALIZED (
           SELECT count(*) AS h FROM d_exact e
           JOIN (SELECT g.src, g.nbr FROM g${Iters}a g, nnd_stride
                 WHERE g.src % nnd_stride.st = 0) g
             ON e.src = g.src AND e.nbr = g.nbr),
         nnd_dial AS MATERIALIZED (
           SELECT CASE WHEN (SELECT count(*) FROM d_exact) = 0
               OR 1000000 * (SELECT h FROM d_hits)
                 < ${graft.Thresholds.NndRecallFloorMicro}
                   * (SELECT count(*) FROM d_exact)
             THEN 2 ELSE 1 END AS r)"""
    sb ++= chain("b", twoBit = true, warmFrom = Some(s"g${Iters}a"))
    // the SHIPPED-graph audit + the r2-miss response: the escalated
    // graph's sampled recall is measured with the
    // SAME d_exact sample and the same integer-exact rule; when it also
    // misses the floor, ONE extra descent round runs (gated — the
    // whole extra chain is empty, near-free, whenever r = 1 or the
    // escalated graph cleared the floor)
    val x = Iters + 1
    sb ++= s""",
         d2_hits AS MATERIALIZED (
           SELECT count(*) AS h FROM d_exact e
           JOIN (SELECT g.src, g.nbr FROM g${Iters}b g, nnd_stride
                 WHERE g.src % nnd_stride.st = 0) g
             ON e.src = g.src AND e.nbr = g.nbr),
         nnd_dial2 AS MATERIALIZED (
           SELECT CASE WHEN (SELECT r FROM nnd_dial) >= 2
               AND ((SELECT count(*) FROM d_exact) = 0
                 OR 1000000 * (SELECT h FROM d2_hits)
                   < ${graft.Thresholds.NndRecallFloorMicro}
                     * (SELECT count(*) FROM d_exact))
             THEN 1 ELSE 0 END AS esc),
         u${x}b AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT g.src, g.nbr FROM g${Iters}b g, nnd_dial2
           WHERE nnd_dial2.esc = 1
           UNION ALL SELECT g.nbr, g.src FROM g${Iters}b g, nnd_dial2
           WHERE nnd_dial2.esc = 1)),
         c${x}b AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT a.src AS src, b.nbr AS nbr FROM u${x}b a
           JOIN u${x}b b ON a.nbr = b.src
           WHERE b.nbr <> a.src
           UNION ALL SELECT g.src, g.nbr FROM g${Iters}b g, nnd_dial2
           WHERE nnd_dial2.esc = 1)),
         s${x}b AS MATERIALIZED (
           SELECT c.src, c.nbr,
             ${cosSql("ea.embedding", "eb.embedding")} AS cos
           FROM c${x}b c JOIN $src ea ON ea.vec_id = c.src
           JOIN $src eb ON eb.vec_id = c.nbr),
         g${x}b AS MATERIALIZED (
           SELECT src, nbr, cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM s${x}b) WHERE rk <= $K),
         $finalCte AS MATERIALIZED (
           SELECT g.src, g.nbr, g.cos FROM g${Iters}a g, nnd_dial
           WHERE nnd_dial.r = 1
           UNION ALL
           SELECT g.src, g.nbr, g.cos FROM g${Iters}b g, nnd_dial, nnd_dial2
           WHERE nnd_dial.r = 2 AND nnd_dial2.esc = 0
           UNION ALL
           SELECT g.src, g.nbr, g.cos FROM g${x}b g, nnd_dial2
           WHERE nnd_dial2.esc = 1)"""
    sb.toString
  }

  /** Name of the final graph CTE inside [[nndCtes]]/[[nndCtesFrom]]. */
  private[graft] def finalCte: String = "g_final"

  val oracles: Map[String, String] = Map(
    // sample (the shared nnd_stride rule) exact-re-ranked against the
    // full corpus with the q30 ranking convention, then scored against
    // the replayed graph's sampled edges
    "q240_sampled_knn_audit" ->
      s"""WITH $nndCtes,
         a_probes AS (
           SELECT vec_id, embedding FROM embeddings, nnd_stride
           WHERE vec_id % nnd_stride.st = 0),
         a_scored AS (
           SELECT p.vec_id AS src, c.vec_id AS nbr,
             round(list_dot_product(p.embedding::DOUBLE[],
                 c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(p.embedding::DOUBLE[],
                   p.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.embedding::DOUBLE[],
                   c.embedding::DOUBLE[]))), 6) AS cos
           FROM a_probes p JOIN embeddings c ON p.vec_id <> c.vec_id),
         a_exact AS (
           SELECT src, nbr FROM (
             SELECT src, nbr, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM a_scored) WHERE rk <= $K),
         a_graph AS (
           SELECT g.src, g.nbr FROM $finalCte g, nnd_stride
           WHERE g.src % nnd_stride.st = 0),
         a_m AS (SELECT count(DISTINCT src) AS n_sampled,
             count(*) AS n_exact_edges FROM a_exact),
         a_h AS (SELECT count(*) AS n_hits FROM a_exact e
           JOIN a_graph g ON e.src = g.src AND e.nbr = g.nbr),
         a_g AS (SELECT count(*) AS n_graph_edges FROM a_graph)
         SELECT n_sampled, n_exact_edges, n_graph_edges, n_hits,
           round(n_hits / CAST(n_exact_edges AS DOUBLE), 6) AS recall_at_3
         FROM a_m CROSS JOIN a_h CROSS JOIN a_g""",

    "q231_knn_descent" ->
      s"""WITH $nndCtes
         SELECT src AS src_id, rk, nbr AS nbr_id, cos FROM (
           SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
             ORDER BY cos DESC, nbr) AS rk
           FROM $finalCte)
         ORDER BY src_id, rk""",

    // q245: the replayed graph joined to labels, each side's argmax as
    // a rank-1 window with the engine's exact (cos DESC, nbr DESC)
    // tie order, inner-joined to complete triples.
    "q245_hard_negatives" ->
      s"""WITH $nndCtes,
         hn_g AS (
           SELECT g.src, g.nbr, g.cos,
             ls.label AS src_label, ln.label AS nbr_label
           FROM $finalCte g
           JOIN embeddings ls ON ls.vec_id = g.src
           JOIN embeddings ln ON ln.vec_id = g.nbr),
         hn_p AS (
           SELECT src, nbr AS pos_id, cos AS pos_cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr DESC) AS rk
             FROM hn_g WHERE src_label = nbr_label) WHERE rk = 1),
         hn_n AS (
           SELECT src, nbr AS neg_id, cos AS neg_cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr DESC) AS rk
             FROM hn_g WHERE src_label <> nbr_label) WHERE rk = 1)
         SELECT p.src AS src_id, pos_id, pos_cos, neg_id, neg_cos,
           round(pos_cos - neg_cos, 6) AS margin
         FROM hn_p p JOIN hn_n n ON p.src = n.src
         ORDER BY src_id""",

    // q248: the BASE-corpus build replayed verbatim (nndCtesFrom over
    // base_emb — the frozen graph IS the engine's), then the delta
    // admission unrolled: frozen-geometry bucketing of the full
    // corpus, delta-only multi-probe at the frozen radius (the base
    // dial's nnd_dial.r), Iters delta-anchored descent rounds through
    // base ∪ delta edges, and the reverse repair of exactly the base
    // nodes a delta edge names.
    "q248_knn_delta_admit" -> deltaAdmitOracle
  )

  private def deltaAdmitOracle: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH dl_st AS MATERIALIZED (
           SELECT greatest(1, (SELECT count(*) FROM embeddings) // 50)
             AS st),
         base_emb AS MATERIALIZED (
           SELECT e.* FROM embeddings e, dl_st
           WHERE e.vec_id % dl_st.st <> 7 % dl_st.st),
         delta_emb AS MATERIALIZED (
           SELECT e.* FROM embeddings e, dl_st
           WHERE e.vec_id % dl_st.st = 7 % dl_st.st),
         ${nndCtesFrom("base_emb")},
         dl_buck AS MATERIALIZED (
           SELECT e.vec_id, e.embedding,
             CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
                 pl.pv::DOUBLE[]) >= 0
               THEN (1::BIGINT << CAST(pl.pid AS INT)) ELSE 0 END) AS BIGINT)
               AS bucket
           FROM embeddings e CROSS JOIN np JOIN planes pl ON pl.pid < np.p
           GROUP BY e.vec_id, e.embedding),
         dl_pb AS MATERIALIZED (
           SELECT b.vec_id, b.embedding, b.bucket
           FROM dl_buck b JOIN delta_emb de ON de.vec_id = b.vec_id
           UNION ALL
           SELECT b.vec_id, b.embedding,
             CAST(xor(b.bucket, (1::BIGINT << CAST(t.i AS INT))) AS BIGINT)
           FROM dl_buck b JOIN delta_emb de ON de.vec_id = b.vec_id
           CROSS JOIN np CROSS JOIN range(0, 24) t(i)
           WHERE t.i < np.p
           UNION ALL
           SELECT b.vec_id, b.embedding,
             CAST(xor(b.bucket, (1::BIGINT << CAST(t.i AS INT))
               | (1::BIGINT << CAST(u.j AS INT))) AS BIGINT)
           FROM dl_buck b JOIN delta_emb de ON de.vec_id = b.vec_id
           CROSS JOIN np CROSS JOIN nnd_dial
           CROSS JOIN range(0, 24) t(i) CROSS JOIN range(0, 24) u(j)
           WHERE t.i < u.j AND u.j < np.p AND nnd_dial.r >= 2),
         dl_s0 AS MATERIALIZED (
           SELECT p.vec_id AS src, c.vec_id AS nbr,
             ${cosSql("p.embedding", "c.embedding")} AS cos
           FROM dl_pb p JOIN dl_buck c ON p.bucket = c.bucket
           WHERE p.vec_id <> c.vec_id),
         dl_g0 AS MATERIALIZED (
           SELECT src, nbr, cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM dl_s0) WHERE rk <= $K)"""
    for (i <- 1 to Iters) {
      sb ++= s""",
         dl_u$i AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT src, nbr FROM dl_g${i - 1}
           UNION ALL
           SELECT g.nbr, g.src FROM dl_g${i - 1} g
           JOIN delta_emb de ON de.vec_id = g.nbr)),
         dl_ae$i AS MATERIALIZED (
           SELECT src, nbr FROM $finalCte
           UNION ALL SELECT src, nbr FROM dl_g${i - 1}),
         dl_m$i AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT src, nbr FROM dl_ae$i
           UNION ALL SELECT nbr, src FROM dl_ae$i)),
         dl_c$i AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT a.src AS src, b.nbr AS nbr FROM dl_u$i a
           JOIN dl_m$i b ON a.nbr = b.src
           WHERE b.nbr <> a.src
           UNION ALL SELECT src, nbr FROM dl_g${i - 1})),
         dl_s$i AS MATERIALIZED (
           SELECT c.src, c.nbr,
             ${cosSql("ea.embedding", "eb.embedding")} AS cos
           FROM dl_c$i c JOIN embeddings ea ON ea.vec_id = c.src
           JOIN embeddings eb ON eb.vec_id = c.nbr),
         dl_g$i AS MATERIALIZED (
           SELECT src, nbr, cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM dl_s$i) WHERE rk <= $K)"""
    }
    val scoredArms = (0 to Iters)
      .map(i => s"SELECT src, nbr FROM dl_s$i")
      .mkString("\n           UNION ALL ")
    sb ++= s""",
         dl_fr AS MATERIALIZED (
           SELECT src, nbr FROM (
             SELECT src, nbr, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM dl_s$Iters) WHERE rk <= ${2 * K}),
         dl_aff AS MATERIALIZED (
           SELECT DISTINCT f.nbr AS src FROM dl_fr f, dl_st
           WHERE f.nbr % dl_st.st <> 7 % dl_st.st),
         dl_rev AS MATERIALIZED (
           SELECT DISTINCT g.nbr AS src, g.src AS nbr FROM (
           $scoredArms) g
           JOIN dl_aff a ON a.src = g.nbr),
         dl_me AS MATERIALIZED (
           SELECT src, nbr FROM $finalCte
           UNION ALL SELECT src, nbr FROM dl_g$Iters),
         dl_ua AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT e.src, e.nbr FROM dl_me e JOIN dl_aff a ON a.src = e.src
           UNION ALL
           SELECT e.nbr, e.src FROM dl_me e JOIN dl_aff a ON a.src = e.nbr)),
         dl_um AS MATERIALIZED (SELECT DISTINCT u.src, u.nbr FROM (
           SELECT src, nbr FROM dl_me
           UNION ALL SELECT nbr, src FROM dl_me) u
           JOIN (SELECT DISTINCT nbr FROM dl_ua) m ON m.nbr = u.src),
         dl_nc AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
           SELECT a.src AS src, b.nbr AS nbr FROM dl_ua a
           JOIN dl_um b ON a.nbr = b.src
           WHERE b.nbr <> a.src
           UNION ALL
           SELECT f.src, f.nbr FROM $finalCte f JOIN dl_aff a2 ON a2.src = f.src
           UNION ALL
           SELECT src, nbr FROM dl_rev)),
         dl_rs AS MATERIALIZED (
           SELECT c.src, c.nbr,
             ${cosSql("ea.embedding", "eb.embedding")} AS cos
           FROM dl_nc c JOIN embeddings ea ON ea.vec_id = c.src
           JOIN embeddings eb ON eb.vec_id = c.nbr),
         dl_recut AS MATERIALIZED (
           SELECT src, nbr, cos FROM (
             SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
             FROM dl_rs) WHERE rk <= $K),
         dl_all AS MATERIALIZED (
           SELECT f.src, f.nbr, f.cos, 'kept' AS src_kind FROM $finalCte f
           WHERE NOT EXISTS (SELECT 1 FROM dl_aff a WHERE a.src = f.src)
           UNION ALL
           SELECT src, nbr, cos, 'recut' AS src_kind FROM dl_recut
           UNION ALL
           SELECT src, nbr, cos, 'delta' AS src_kind FROM dl_g$Iters)
         SELECT src AS src_id, rk, nbr AS nbr_id, cos, src_kind FROM (
           SELECT src, nbr, cos, src_kind,
             row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS rk
           FROM dl_all)
         ORDER BY src_id, rk"""
    sb.toString
  }
}
