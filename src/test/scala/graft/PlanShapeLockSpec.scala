package graft

/** Table-driven plan-shape lock over the FULL bench headline (round-12
  * verdict ask #8, generalizing the per-query pins in PlanSpec /
  * StorageOpsSpec): for every headline query, the count of shuffle
  * exchanges and broadcast exchanges in the (pre-execution, AQE initial)
  * physical plan at sf0.001 is snapshotted in
  * src/test/resources/plan_shapes_sf0001.tsv and asserted here — a
  * query that silently GAINS an exchange (a broadcast join falling back
  * to shuffle, a new un-fused stage, a cache miss turning one scan into
  * two) fails the suite with a per-query diff. A DELIBERATE plan change
  * regenerates the table in the same commit:
  *
  *   GRAFT_REGEN_PLAN_LOCK=1 sbt "testOnly graft.PlanShapeLockSpec"
  *
  * The counts are a string-level fingerprint (regexes over the plan
  * tree's print form — ReusedExchange reference lines count with their
  * referent, consistently), not a semantic audit: the point is DRIFT
  * DETECTION between rounds, with the semantic plan reviews living in
  * the per-operator specs. Streaming entries are excluded — their
  * builders EXECUTE the stream and return a result-table read whose
  * plan carries no operator shape.
  */
class PlanShapeLockSpec extends TestSpark {

  private val lockPath = "src/test/resources/plan_shapes_sf0001.tsv"

  /** Builders that execute a streaming query (or probe task scheduling)
    * before returning — their returned plan is a trivial result read. */
  private val excluded = Set("q33_stream_tumbling", "q139_stream_decontam")

  /** Queries that JOIN a memoized persisted relation: an AQE-cached
    * plan's output partitioning is only usable once the cache is
    * MATERIALIZED, so downstream joins gain or lose reusable exchanges
    * depending on whether an earlier query in the session executed the
    * cache (observed on q227: 30 vs 31 shuffles between testOnly and
    * the full suite with identical code). The lock allows these a
    * per-query shuffle band — Spark cache-statistics behavior, not a
    * plan change; broadcasts and everything else stay exact. The band
    * scales with how many times the textual fingerprint re-prints the
    * memoized subtree: q238 embeds the provenance relation dozens of
    * times (one per reference — the q231 textual-inflation class), so
    * its cache-state noise multiplies (observed 304 vs 314). */
  private val cacheStatSensitive = Map(
    "q227_curated_datasheet" -> 1,
    "q238_curated_multi_epoch" -> 12)

  private def shapeOf(name: String): (Int, Int) = {
    val plan = SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString
    val shuffles =
      "Exchange (hash|range|Single|RoundRobin)".r.findAllIn(plan).size
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).size
    (shuffles, broadcasts)
  }

  test("headline plan shapes match the committed lock table") {
    // canonical cache state first: a memoized relation MATERIALIZED by
    // an earlier suite changes downstream join statistics (observed:
    // q227 gained one exchange in the full suite vs testOnly), so the
    // lock always builds from cleared session caches — the same state
    // in both run modes
    SessionCache.releaseAll(spark)
    spark.catalog.clearCache()
    val names = Bench.headline.filterNot(excluded)
    val observed = names.map(n => n -> shapeOf(n))
    if (sys.env.contains("GRAFT_REGEN_PLAN_LOCK")) {
      val w = new java.io.PrintWriter(lockPath)
      try {
        w.println("# Counts are CACHE-COUPLED across the suite: a memoized")
        w.println("# persisted relation (gramCache/provCache/embed tracker)")
        w.println("# materialized by an earlier query substitutes an")
        w.println("# InMemoryRelation + AQE statistics into shared subtrees,")
        w.println("# shifting downstream exchange counts (observed: q244's")
        w.println("# embed cache moved q227 30->31 and q238 304->314 with no")
        w.println("# code change to either). The lock therefore ALWAYS")
        w.println("# (re)builds from cleared caches in standard suite order;")
        w.println("# regen ONLY via GRAFT_REGEN_PLAN_LOCK=1 sbt")
        w.println("# \"testOnly graft.PlanShapeLockSpec\" so the measured and")
        w.println("# asserted states match; cacheStatSensitive bands absorb")
        w.println("# the residual materialization-state noise.")
        w.println("# query\tshuffle_exchanges\tbroadcast_exchanges")
        observed.foreach { case (n, (sh, bc)) => w.println(s"$n\t$sh\t$bc") }
      } finally w.close()
      info(s"regenerated $lockPath with ${observed.size} entries")
    } else {
      val src = scala.io.Source.fromFile(lockPath)
      val expected =
        try src.getLines().filterNot(_.startsWith("#")).map { l =>
          val Array(n, sh, bc) = l.split("\t")
          n -> (sh.toInt, bc.toInt)
        }.toMap
        finally src.close()
      val missing = observed.collect {
        case (n, _) if !expected.contains(n) => n }
      assert(missing.isEmpty,
        s"headline queries missing from $lockPath (regenerate with " +
          s"GRAFT_REGEN_PLAN_LOCK=1): $missing")
      // the symmetric direction (r13 advice): a query REMOVED from the
      // headline must leave the table too, or the lock silently rots
      val stale = expected.keySet -- names.toSet -- excluded
      assert(stale.isEmpty,
        s"stale lock entries in $lockPath for queries no longer in the " +
          s"headline (regenerate with GRAFT_REGEN_PLAN_LOCK=1): $stale")
      val diffs = observed.collect {
        case (n, got @ (gs, gb)) if {
          val (es, eb) = expected(n)
          cacheStatSensitive.get(n) match {
            case Some(band) => math.abs(gs - es) > band || gb != eb
            case None => got != expected(n)
          }
        } =>
          s"$n: expected (shuffles, broadcasts)=${expected(n)}, got $got"
      }
      assert(diffs.isEmpty,
        "plan shapes drifted — review, then regenerate the lock in the " +
          "same commit if deliberate:\n" + diffs.mkString("\n"))
    }
  }
}
