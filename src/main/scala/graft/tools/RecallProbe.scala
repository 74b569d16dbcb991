package graft.tools

import graft.functions.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ANN recall-at-scale probe (round-12 verdict ask #6): DedupSimilaritySpec
  * pins IVF recall at sf0.001, but recall was never MEASURED as ivf_k
  * grows per its √n formula. This main computes, for one fixture dir,
  * recall@5 of the q31 IVF search and recall@3 of the q73 kNN-graph
  * edges against brute-force cosine ground truth on a deterministic
  * probe sample (vec_id % step = 0, step sized for ~200 probes — exact
  * ground truth over the whole corpus would be Θ(n²) at 10× and the
  * sampled estimate is unbiased), and prints ONE JSON line. Dev-side
  * tooling — NOT part of the library runtime; scripts/ann_recall.py
  * drives it across the 1×/3×/10× growth fixtures.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = graft.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val step = math.max(1L, n / 200L)
    val probes = emb.filter(col("vec_id") % step === 0)
    val nProbes = probes.count()
    // optional quantizer-size override (SPARK_GRAFT_IVF_CELLS) — the
    // "ivf_k dial" measurement: a faster-growing k bounds the kNN
    // graph's nProbe·n²/k candidate volume below n^1.5, and this probe
    // quantifies the recall it costs. Probe-only: query paths always
    // derive k = ⌈√n⌉ so engine and oracle agree.
    val kCells = sys.env.get("SPARK_GRAFT_IVF_CELLS").map(_.toInt)
    val kUsed = kCells.getOrElse(Similarity.ivfK(n))
    val key = sfDir + kCells.fold("")(k => s"#cells=$k")

    // q31-style point search: IVF top-5 vs exact top-5 for the sample
    val exact5 = Similarity.cosineTopK(probes, emb, 5)
      .select(col("probe_id"), col("vec_id"))
    val ivf5 = Similarity.ivfTopK(spark, emb, probes, k = 5,
        broadcastProbes = true, cacheKey = key, kCells = kCells)
      .select(col("probe_id"), col("vec_id"))
    val nExact5 = exact5.count()
    val hit5 = ivf5.join(exact5, Seq("probe_id", "vec_id"), "left_semi").count()

    // q73-style kNN graph: the REAL full-corpus edge relation (probes =
    // corpus, not broadcast), recall read off the sampled sources; the
    // full graph is materialized and timed so the dial's cost and its
    // recall price are read from the same run
    val t0 = System.nanoTime()
    val graphAll = Similarity.ivfTopK(spark, emb, emb, k = 3,
        broadcastProbes = false, cacheKey = key, kCells = kCells)
      .select(col("probe_id"), col("vec_id"))
    val nEdges = graphAll.count()
    val graphSecs = (System.nanoTime() - t0) / 1e9
    val graphEdges = graphAll.filter(col("probe_id") % step === 0)
    val exact3 = Similarity.cosineTopK(probes, emb, 3)
      .select(col("probe_id"), col("vec_id"))
    val nExact3 = exact3.count()
    val hit3 = graphEdges.join(exact3, Seq("probe_id", "vec_id"), "left_semi")
      .count()

    // q231 NN-descent — the PRODUCTION graph path since round 14: both
    // radii measured explicitly (recall AND build cost), plus the auto
    // POLICY leg (radius-1 build + measured-recall escalation,
    // warm-started since round 17). Each leg is timed COLD: the stage
    // plans are identical across cache keys, so without the release
    // between legs the later builds would silently read the earlier
    // legs' persisted stages (r16's nnd_graph_secs was a warm read of
    // the auto leg's radius-1 stages — 2.1 s at x30 where the true
    // cold build is ~10x that).
    def coldKnnd(): Unit = graft.SessionCache.release(spark, "knnd")
    coldKnnd()
    val t2 = System.nanoTime()
    val nndAll = graft.functions.KnnDescent
      .stages(spark, emb, sfDir + "#nnd", probeRadius = 1).last
      .select(col("src").as("probe_id"), col("nbr").as("vec_id"))
    val nEdgesNnd = nndAll.count()
    val nndSecs = (System.nanoTime() - t2) / 1e9
    val hitNnd = nndAll.filter(col("probe_id") % step === 0)
      .join(exact3, Seq("probe_id", "vec_id"), "left_semi").count()

    // the EXECUTABLE recall dial: the same descent from a Hamming-2
    // seed (from scratch — no warm-start), so the warm-started auto
    // leg below has its honest from-scratch comparator in-artifact
    coldKnnd()
    val t3 = System.nanoTime()
    val nnd2All = graft.functions.KnnDescent
      .stages(spark, emb, sfDir + "#nnd2", probeRadius = 2).last
      .select(col("src").as("probe_id"), col("nbr").as("vec_id"))
    val nEdgesNnd2 = nnd2All.count()
    val nnd2Secs = (System.nanoTime() - t3) / 1e9
    val hitNnd2 = nnd2All.filter(col("probe_id") % step === 0)
      .join(exact3, Seq("probe_id", "vec_id"), "left_semi").count()

    // the POLICY leg, cold end-to-end: radius-1 build + sampled-exact
    // audit + (iff under the floor) the warm-started radius-2 rebuild.
    // Its recall is measured off graph() itself — under warm-start the
    // escalated graph is NOT the same edge set as the from-scratch
    // radius-2 leg above.
    coldKnnd()
    val t4 = System.nanoTime()
    val autoAll = graft.functions.KnnDescent
      .graph(spark, emb, sfDir + "#nnd_auto")
      .select(col("src").as("probe_id"), col("nbr").as("vec_id"))
    val nEdgesAuto = autoAll.count()
    val autoSecs = (System.nanoTime() - t4) / 1e9
    val autoR = graft.functions.KnnDescent.autoRadius(spark, emb,
      sfDir + "#nnd_auto")
    val hitAuto = autoAll.filter(col("probe_id") % step === 0)
      .join(exact3, Seq("probe_id", "vec_id"), "left_semi").count()
    // the ENGINE-RECORDED measurement trail of the auto build (round-17
    // verdict #1): every graph the dial considered — r1 always, r2 on
    // escalation, r2x1 when the one-extra-round response fired — with
    // the sampled recall the dial itself measured, in micro-units
    val autoLegs = graft.functions.KnnDescent.measuredRecallMicro(spark,
      emb, sfDir + "#nnd_auto")
    val autoLegsJson = autoLegs
      .map { case (leg, v) => "\"" + leg + "\":" + v }
      .mkString("{", ",", "}")

    def r4(x: Double) = math.round(x * 10000).toDouble / 10000
    println(
      s"""{"metric":"ann_recall","sf":"$sfDir","n_vecs":$n,""" +
      s""""ivf_k":$kUsed,"n_probes":$nProbes,""" +
      s""""recall_q31_at5":${r4(hit5.toDouble / nExact5)},""" +
      s""""recall_q73_at3":${r4(hit3.toDouble / nExact3)},""" +
      s""""knn_graph_secs":${r4(graphSecs)},"n_edges":$nEdges,""" +
      s""""recall_nnd_at3":${r4(hitNnd.toDouble / nExact3)},""" +
      s""""nnd_graph_secs":${r4(nndSecs)},"n_edges_nnd":$nEdgesNnd,""" +
      s""""recall_nnd_r2_at3":${r4(hitNnd2.toDouble / nExact3)},""" +
      s""""nnd_r2_graph_secs":${r4(nnd2Secs)},"n_edges_nnd_r2":$nEdgesNnd2,""" +
      s""""nnd_auto_radius":$autoR,""" +
      s""""recall_nnd_auto_at3":${r4(hitAuto.toDouble / nExact3)},""" +
      s""""nnd_auto_secs":${r4(autoSecs)},"n_edges_nnd_auto":$nEdgesAuto,""" +
      s""""nnd_auto_recall_micro":$autoLegsJson}""")
    graft.SessionCache.releaseAll(spark)
    spark.stop()
  }
}
