package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries min-of-3 and prints the
  * result as JSON.
  *
  * Every run forces FULL execution through a noop sink (count() would let
  * Spark skip projected columns; noop writes every row of the real result).
  */
object Bench {
  // Each family is in by representatives whose wall time prices their plan:
  //   relational: scan-agg, pushdown, star join, window, top-k and the event analytics
  //   text: wordcount on the SQL and MR-façade paths, BPE, n-gram models, gram-index search
  //   dedup: exact, MinHash, rolling-hash, CDC, spans, image/audio fingerprints, store, Bloom
  //   ann: cosine top-k, LSH, PQ, IVF+PQ, the store-served index, hybrid RRF, flat-IVF q73
  //   pipeline: cleaning, sampling, mixing, governance, curation up to the chain q225/q226
  //   sketch: KMV, quantile, count-min and histograms, beside the three ANALYZE forms
  //   storage: JSONL/ORC round trips, layout audits, rollup maintenance, shard exporters
  //   graph: PageRank, triangles, BFS, label propagation, item recs, association rules
  //   stream: the watermark-append path q33 and its batch sessionizer q107
  //   kNN graph (no subtotal): NN-descent q231 beside audit q240, consumer q245, delta q248
  //   release (no subtotal): epoch/packing exporters, lineage q239/q246, transforms q242-q244
  // A sibling stays out when its wall time would price something else:
  //   fixed checkpoint/iteration constants (the q119 precedent): q72 q76 q77 q119 q122
  //   streaming micro-batch constants (the q130 precedent): q130 q149 q156 q237 q247
  //   a batch twin carries the timing (the q190 precedent): q173 q190 q199 q219 q232
  //   another headline query prices its cost: the store builds for q142 q143 q145 q147
  //     q148; q159 (q152), q163 (q127), q172 (q04), q222 (q221), q224 (q223)
  // Non-headline queries stay reachable through SPARK_GRAFT_BENCH_ONLY.
  private[graft] val headline = Seq(
    "q01_pricing_summary", "q02_filter_pushdown", "q04_join_star",
    "q07_window_rank", "q12_topk", "q19_wordcount", "q21_mr_wordcount",
    "q26_dedup_exact", "q27_dedup_minhash", "q30_cosine_topk",
    "q33_stream_tumbling",
    "q79_clean_pipeline", "q95_quota_sample", "q102_ann_lsh",
    "q107_batch_sessionize",
    "q106_heavy_hitters", "q110_kmv_distinct", "q113_bpe_token_count",
    "q114_rolling_fingerprint",
    "q115_bpe_fertility", "q116_cdc_chunk_dedup",
    "q120_shared_spans", "q123_ann_pq",
    "q121_image_phash_pairs", "q124_jsonl_roundtrip", "q125_source_mixing",
    "q127_delta_dedup", "q128_orc_roundtrip",
    "q129_store_delta_dedup", "q131_ann_ivfpq", "q133_store_compact_admit",
    "q134_audio_fp_pairs", "q135_ann_store_search", "q136_curation_run",
    "q139_stream_decontam", "q140_stratified_split", "q141_snapshot_diff",
    "q144_corpus_datasheet", "q146_hybrid_rrf",
    "q152_pagerank", "q153_quantile_sketch", "q154_skew_audit",
    "q155_bm25_topk", "q157_triangle_doulion", "q158_retention_cohorts",
    "q160_quality_contracts", "q161_event_anomalies", "q162_drift_psi",
    "q164_scd2_dimension", "q165_event_paths", "q166_table_stats",
    "q167_zorder_audit", "q168_phrase_search", "q169_bfs_reach",
    "q170_bpe_learn", "q171_incremental_rollup", "q174_pit_snapshot",
    "q175_label_propagation", "q176_attribution", "q177_bigram_perplexity",
    "q178_zipf_audit", "q179_mixture_weights", "q180_compaction_plan",
    "q181_rfm_features", "q182_item_recs",
    "q183_table_stats_sketch", "q184_url_canonical_dedup",
    "q185_domain_quota",
    "q186_ngram_novelty", "q187_rendezvous_shards",
    "q188_leakage_safe_split", "q189_vocab_coverage",
    "q191_entity_resolution", "q192_weighted_sample",
    "q193_funnel", "q194_equidepth_hist", "q195_kmv_set_ops",
    "q196_cms_freq",
    "q197_sketch_rollup", "q198_range_selectivity", "q200_ewma_volume",
    "q201_peak_concurrency", "q202_assoc_rules",
    "q203_gram_drift", "q204_gram_search",
    "q205_hist_merge", "q206_target_mix",
    "q207_table_stats_prod", "q208_quality_classifier",
    "q209_export_shards",
    "q210_repetition_filter",
    "q211_ccnet_buckets", "q212_cluster_best_keeper",
    "q213_template_prefixes",
    "q214_epoch_sample", "q215_packing_curve",
    "q216_centroid_drift", "q217_embedding_outliers",
    "q218_bloom_decontam",
    "q220_crosslabel_neardup",
    "q221_curation_provenance", "q223_epoch_export", "q73_knn_graph",
    "q225_curated_epoch_export", "q226_delta_curation",
    "q227_curated_datasheet", "q228_epoch_schedule",
    "q229_pack_mix_audit",
    "q230_gate_calibration",
    "q231_knn_descent",
    "q233_packing_policy", "q234_multi_epoch_export",
    "q235_attention_purity",
    "q236_release_diff",
    "q238_curated_multi_epoch", "q239_release_series",
    "q240_sampled_knn_audit",
    "q241_boundary_manifest",
    "q242_substr_scrub", "q243_dsir_select", "q244_diversity_prune",
    "q245_hard_negatives",
    "q246_incremental_release_lineage",
    "q248_knn_delta_admit")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Comma-separated name substrings restrict the run (see [[run]]).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (full, compact, last) = run(spark, sfDir, only)
    println(full)
    println(compact)
    // the full record also goes to bench_logs/, so its analysis never
    // depends on stdout capture
    try {
      val outDir = new java.io.File("bench_logs")
      if (outDir.isDirectory || outDir.mkdirs()) {
        val w = new java.io.PrintWriter(
          new java.io.File(outDir, "bench_full_last.json"))
        try w.println(full) finally w.close()
      }
    } catch { case _: Throwable => () }
    println(last)
    SessionCache.releaseAll(spark)
    spark.stop()
  }

  // The original eleven-query headline, fixed so its subtotal compares
  // across every artifact however the headline grows.
  private val comparable11 = Seq("q01_pricing_summary", "q02_filter_pushdown",
    "q04_join_star", "q07_window_rank", "q12_topk", "q19_wordcount",
    "q21_mr_wordcount", "q26_dedup_exact", "q27_dedup_minhash",
    "q30_cosine_topk", "q33_stream_tumbling")

  // Family partition of the headline, by name prefix, for the final
  // line's subtotals: one slow neighbour cannot hide inside a family.
  private val families = Seq(
    "relational" -> Seq("q01_", "q02_", "q04_", "q07_", "q12_", "q158_",
      "q161_", "q164_", "q165_", "q174_", "q176_", "q181_", "q193_",
      "q200_", "q201_"),
    "text" -> Seq("q19_", "q21_", "q106_", "q113_", "q115_", "q168_",
      "q170_", "q177_", "q178_", "q179_", "q189_", "q203_", "q204_",
      "q206_", "q211_", "q214_", "q215_", "q228_"),
    "dedup" -> Seq("q26_", "q27_", "q114_", "q116_", "q120_", "q121_",
      "q127_", "q129_", "q133_", "q134_", "q139_", "q218_"),
    "ann" -> Seq("q30_", "q102_", "q123_", "q131_", "q135_", "q146_",
      "q155_", "q216_", "q217_", "q220_", "q73_"),
    "pipeline" -> Seq("q79_", "q95_", "q125_", "q136_", "q140_", "q141_",
      "q144_", "q160_", "q162_", "q184_", "q185_", "q186_", "q187_",
      "q188_", "q191_", "q192_", "q208_", "q210_", "q212_", "q213_",
      "q221_", "q225_", "q226_", "q227_", "q230_"),
    "sketch" -> Seq("q110_", "q153_", "q154_", "q166_", "q183_", "q194_",
      "q195_", "q196_", "q197_", "q198_", "q205_", "q207_"),
    "storage" -> Seq("q124_", "q128_", "q167_", "q171_", "q180_", "q209_",
      "q223_", "q229_"),
    "graph" -> Seq("q152_", "q157_", "q169_", "q175_", "q182_", "q202_"),
    "stream" -> Seq("q33_", "q107_"))

  /** Times the headline (or the `only` selection) on `sfDir` and returns
    * three JSON strings: the full record (per-query mins and all runs),
    * the compact metric line (the last stdout line holding "queries")
    * and the bounded final line. `value` in each is the sum of the
    * per-query mins, failed queries excluded.
    *
    * `only` holds name substrings. A substring that matches no headline
    * entry selects from the full query inventory instead, so a scale
    * sweep can time a query the headline leaves out. */
  def run(spark: SparkSession, sfDir: String,
      only: Option[Seq[String]]): (String, String, String) = {
    val picked = only match {
      case None => headline
      case Some(subs) =>
        val fromHeadline = headline.filter(n => subs.exists(n.contains))
        val extras = SparkEntry.queries.keys.toSeq.sorted
          .filter(n => !headline.contains(n) &&
            subs.exists(sub => n.contains(sub) &&
              !headline.exists(_.contains(sub))))
        fromHeadline ++ extras
    }

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Min-of-3 per query: one run is load-fragile, and the minimum of
    // three back-to-back runs measures the plan, not the neighbours. All
    // three times are emitted too, so a contended run (min ≪ max) is
    // identifiable from the artifact alone.
    def runs3(name: String): Seq[Double] = (1 to 3).map(_ => once(name))

    // Called after the warm-up and after each query's min-of-3: a query's
    // three runs share their warm caches, but nothing persisted leaks into
    // the next query's storage memory and GC.
    def releaseAll(): Unit = {
      SessionCache.releaseAll(spark)
      // The iterative graph kernels cut lineage with localCheckpoint, whose
      // blocks stay pinned until the ContextCleaner collects the RDD, and
      // the session cache cannot see them. Between queries nothing
      // persisted is still needed, so drop every registered RDD.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }

    // JVM/codegen warmup on the smallest SF so headline numbers measure
    // the plan, not first-run compilation.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      picked.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      releaseAll()
    }

    val allRuns = picked.zipWithIndex.map { case (n, i) =>
      val rs = runs3(n)
      releaseAll()
      System.err.println(f"[bench] ${i + 1}/${picked.size} $n min=${rs.min}%.2f")
      n -> rs
    }
    // The state-backend runs (RocksDB q65, transformWithState q66) are
    // timed min-of-3 with their runs in the full record but kept out of
    // `value`, which sums the headline only. Unloading every state-store
    // provider between runs closes the finished query's RocksDB instances,
    // so run i+1 starts as cold as run 1.
    val statefulRuns = Seq("q65_stream_rocksdb", "q66_transform_with_state")
      .filter(n => only.forall(_.exists(n.contains)))
      .map { n =>
        val rs = (1 to 3).map { _ =>
          val t = once(n)
          org.apache.spark.sql.graftbridge.GraftBridge.unloadStateStores()
          t
        }
        n -> rs
      }

    val results = allRuns.map { case (k, rs) =>
      k -> (if (rs.exists(_ < 0)) -1.0 else rs.min)
    }
    val resMap = results.toMap
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = (allRuns ++ statefulRuns).map { case (k, rs) =>
      "\"" + k + "\":" + rs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Streaming throughput: input rows of the events fixture over the best
    // end-to-end wall time, which includes source listing, micro-batch
    // planning, state store I/O and the sink.
    val nEvents = Tables.events(spark, sfDir).count()
    // The adaptive constants the engine actually derived, so sweep tooling
    // reads them instead of re-implementing the rules. nnd_probe_radius
    // and nnd_recall_micro name the kNN graph the session's q231-family
    // numbers were built on.
    val nDocs = Tables.documents(spark, sfDir).count()
    val nVecs = Tables.embeddings(spark, sfDir).count()
    val nndRecallJson = functions.KnnDescent.measuredRecallMicro(spark,
        Tables.embeddings(spark, sfDir), sfDir)
      .map { case (leg, v) => "\"" + leg + "\":" + v }
      .mkString("{", ",", "}")
    val constsJson =
      s"""{"n_docs":$nDocs,"n_vecs":$nVecs,""" +
      s""""df_cap":${functions.Dedup.dfCap(nDocs)},""" +
      s""""ivf_k":${functions.Similarity.ivfK(nVecs)},""" +
      s""""lsh_planes":${functions.Similarity.lshNPlanes(nVecs)},""" +
      s""""nnd_probe_radius":${functions.KnnDescent.autoRadius(spark,
        Tables.embeddings(spark, sfDir), sfDir)},""" +
      s""""nnd_recall_micro":$nndRecallJson}"""
    val streamEps = resMap.get("q33_stream_tumbling")
      .filter(_ > 0).map(t => math.round(nEvents / t)).getOrElse(-1L)
    val statefulEps = statefulRuns.map { case (n, rs) =>
      val t = rs.filter(_ > 0)
      n -> (if (t.isEmpty) -1L else math.round(nEvents / t.min))
    }
    val epsJson = (("q33_stream_tumbling" -> streamEps) +: statefulEps)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    def subtotal(names: Seq[String]): Double =
      names.flatMap(resMap.get).filter(_ >= 0).sum
    val famJson = families.map { case (f, prefixes) =>
      val s = subtotal(picked.filter(n => prefixes.exists(n.startsWith)))
      "\"" + f + "\":" + f"$s%.3f"
    }.mkString("{", ",", "}")
    val head = s"""{"metric":"total","value":$total,"unit":"sec","""
    val streamTail = s""""stream_events_per_sec":$streamEps,"stream_eps":$epsJson,""" +
      s""""sf":"$sfDir"}"""
    val full = head + s""""queries":$qs,"runs":$runsJson,""" +
      s""""family_subtotals":$famJson,""" +
      s""""subtotal_comparable11":${subtotal(comparable11)},""" +
      s""""bench_only":${only.isDefined},""" +
      s""""derived_constants":$constsJson,""" + streamTail
    // The per-query map outgrows a bounded tail capture of stdout as the
    // headline grows, so the compact line is not last: the final line is
    // bounded whatever the headline size.
    val compact = head + s""""queries":$qs,""" + streamTail
    val last = head + s""""n_queries":${picked.size},""" +
      s""""subtotal_comparable11":${subtotal(comparable11)},""" +
      s""""bench_only":${only.isDefined},""" +
      s""""family_subtotals":$famJson,""" + streamTail
    (full, compact, last)
  }
}
