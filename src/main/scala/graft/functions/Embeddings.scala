package graft.functions

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-pipeline operators beyond similarity search: per-cluster
  * centroids (the feature-aggregation shape every embedding pipeline
  * needs) and sketch-based approximate distinct counts.
  */
object Embeddings {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-label centroid, dimension-wise: posexplode → (label, dim) avg.
    // Shuffles (label, dim, partial sums) — 64×n_labels keys, never the
    // vectors themselves; partial aggregation makes the map side emit one
    // row per (label, dim) per partition.
    "q41_centroids" -> ((s, d) => {
      embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("avg_val"))
        .orderBy(col("label"), col("pos"))
    }),

    // Approximate distinct via HyperLogLog++ next to the exact count —
    // the sketch every 100 TB pipeline uses when exact distinct would
    // shuffle the full key set. DuckDB's sketch differs numerically, so
    // the oracle checks the exact count hash-exactly and the approx value
    // as an IN-QUERY error-bound assertion (rsd=0.02 → |err| well under
    // 5%): the boolean is deterministic-by-contract and hashable.
    "q43_approx_distinct" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx") - col("exact_orders"))
            <= col("exact_orders") * 0.05).as("approx_within_5pct"))
        .orderBy(col("l_returnflag"))
    }),

    // SEMANTIC CENTROID DRIFT — the embedding-space corpus monitor that
    // catches what the token-level gram drift (q203) cannot: a source
    // whose VOCABULARY is stable but whose MEANING mix shifts (topic
    // rot, model-version skew in the embedder) moves its class centroid
    // between ingestion halves. Per label: the dimension-wise mean of
    // each half (vec_id parity — q203's half convention), then the
    // cosine between the two half-centroids; a healthy class sits near
    // 1.0 (on the synthetic fixture the label signal is weak, so the
    // half-centroids are noise-dominated and read near 0 — the spec
    // pins the contract on a crafted stable/orthogonal class pair
    // where the answer is exactly 1 and exactly 0).
    // Everything after the (label, half, dim) rollup — ≤
    // labels × 2 × 64 rows — is centroid-sized: the rollup shuffles
    // (key, partial sum) only, vectors never leave the map side.
    // Dimension means are ROUNDED (6 dp, exactly q41's contract) before
    // the cosine, so the only cross-engine float risk is the ≤64-term
    // product sums — nine orders below the round(6) cut.
    // CONTRACT (round-12 advisor finding, pinned in EmbeddingsSpec): a
    // label whose vectors ALL land in one vec_id-parity half has no
    // between-half drift to measure — the inner h0⋈h1 join drops it,
    // and the oracle inner-joins identically. Such a degenerate class
    // is a data-arrival problem, not a drift number; the monitor's
    // companion count query (groupBy label, both halves) is where it
    // surfaces, and q217 still scrubs its outliers.
    "q216_centroid_drift" -> ((s, d) => {
      val m = embeddings(s, d)
        .select(col("label"), expr("vec_id % 2").as("half"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("half"), col("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("m"),
          count(lit(1)).as("n"))
      val h0 = m.filter(col("half") === 0).select(col("label"), col("pos"),
        col("m").as("m0"), col("n").as("n0"))
      val h1 = m.filter(col("half") === 1).select(col("label"), col("pos"),
        col("m").as("m1"), col("n").as("n1"))
      h0.join(h1, Seq("label", "pos"))
        .groupBy(col("label"))
        .agg(max(col("n0")).as("n_even"), max(col("n1")).as("n_odd"),
          sum(col("m0") * col("m1")).as("dp"),
          sum(col("m0") * col("m0")).as("s0"),
          sum(col("m1") * col("m1")).as("s1"))
        .select(col("label"), col("n_even"), col("n_odd"),
          round(col("dp") / (sqrt(col("s0")) * sqrt(col("s1"))), 6)
            .as("drift_cos"))
        .orderBy(col("label"))
    }),

    // EMBEDDING OUTLIER SCRUB — the SemDeDup-adjacent garbage detector:
    // vectors far from their OWN class centroid are mislabeled points,
    // embedder failures, or junk documents, and they poison both
    // training mixes and ANN index balance. Per label the 5 lowest
    // cosines against the label centroid (rounded per q41's contract).
    // Plan shape: the ≤ labels × 64 centroid rollup BROADCASTS into the
    // exploded corpus (a map-side join — the corpus never shuffles for
    // the join), the per-vector rollup keys on vec_id (linear), and the
    // bottom-5 cut is the TopKPerGroup heap + its re-used partitioning
    // for the rank window — ≤ 5 rows per label survive to the driver at
    // any corpus size.
    "q217_embedding_outliers" -> ((s, d) => {
      val scored = centroidCos(s, d)
      graft.plans.TopKPerGroup.topK(scored, Seq("label"),
          Seq("cos" -> true, "vec_id" -> true), 5)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
            .orderBy(col("cos"), col("vec_id"))))
        .filter(col("rk") <= 5)
        .select(col("label"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("label"), col("rk"))
    }),

    // D4 DIVERSITY PRUNING (Tirumala et al. 2023, "D4: Improving LLM
    // Pretraining via Document De-Duplication and Diversification") —
    // the second half of the D4 recipe, after the near-dedup the repo
    // already has (q77/q122): within each cluster, the points CLOSEST
    // to the centroid are the most prototypical/redundant, so the
    // ⌊n/4⌋ most-central per label are pruned and the diverse remainder
    // kept. The mirror image of q217's outlier scrub (which cuts the
    // FAR tail): together they trim both degenerate ends of a class.
    // Per-label rank of a corpus-sized relation is DISTRIBUTED via the
    // shared two-phase coarse-offset ladder (graft.plans.RankLadder —
    // ONE definition with q211, see its scaladoc for the bounded-
    // partition argument); the oracle's single window replays the
    // identical (cos DESC, vec_id) total order. The keep rule is pure
    // integer arithmetic: kept ⇔ rk·4 > n_label.
    "q244_diversity_prune" -> ((s, d) => {
      val scored = graft.SessionCache.tracked("embed", centroidCos(s, d))
      val nLab = scored.groupBy(col("label"))
        .agg(count(lit(1)).as("n_label"))
      graft.plans.RankLadder.rank(scored, Seq("label"), "cos", "vec_id")
        .join(broadcast(nLab), "label")
        .select(col("label"), col("rk"), col("vec_id"), col("cos"),
          (col("rk") * 4 > col("n_label")).as("kept"))
        .orderBy(col("label"), col("rk"))
    })
  )

  /** The (vec_id, label, cos-to-own-label-centroid) relation shared by
    * the outlier scrub (q217, cuts the far tail) and the D4 diversity
    * prune (q244, cuts the prototypical core) — ONE definition of the
    * centroid and the rounded cosine so the two ends of the trim cannot
    * drift. Centroid dims are rounded per q41's contract before the
    * cosine; the ≤ labels × 64 centroid rollup broadcasts into the
    * exploded corpus (map-side join — the corpus never shuffles for
    * it) and the per-vector rollup keys on vec_id. */
  private[graft] def centroidCos(s: SparkSession, d: String): DataFrame = {
    val cen = embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("m"))
    val vd = col("v").cast("double")
    embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(broadcast(cen), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(round(sum(vd * col("m")) /
        (sqrt(sum(vd * vd)) * sqrt(sum(col("m") * col("m")))), 6)
        .as("cos"))
  }

  /** Max-abs int8 quantization of the embedding column — the standard
    * pre-ANN compression (scale = max|x|, q_i = floor(x_i·127/scale)).
    * Map-side only; the oracle compares per-vector integer aggregates of
    * the quantized values (sum/min/max), which pin every element through
    * the deterministic floor. */
  val quantizeQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q63_embedding_quantize" -> ((s, d) => {
      val mx = array_max(transform(col("embedding"), v => abs(v.cast("double"))))
      val quant = transform(col("embedding"),
        v => when(col("scale") > 0,
          floor(v.cast("double") * 127.0 / col("scale")).cast("long"))
          .otherwise(lit(0L)))
      embeddings(s, d)
        .select(col("vec_id"), col("embedding"), mx.as("scale"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
          quant.as("q"))
        .select(col("vec_id"), col("scale_r"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"))
        .orderBy(col("vec_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q63_embedding_quantize" ->
      """WITH t AS (
           SELECT vec_id, embedding::DOUBLE[] AS e,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
           FROM embeddings),
         q AS (
           SELECT vec_id, round(scale, 6) AS scale_r,
             list_transform(e, x -> CASE WHEN scale > 0
               THEN CAST(floor(x * 127.0 / scale) AS BIGINT) ELSE 0 END) AS qv
           FROM t)
         SELECT vec_id, scale_r,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           list_min(qv) AS q_min, list_max(qv) AS q_max
         FROM q ORDER BY vec_id""",
    "q41_centroids" ->
      """SELECT label, i AS pos,
         round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS avg_val
         FROM embeddings, range(64) t(i)
         GROUP BY label, i ORDER BY label, pos""",
    "q43_approx_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_orderkey) AS exact_orders,
         TRUE AS approx_within_5pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q216_centroid_drift" ->
      """WITH m AS (
           SELECT label, vec_id % 2 AS half, i AS pos,
             round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS m,
             count(*) AS n
           FROM embeddings, range(64) t(i)
           GROUP BY 1, 2, 3),
         j AS (
           SELECT a.label, a.m AS m0, b.m AS m1, a.n AS n0, b.n AS n1
           FROM m a JOIN m b
             ON a.label = b.label AND a.pos = b.pos
             AND a.half = 0 AND b.half = 1)
         SELECT label, max(n0) AS n_even, max(n1) AS n_odd,
           round(sum(m0 * m1)
             / (sqrt(sum(m0 * m0)) * sqrt(sum(m1 * m1))), 6) AS drift_cos
         FROM j GROUP BY label ORDER BY label""",

    "q217_embedding_outliers" ->
      """WITH c AS (
           SELECT label, i AS pos,
             round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS m
           FROM embeddings, range(64) t(i)
           GROUP BY 1, 2),
         s AS (
           SELECT e.vec_id, e.label,
             round(sum(CAST(e.embedding[t.i + 1] AS DOUBLE) * c.m)
               / (sqrt(sum(CAST(e.embedding[t.i + 1] AS DOUBLE)
                     * CAST(e.embedding[t.i + 1] AS DOUBLE)))
                  * sqrt(sum(c.m * c.m))), 6) AS cos
           FROM embeddings e
           CROSS JOIN range(64) t(i)
           JOIN c ON c.label = e.label AND c.pos = t.i
           GROUP BY 1, 2),
         r AS (
           SELECT label, vec_id, cos,
             row_number() OVER (PARTITION BY label
               ORDER BY cos, vec_id) AS rk
           FROM s)
         SELECT label, rk, vec_id, cos
         FROM r WHERE rk <= 5 ORDER BY label, rk""",

    // q244: q217's centroid/cosine CTEs verbatim (ONE scoring
    // definition in the engine too — centroidCos), then a single
    // window per label replays the engine's two-phase ladder rank
    // (identical (cos DESC, vec_id) total order — band = round(cos, 1)
    // is monotone in cos) and the same integer keep rule.
    "q244_diversity_prune" ->
      """WITH c AS (
           SELECT label, i AS pos,
             round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS m
           FROM embeddings, range(64) t(i)
           GROUP BY 1, 2),
         s AS (
           SELECT e.vec_id, e.label,
             round(sum(CAST(e.embedding[t.i + 1] AS DOUBLE) * c.m)
               / (sqrt(sum(CAST(e.embedding[t.i + 1] AS DOUBLE)
                     * CAST(e.embedding[t.i + 1] AS DOUBLE)))
                  * sqrt(sum(c.m * c.m))), 6) AS cos
           FROM embeddings e
           CROSS JOIN range(64) t(i)
           JOIN c ON c.label = e.label AND c.pos = t.i
           GROUP BY 1, 2),
         n AS (SELECT label, count(*) AS n_label FROM s GROUP BY label),
         r AS (
           SELECT label, vec_id, cos,
             row_number() OVER (PARTITION BY label
               ORDER BY cos DESC, vec_id) AS rk
           FROM s)
         SELECT r.label, rk, vec_id, cos, (rk * 4 > n_label) AS kept
         FROM r JOIN n USING (label) ORDER BY r.label, rk"""
  )
}
