package graft.functions

import graft.Tables._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Custom typed UDAF via `Aggregator[IN, BUF, OUT]` — the engine's
  * user-defined aggregate surface (the reference's reducef is a whole-group
  * fold; an Aggregator is the Spark-native incremental+mergeable form that
  * partial-aggregates map-side and merges across partitions).
  */
object CustomAgg {

  /** Geometric mean, accumulated as (Σ ln x, n) — mergeable, so Spark can
    * partial-aggregate before the shuffle. */
  object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Double, Long)): Double =
      if (b._2 == 0) Double.NaN else math.exp(b._1 / b._2)
    def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Buffer of [[KmvDistinct]]: the ≤ K smallest DISTINCT md5 hex keys
    * seen so far, sorted ascending (fixed-width lowercase hex sorts
    * numerically). */
  case class KmvB(mins: Array[String])

  /** Bounded k-minimum-values distinct sketch as a mergeable Aggregator
    * — the streaming-capable form of the batch KMV (q110/q112): the
    * buffer is the ≤ K smallest distinct hash keys, reduce/merge keep
    * that invariant with O(K) work, and finish applies the IDENTICAL
    * estimator arithmetic as the batch path (hex→long over the first 15
    * digits, division order preserved, half-up 4-dp round). KMV of a
    * SET is order-independent, so partial aggregation, shuffle order,
    * and state-store checkpointing between micro-batches all produce
    * the same answer — which is why a streaming run can share an exact
    * batch oracle. State per group is K×32 chars ≈ 2 KB at K = 64,
    * bounded at any stream length. */
  class KmvDistinctOf(val K: Int) extends Aggregator[String, KmvB, Double] {
    def zero: KmvB = KmvB(Array.empty)
    // null-safe: a null input hash (md5 of a null key) contributes
    // nothing, matching what count(DISTINCT ...) semantics would do —
    // without the guard, insert's (m :+ null).sorted NPEs (round-9
    // advisor finding).
    def reduce(b: KmvB, h: String): KmvB = if (h == null) b else insert(b, h)
    def merge(a: KmvB, b: KmvB): KmvB = b.mins.foldLeft(a)(insert)
    def finish(b: KmvB): Double =
      if (b.mins.length < K) b.mins.length.toDouble
      else {
        val kth = b.mins(K - 1)
        var v = 0L
        var i = 0
        while (i < 15) { v = v * 16 + Character.digit(kth.charAt(i), 16); i += 1 }
        java.math.BigDecimal
          .valueOf((K - 1).toDouble / (v / 1152921504606846976.0))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    private def insert(b: KmvB, h: String): KmvB = {
      val m = b.mins
      // fast path: full sketch and h can't displace anything (≥ the kth
      // min covers duplicates of it too)
      if (m.length == K && h >= m(K - 1)) b
      else if (m.contains(h)) b
      else {
        val nb = (m :+ h).sorted
        KmvB(if (nb.length > K) nb.take(K) else nb)
      }
    }
    def bufferEncoder: Encoder[KmvB] = Encoders.product[KmvB]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** The K = 64 sketch q126 streams with. */
  object KmvDistinct extends KmvDistinctOf(64)

  /** Buffer of [[QuantileSketch]]: ≤ K (hash key, value) pairs — the
    * rows whose md5 row keys are the K smallest seen, kept sorted by
    * key (parallel arrays). */
  case class QsB(keys: Array[String], vals: Array[Double])

  /** Finished estimate: sample size actually held plus four quantile
    * points read off the sample. */
  case class QsOut(sample_n: Long, p25: Double, p50: Double,
      p75: Double, p90: Double)

  /** Bounded approximate-quantile sketch as a mergeable Aggregator — the
    * KMV trick ([[KmvDistinct]]) pointed at ORDER STATISTICS instead of
    * cardinality: keeping the rows with the K smallest md5 row-keys is a
    * uniform random-but-DETERMINISTIC sample of the group (the hash is
    * the coin), so the sample's quantiles estimate the group's, state is
    * bounded at K pairs (~10 KB) for any group size, and bottom-K of a
    * set is order-independent — partial aggregation, shuffle order, and
    * streaming micro-batch boundaries cannot change the answer, which is
    * why DuckDB can replay the whole estimator exactly (same bottom-K
    * selection, same (value, key)-ordered positional pick) instead of
    * settling for an error-band check. Groups smaller than K are EXACT.
    * Quantile index: 0-based floor(((m-1)·p)/100) over the sample sorted
    * by (value, key) — all-integer, tie-broken by the hash key. */
  object QuantileSketch extends Aggregator[(String, Double), QsB, QsOut] {
    val K = 256
    def zero: QsB = QsB(Array.empty, Array.empty)
    def reduce(b: QsB, x: (String, Double)): QsB =
      if (x._1 == null) b else insert(b, x._1, x._2)
    def merge(a: QsB, b: QsB): QsB = {
      var r = a
      var i = 0
      while (i < b.keys.length) { r = insert(r, b.keys(i), b.vals(i)); i += 1 }
      r
    }
    def finish(b: QsB): QsOut = {
      val m = b.keys.length
      if (m == 0) QsOut(0, Double.NaN, Double.NaN, Double.NaN, Double.NaN)
      else {
        val ord = Array.range(0, m).sortBy(i => (b.vals(i), b.keys(i)))
        def pick(p: Int): Double = b.vals(ord(((m - 1) * p) / 100))
        QsOut(m, pick(25), pick(50), pick(75), pick(90))
      }
    }
    private def insert(b: QsB, h: String, v: Double): QsB = {
      val m = b.keys
      // fast path: full sketch and h displaces nothing (covers re-seen
      // keys ≥ the kth min too); the explicit contains covers re-seen
      // keys below it (merge replay / task retry idempotence)
      if (m.length == K && h >= m(K - 1)) b
      else if (m.contains(h)) b
      else {
        val nb = (m.zip(b.vals) :+ (h, v)).sortBy(_._1)
        val kept = if (nb.length > K) nb.take(K) else nb
        QsB(kept.map(_._1), kept.map(_._2))
      }
    }
    def bufferEncoder: Encoder[QsB] = Encoders.product[QsB]
    def outputEncoder: Encoder[QsOut] = Encoders.product[QsOut]
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Geometric mean of extended price per return flag through the custom
    // Aggregator; oracle = exp(avg(ln x)). Σ ln x is order-sensitive in
    // the last bits → round to 4.
    "q50_custom_udaf" -> ((s, d) => {
      val geo = udaf(GeoMean)
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(geo(col("l_extendedprice")), 4).as("geo_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // The same Aggregator registered BY NAME for SQL (spark.udf.register
    // accepts a udaf directly — public API, no bridge needed), completing
    // the by-name surface across all extension tiers: scalar expression
    // (q71), UDTF (q90), and now UDAF. Same plan as q50 (map-side partial
    // agg, merge across partitions), different front door.
    "q98_sql_udaf" -> ((s, d) => {
      s.udf.register("geomean", udaf(GeoMean))
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, round(geomean(l_extendedprice), 4) AS geo_price,
           count(*) AS n_rows
           FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // Correlated scalar subqueries (Catalyst de-correlates to joins):
    // per-customer order count and max total price.
    "q49_scalar_subquery" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v")
      customer(s, d).createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_custkey,
           (SELECT count(*) FROM orders_v WHERE o_custkey = c_custkey) AS n_orders,
           (SELECT round(max(o_totalprice), 2) FROM orders_v
            WHERE o_custkey = c_custkey) AS max_total
           FROM customer_v ORDER BY c_custkey""")
    }),

    // Approximate per-group quantiles through the bounded bottom-K-hash
    // sample sketch — the percentile monitor a 100 TB pipeline can
    // afford: exact percentile_disc needs the whole group sorted (or
    // held) somewhere; this holds 256 rows per group no matter the group
    // size, partial-aggregates map-side, and the estimate is
    // deterministic (the hash is the coin), so the oracle replays it
    // bit-exactly. Groups ≤ K are exact by construction.
    "q153_quantile_sketch" -> ((s, d) => {
      val qs = udaf(QuantileSketch)
      // row key = (orderkey, linenumber, partkey, suppkey, quantity,
      // extendedprice): a DUPLICATE hash key is dropped by the sketch's
      // set semantics while the oracle's row_number keeps both rows, so
      // the sample stays deterministic only if row keys are unique. The
      // 4-key prefix alone actually repeats once at sf0.001 (found by
      // the q160 contract the moment it landed), hence quantity + price
      // in the key — those doubles render shortest-roundtrip identically
      // in both engines (integral quantities, 2-decimal money, < 1e7 so
      // no JVM scientific notation). The assumption is ENFORCED, not
      // just documented: q160's 'lineitem/rowkey_unique' contract counts
      // duplicates of exactly this md5 key on both engines, so a fixture
      // change that repeats the full tuple turns up as a nonzero
      // violation there
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          qs(md5(concat_ws(":", col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"))),
            col("l_extendedprice")).as("qs"))
        .select(col("l_returnflag"), col("n_rows"),
          col("qs.sample_n").as("sample_n"), col("qs.p25").as("p25"),
          col("qs.p50").as("p50"), col("qs.p75").as("p75"),
          col("qs.p90").as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // Regexp extraction + predicates over the documents source tag.
    "q51_regex_extract" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          regexp_extract(col("source"), "(\\d+)", 1).cast("int").as("src_num"),
          col("text").contains("spark").cast("int").as("mentions_spark"),
          col("text").rlike("^the ").cast("int").as("starts_the"))
        .orderBy(col("doc_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q50_custom_udaf" ->
      """SELECT l_returnflag,
         round(exp(avg(ln(l_extendedprice))), 4) AS geo_price,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q98_sql_udaf" ->
      """SELECT l_returnflag,
         round(exp(avg(ln(l_extendedprice))), 4) AS geo_price,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q49_scalar_subquery" ->
      """SELECT c_custkey,
         (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
         (SELECT round(max(o_totalprice), 2) FROM orders
          WHERE o_custkey = c_custkey) AS max_total
         FROM customer ORDER BY c_custkey""",
    "q153_quantile_sketch" ->
      """WITH h AS (
           SELECT l_returnflag AS grp, l_extendedprice AS val,
             md5(concat_ws(':', l_orderkey, l_linenumber,
               l_partkey, l_suppkey, l_quantity, l_extendedprice)) AS hh
           FROM lineitem),
         samp AS (
           SELECT grp, val, hh FROM (
             SELECT grp, val, hh,
               row_number() OVER (PARTITION BY grp ORDER BY hh) AS rh
             FROM h)
           WHERE rh <= 256),
         ord AS (
           SELECT grp, val,
             row_number() OVER (PARTITION BY grp ORDER BY val, hh) - 1 AS idx,
             count(*) OVER (PARTITION BY grp) AS m
           FROM samp),
         tot AS (SELECT l_returnflag AS grp, count(*) AS n_rows
                 FROM lineitem GROUP BY 1)
         SELECT o.grp AS l_returnflag, t.n_rows,
           CAST(max(m) AS BIGINT) AS sample_n,
           max(CASE WHEN idx = ((m - 1) * 25) // 100 THEN val END) AS p25,
           max(CASE WHEN idx = ((m - 1) * 50) // 100 THEN val END) AS p50,
           max(CASE WHEN idx = ((m - 1) * 75) // 100 THEN val END) AS p75,
           max(CASE WHEN idx = ((m - 1) * 90) // 100 THEN val END) AS p90
         FROM ord o JOIN tot t ON t.grp = o.grp
         GROUP BY o.grp, t.n_rows ORDER BY o.grp""",
    "q51_regex_extract" ->
      """SELECT doc_id,
         CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS src_num,
         CAST(contains(text, 'spark') AS INT) AS mentions_spark,
         CAST(regexp_matches(text, '^the ') AS INT) AS starts_the
         FROM documents ORDER BY doc_id"""
  )
}
