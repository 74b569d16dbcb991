package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters.IteratorHasAsScala

/** KMV (k-minimum-values) distinct counting: the one construction and
  * estimator shared by every batch sketch (q110, q112, q183, q195,
  * q197, q207) and by the DuckDB replays, q126's included.
  *
  * A sketch is the K smallest DISTINCT md5 keys of a set, as fixed-width
  * lowercase hex strings, so string order is numeric order on both
  * engines. The estimate reads the K-th smallest key's leading 15 hex
  * digits as a uniform [0, 1) draw u = v / 16^15 and returns (K−1)/u,
  * rounded half-up to 4 places. Under K keys the sketch holds the whole
  * set, so the estimate is the exact count. 16^15 = 2^60 is a power of
  * two, so the one long→double conversion rounds identically in Spark
  * and DuckDB, and the replay is bit-exact.
  *
  * Construction never shuffles data-sized rows: each partition first
  * keeps its own bottom-K ([[partitionMins]]), a superset of the global
  * bottom-K, so only ≤ K × groups × partitions rows reach the exchange
  * and the TopKPerGroup heap finishes the selection. */
object Kmv {

  /** Keep `set` at the k smallest distinct keys offered so far. */
  private def offer(set: java.util.TreeSet[String], h: String, k: Int): Unit =
    if (!set.contains(h)) {
      if (set.size < k) set.add(h)
      else if (h.compareTo(set.last()) < 0) { set.add(h); set.pollLast() }
    }

  /** Ungrouped pre-cut: each partition's k smallest distinct keys. */
  private[graft] def partitionMins(hashes: Dataset[String], k: Int)
      : Dataset[String] = {
    import hashes.sparkSession.implicits._
    hashes.mapPartitions { it =>
      val set = new java.util.TreeSet[String]()
      it.foreach(offer(set, _, k))
      set.iterator().asScala
    }
  }

  /** Keyed pre-cut over (`group`, h) string rows: each partition keeps
    * the k smallest distinct keys PER GROUP, one TreeSet per group seen.
    *
    * CONTRACT: the group key must be LOW-CARDINALITY (a corpus slice —
    * language, source, split, profiled column), because there is no
    * spill. `maxGroups` bounds the state at runtime (k × maxGroups
    * strings per task, ~25 MB at the defaults): a partition seeing more
    * distinct groups fails fast, naming the per-group row_number window
    * (q112's oracle shape) as the high-cardinality alternative — the
    * same fail-fast style as [[graft.plans.TopKPerGroup.topK]]'s
    * k ≤ 10000 guard. */
  private[graft] def partitionMins(keyed: DataFrame, group: String, k: Int,
      maxGroups: Int = 1024): DataFrame = {
    import keyed.sparkSession.implicits._
    keyed.select(col(group), col("h")).as[(String, String)].mapPartitions { it =>
      val sets = scala.collection.mutable.HashMap
        .empty[String, java.util.TreeSet[String]]
      it.foreach { case (g, h) =>
        val set = sets.getOrElseUpdate(g, {
          if (sets.size >= maxGroups) throw new IllegalStateException(
            s"kmvPartitionMins: over $maxGroups distinct groups in one " +
              "partition — this spill-free pre-cut is for low-cardinality " +
              "slice keys (lang/source/split); for high-cardinality groups " +
              "use a per-group row_number window over the distinct hashes " +
              "instead (q112's oracle shape)")
          new java.util.TreeSet[String]()
        })
        offer(set, h, k)
      }
      sets.iterator.flatMap { case (g, s) => s.iterator().asScala.map(h => (g, h)) }
    }.toDF(group, "h")
  }

  /** Per-group bottom-k sketch of (`group`, h) rows: the keyed pre-cut,
    * a distinct over its ≤ k × groups × partitions rows, then the heap
    * selection. Returns (`group`, h), at most k rows per group. */
  def sketch(keyed: DataFrame, group: String, k: Int): DataFrame =
    graft.plans.TopKPerGroup.topK(partitionMins(keyed, group, k).distinct(),
      Seq(group), Seq("h" -> true), k)

  /** The estimate from a sketch's size `kUsed` and largest key `kth`:
    * exact below k, else (k−1)/u — rounded to 4 places unless the
    * caller composes it further (q195's intersection). */
  def estimate(kUsed: Column, kth: Column, k: Int,
      rounded: Boolean = true): Column = {
    val raw = lit((k - 1).toDouble) /
      (conv(substring(kth, 1, 15), 16, 10).cast("long").cast("double") /
        lit(1.152921504606846976e18))
    when(kUsed < k, kUsed.cast("double"))
      .otherwise(if (rounded) round(raw, 4) else raw)
  }

  /** [[estimate]] as DuckDB SQL over the column expressions `kUsed` and
    * `kth`: hex→int through an explicit base-16 fold, then the two
    * double divisions in the same order. */
  def estimateSql(kUsed: String, kth: String, k: Int,
      rounded: Boolean = true): String = {
    val raw = s"""${k - 1}.0 / (list_reduce(list_prepend(0::BIGINT,
           [strpos('0123456789abcdef', ch)::BIGINT - 1
            for ch in string_split(substr($kth, 1, 15), '')]),
           (acc, x) -> acc * 16 + x) / 1152921504606846976.0)"""
    s"""CASE WHEN $kUsed < $k THEN CAST($kUsed AS DOUBLE)
           ELSE ${if (rounded) s"round($raw, 4)" else raw} END"""
  }
}
