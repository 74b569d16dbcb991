package graft

import graft.functions.CustomAgg.{KmvDistinct, KmvDistinctOf}
import graft.functions.Kmv
import org.apache.spark.sql.functions.{col, max}

/** The shared KMV module against its two independent definitions: the
  * Column estimator against the streaming Aggregator's `finish`, and the
  * partition-pre-cut + heap sketch against a brute-force per-group
  * bottom-K. Seeded random md5 keys, at K = 64 and K = 256, with sets
  * both below and above K. */
class KmvSpec extends TestSpark {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** n distinct random keys, each repeated up to three times. */
  private def keys(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { i =>
      Seq.fill(1 + rnd.nextInt(3))(md5hex(s"$seed:$i:${rnd.nextLong()}"))
    }
  }

  for (k <- Seq(64, 256)) {
    test(s"Kmv.estimate equals KmvDistinct.finish at K = $k, below and above K") {
      import spark.implicits._
      val agg = if (k == KmvDistinct.K) KmvDistinct else new KmvDistinctOf(k)
      val sizes = Seq(1, k / 2, k - 1, k, k + 1, 3 * k, 40 * k)
      val cases = for (n <- sizes; seed <- 1L to 3L) yield {
        val buf = keys(seed * 1000 + n, n).foldLeft(agg.zero)(agg.reduce)
        (buf.mins.length.toLong, buf.mins.last, agg.finish(buf))
      }
      val got = cases.toDF("k_used", "kth", "want")
        .select(col("k_used"), col("want"),
          Kmv.estimate(col("k_used"), col("kth"), k).as("est"))
        .collect()
      assert(got.length == cases.length)
      assert(got.exists(_.getLong(0) < k) && got.exists(_.getLong(0) == k))
      got.foreach { r =>
        assert(r.getDouble(2) == r.getDouble(1),
          s"k_used=${r.getLong(0)}: Column ${r.getDouble(2)} vs finish ${r.getDouble(1)}")
      }
    }

    test(s"Kmv.sketch equals a brute-force per-group bottom-K at K = $k") {
      import spark.implicits._
      val sizes = Seq("a" -> 5, "b" -> (k - 1), "c" -> k, "d" -> 4 * k,
        "e" -> 20 * k)
      val rows = sizes.flatMap { case (g, n) =>
        keys(g.head.toLong * 7 + k, n).map(g -> _) }
      val keyed = new scala.util.Random(k).shuffle(rows).toDF("slice", "h")
        .repartition(5)
      val sk = Kmv.sketch(keyed, "slice", k)
      assert(sk.columns.toSeq == Seq("slice", "h"))
      val got = sk.collect().groupBy(_.getString(0))
        .map { case (g, rs) => g -> rs.map(_.getString(1)).sorted.toSeq }
      val want = rows.groupBy(_._1)
        .map { case (g, rs) => g -> rs.map(_._2).distinct.sorted.take(k) }
      assert(got == want)
      // the largest kept key is the K-th minimum the estimator reads
      val kth = sk.groupBy("slice").agg(max("h")).as[(String, String)]
        .collect().toMap
      assert(kth == want.map { case (g, hs) => g -> hs.last })
    }
  }
}
