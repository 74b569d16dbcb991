package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

/** Pins for the iterative integer-PageRank dataflow (q152): the algebra
  * the scaled-integer design guarantees (exact mass accounting — FP
  * PageRank can only assert approximate conservation) and the structural
  * ordering PageRank exists to compute. */
class GraphOpsSpec extends TestSpark {

  test("q152 conserves the integer mass budget and covers every trading party") {
    val rows = GraphOps.queries("q152_pagerank")(spark, sf0001).collect()
    val mass = rows.map(_.getAs[Long]("pr")).sum
    // each truncating division loses < 1 unit; with n base terms and one
    // term per directed edge per iteration the loss is far below 0.01%
    assert(mass <= GraphOps.Mass, s"mass $mass exceeds the budget")
    assert(mass > GraphOps.Mass / 10000L * 9999L, s"mass $mass leaked > 0.01%")
    assert(rows.forall(_.getAs[Long]("pr") > 0), "every node keeps rank > 0")
    val parties = Tables.orders(spark, sf0001)
      .join(Tables.lineitem(spark, sf0001)
        .withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
      .agg(countDistinct(col("o_custkey")) + countDistinct(col("l_suppkey")))
      .collect()(0).getLong(0)
    assert(rows.length == parties, s"${rows.length} nodes vs $parties parties")
  }

  test("pagerank orders a star's hub above its leaves and ties a symmetric cycle") {
    import spark.implicits._
    def sym(es: Seq[(Long, Long)]) =
      (es ++ es.map(e => (e._2, e._1))).toDF("src", "dst")
    // star: hub 0 — leaves 1..4; the hub absorbs every leaf's full rank
    val star = GraphOps.pagerank(spark, sym((1L to 4L).map(i => (0L, i))))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    assert((1L to 4L).forall(l => star(0L) > star(l)), s"hub must lead: $star")
    assert(star(1L) == star(2L) && star(2L) == star(3L) && star(3L) == star(4L),
      "symmetric leaves must tie exactly (integer determinism)")
    // 3-cycle: perfect symmetry → bit-identical thirds
    val cyc = GraphOps.pagerank(spark, sym(Seq((0L, 1L), (1L, 2L), (2L, 0L))))
      .collect().map(_.getAs[Long]("pr"))
    assert(cyc.distinct.length == 1, s"cycle ranks must tie: ${cyc.toSeq}")
  }

  test("q152 runs its ten pagerank rounds in one job: builder + collect <= 12 jobs") {
    // one RDD job carries all ten co-partitioned rounds; the rest are the
    // edge derivation's stages, the adjacency count, the eager truncate
    // and the returned plan's sort (a per-round job loop ran ~37)
    val jobs = jobsIn("q152-jobs") {
      GraphOps.queries("q152_pagerank")(spark, sf0001).collect()
    }
    assert(jobs <= 12, s"q152 ran $jobs jobs")
  }

  test("pagerank ranks do not depend on the shuffle width") {
    import spark.implicits._
    // a small irregular symmetrized graph: a hub, a chain and a triangle
    val es = (1L to 6L).map(i => (0L, i)) ++ Seq((6L, 7L), (7L, 8L),
      (8L, 9L), (9L, 7L), (3L, 8L))
    val sym = (es ++ es.map(e => (e._2, e._1))).toDF("src", "dst")
    def ranks(width: Int): Map[Long, Long] = {
      val child = ChildSession(spark, "spark.sql.shuffle.partitions" -> width.toString)
      GraphOps.pagerank(child, sym).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    }
    val one = ranks(1)
    assert(one.size == 10)
    assert(ranks(7) == one, "ranks differ between 1 and 7 shuffle partitions")
  }

  test("oriented triangle enumeration counts hand graphs exactly once each") {
    import spark.implicits._
    def count(es: Seq[(Long, Long)]): Long =
      GraphOps.orientedTriangles(spark,
        es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
          .distinct.toDF("a", "b")).count()
    // K4 has C(4,3) = 4 triangles; removing one edge leaves 2
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    assert(count(k4) == 4, "K4 must have 4 triangles")
    assert(count(k4.filterNot(_ == (0L, 1L))) == 2, "K4 minus an edge has 2")
    // two disjoint triangles + a connecting path (no new closure)
    val two = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))
    assert(count(two) == 2, "disjoint triangles must not double-count")
    // a star is triangle-free however large
    assert(count((1L to 6L).map(i => (0L, i))) == 0, "star has none")
  }

  test("q157 sampling audit: quarter-rate sample, estimator arithmetic, determinism") {
    val r = GraphOps.queries("q157_triangle_doulion")(spark, sf0001).collect()
    assert(r.length == 1)
    val row = r(0)
    val (ne, ns) = (row.getAs[Long]("n_edges"), row.getAs[Long]("n_sampled"))
    assert(ne > 0 && ns > 0)
    // the hash coin keeps 1/4 of the edge space; allow a generous band
    assert(math.abs(ns.toDouble / ne - 0.25) < 0.05,
      s"sample rate ${ns.toDouble / ne} far from 1/4")
    assert(row.getAs[Long]("est_triangles")
      == row.getAs[Long]("n_tri_sampled") * 64, "estimator must scale by p^-3")
    // the hash is the coin: a second run is bit-identical
    val r2 = GraphOps.queries("q157_triangle_doulion")(spark, sf0001).collect()
    assert(r.sameElements(r2), "sampling must be deterministic")
  }

  test("q159 TextRank emits a well-formed top-20 from the corpus vocabulary") {
    val rows = GraphOps.queries("q159_textrank")(spark, sf0001).collect()
    assert(rows.length == 20, s"expected 20 keywords, got ${rows.length}")
    assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to 20))
    val prs = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("pr"))
    assert(prs.forall(_ > 0) && prs.zip(prs.tail).forall { case (a, b) => a >= b },
      "ranks must be positive and non-increasing")
    val vocab = Tables.documents(spark, sf0001).collect()
      .flatMap(r => functions.Tokens.split(r.getAs[String]("text"))).toSet
    assert(rows.forall(r => vocab.contains(r.getAs[String]("word"))),
      "every keyword must come from the corpus vocabulary")
  }

  test("q169 BFS: seeds at 0, bipartite parity, every hop has a parent") {
    val rows = GraphOps.queries("q169_bfs_reach")(spark, sf0001).collect()
    val seeds = Tables.supplier(spark, sf0001)
      .filter(col("s_nationkey") === 0).collect()
      .map(_.getAs[Long]("s_suppkey")).toSet
    assert(rows.filter(_.getAs[Int]("dist") == 0)
      .map(_.getAs[Long]("key")).toSet == seeds, "dist 0 = exactly the seeds")
    assert(rows.forall(r => r.getAs[String]("kind") match {
      // bipartite trade graph: suppliers sit at even hops, customers odd
      case "supp" => r.getAs[Int]("dist") % 2 == 0
      case _      => r.getAs[Int]("dist") % 2 == 1
    }), "hop parity must follow the bipartite structure")
    // chain integrity: every node at dist k >= 1 has a neighbor at k-1
    val dist = rows.map(r => (if (r.getAs[String]("kind") == "cust")
      r.getAs[Long]("key") * 2 else r.getAs[Long]("key") * 2 + 1)
      -> r.getAs[Int]("dist")).toMap
    val edges = GraphOps.tradeEdges(spark, sf0001).collect()
      .map(r => r.getAs[Long]("src") -> r.getAs[Long]("dst"))
    val ok = dist.filter(_._2 >= 1).forall { case (n, k) =>
      edges.exists { case (a, b) => b == n && dist.get(a).contains(k - 1) }
    }
    assert(ok, "every reached node needs a parent one hop closer")
  }

  test("q175 LP: sizes recount, labels from the node set, components never mix") {
    val rows = GraphOps.queries("q175_label_propagation")(spark, sf0001)
      .collect()
    val parts = Tables.lineitem(spark, sf0001)
      .select(col("l_partkey")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("p_partkey")).toSet.subsetOf(parts))
    assert(rows.forall(r => parts.contains(r.getAs[Long]("community"))),
      "a community label must be some node's id")
    val sizes = rows.groupBy(_.getAs[Long]("community")).view
      .mapValues(_.length.toLong).toMap
    assert(rows.forall(r =>
      r.getAs[Long]("community_size") == sizes(r.getAs[Long]("community"))),
      "community_size must recount the label assignment")
    // kernel on a hand graph: two disjoint triangles — labels can never
    // cross a component boundary
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val edges = tri.toDF("src", "dst")
      .unionByName(tri.map(_.swap).toDF("src", "dst"))
    val lbl = GraphOps.labelPropagation(spark, edges, 4).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
    assert(Set(1L, 2L, 3L).forall(n => lbl(n) <= 3L))
    assert(Set(10L, 11L, 12L).forall(n => lbl(n) >= 10L))
  }

  test("q182 recs: top-5 shape, weights non-increasing, affinity recounts") {
    val rows = GraphOps.queries("q182_item_recs")(spark, sf0001).collect()
    rows.groupBy(_.getAs[Long]("p_partkey")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq ==
        (1 to sorted.length).toSeq, "ranks must be dense from 1")
      assert(sorted.length <= 5)
      val ws = sorted.map(_.getAs[Long]("w"))
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
      assert(!sorted.exists(r =>
        r.getAs[Long]("rec") == r.getAs[Long]("p_partkey")),
        "an item must not recommend itself")
    }
    // recount one affinity against the raw order-part incidences
    val r0 = rows.head
    val (pa, pb) = (r0.getAs[Long]("p_partkey"), r0.getAs[Long]("rec"))
    val op = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val shared = op.filter(col("l_partkey") === pa)
      .select(col("l_orderkey"))
      .intersect(op.filter(col("l_partkey") === pb).select(col("l_orderkey")))
      .count()
    assert(r0.getAs[Long]("w") == shared,
      s"pair ($pa,$pb): w=${r0.getAs[Long]("w")} vs recount $shared")
  }

  test("q202 association rules: full Apriori-1 recompute of the ranking") {
    val rows = graft.operators.GraphOps.queries("q202_assoc_rules")(
      spark, sf0001).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("rk")).toSeq == (1L to 20L))
    // ground truth from the raw (order, part) incidences
    val op = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = op.map(_._1).distinct.length.toLong
    val np = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val byOrder = op.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val pairW = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byOrder.values.foreach { ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length)
        pairW((ps(i), ps(j))) = pairW.getOrElse((ps(i), ps(j)), 0L) + 1L
    }
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = pairW.toSeq.filter(_._2 >= 3L).flatMap {
      case ((a, b), w) => Seq((a, b, w), (b, a, w))
    }.map { case (a, b, w) =>
      (a, b, w, r6(w.toDouble / nOrders), r4(w.toDouble / np(a)),
        r4(w * nOrders.toDouble / (np(a) * np(b))))
    }.sortBy { case (a, b, _, _, c, l) => (-l, -c, a, b) }.take(20)
    val got = rows.map(r => (r.getAs[Long]("antecedent"),
      r.getAs[Long]("consequent"), r.getAs[Long]("pair_n"),
      r.getAs[Double]("support"), r.getAs[Double]("confidence"),
      r.getAs[Double]("lift"))).toSeq
    assert(got == expected, s"ranking diverges:\n$got\nvs\n$expected")
    // lift is symmetric: whenever both directions of a pair chart, they
    // carry the same lift
    got.groupBy(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3))
      .values.filter(_.length == 2).foreach { pr =>
        assert(pr(0)._6 == pr(1)._6, "lift must be symmetric")
      }
  }
}
