package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusCleaning, CurationPipeline}

/** q221/q222 (end-to-end provenance pipeline) and q223/q224 (epoch-aware
  * export): gate-by-gate reconciliation against the standalone queries,
  * funnel arithmetic, stochastic-rounding conservation, and the
  * one-exchange export plan pin. */
class CurationPipelineSpec extends TestSpark {

  private lazy val prov = CurationPipeline
    .queries("q221_curation_provenance")(spark, sf0001).collect()
  private lazy val verdictOf = prov.map(r =>
    r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap

  test("q221 provenance: covers exactly the corpus slice, one verdict each") {
    val corpusIds = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(prov.map(_.getAs[Long]("doc_id")).toSet == corpusIds)
    assert(prov.length == corpusIds.size, "one row per corpus doc")
    val allowed = Set("url_dup", "repetition", "quality", "cluster_dup",
      "contaminated", "keep")
    assert(verdictOf.values.toSet.subsetOf(allowed))
    assert(verdictOf.values.exists(_ == "keep"), "some docs must survive")
  }

  test("q221 verdicts reconcile with each standalone gate, first gate wins") {
    // stage 1: keeper = min doc_id per canonical URL over the corpus
    val urls = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        CorpusCleaning.canonicalUrl(CorpusCleaning.syntheticUrl).as("curl"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("curl")))
    val keeper = urls.groupBy(_._2).values.map(_.map(_._1).min).toSet
    // standalone per-doc gates (full-table queries; lookups stay corpus-side)
    val rep = CorpusCleaning.queries("q210_repetition_filter")(spark, sf0001)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> (r.getAs[Int]("keep") == 1)).toMap
    val qual = CorpusCleaning.queries("q208_quality_classifier")(spark, sf0001)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> (r.getAs[Int]("keep") == 1)).toMap
    val contam = functions.Dedup.queries("q74_decontaminate")(spark, sf0001)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    verdictOf.foreach { case (id, v) =>
      // docs under 5 tokens are absent from q210 and pass vacuously
      val repKeep = rep.getOrElse(id, true)
      if (!keeper.contains(id)) assert(v == "url_dup", s"$id: $v")
      else if (!repKeep) assert(v == "repetition", s"$id: $v")
      else if (!qual(id)) assert(v == "quality", s"$id: $v")
      else assert(v == "cluster_dup" || v == "contaminated" || v == "keep",
        s"$id: $v")
      if (v == "contaminated")
        assert(contam.contains(id), s"$id flagged but not in q74's set")
      if (v == "keep")
        assert(!contam.contains(id), s"$id kept but contaminated per q74")
    }
  }

  test("q221 cluster stage: best surviving member per cluster keeps") {
    val labels = functions.Dedup.nearDupLabels(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val score = CorpusCleaning.queries("q208_quality_classifier")(spark, sf0001)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // alive = survivors of stages 1-3 = docs whose verdict is one of the
    // stage-4+ outcomes
    val alive = verdictOf.filter { case (_, v) =>
      v == "cluster_dup" || v == "contaminated" || v == "keep" }.keys.toSeq
    val byCluster = alive.groupBy(id => labels.getOrElse(id, id))
    byCluster.foreach { case (_, members) =>
      val winner = members.minBy(id => (-score(id), id))
      members.foreach { id =>
        if (id == winner)
          assert(verdictOf(id) != "cluster_dup", s"winner $id demoted")
        else assert(verdictOf(id) == "cluster_dup",
          s"non-best $id: ${verdictOf(id)}")
      }
    }
    // the fixture must actually exercise the stage
    assert(verdictOf.values.count(_ == "cluster_dup") > 0,
      "fixture must contain at least one surviving near-dup cluster")
  }

  test("q222 funnel: stage arithmetic chains and reconciles with q221") {
    val f = CurationPipeline.queries("q222_curation_funnel")(spark, sf0001)
      .collect().sortBy(_.getAs[Int]("stage_ord"))
    assert(f.map(_.getAs[String]("stage")).toSeq ==
      Seq("url_dedup", "repetition", "quality", "cluster_dedup", "decontam"))
    assert(f.head.getAs[Long]("n_in") == prov.length.toLong)
    f.foreach { r =>
      assert(r.getAs[Long]("n_out") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_dropped"), s"$r")
    }
    f.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_out") == b.getAs[Long]("n_in"), s"$a -> $b")
    }
    val dropByStage = Map("url_dedup" -> "url_dup",
      "repetition" -> "repetition", "quality" -> "quality",
      "cluster_dedup" -> "cluster_dup", "decontam" -> "contaminated")
    f.foreach { r =>
      val expected = verdictOf.values
        .count(_ == dropByStage(r.getAs[String]("stage"))).toLong
      assert(r.getAs[Long]("n_dropped") == expected, s"$r")
    }
    assert(f.last.getAs[Long]("n_out") ==
      verdictOf.values.count(_ == "keep").toLong)
  }

  test("q223 epoch export: copy conservation, manifest matches q214, one-exchange plan") {
    val copies = functions.TextQueries.queries("q214_epoch_sample")(
      spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    val nTokOf = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(filter(split(col("text"), "[^\\p{L}]+"), x => x =!= ""))
          .as("nt"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("nt")).toMap
    val m = CurationPipeline.queries("q223_epoch_export")(spark, sf0001)
      .collect()
    assert(m.map(_.getAs[Long]("shard")).toSeq == (0L until 8L).toSeq)
    assert(m.map(_.getAs[Long]("n_doc_copies")).sum == copies.values.sum,
      "every stochastic-rounding copy lands in exactly one shard")
    assert(m.map(_.getAs[Long]("n_tokens")).sum ==
      copies.map { case (id, c) => c * nTokOf(id) }.sum,
      "epoch token mass = sum of per-doc copies x tokens")
    m.foreach { r =>
      assert(r.getAs[Long]("n_seqs") >= 1 &&
        r.getAs[Long]("n_seqs") <= r.getAs[Long]("n_doc_copies"), s"$r")
      // greedy packing: a sequence holds the docs spanning one budget
      // window, so its total is < budget + one max doc
      assert(r.getAs[Long]("max_seq_tokens") <
        512L + nTokOf.values.max, s"$r")
    }
    // one CORPUS-SIZED exchange (the shard window): the multiplier
    // relation's own lang-rollup exchanges shuffle (lang, partial-agg)
    // rows — language-count-sized after map-side combine — and the
    // multiplier joins back by BROADCAST, so the replicated corpus
    // never shuffles on doc_id (q209's bar, held with replication
    // composed in)
    val plan = CurationPipeline.epochPacked(spark, sf0001, 8, 512L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(plan).size == 1,
      s"exactly one shard-window exchange:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(doc_id"),
      s"the corpus must never shuffle on doc_id — multiplier join is " +
        s"broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin [lang"),
      s"multiplier relation must broadcast:\n$plan")
  }

  test("q225 curated export: only keeps exported, survivor-mix copies replay independently") {
    val keeps = verdictOf.filter(_._2 == "keep").keys.toSet
    // independent replay of the SURVIVOR mix: per-lang char mass over
    // the keeps → clamp [0.6, 1.25] → renormalize → round(6), then the
    // deterministic md5 coin per doc (the q214 spec's replay, re-rooted
    // on the curated population)
    val kept = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(filter(split(col("text"), "[^\\p{L}]+"), x => x =!= ""))
          .as("nt"))
      .collect()
      .filter(r => keeps.contains(r.getAs[Long]("doc_id")))
    val mass = kept.groupBy(_.getAs[String]("lang"))
      .map { case (l, rs) => l -> rs.map(_.getAs[Long]("n_chars")).sum }
    val bigM = mass.values.sum.toDouble
    val nL = mass.size
    val cw = mass.map { case (l, m) =>
      l -> math.min(1.25, math.max(0.6, bigM / (nL * m))) }
    val zf = bigM / cw.map { case (l, w) => w * mass(l) }.sum
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mult = cw.map { case (l, w) => l -> r6(w * zf) }
    val expCopies = kept.map { r =>
      val m = mult(r.getAs[String]("lang"))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${r.getAs[Long]("doc_id")}:epoch".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      val u = java.lang.Long.parseLong(hex, 16) / 4503599627370496.0
      r.getAs[Long]("doc_id") ->
        (math.floor(m).toLong + (if (u < m - math.floor(m)) 1L else 0L))
    }.toMap
    val man = CurationPipeline.queries("q225_curated_epoch_export")(
      spark, sf0001).collect()
    assert(man.map(_.getAs[Long]("shard")).toSeq == (0L until 8L).toSeq)
    assert(man.map(_.getAs[Long]("n_doc_copies")).sum ==
      expCopies.values.sum,
      "exported doc-copies must equal the survivor-mix replay")
    assert(man.map(_.getAs[Long]("n_tokens")).sum ==
      kept.map(r => expCopies(r.getAs[Long]("doc_id")) *
        r.getAs[Int]("nt")).sum,
      "exported token mass must equal copies x tokens over keeps only")
  }

  test("q224 mix audit: stochastic-rounding bound holds per language") {
    val a = CurationPipeline.queries("q224_epoch_mix_audit")(spark, sf0001)
      .collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getAs[Int]("within_bound") == 1, s"$r")
      val real = r.getAs[Double]("realized_multiplier")
      val mult = r.getAs[Double]("multiplier")
      assert(math.abs(real - mult) < 0.25,
        s"realized multiplier should track the target closely: $r")
    }
  }

  test("q226 delta curation: first-drop verdicts replay against brute-force gates") {
    val rows = CurationPipeline.queries("q226_delta_curation")(spark, sf0001)
      .collect()
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("text"),
        graft.operators.CorpusCleaning.canonicalUrl(
          graft.operators.CorpusCleaning.syntheticUrl).as("curl"))
      .collect()
    def ids(p: org.apache.spark.sql.Row => Boolean) =
      docs.filter(p).map(_.getAs[Long]("doc_id")).toSet
    val deltaIds = ids(r => r.getAs[String]("source") == "src1" &&
      r.getAs[Long]("doc_id") % 5 != 0)
    val baseIds = ids(r => r.getAs[String]("source") != "src1" &&
      r.getAs[Long]("doc_id") % 5 != 0)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == deltaIds,
      "one verdict per delta doc, delta = src1 minus the benchmark slice")
    val v = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap

    // brute-force gate replays
    val curlOf = docs.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("curl")).toMap
    val baseCurls = baseIds.map(curlOf)
    val urlKeep = deltaIds.map { id =>
      val peers = deltaIds.filter(o => curlOf(o) == curlOf(id))
      id -> (!baseCurls.contains(curlOf(id)) && id == peers.min)
    }.toMap
    val rep = graft.operators.CorpusCleaning
      .queries("q210_repetition_filter")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("keep") == 1)).toMap
    val qual = graft.operators.CorpusCleaning
      .queries("q208_quality_classifier")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("keep") == 1)).toMap
    val contam = functions.Dedup.queries("q74_decontaminate")(spark, sf0001)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val shOf = docs.map(r => r.getAs[Long]("doc_id") ->
      functions.Dedup.shingleSet(r.getAs[String]("text")).toSet).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (shOf(a), shOf(b))
      val u = x.union(y).size
      if (u == 0) 0.0 else x.intersect(y).size.toDouble / u
    }
    deltaIds.foreach { id =>
      val nearDup = baseIds.exists(b => jac(id, b) >= 0.8) ||
        deltaIds.exists(o => o < id && jac(id, o) >= 0.8)
      val expected =
        if (!urlKeep(id)) "url_dup"
        else if (!rep.getOrElse(id, true)) "repetition"
        else if (!qual(id)) "quality"
        else if (nearDup) "near_dup"
        else if (contam.contains(id)) "contaminated"
        else "admit"
      assert(v(id) == expected, s"doc $id: engine ${v(id)} vs $expected")
    }
    assert(v.values.exists(_ == "admit"), "the batch must admit something")
    assert(v.values.toSet.size >= 3, "multiple gates must fire on the fixture")

    // crafted corpus: positively fire the gates the fixture's random
    // text cannot (near_dup vs base; contamination). Texts are
    // stopword-laced unique-word sequences so the quality logit passes
    // and no bigram repeats (the 0.05 modal-bigram cut tolerates none
    // at this length).
    import spark.implicits._
    def uw(tag: String, i: Int): String =
      "" + ('a' + i / 26).toChar + ('a' + i % 26).toChar + tag
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on")
    def laced(tag: String, n: Int, lastOverride: Option[String] = None)
        : String = {
      val ws = (0 until n).map(uw(tag, _)) match {
        case init :+ _ if lastOverride.isDefined =>
          init :+ lastOverride.get
        case all => all
      }
      ws.zipWithIndex.map { case (w, i) => stops(i % 8) + " " + w }
        .mkString(" ")
    }
    val benchText =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val crafted = Seq(
      (5L, benchText, "en", "srcb"),                  // the benchmark row
      (22L, laced("base", 40), "en", "src2"),         // base page
      (21L, laced("base", 40, Some("changed")), "en", "src1"), // near-dup of 22
      (101L, laced("cont", 40) + " " + benchText, "en", "src1"), // contaminated
      (181L, laced("good", 40), "en", "src1"))        // clean admit
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Tables.scratchDir(spark, "q226crafted")
    crafted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cv = CurationPipeline.queries("q226_delta_curation")(spark, dir)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(cv == Map(21L -> "near_dup", 101L -> "contaminated",
      181L -> "admit"), s"crafted verdicts: $cv")
  }

  test("q227 curated datasheet: reconciles with q221 verdict counts per cell") {
    val cards = CurationPipeline.queries("q227_curated_datasheet")(
      spark, sf0001).collect()
    val byDoc = prov.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("source"), r.getAs[String]("lang"),
      r.getAs[String]("verdict")))
    cards.foreach { c =>
      val cell = byDoc.filter(x =>
        x._2 == c.getAs[String]("source") && x._3 == c.getAs[String]("lang"))
      assert(c.getAs[Long]("n_raw") == cell.length.toLong, s"$c")
      def n(v: String) = cell.count(_._4 == v).toLong
      assert(c.getAs[Long]("n_kept") == n("keep"), s"$c")
      assert(c.getAs[Long]("n_url_dup") == n("url_dup"), s"$c")
      assert(c.getAs[Long]("n_repetition") == n("repetition"), s"$c")
      assert(c.getAs[Long]("n_quality") == n("quality"), s"$c")
      assert(c.getAs[Long]("n_cluster_dup") == n("cluster_dup"), s"$c")
      assert(c.getAs[Long]("n_contaminated") == n("contaminated"), s"$c")
      // every verdict is one of the six, so the gate columns partition n_raw
      assert(c.getAs[Long]("n_kept") + c.getAs[Long]("n_url_dup") +
        c.getAs[Long]("n_repetition") + c.getAs[Long]("n_quality") +
        c.getAs[Long]("n_cluster_dup") + c.getAs[Long]("n_contaminated") ==
        c.getAs[Long]("n_raw"), s"$c")
    }
    assert(cards.map(_.getAs[Long]("n_raw")).sum == prov.length.toLong)
  }

  test("q228 epoch schedule: independent deterministic draws, mass conserved per epoch") {
    val rows = CurationPipeline.queries("q228_epoch_schedule")(spark, sf0001)
      .collect()
    assert(rows.map(_.getAs[Int]("epoch")).toSet == Set(1, 2, 3))
    rows.foreach { r =>
      val m = r.getAs[Double]("multiplier")
      val real = r.getAs[Double]("realized_multiplier")
      // the deterministic stochastic-rounding bound, per epoch
      assert(math.floor(m) <= real && real <= math.floor(m) + 1, s"$r")
      assert(math.abs(real - m) < 0.35, s"epoch mass should track target: $r")
    }
    // epochs draw DIFFERENT samples: for a fractional multiplier, the
    // per-lang copy totals should not all coincide across the 3 epochs
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    val fractional = byLang.filter { case (_, rs) =>
      val m = rs.head.getAs[Double]("multiplier"); m != math.floor(m) }
    assert(fractional.exists { case (_, rs) =>
      rs.map(_.getAs[Long]("n_copies")).distinct.size > 1 },
      "at least one language's epoch draws must differ across epochs")
  }

  test("q229 pack-mix audit: buckets recount from the packed relation") {
    val rows = CurationPipeline.queries("q229_pack_mix_audit")(spark, sf0001)
      .collect()
    val packed = CurationPipeline.epochPacked(spark, sf0001, 8, 512L)
      .collect()
    val perSeq = packed.groupBy(r =>
      (r.getAs[Long]("shard"), r.getAs[Long]("seq_id")))
      .toSeq // BEFORE mapping: Map.map would collapse same-keyed tuples
      .map { case (_, rs) =>
        (rs.map(_.getAs[String]("lang")).distinct.size,
          rs.map(_.getAs[Int]("n_tok").toLong).sum) }
    val expected = perSeq.groupBy(_._1).map { case (nl, xs) =>
      nl -> (xs.size.toLong, xs.map(_._2).sum) }
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (ns, nt) = expected(r.getAs[Long]("n_langs").toInt)
      assert(r.getAs[Long]("n_seqs") == ns, s"$r")
      assert(r.getAs[Long]("n_tokens") == nt, s"$r")
    }
    assert(math.abs(rows.map(_.getAs[Double]("token_share")).sum - 1.0)
      < 1e-4)
  }

  test("q237 advancing ingest: admissions advance the state, cross-batch twins caught, replay idempotent") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("q237spec").toString
    val in = new java.io.File(root, "in"); in.mkdirs()
    val (sinkDir, storeDir, urlDir, cp) =
      (s"$root/sink", s"$root/store", s"$root/urls", s"$root/cp")
    val manDir = s"$root/manifest"
    import spark.implicits._
    Seq.empty[(Long, String, String, Long)]
      .toDF("doc_id", "lang", "verdict", "batch_id")
      .write.mode("overwrite").partitionBy("batch_id").parquet(sinkDir)
    Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("doc_id", "shard", "n_tok", "h", "batch_id")
      .write.mode("overwrite").partitionBy("batch_id").parquet(manDir)
    CurationPipeline.seedAdvancingState(spark, sf0001, storeDir, urlDir)
    def addFile(name: String, rows: Seq[(Long, String, String, String)]): Unit = {
      val staged = s"$root/stage_$name"
      rows.toDF("doc_id", "lang", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
      ()
    }
    val schema = Seq((0L, "en", "src1", "x"))
      .toDF("doc_id", "lang", "source", "text").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$in/*.parquet")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          CurationPipeline.advancingIngestBatch(spark, sf0001, batch, id,
            sinkDir, storeDir, urlDir, Some(manDir))
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sink(): Map[(Long, Long), String] = spark.read.parquet(sinkDir)
      .select(col("batch_id").cast("long"), col("doc_id"), col("verdict"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // batch 0 = the FULL fixture delta in one file: state(<0) is the
    // seed alone, so the advancing form must equal q226 exactly — the
    // batch-twin contract the family shares
    val delta = Tables.documents(spark, sf0001)
      .filter(col("source") === "src1" && col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    addFile("a", delta)
    runOnce()
    val q226 = CurationPipeline.queries("q226_delta_curation")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b0 = sink()
    assert(b0.keys.forall(_._1 == 0L))
    assert(b0.map { case ((_, id), v) => id -> v } == q226,
      "batch 0 against the seed state must equal q226 on the same delta")
    // q247 manifest delta: exactly the batch's admissions, one row each
    def manifest(): Map[Long, (Long, Long)] = spark.read.parquet(manDir)
      .select(col("doc_id"), col("shard"), col("h"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val m0 = manifest()
    assert(m0.keySet == b0.collect { case ((_, id), "admit") => id }.toSet,
      "manifest delta must carry exactly batch 0's admissions")
    // restart with no new input: a no-op
    runOnce()
    assert(sink() == b0, "restart with no input must be a no-op")
    // batch 1: (a) a copy of a batch-0 ADMISSION — under q232's frozen
    // base this was spec-pinned to ADMIT; with the state advancing it
    // must now read near_dup (the round-14 verdict's counterexample
    // flip); (b) a doc whose canonical URL collapses onto a batch-0
    // admission's (same source, same div-80 page, same div-20 block) —
    // the URL store advanced, so it must read url_dup
    val admitted0 = b0.collect { case ((_, id), "admit") => id }.min
    val twin = delta.find(_._1 == admitted0).get
    addFile("b", Seq(
      (800000L, twin._2, "src1", twin._4),
      (admitted0 + 1, twin._2, "src1", "tiny unique page stub")))
    runOnce()
    val after = sink()
    assert(after.filter(_._1._1 == 0L) == b0, "batch 0 rows untouched")
    assert(after((1L, 800000L)) == "near_dup",
      "advancing state: a copy of a batch-0 admission must be caught — " +
        s"got ${after((1L, 800000L))}")
    assert(after((1L, admitted0 + 1)) == "url_dup",
      "advancing state: a URL twin of a batch-0 admission must be " +
        s"caught — got ${after((1L, admitted0 + 1))}")
    // REPLAY batch 1 directly (the retry case, stronger than restart):
    // verdicts and both state stores must be byte-identical — reads
    // prune to batch_id < 1, writes replace exactly partition 1
    def stateCounts() = (
      spark.read.parquet(urlDir).count(),
      spark.read.parquet(
        graft.operators.SignatureStore.bandsPath(storeDir)).count(),
      spark.read.parquet(
        graft.operators.SignatureStore.shinglesPath(storeDir)).count())
    val stBefore = stateCounts()
    val mBefore = manifest()
    val batch1 = Seq(
      (800000L, twin._2, "src1", twin._4),
      (admitted0 + 1, twin._2, "src1", "tiny unique page stub"))
      .toDF("doc_id", "lang", "source", "text")
    CurationPipeline.advancingIngestBatch(spark, sf0001, batch1, 1L,
      sinkDir, storeDir, urlDir, Some(manDir))
    assert(sink() == after, "replaying batch 1 must not change verdicts")
    assert(stateCounts() == stBefore,
      "replaying batch 1 must not grow the state stores")
    assert(manifest() == mBefore,
      "replaying batch 1 must not change the export manifest deltas")
    // the admission plan stays batch-broadcast: the batch's bands and
    // candidate set broadcast against the store side
    val sh = graft.functions.Dedup.shinglesOfDocs(spark, batch1)
    val plan = CurationPipeline.advancingVerdicts(spark, sf0001, batch1,
      sh, 1L, storeDir, urlDir).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "batch-side relations must broadcast against the store")
  }

  test("repCounts kernel: matches a brute-force recount on pseudo-random token streams") {
    val rnd = new scala.util.Random(13)
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(40)
      val vocab = Array("aa", "bb", "cc", "dd")
      val t = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
      val (nn, mx, nd) = graft.operators.CorpusCleaning.repCounts(t)
      assert(nn == n)
      val bigrams = t.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
      val expMx = if (bigrams.isEmpty) 0
        else bigrams.groupBy(identity).values.map(_.size).max
      assert(mx == expMx, s"modal bigram over ${t.toSeq}")
      val g5 = t.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
      assert(nd == g5.distinct.size, s"distinct 5-grams over ${t.toSeq}")
    }
  }

  test("q232 streaming delta curation: batch-twin of q226, frozen base, exactly-once under restart") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("q232spec").toString
    val in = new java.io.File(root, "in"); in.mkdirs()
    val (sinkDir, statsDir, cp) = (s"$root/sink", s"$root/funnel", s"$root/cp")
    import spark.implicits._
    // empty batch-partitioned seeds (the q190 spec discipline)
    Seq.empty[(Long, String, String, Long)]
      .toDF("doc_id", "lang", "verdict", "batch_id")
      .write.mode("overwrite").partitionBy("batch_id").parquet(sinkDir)
    Seq.empty[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .toDF("n_seen", "n_url_dup", "n_repetition", "n_quality",
        "n_near_dup", "n_contaminated", "n_admit", "batch_id")
      .write.mode("overwrite").partitionBy("batch_id").parquet(statsDir)
    def addFile(name: String, rows: Seq[(Long, String, String, String)]): Unit = {
      val staged = s"$root/stage_$name"
      rows.toDF("doc_id", "lang", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
      ()
    }
    val schema = Seq((0L, "en", "src1", "x"))
      .toDF("doc_id", "lang", "source", "text").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$in/*.parquet")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          CurationPipeline.streamDeltaBatch(spark, sf0001, batch, id,
            sinkDir, statsDir)
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sink(): Map[(Long, Long), String] = spark.read.parquet(sinkDir)
      .select(col("batch_id").cast("long"), col("doc_id"), col("verdict"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // batch 0 = the FULL fixture delta in one file: the streamed result
    // must equal q226 on the same delta — the batch-twin contract
    val delta = Tables.documents(spark, sf0001)
      .filter(col("source") === "src1" && col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    addFile("a", delta)
    runOnce()
    val q226 = CurationPipeline.queries("q226_delta_curation")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val b0 = sink()
    assert(b0.keys.forall(_._1 == 0L), "one batch expected for one file")
    assert(b0.map { case ((_, id), v) => id -> v } == q226,
      "streamed single-batch verdicts must equal q226 on the same delta")
    // restart with no new input: nothing re-admitted, nothing duplicated
    runOnce()
    assert(sink() == b0, "restart with no input must be a no-op")
    // batch 1: a NEW doc whose text copies a batch-0 ADMITTED doc. Base
    // state is FROZEN, so the copy is judged against the base only —
    // it must pass exactly as its twin did (were admissions folded into
    // the base, it would come back near_dup at jaccard 1.0)
    val admitted0 = b0.collect { case ((_, id), "admit") => id }.min
    val twinText = delta.find(_._1 == admitted0).get._4
    val twinLang = delta.find(_._1 == admitted0).get._2
    addFile("b", Seq((800000L, twinLang, "src1", twinText)))
    runOnce()
    val after = sink()
    assert(after.filter(_._1._1 == 0L) == b0, "batch 0 rows must be untouched")
    assert(after((1L, 800000L)) == "admit",
      "frozen base: a copy of a batch-0 admission must still pass — " +
        s"got ${after((1L, 800000L))}")
    // funnel rows recount their batch's verdicts exactly
    val verdictCols = Seq("url_dup", "repetition", "quality", "near_dup",
      "contaminated", "admit")
    spark.read.parquet(statsDir).collect().foreach { r =>
      // partition-column type is inferred from the directory value
      // (int), not the writer's long
      val bid = r.getAs[Number]("batch_id").longValue
      val batchVerdicts = after.collect { case ((b, _), v) if b == bid => v }
      assert(r.getAs[Long]("n_seen") == batchVerdicts.size)
      verdictCols.foreach { v =>
        assert(r.getAs[Long]("n_" + v) == batchVerdicts.count(_ == v),
          s"funnel n_$v drifted for batch $bid")
      }
    }
  }

  test("q233 packing policies: homogeneous is pure-by-construction and reconciles with q229's mixed audit") {
    val rows = CurationPipeline.queries("q233_packing_policy")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    val mixed = rows("mixed"); val homog = rows("homogeneous")
    // same copies packed under both windows: token mass identical
    assert(mixed.getAs[Long]("n_tokens") == homog.getAs[Long]("n_tokens"))
    // homogeneous: every sequence holds exactly one language
    assert(homog.getAs[Long]("max_langs_per_seq") == 1L)
    assert(homog.getAs[Double]("pure_seq_share") == 1.0)
    // the trade: one underfilled tail per (shard, lang) instead of per
    // shard — never fewer sequences, never less padding
    assert(homog.getAs[Long]("n_seqs") >= mixed.getAs[Long]("n_seqs"))
    assert(homog.getAs[Long]("n_pad_tokens") >= mixed.getAs[Long]("n_pad_tokens"))
    // the mixed row recounts q229's audit exactly
    val q229 = CurationPipeline.queries("q229_pack_mix_audit")(spark, sf0001)
      .collect()
    assert(mixed.getAs[Long]("n_seqs") == q229.map(_.getAs[Long]("n_seqs")).sum)
    assert(mixed.getAs[Long]("n_tokens") == q229.map(_.getAs[Long]("n_tokens")).sum)
    assert(mixed.getAs[Long]("max_langs_per_seq") ==
      q229.map(_.getAs[Long]("n_langs")).max)
    val pure229 = q229.find(_.getAs[Long]("n_langs") == 1L)
      .map(_.getAs[Long]("n_seqs")).getOrElse(0L)
    assert(mixed.getAs[Double]("pure_seq_share") ==
      math.round(pure229.toDouble / mixed.getAs[Long]("n_seqs") * 1e6) / 1e6)
  }

  test("q236 release diff: only the cluster stage can flip a shared doc, and only keep -> cluster_dup") {
    // the invariance the operator's oracle rests on: URL groups are
    // per-source, every other gate is per-doc, labels are full-corpus
    // on both sides — so between the base release and the full release
    // a shared doc's verdict either holds or degrades keep→cluster_dup
    // (a larger survivor pool never improves a cluster rank)
    val base = Tables.documents(spark, sf0001)
      .filter(col("source") =!= "src1" && col("doc_id") % 5 =!= 0)
    val provA = CurationPipeline.buildProvenanceOf(spark, base,
        CurationPipeline.benchGramSet(spark, sf0001),
        graft.functions.Dedup.nearDupLabels(spark, sf0001),
        Thresholds.RepTopBigramMax, Thresholds.RepDup5gramMax)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("verdict")).toMap
    provA.foreach { case (id, va) =>
      val vb = verdictOf(id)
      assert(va == vb || (va == "keep" && vb == "cluster_dup"),
        s"doc $id flipped $va -> $vb — a gate other than the cluster rank moved")
    }
    // the diff table recounts those relations exactly
    val rows = CurationPipeline.queries("q236_release_diff")(spark, sf0001)
      .collect()
    val cells = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val docs = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("source"), col("lang")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    cells.foreach { case ((src, lang), r) =>
      val ids = docs.collect { case (id, sl) if sl == (src, lang) => id }
      assert(r.getAs[Long]("n_kept_next") ==
        ids.count(verdictOf(_) == "keep").toLong)
      assert(r.getAs[Long]("n_kept_prev") ==
        ids.count(id => provA.get(id).contains("keep")).toLong)
      assert(r.getAs[Long]("n_new_kept") ==
        ids.count(id => !provA.contains(id) && verdictOf(id) == "keep").toLong)
      assert(r.getAs[Long]("n_displaced") ==
        ids.count(id => provA.get(id).contains("keep") &&
          verdictOf(id) != "keep").toLong)
      if (src == "src1") assert(r.getAs[Long]("n_kept_prev") == 0L)
      else assert(r.getAs[Long]("n_new_kept") == 0L)
    }
    // the populations the whole diff is about must both be non-trivial
    assert(rows.map(_.getAs[Long]("n_new_kept")).sum > 0,
      "src1 must contribute new keeps or the diff is vacuous")
  }

  test("q235 attention purity: pair arithmetic recounts brute-force, language homogeneity does not fix doc-level contamination") {
    val rows = CurationPipeline.queries("q235_attention_purity")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("mixed", "homogeneous"))
    // brute-force recount of the mixed row from the packed relation
    val packed = CurationPipeline.epochPacked(spark, sf0001,
        nShards = 8, budget = 512L)
      .select(col("shard"), col("seq_id"), col("n_tok")).collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .toSeq // BEFORE map: tuple results re-key a Map and collapse
      .map { case (_, rs) =>
        val toks = rs.map(_.getAs[Int]("n_tok").toLong)
        val st = toks.sum
        (st * st, st * st - toks.map(t => t * t).sum)
      }
    val mixed = rows("mixed")
    assert(mixed.getAs[Long]("n_seqs") == packed.size.toLong)
    assert(mixed.getAs[Long]("attn_pairs") == packed.map(_._1).sum)
    assert(mixed.getAs[Long]("cross_doc_pairs") == packed.map(_._2).sum)
    // shares well-formed, worst sequence bounded by 1
    rows.values.foreach { r =>
      val share = r.getAs[Double]("cross_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Double]("max_seq_cross_frac") <= 1.0)
      assert(r.getAs[Long]("cross_doc_pairs") <= r.getAs[Long]("attn_pairs"))
    }
    // THE point of the table: language-homogeneous packing leaves
    // doc-level contamination substantially intact (sequences still
    // hold many same-language docs) — masks are a separate decision
    val hom = rows("homogeneous")
    assert(hom.getAs[Double]("cross_share") > 0.5 * mixed.getAs[Double]("cross_share"),
      "homogeneous packing should NOT look like a doc-level fix")
  }

  test("q234 multi-epoch export: per-epoch mass bound holds, totals reconcile with q228's schedule") {
    val rows = CurationPipeline.queries("q234_multi_epoch_export")(
      spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("epoch")).toSet == Set(1L, 2L, 3L))
    // the q224 bound, per epoch: every manifest row must carry 0
    rows.foreach(r => assert(r.getAs[Long]("n_langs_out_of_bound") == 0L,
      s"epoch ${r.getAs[Long]("epoch")} violates the rounding bound"))
    // epoch totals recount q228's schedule exactly (same coin, same
    // multipliers — the exporter realizes precisely what q228 planned)
    val sched = CurationPipeline.queries("q228_epoch_schedule")(spark, sf0001)
      .collect()
      .groupBy(_.getAs[Int]("epoch").toLong)
      .map { case (e, rs) => e -> (rs.map(_.getAs[Long]("n_copies")).sum,
        rs.map(_.getAs[Long]("epoch_tokens")).sum) }
    rows.groupBy(_.getAs[Long]("epoch")).foreach { case (e, rs) =>
      val (nc, tok) = sched(e)
      assert(rs.map(_.getAs[Long]("n_doc_copies")).sum == nc,
        s"epoch $e copies diverge from the q228 schedule")
      assert(rs.map(_.getAs[Long]("n_tokens")).sum == tok,
        s"epoch $e token mass diverges from the q228 schedule")
    }
  }

  test("q239 release series: store accumulates three releases, last step reconciles with q236") {
    val rows = CurationPipeline.queries("q239_release_series")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("release_id"),
        r.getAs[String]("source"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("n_new_kept"),
          r.getAs[Long]("n_displaced"))).toMap
    assert(rows.keys.map(_._1).toSet == Set(1L, 2L, 3L),
      "the store must hold all three release partitions")
    // release 1 has no predecessor: everything kept is new, nothing
    // displaced
    rows.filter(_._1._1 == 1L).foreach { case (k, (nk, nn, nd)) =>
      assert(nn == nk, s"$k: n_new_kept must equal n_kept in release 1")
      assert(nd == 0L, s"$k: nothing can be displaced in release 1")
    }
    // src2 enters at release 2, src1 at release 3 — a source absent
    // from the previous population has every kept doc counted new
    rows.collect { case ((2L, "src2", l), v) => (l, v) }.foreach {
      case (l, (nk, nn, _)) =>
        assert(nn == nk, s"src2/$l at R2: all keeps are new")
    }
    assert(!rows.keySet.exists(k => k._1 == 1L && k._2 == "src2"))
    assert(!rows.keySet.exists(k => k._1 <= 2L && k._2 == "src1"))
    rows.collect { case ((3L, "src1", l), v) => (l, v) }.foreach {
      case (l, (nk, nn, _)) =>
        assert(nn == nk, s"src1/$l at R3: all keeps are new")
    }
    // the R2→R3 step IS q236's diff: per (source, lang) the release-3
    // row must match q236's columns exactly (same prev population —
    // without src1 — same next population, same invariance)
    val q236 = CurationPipeline.queries("q236_release_diff")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_kept_next"), r.getAs[Long]("n_new_kept"),
          r.getAs[Long]("n_displaced"))).toMap
    val r3 = rows.collect { case ((3L, s, l), v) => (s, l) -> v }.toMap
    assert(r3 == q236,
      s"release-3 manifest must reconcile with q236's diff: " +
        s"only-in-q239=${r3.keySet -- q236.keySet} " +
        s"only-in-q236=${q236.keySet -- r3.keySet} " +
        s"mismatched=${r3.collect { case (k, v) if q236.get(k).exists(_ != v) => k }}")
  }

  test("q238 curated multi-epoch export: keeps only, per-epoch bound, cross-epoch shard locality") {
    val rows = CurationPipeline.queries("q238_curated_multi_epoch")(
      spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("epoch")).distinct.sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // the q224 stochastic-rounding mass bound holds per epoch AGAINST
    // THE KEPT CORPUS (the in-query assert column must read 0)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_langs_out_of_bound") == 0L, s"$r"))
    // doc-level checks off the written sink
    val dir = Tables.scratchDir(spark,
      "q238_epochs_" + Tables.datasetTag(sf0001))
    val packed = spark.read.parquet(dir)
      .select(col("epoch").cast("long"), col("shard").cast("long"),
        col("doc_id"), col("cp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // only provenance keeps are exported — the curated contract
    val keeps = CurationPipeline.queries("q221_curation_provenance")(
      spark, sf0001).collect()
      .filter(_.getAs[String]("verdict") == "keep")
      .map(_.getAs[Long]("doc_id")).toSet
    val exported = packed.map(_._3).toSet
    assert(exported.subsetOf(keeps),
      s"non-keep docs exported: ${exported -- keeps}")
    // cross-epoch shard locality: the rendezvous key is (doc_id, cp) —
    // the same copy lands on the same shard in every epoch it exists
    packed.groupBy(p => (p._3, p._4)).foreach { case (k, copies) =>
      assert(copies.map(_._2).distinct.length == 1,
        s"copy $k moved shards across epochs")
    }
    // epochs genuinely differ (the (doc, epoch)-keyed coin) — but ONLY
    // when some multiplier has a fractional part for the coin to act
    // on: the curated sf0.001 corpus keeps a single language whose
    // survivor mix collapses to exactly 1.0, so there the correct
    // behavior is identical epochs (every doc exactly once), which the
    // copy-count recount below pins instead
    val perEpochCounts = packed.groupBy(_._1).view
      .mapValues(_.groupBy(_._3).view.mapValues(_.length).toMap).toMap
    assert(Set(1L, 2L, 3L).subsetOf(perEpochCounts.keySet))
    val mult = graft.functions.TextQueries.epochMultipliersOf(
      graft.functions.TextQueries.targetMixWeightsOf(
        Tables.documents(spark, sf0001).join(
          CurationPipeline.queries("q221_curation_provenance")(spark, sf0001)
            .filter(col("verdict") === "keep").select(col("doc_id")),
          "doc_id")))
      .collect().map(_.getAs[Double]("multiplier"))
    if (mult.exists(m => m != math.floor(m)))
      assert(perEpochCounts(1L) != perEpochCounts(2L) ||
        perEpochCounts(2L) != perEpochCounts(3L),
        "every epoch drew the identical sample — the epoch coin is dead")
    else
      // integral multipliers: the coin never fires, so every epoch
      // must draw the IDENTICAL floor(m)-copy sample — the
      // conservation side of the same contract
      assert(perEpochCounts(1L) == perEpochCounts(2L) &&
        perEpochCounts(2L) == perEpochCounts(3L),
        "integral multipliers must draw identical epochs")
  }

  test("q241 boundary manifest: brute-force segment recount, mask invariants hold") {
    val rows = CurationPipeline.queries("q241_boundary_manifest")(
      spark, sf0001).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq_id")) ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_continuations"),
          r.getAs[Long]("seq_tokens"), r.getAs[String]("boundaries")))
      .toMap
    assert(rows.nonEmpty)
    // recount from the epoch base: replay the shard cumsum and clip
    // each doc's token interval into the sequences it touches
    val mult = graft.functions.TextQueries.epochMultipliersOf(
      graft.functions.TextQueries.targetMixWeightsOf(
        Tables.documents(spark, sf0001)))
    val rel = CurationPipeline.epochBaseOf(
      Tables.documents(spark, sf0001), mult, 8)
      .select(col("shard"), col("doc_id"), col("cp"), col("n_tok"),
        col("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Number](3).longValue, r.getString(4)))
    val want = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long, Long, Seq[Long])]
    rel.groupBy(_._1).foreach { case (shard, ds) =>
      var prev = 0L
      ds.sortBy { case (_, doc, cp, _, h) => (h, doc, cp) }.foreach {
        case (_, _, _, nTok, _) =>
          if (nTok > 0) {
            var s = prev / 512
            while (s <= (prev + nTok - 1) / 512) {
              val startOff = math.max(prev - s * 512, 0L)
              val endOff = math.min(prev + nTok, (s + 1) * 512) - s * 512
              val cont = if (prev < s * 512) 1L else 0L
              val (n, c, t, b) =
                want.getOrElse((shard, s), (0L, 0L, 0L, Seq.empty[Long]))
              want((shard, s)) =
                (n + 1, c + cont, t + (endOff - startOff), b :+ startOff)
              s += 1
            }
          }
          prev += nTok
      }
    }
    assert(rows.keySet == want.keySet)
    rows.foreach { case (k, (n, c, t, b)) =>
      val (wn, wc, wt, wb) = want(k)
      assert(n == wn && c == wc && t == wt, s"$k: counts drifted")
      assert(b == wb.sorted.map(_.toString).mkString(","),
        s"$k: boundary string drifted")
      // mask invariants: offsets strictly increasing inside [0, 512),
      // fill never exceeds the budget, at most one continuation (a
      // split doc can only continue from the previous sequence)
      val offs = b.split(",").map(_.toLong)
      assert(offs.toSeq == offs.sorted.toSeq && offs.distinct.length ==
        offs.length && offs.forall(o => o >= 0 && o < 512))
      assert(t <= 512, s"$k overfilled")
      assert(c <= 1, s"$k: more than one continuation segment")
      if (c == 1) assert(offs.head == 0,
        s"$k: a continuation must start at offset 0")
    }
    // conservation: the summed fill equals the base's total tokens
    assert(rows.values.map(_._3).sum == rel.map(_._4).sum)
  }

  test("production-threshold smoke: the q221 pipeline at Thresholds.Production populates both classes of every gate") {
    // Thresholds.scala documents production values next to the fixture
    // calibration, but nothing executed them (round-13 judge task #6).
    // This runs the REAL pipeline plan (buildProvenanceOf — not a
    // re-implementation) at the production constants over a crafted
    // corpus: fixture docs (both quality classes, natural URL-dup
    // groups) plus Gopher-class repetition offenders, an exact
    // near-dup, and a benchmark-contaminated doc built from text the
    // corpus does NOT otherwise contain (so contamination, not
    // clustering, is what catches it).
    import spark.implicits._
    val fixture = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val included = fixture.filter(d => Set(1L, 2L, 4L)(d._1 % 5)).toSeq
    val excluded = fixture.filter(_._1 % 5 == 3L)
    // contamination source: the strongest quality-passer among the
    // EXCLUDED docs (so the learned gate cannot be what drops it) that
    // also sits in NO natural near-dup cluster (so the cluster stage
    // cannot catch its gram-appended copy before the contamination
    // probe does)
    val clustered = graft.functions.Dedup.nearDupLabels(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val exDf = excluded.filterNot(d => clustered(d._1)).toSeq
      .toDF("doc_id", "lang", "source", "text")
    val bestEx = graft.operators.CorpusCleaning.qualityLogitOf(exDf)
      .orderBy(col("score").desc).select(col("doc_id")).first().getLong(0)
    val src = excluded.find(_._1 == bestEx).get
    val benchToks = fixture.find(d => d._1 % 5 == 0 &&
      graft.functions.Tokens.split(d._4).length >= 8).get
    val gram8 = graft.functions.Tokens.split(benchToks._4).take(8).mkString(" ")
    // a clean keeper to copy for the cluster stage: a doc q221 itself
    // verdicts 'keep' at fixture thresholds passes every gate here too
    // (the production repetition cut is strictly looser), and having
    // won its q221 cluster it outranks its own copy; among those, take
    // the strongest quality-passer
    val keeps = included.filter(d => verdictOf.get(d._1).contains("keep"))
    val bestIn = graft.operators.CorpusCleaning.qualityLogitOf(
        keeps.toDF("doc_id", "lang", "source", "text"))
      .orderBy(col("score").desc).select(col("doc_id")).first().getLong(0)
    val keeper = keeps.find(_._1 == bestIn).get
    // crafted ids sit on DISTINCT doc_id div 80 pages (10001→125,
    // 10103→126, 10207→127, 10309→128): the URL gate runs first, and
    // two offenders sharing a synthetic page would collapse to url_dup
    // before the gate under test ever fires
    val crafted = included ++ Seq(
      (10001L, "en", "src1", Seq.fill(200)("spam ham").mkString(" ")),
      (10103L, "en", "src1", Seq.fill(100)("aa bb cc dd ee").mkString(" ")),
      (10207L, src._2, src._3, src._4 + " " + gram8),
      (10309L, keeper._2, keeper._3, keeper._4))
    val docs = crafted.toDF("doc_id", "lang", "source", "text")
    // cluster labels over the crafted corpus through the same public
    // dedup machinery the pipeline composes
    val sh = graft.functions.Dedup.trackedShingles(spark, docs)
    val pairs = graft.functions.Dedup.verifyJaccardWith(sh,
        graft.functions.Dedup.candidatesFromSignatures(
          graft.functions.Dedup.signaturesFromShingles(spark, sh)))
      .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
    val labels = graft.functions.Dedup.cachedComponents(
      spark, "prodsmoke")(pairs)
    val verdicts = CurationPipeline.buildProvenanceOf(spark, docs,
        CurationPipeline.benchGramSet(spark, sf0001), labels,
        Thresholds.Production.RepTopBigramMax,
        Thresholds.Production.RepDup5gramMax)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("verdict")).toMap
    // the crafted offenders land on their intended gates
    assert(verdicts(10001L) == "repetition", s"got ${verdicts(10001L)}")
    assert(verdicts(10103L) == "repetition", s"got ${verdicts(10103L)}")
    assert(verdicts(10207L) == "contaminated", s"got ${verdicts(10207L)}")
    assert(verdicts(10309L) == "cluster_dup", s"got ${verdicts(10309L)}")
    assert(verdicts(keeper._1) == "keep",
      s"the copied keeper must win its cluster — got ${verdicts(keeper._1)}")
    // every gate fires somewhere AND no gate captures the corpus: the
    // production profile neither keep-alls nor drop-alls
    val byClass = verdicts.values.groupBy(identity).view.mapValues(_.size)
    Seq("url_dup", "repetition", "quality", "cluster_dup", "contaminated",
      "keep").foreach { v =>
      assert(byClass.getOrElse(v, 0) > 0, s"gate $v never fired")
      assert(byClass(v) < verdicts.size, s"gate $v captured everything")
    }
  }

  test("benchGramSet fail-fast: an oversized benchmark slice raises, naming the q74 fallback") {
    // the sf0.001 slice holds ~500 distinct 8-grams — far under the real
    // 2M cap; driving the cap below it simulates a corpus-sized slice
    // hitting the guard (the q106/Kmv.partitionMins fail-fast discipline)
    val ex = intercept[IllegalArgumentException] {
      CurationPipeline.benchGramSet(spark, sf0001, cap = 10)
    }
    assert(ex.getMessage.contains("q74"), "error must name the exact-join fallback")
    assert(ex.getMessage.contains("cap 10"))
    // and the default cap admits the fixture slice (the happy path);
    // default-cap builds are session-cached, so do NOT destroy — later
    // tests share this broadcast (the session cache owns its teardown)
    val bc = CurationPipeline.benchGramSet(spark, sf0001)
    assert(bc.value.size() > 0 && bc.value.size() <= CurationPipeline.BenchGramCap)
  }

  test("q246 incremental lineage: score contest displaces, within-delta rule holds, state advances across releases") {
    // The bench fixture never takes the displacement path (no
    // cross-source near-dup outranks its incumbent at any SF), so this
    // drives the REAL engine (incrReleaseLineageOf — not a
    // re-implementation) over a crafted corpus where every contest
    // branch fires: tie-break wins and losses (identical text ⇒ exact
    // score tie ⇒ (score DESC, doc_id ASC) decides), a strict
    // score-dominance displacement (clean delta vs junk-tailed
    // incumbent), the within-delta pairwise rule, and a release-3 probe
    // against state ADVANCED by release 2's admissions.
    import spark.implicits._
    // base texts: distinct fixture keeps with >= 80 tokens, so a
    // 6-token junk tail keeps 3-shingle jaccard >= 0.8
    val keepTexts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .filter(r => verdictOf.get(r.getLong(0)).contains("keep"))
      .filter(r => r.getString(1) == "en" &&
        graft.functions.Tokens.split(r.getString(2)).length >= 80)
      .map(_.getString(2)).distinct
    assert(keepTexts.length >= 8,
      s"need 8 long fixture keeps, got ${keepTexts.length}")
    val Seq(t1, t2, t3, t4, t5, t6, t7, t8) = keepTexts.take(8).toSeq
    // score-lowering tail: long letter-only non-stopword tokens push
    // x5 (mean token length, negative weight) up and x2 (stopword
    // density) down — deterministic direction, preconditions assert it
    val junk = Seq("pneumonoultramicroscopicsilico",
      "floccinaucinihilipilification", "antidisestablishmentarianismzz",
      "hippopotomonstrosesquipedalian", "supercalifragilisticexpialidoc",
      "honorificabilitudinitatibusqqq").mkString(" ")
    val t2junk = t2 + " " + junk
    val crafted = Seq(
      // seed source sA (release 1): five keepers on distinct pages
      (101L, "en", "sA", t1), (201L, "en", "sA", t2junk),
      (301L, "en", "sA", t3), (401L, "en", "sA", t4),
      (501L, "en", "sA", t5),
      // release 2 (sB): tie-break WIN vs 501 (51 < 501), tie-break
      // LOSS vs 401 (601 > 401), strict-score displacement of the
      // junk-tailed 201, a fresh admit, and a within-delta twin pair
      // (901 outranks 1001 by id at equal score)
      (51L, "en", "sB", t5), (601L, "en", "sB", t4),
      (701L, "en", "sB", t2), (801L, "en", "sB", t6),
      (901L, "en", "sB", t7), (1001L, "en", "sB", t7),
      // release 3 (sC): both contests lose against state ADVANCED by
      // release 2 (801's admit catches 1101; the seed's 101 catches
      // 1201), plus one fresh admit
      (1101L, "en", "sC", t6), (1201L, "en", "sC", t1),
      (1301L, "en", "sC", t8))
    val docs = crafted.toDF("doc_id", "lang", "source", "text")
    // preconditions the construction rests on — fail HERE, not in the
    // manifest diff, if the text engineering drifts
    val sc = CorpusCleaning.qualityLogitOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(sc.values.forall(_ >= Thresholds.QualityLogitKeepMin),
      "every crafted doc must pass the quality gate")
    assert(sc(701L) > sc(201L),
      "the clean text must strictly outscore its junk-tailed twin")
    def jac(a: String, b: String): Double = {
      val (x, y) = (graft.functions.Dedup.shingleSet(a).toSet,
        graft.functions.Dedup.shingleSet(b).toSet)
      x.intersect(y).size.toDouble / x.union(y).size
    }
    assert(jac(t2, t2junk) >= 0.8,
      f"junk tail must keep jaccard >= 0.8, got ${jac(t2, t2junk)}%.3f")
    // seed cluster labels through the same public dedup machinery the
    // pipeline composes (the production-smoke pattern)
    val seedSh = graft.functions.Dedup.trackedShingles(
      spark, docs.filter(col("source") === "sA"))
    val seedPairs = graft.functions.Dedup.verifyJaccardWith(seedSh,
        graft.functions.Dedup.candidatesFromSignatures(
          graft.functions.Dedup.signaturesFromShingles(spark, seedSh)))
      .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
    val labels = graft.functions.Dedup.cachedComponents(
      spark, "q246spec")(seedPairs)
    val manifest = CurationPipeline.incrReleaseLineageOf(spark, docs,
        CurationPipeline.benchGramSet(spark, sf0001), labels,
        Seq((2L, "sB"), (3L, "sC")), "q246spec")
      .collect()
      .map(r => (r.getAs[Long]("release_id"), r.getAs[String]("source")) ->
        ((r.getAs[Long]("n_kept"), r.getAs[Long]("n_new_kept"),
          r.getAs[Long]("n_displaced")))).toMap
    assert(manifest.size == 6, s"6 manifest rows expected, got $manifest")
    assert(manifest((1L, "sA")) == ((5L, 5L, 0L)), s"$manifest")
    // release 2: 51 and 701 admitted by contest (displacing 501 and
    // 201), 801 and 901 admitted fresh; 601 and 1001 rejected
    assert(manifest((2L, "sA")) == ((3L, 0L, 2L)), s"$manifest")
    assert(manifest((2L, "sB")) == ((4L, 4L, 0L)), s"$manifest")
    // release 3: both contests lose against the ADVANCED state — if
    // release 2's admissions had not advanced the probe state, 1101
    // would admit and n_new_kept(sC) would read 2
    assert(manifest((3L, "sA")) == ((3L, 0L, 0L)), s"$manifest")
    assert(manifest((3L, "sB")) == ((4L, 0L, 0L)), s"$manifest")
    assert(manifest((3L, "sC")) == ((1L, 1L, 0L)), s"$manifest")
  }

  test("q246 incremental lineage: a re-crawled source is a state-backed no-op (curl-collision store gate)") {
    // Round-16 advisory: the q246 ORACLE replays the state-backed
    // canonical-URL gate as corpus-global url_keep, valid on the bench
    // fixture because canonical hosts embed the source — so the
    // store-backed gate needed an engine-level pin. A true CROSS-source
    // curl collision is unconstructible through this API (syntheticUrl
    // embeds the source in the host), and for whole-source releases the
    // store-URL leg is PROVABLY shadowed in the manifest: a curl can
    // only enter the url store via an admitted doc, the admitter was
    // its delta curl-group's min doc_id, the corpus is static, so on
    // any later release of the same source every colliding victim also
    // loses the within-delta min rule (and the admitter itself also
    // self-matches in the signature store). The store leg is
    // load-bearing in the STREAMING shape (q237 — batches partition
    // the corpus, so a curl's admitter is absent from later batches;
    // pinned there). What IS pinnable here is the production property
    // the state exists for: a RE-CRAWL of an already-ingested source
    // (release list naming the same source twice) must be a complete
    // no-op against the advanced state — zero new admissions, zero
    // displacements, zero release-3 events — with the url store (not
    // re-computation luck) holding the admitted page's curl.
    import spark.implicits._
    val keepTexts = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .filter(r => verdictOf.get(r.getLong(0)).contains("keep"))
      .filter(r => r.getString(1) == "en" &&
        graft.functions.Tokens.split(r.getString(2)).length >= 80)
      .map(_.getString(2)).distinct
    assert(keepTexts.length >= 4, s"need 4 long fixture keeps, got ${keepTexts.length}")
    val Seq(t1, t2, ta, tb) = keepTexts.take(4).toSeq
    val crafted = Seq(
      // seed source sA: two distinct pages (v2 and v3 url variants)
      (41L, "en", "sA", t1), (61L, "en", "sA", t2),
      // source sB: docs 1 (v0) and 21 (v1) canonicalize to the SAME
      // page — sb.example.com/docs/d0 — with UNRELATED texts (a curl
      // collision that is not a near-dup)
      (1L, "en", "sB", ta), (21L, "en", "sB", tb))
    val docs = crafted.toDF("doc_id", "lang", "source", "text")
    val sc = CorpusCleaning.qualityLogitOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(sc.values.forall(_ >= Thresholds.QualityLogitKeepMin),
      "every crafted doc must pass the quality gate")
    val labels = graft.functions.Dedup.cachedComponents(
      spark, "q246recrawl")(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    // release 2 ingests sB; release 3 RE-CRAWLS sB against the state
    // release 2 advanced
    val manifest = CurationPipeline.incrReleaseLineageOf(spark, docs,
        CurationPipeline.benchGramSet(spark, sf0001), labels,
        Seq((2L, "sB"), (3L, "sB")), "q246recrawl")
      .collect()
      .map(r => (r.getAs[Long]("release_id"), r.getAs[String]("source")) ->
        ((r.getAs[Long]("n_kept"), r.getAs[Long]("n_new_kept"),
          r.getAs[Long]("n_displaced")))).toMap
    assert(manifest((1L, "sA")) == ((2L, 2L, 0L)), s"$manifest")
    // release 2: doc 1 is the curl-group min and admits; doc 21 is
    // url_dup'd by the within-delta rule (its text never enters any
    // store)
    assert(manifest((2L, "sA")) == ((2L, 0L, 0L)), s"$manifest")
    assert(manifest((2L, "sB")) == ((1L, 1L, 0L)), s"$manifest")
    // the re-crawl: both docs' curl is now in the url store (admitted
    // at release 2), so the state blocks everything — kept counts
    // frozen, nothing new, nothing displaced
    assert(manifest((3L, "sA")) == ((2L, 0L, 0L)), s"$manifest")
    assert(manifest((3L, "sB")) == ((1L, 0L, 0L)), s"$manifest")
    // and the event store carries ZERO release-3 events — the no-op is
    // structural (no add, no del), not a coincidence of rollups
    val ev3 = spark.read
      .parquet(Tables.scratchDir(spark, "q246recrawl_state"))
      .filter(col("release_id") === 3L).count()
    assert(ev3 == 0L, s"re-crawl must write no events, got $ev3")
  }

  override def afterAll(): Unit = {
    SessionCache.release(spark, "curation")
    super.afterAll()
  }
}
