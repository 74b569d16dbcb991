package graft.operators

import graft.MicroBatch
import graft.Tables._
import graft.functions.{Similarity, Tokens}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** MATERIALIZED IVF+PQ vector index — the persistent, appendable form of
  * the in-query IVFADC composition (q131), and the similarity-search
  * twin of the MinHash signature store (q129): train once, persist the
  * index as tables, then serve every search and every append from the
  * STORED relations without ever re-reading the corpus floats.
  *
  * q131 retrains centroids + codebook and re-encodes the whole corpus on
  * every invocation; at 100 TB that is a full float scan per query
  * batch. The store amortizes it into the lifecycle a production vector
  * database (FAISS on disk, Milvus segments) actually runs:
  *
  *  - [[build]]: ONE corpus pass trains the coarse quantizer (the
  *    deterministic √n multiplicative-hash sample, q31's rule) and the
  *    16-vector residual codebook (q123's rule), persists both as tiny
  *    parquet tables, and writes every vector's 8-code PQ encoding into
  *    a codes table partitioned by (batch_id, cell) — the cell
  *    partitioning IS FAISS's inverted-list layout expressed as
  *    parquet partition directories.
  *  - [[append]]: new vectors encode against the FROZEN centroids +
  *    codebook (two bounded reads: √n + 16 rows) — no retraining, no
  *    touch of existing codes; a replayed batch replaces exactly its
  *    own partition (the [[graft.MicroBatch]] contract).
  *  - [[search]]: reads ONLY the stored index — probe cells prune at
  *    the PARTITION level (`cell IN probed` becomes PartitionFilters on
  *    the codes scan: unprobed inverted lists are never even opened),
  *    and candidates are scored by ADC table lookups over the 8-byte
  *    codes. The corpus embeddings are never read at search time; the
  *    only embeddings.parquet scan in the q135 plan is the 10-probe
  *    pushdown (PlanSpec-locked).
  *
  * The reference's analog is its partitioned intermediate-file layout
  * (mr/worker.go writes mr-X-Y buckets that later tasks read by key) —
  * here the "buckets" are inverted lists keyed by coarse cell, persisted
  * once and served many times.
  *
  * Scale shape: search cost is probes × probed cells × list length —
  * independent of corpus size once cells are partition-pruned; appends
  * touch one batch's partitions; the trained parameters stay √n-bounded.
  * All arithmetic (assignment, IEEE float residuals, encode argmins,
  * j-ordered ADC sums) reuses q131's deterministic machinery, so the
  * oracle replays the full lifecycle bit-exactly.
  */
object AnnIndexStore {

  def centroidsPath(dir: String): String = dir + "/centroids"
  def codebookPath(dir: String): String = dir + "/codebook"
  def codesPath(dir: String): String = dir + "/codes"
  def tombstonesPath(dir: String): String = dir + "/tombstones"

  /** Mark vectors DELETED (the Milvus/FAISS-IDMap remove shape, and the
    * erasure-request path a production store must serve): ids land in a
    * tiny tombstone table; every [[search]] masks them immediately with
    * a broadcast anti-join, and [[vacuum]] later erases them physically.
    * Append-mode — successive delete requests accumulate until the next
    * vacuum. */
  def delete(s: SparkSession, ids: DataFrame, dir: String): Unit =
    ids.select(col("vec_id")).coalesce(1)
      .write.mode("append").parquet(tombstonesPath(dir))

  /** The live tombstone set, or None before any delete — bounded by the
    * un-vacuumed delete volume, so always broadcast-sized. */
  private def tombstones(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstonesPath(dir))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(tombstonesPath(dir))) else None
  }

  /** PHYSICAL erasure of tombstoned vectors (the GDPR guarantee the mask
    * alone cannot give — masked bytes still exist on disk): rewrite ONLY
    * the (batch_id, cell) inverted-list partitions that hold tombstoned
    * rows — survivors stage to a scratch dir and swap in via rename,
    * lists deleted whole have their directories removed (a dynamic
    * overwrite cannot emit an empty partition) — then clear the
    * tombstone table. Search results are identical before and after
    * (AnnIndexStoreSpec pins it); only the mask's anti-join disappears.
    * Cost: proportional to the AFFECTED lists, never the index — the
    * q133 compaction discipline applied to deletes. */
  def vacuum(s: SparkSession, dir: String): Unit =
    tombstones(s, dir).foreach { t =>
      PartitionRewrite.erase(s, codesPath(dir), Seq("batch_id", "cell"),
        t, "vec_id")
      // remove the tombstone table outright (erase has fully consumed
      // it): searches return to the maskless fast path — a lingering
      // empty table would cost every future search an exists-check, a
      // read, and an anti-join against nothing (review finding)
      val p = new org.apache.hadoop.fs.Path(tombstonesPath(dir))
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }

  /** Train the quantizers on `emb` (the build corpus) and persist the
    * full index: centroids, residual codebook, and every build vector's
    * codes as partition batch_id = -1. */
  def build(s: SparkSession, emb: DataFrame, dir: String): Unit = {
    import s.implicits._
    val k = Similarity.ivfK(emb.count())
    val cents = sampleVecs(emb, k).map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    // codebook = the 16 vectors FOLLOWING the centroid prefix in the
    // same ordering (q131's rule): a centroid's residual is zero, so
    // sampling the prefix would collapse the codebook
    val cb: Array[Array[Float]] = sampleVecs(emb, k + Similarity.PqKs)
      .drop(k).map { r =>
      val v = r.getSeq[Float](1).toArray
      Similarity.residual(v, Similarity.nearestCentroid(v, cents)._2)
    }
    cents.toSeq.toDF("centroid_id", "c_emb")
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(dir))
    cb.toSeq.zipWithIndex.map { case (v, i) => (i, v) }.toDF("code", "cv")
      .coalesce(1).write.mode("overwrite").parquet(codebookPath(dir))
    writeCodes(s, emb, cents, cb, dir, MicroBatch.Seed)
  }

  /** Encode one batch of new vectors against the FROZEN index parameters
    * and append them as partition `batchId` — no retraining, and a
    * replayed batch overwrites exactly its own partitions. */
  def append(s: SparkSession, emb: DataFrame, dir: String, batchId: Long): Unit = {
    val (cents, cb) = readParams(s, dir)
    writeCodes(s, emb, cents, cb, dir, batchId)
  }

  /** The deterministic multiplicative-hash sample shared by both trained
    * parameter sets (q31's centroid rule / q123's codebook rule). */
  private def sampleVecs(emb: DataFrame, n: Int) =
    emb.select(col("vec_id"), col("embedding"))
      .orderBy(pmod(col("vec_id") * lit(2654435761L), lit(999999937L)),
        col("vec_id"))
      .limit(n).collect()

  /** The trained parameters, read back from the store — bounded reads
    * (√n centroids + 16 codebook rows), the q31 centroid-broadcast
    * precedent. */
  private def readParams(s: SparkSession, dir: String)
      : (Array[(Long, Array[Float])], Array[Array[Float]]) = {
    val cents = s.read.parquet(centroidsPath(dir)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val cb = s.read.parquet(codebookPath(dir)).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    (cents, cb)
  }

  /** One typed encode pass: nearest cell + PQ codes of the residual, via
    * the exact shared rules (Similarity.nearestCentroid / pqEncode), so
    * build-time and append-time encodings are indistinguishable. */
  private def writeCodes(s: SparkSession, emb: DataFrame,
      cents: Array[(Long, Array[Float])], cb: Array[Array[Float]],
      dir: String, batchId: Long): Unit = {
    import s.implicits._
    val bcC = s.sparkContext.broadcast(cents)
    val bcCb = s.sparkContext.broadcast(cb)
    val codes = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (cid, cvec) = Similarity.nearestCentroid(v, bcC.value)
        (id, Similarity.pqEncode(Similarity.residual(v, cvec), bcCb.value), cid)
      }
      .toDF("vec_id", "codes", "cell")
    MicroBatch.write(codes, codesPath(dir), batchId, subParts = Seq("cell"))
  }

  /** ADC search against the stored index only: per probe, rank its
    * nProbe=4 nearest cells (q31's probe rule), read JUST those cells'
    * code partitions, and score candidates by 8 table lookups each.
    * `probes` must be a bounded relation (the 10-probe convention). */
  def search(s: SparkSession, dir: String, probes: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val (cents, cb) = readParams(s, dir)
    val pr: Array[(Long, Array[Float])] = probes
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probeCells: Array[(Long, Array[Float], Array[Long])] =
      pr.map { case (pid, v) =>
        val cells = cents.map { case (cid, c) => (cid, Similarity.roundedCosine(v, c)) }
          .sortBy { case (cid, cc) => (-cc, cid) }.take(4).map(_._1)
        (pid, v, cells)
      }
    val cellSet = probeCells.flatMap(_._3).distinct.sorted
    val centById = cents.toMap
    // per-(probe, probed cell) ADC tables of the probe's residual vs the
    // shared codebook — ≤ probes × 4 × 8 × 16 doubles, broadcast whole
    val dts: Array[Map[Long, Array[Array[Double]]]] =
      probeCells.map { case (_, pv, cells) =>
        cells.map { cid =>
          val rp = Similarity.residual(pv, centById(cid))
          cid -> Array.tabulate(Similarity.PqM, cb.length)((j, kk) =>
            Similarity.pqSubDist(rp, cb(kk), j))
        }.toMap
      }
    val bcDts = s.sparkContext.broadcast(dts)
    val bcPc = s.sparkContext.broadcast(probeCells)
    // `cell IN probed` on a partition column: unprobed inverted lists are
    // pruned at file-listing time, never opened (the search-cost shape
    // that survives a 100× corpus)
    val codesRaw = s.read.parquet(codesPath(dir))
      .filter(col("cell").isin(cellSet.toIndexedSeq: _*))
      .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell"))
    // tombstone mask (q142): deleted vectors vanish from results the
    // moment [[delete]] records them — a broadcast anti-join against the
    // (delete-volume-sized) tombstone table, gone again after [[vacuum]]
    val codes = tombstones(s, dir)
      .fold(codesRaw)(t => codesRaw.join(broadcast(t), Seq("vec_id"), "left_anti"))
    val scored = codes.as[(Long, Seq[Int], Long)]
      .mapPartitions { it =>
        val dts = bcDts.value
        val prs = bcPc.value
        val byCell: Map[Long, Array[Int]] = prs.indices
          .flatMap(pi => prs(pi)._3.map(c => (c, pi)))
          .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toArray }
        it.flatMap { case (id, cs, cell) =>
          byCell.get(cell) match {
            case None => Iterator.empty
            case Some(pis) =>
              pis.iterator.filter(pi => prs(pi)._1 != id).map { pi =>
                val dt = dts(pi)(cell)
                var ad = 0.0
                var j = 0
                while (j < Similarity.PqM) { ad += dt(j)(cs(j)); j += 1 } // j-ordered
                (prs(pi)._1, id, ad)
              }
          }
        }
      }.toDF("probe_id", "vec_id", "adist")
      .observe("ann_store_candidates", count(lit(1)).as("n_candidates"))
    rankTopK(scored, k)
  }

  /** q131's ranking tail: heap pre-cut, then the deterministic
    * (adist, vec_id) row_number. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerGroup.topK(scored, Seq("probe_id"),
        Seq("adist" -> true, "vec_id" -> true), k)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("vec_id"),
        round(col("adist"), 6).as("adist"))
      .orderBy(col("probe_id"), col("rk"))

  /** IVF-PRUNED EXACT-COSINE ADMISSION of a vector batch against the
    * stored index — the embedding analog of the signature store's
    * [[SignatureStore.admitShingles]], and the FAISS-with-refine shape:
    * the coarse index prunes candidates (each batch vector is checked
    * only against stored vectors in its nProbe=4 nearest cells, found
    * through the CODES table with `batch_id < beforeBatch` so a
    * replayed batch never sees its own append), then candidates verify
    * with EXACT cosine against the admitted-corpus table's floats.
    * Returns the rejected pairs (vec_id = batch, cand_id = stored,
    * cos ≥ 0.4 — the q77/q122 near-dup edge threshold).
    *
    * Scale shape: batch cells rank map-side against the broadcast
    * centroids; the probed-cell set (bounded by ivfK) partition-prunes
    * the codes scan; the batch side reaches both joins as a broadcast,
    * so the store's codes AND the corpus floats stream with no
    * exchange — the only shuffle is the slim pair distinct. */
  def admitVectors(s: SparkSession, batch: DataFrame, storeDir: String,
      corpusDir: String, beforeBatch: Long): DataFrame = {
    import s.implicits._
    val (cents, _) = readParams(s, storeDir)
    val bcC = s.sparkContext.broadcast(cents)
    val batchCells = batch.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (vid, v) =>
        bcC.value.map { case (cid, c) => (cid, Similarity.roundedCosine(v, c)) }
          .sortBy { case (cid, cc) => (-cc, cid) }.take(4) // q31's probe rule
          .map { case (cid, _) => (vid, v, cid) }
      }.toDF("vec_id", "p_emb", "cell")
    // bounded driver collect (≤ ivfK cells): the probed-cell set is
    // what partition-prunes the inverted lists, exactly as in search.
    // batchCells is computed twice (this collect + the broadcast) — an
    // O(batch × k) map over the caller-persisted batch, cheaper than a
    // persist whose lifetime couldn't outlive this method.
    val cellSet = batchCells.select(col("cell")).distinct()
      .collect().map(_.getLong(0))
    if (cellSet.isEmpty) // empty batch (e.g. a checkpoint-only restart)
      batchCells.select(col("vec_id"), col("vec_id").as("cand_id"),
        lit(0.0).as("cos")).limit(0)
    else {
      val candCodes = s.read.parquet(codesPath(storeDir))
        .filter(col("batch_id") < beforeBatch)
        .filter(col("cell").cast("long").isin(cellSet.toIndexedSeq: _*))
        .select(col("vec_id").as("cand_id"), col("cell").cast("long").as("cell"))
      val cand = candCodes.join(broadcast(batchCells), "cell")
        .select(col("vec_id"), col("p_emb"), col("cand_id"))
      val corpusVecs = s.read.parquet(corpusDir)
        .filter(col("batch_id") < beforeBatch)
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      corpusVecs.join(broadcast(cand), "cand_id")
        .select(col("vec_id"), col("cand_id"),
          round(Similarity.dot(col("p_emb"), col("c_emb"))
            / (Similarity.l2norm(col("p_emb"))
              * Similarity.l2norm(col("c_emb"))), 6).as("cos"))
        .filter(col("cos") >= graft.Thresholds.CosNearDup)
        .distinct() // a pair reachable via 2 shared cells counts once
    }
  }

  /** Survivors of a vector admission: batch vectors with no rejected
    * pair — the rows the pipeline appends to the corpus and whose codes
    * [[append]] adds to the index. */
  def vectorSurvivors(batch: DataFrame, pairs: DataFrame): DataFrame =
    batch.join(pairs.select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")

  /** One micro-batch of the streaming vector admission (q138): admit the
    * batch against the index and corpus partitions below `id`, land its
    * survivors in the admitted-corpus table and append their codes to
    * the index, both as partition `id`. */
  private[graft] def vectorBatch(s: SparkSession, batch: DataFrame, id: Long,
      storeDir: String, corpusDir: String): Unit =
    MicroBatch.scoped(batch) { b =>
      val pairs = admitVectors(s, b, storeDir, corpusDir, beforeBatch = id)
      MicroBatch.scoped(vectorSurvivors(b, pairs)) { surv =>
        MicroBatch.write(surv, corpusDir, id)
        append(s, surv, storeDir, id)
      }
    }

  /** INDEX STALENESS REPORT (q145): per coarse cell, membership counts
    * and worst-member fit split build-vs-appended — the retrain signal
    * a production vector store monitors. Appends encode under FROZEN
    * quantizers (that is what makes them cheap), so as the distribution
    * drifts the appended population fits its cells progressively worse
    * and piles into fewer of them; when the appended side's worst fit
    * or occupancy skew crosses policy, you pay the full retrain. This
    * audit tells you WHEN. Membership and batch class come from the
    * STORED codes; fit (rounded cosine to the frozen cell centroid)
    * recomputes from the corpus floats — a maintenance-schedule scan,
    * never on the serve path. Counts and min() are order-independent,
    * so the report replays bit-exactly. */
  def staleness(s: SparkSession, dir: String, emb: DataFrame): DataFrame = {
    import s.implicits._
    val (cents, _) = readParams(s, dir)
    val bcC = s.sparkContext.broadcast(cents.toMap)
    s.read.parquet(codesPath(dir))
      .select(col("vec_id"), col("batch_id").cast("long").as("b"),
        col("cell").cast("long").as("cell"))
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .as[(Long, Long, Long, Array[Float])]
      .map { case (_, b, cell, v) =>
        (cell, b >= 0L, Similarity.roundedCosine(v, bcC.value(cell))) }
      .toDF("cell", "appended", "ccos")
      .groupBy(col("cell"))
      .agg(sum(when(!col("appended"), 1L).otherwise(0L)).as("n_build"),
        sum(when(col("appended"), 1L).otherwise(0L)).as("n_appended"),
        min(when(!col("appended"), col("ccos"))).as("min_ccos_build"),
        min(when(col("appended"), col("ccos"))).as("min_ccos_appended"))
      .orderBy(col("cell"))
  }

  /** Hashed-token postings of a (doc_id, text) relation — one map pass,
    * 16-hex md5 keys in the SAME stage (q137's no-raw-text-in-the-store
    * discipline), distinct per doc. The lexical index q148 persists. */
  private def hashedPosts(s: SparkSession, docs: DataFrame, idCol: String): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        Tokens.split(t).distinct.map(w => (id, w)) }
      .toDF(idCol, "tok")
      .select(col(idCol), substring(md5(col("tok")), 1, 16).as("tk"))
  }

  private def notHeldOut(c: Column): Column = c % 10 =!= 7

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // THE STORED-INDEX LIFECYCLE in one oracle-checked query: build the
    // index from the vec_id % 10 ≠ 7 corpus (training sees ONLY this
    // subset — its own √n rule sizes the centroid count), append the
    // held-out % 10 = 7 slice against the frozen parameters as batch 0
    // (no retraining — the production ingest path), then ADC-search the
    // 10 standard probes over build + appended codes together. The
    // oracle replays training-on-the-subset and coding-of-everything
    // exactly; AnnIndexStoreSpec pins append idempotency, partition
    // pruning, and late-append visibility.
    "q135_ann_store_search" -> ((s, d) => {
      val dir = scratchDir(s, "q135_ann_store_" + graft.Tables.datasetTag(d))
      val emb = embeddings(s, d)
      build(s, emb.filter(notHeldOut(col("vec_id"))), dir)
      append(s, emb.filter(!notHeldOut(col("vec_id"))), dir, 0L)
      search(s, dir, emb.filter(col("vec_id") < 10), k = 5)
    }),

    // HYBRID SEARCH SERVED FROM THE STORES — q146's fusion with BOTH
    // sides index-served, the shape a deployed retrieval stack actually
    // runs: the vector ranking comes from the materialized IVF+PQ index
    // (partition-pruned ADC over stored codes, k = 50 — corpus floats
    // never read), the lexical ranking from a persisted hashed-token
    // postings table (16-hex keys — no raw text in the store), and the
    // two rank lists fuse by the SAME rank-space RRF tail (fusion is
    // index-agnostic: it needs only ranks, so swapping exact scorers
    // for indexes changes candidates, never the fusion algebra). Docs
    // reachable through either index fuse via a full-outer rank join;
    // the unreachable (unprobed cells AND zero shared tokens) are
    // priced at zero — exactly the recall/serving-cost trade the
    // indexes were built to make. Probe sides bounded and broadcast;
    // store relations stream.
    "q148_hybrid_index_serve" -> ((s, d) => {
      val tag = graft.Tables.datasetTag(d)
      val dir = scratchDir(s, "q148_ann_" + tag)
      val lexDir = scratchDir(s, "q148_lex_" + tag)
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      build(s, emb.filter(notHeldOut(col("vec_id"))), dir)
      append(s, emb.filter(!notHeldOut(col("vec_id"))), dir, 0L)
      // the embedded slice of the corpus (q146's model), postings ONCE
      val corpusText = documents(s, d)
        .join(emb.select(col("vec_id").as("doc_id")), "doc_id")
      hashedPosts(s, corpusText, "doc_id")
        .write.mode("overwrite").parquet(lexDir)
      val vecRanks = search(s, dir, emb.filter(col("vec_id") < 10), k = 50)
        .select(col("probe_id"), col("vec_id").as("doc_id"),
          col("rk").as("vec_rank"))
      val probePosts = hashedPosts(s,
        corpusText.filter(col("doc_id") < 10), "probe_id")
      val lexRanks = s.read.parquet(lexDir)
        .join(broadcast(probePosts), "tk")
        .filter(col("doc_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("doc_id"))
        .agg(count(lit(1)).as("lex_score"))
        .select(col("probe_id"), col("doc_id"),
          row_number().over(Window.partitionBy(col("probe_id"))
            .orderBy(col("lex_score").desc, col("doc_id"))).as("lex_rank"))
      Similarity.rrfFuse(vecRanks, lexRanks, "full_outer")
    }),

    // the staleness audit over the standard q135 lifecycle (build on
    // the % 10 ≠ 7 subset, append the held-out slice as batch 0): the
    // appended slice is drawn from the same distribution here, so the
    // report shows healthy occupancy — the spec constructs an actually
    // drifted batch and pins that the metrics expose it.
    "q145_ann_store_staleness" -> ((s, d) => {
      val dir = scratchDir(s, "q145_ann_store_" + graft.Tables.datasetTag(d))
      val emb = embeddings(s, d)
      build(s, emb.filter(notHeldOut(col("vec_id"))), dir)
      append(s, emb.filter(!notHeldOut(col("vec_id"))), dir, 0L)
      staleness(s, dir, emb)
    }),

    // INDEX DELETES, MASKED THEN VACUUMED — the maintenance operation
    // q135's lifecycle lacks: an erasure request (vec_id % 10 = 3 here)
    // tombstones the ids, search masks them IMMEDIATELY (broadcast
    // anti-join — no index rewrite on the request path), and [[vacuum]]
    // then erases them PHYSICALLY by rewriting only the inverted-list
    // partitions that held them (rename-swap for lists with survivors,
    // directory removal for lists deleted whole) and clearing the
    // tombstones. The returned search runs AFTER the vacuum, so the
    // oracle — q135's full IVFADC replay minus the deleted candidates —
    // checks the physical path; AnnIndexStoreSpec pins masked ≡
    // vacuumed, byte-absence of deleted ids from the codes table, and
    // that unaffected list directories keep their files untouched.
    // Training is NOT undone (centroids/codebook keep their frozen
    // shape — re-training on erasure would re-read the corpus; the
    // quantizer retains no recoverable vector, so erasure law and
    // practice both leave it be).
    "q142_ann_store_delete" -> ((s, d) => {
      val dir = scratchDir(s, "q142_ann_store_" + graft.Tables.datasetTag(d))
      val emb = embeddings(s, d)
      build(s, emb.filter(notHeldOut(col("vec_id"))), dir)
      append(s, emb.filter(!notHeldOut(col("vec_id"))), dir, 0L)
      delete(s, emb.filter(col("vec_id") % 10 === 3), dir)
      vacuum(s, dir)
      search(s, dir, emb.filter(col("vec_id") < 10), k = 5)
    }),

    // STREAMING VECTOR INGESTION-ADMISSION — the embedding analog of
    // the text pipeline (q130), against THIS store: the held-out
    // vec_id % 10 = 7 slice arrives as a stream; each micro-batch is
    // admitted by IVF-pruned exact-cosine dedup (coarse cells from the
    // stored codes prune candidates, the q77/q122 cos ≥ 0.4 near-dup
    // edge rejects), survivors land in the admitted-corpus table
    // exactly-once (the [[graft.MicroBatch]] contract) AND their codes
    // append to the index so the NEXT batch both sees them as dedup
    // candidates and can be served by search — ingestion keeps the ANN
    // index continuously queryable. Bounded single-file
    // replay = one batch, so the final table is seed + delta vectors
    // with no ≥ 0.4 stored neighbor in a probed cell — exactly what
    // the oracle computes; multi-batch sequential semantics and
    // restart idempotency are pinned by AnnIndexStoreSpec on a
    // two-file stream.
    "q138_stream_vector_admit" -> ((s, d) => {
      val storeDir = scratchDir(s, "q138_store_" + graft.Tables.datasetTag(d))
      val corpusDir = scratchDir(s, "q138_corpus_" + graft.Tables.datasetTag(d))
      val seed = embeddings(s, d).filter(notHeldOut(col("vec_id")))
      build(s, seed, storeDir)
      MicroBatch.write(seed, corpusDir, MicroBatch.Seed)
      val src = MicroBatch.source(graft.ChildSession.forStream(s), d, "embeddings")
        .filter(!notHeldOut(col("vec_id")))
      MicroBatch.drain(src)(vectorBatch(s, _, _, storeDir, corpusDir))
      s.read.parquet(corpusDir)
        .select(col("vec_id"), size(col("embedding")).as("n_dims"))
        .orderBy(col("vec_id"))
    })
  )

  /** q135's oracle CTE chain (through `ranked`) — q131's full IVFADC
    * replay with the training CTEs (centroid sample, codebook sample)
    * restricted to the build subset; coding, probe cells, ADC tables,
    * and ranking cover ALL vectors, exactly as the store serves build +
    * appended codes together. `candFilter` appends an extra candidate
    * predicate to the scoring join — q142's delete exclusion — so every
    * consumer (q135 search, q142 delete, q148 hybrid serve) replays ONE
    * body that cannot drift. */
  private def storeSearchCtes(candFilter: String): String =
    s"""cents AS (
           SELECT vec_id AS centroid_id, embedding AS c_emb FROM (
             SELECT vec_id, embedding,
               row_number() OVER (
                 ORDER BY (vec_id * 2654435761) % 999999937, vec_id) AS crn
             FROM embeddings WHERE vec_id % 10 <> 7)
           WHERE crn <= (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT))
                         FROM embeddings WHERE vec_id % 10 <> 7)),
         scored AS (
           SELECT e.vec_id, e.embedding, c.centroid_id,
             round(list_dot_product(e.embedding::DOUBLE[], c.c_emb::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.c_emb::DOUBLE[], c.c_emb::DOUBLE[]))),
               6) AS ccos
           FROM embeddings e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, embedding, centroid_id AS cell FROM (
             SELECT vec_id, embedding, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, centroid_id DESC) AS rk
             FROM scored) WHERE rk = 1),
         probe_cells AS (
           SELECT vec_id AS probe_id, embedding AS p_emb, centroid_id AS cell FROM (
             SELECT vec_id, embedding, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, centroid_id ASC) AS rk
             FROM scored WHERE vec_id < 10) WHERE rk <= 4),
         kv AS (
           SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM embeddings WHERE vec_id % 10 <> 7),
         samp AS (
           SELECT vec_id, row_number() OVER (
             ORDER BY (vec_id * 2654435761) % 999999937, vec_id) AS crn
           FROM embeddings WHERE vec_id % 10 <> 7),
         cb AS (
           SELECT s.crn - kv.k - 1 AS code,
             list_transform(generate_series(1, 64),
               i -> a.embedding[i] - c.c_emb[i]) AS cv
           FROM samp s CROSS JOIN kv
           JOIN assigned a ON a.vec_id = s.vec_id
           JOIN cents c ON c.centroid_id = a.cell
           WHERE s.crn > kv.k AND s.crn <= kv.k + 16),
         subs AS (SELECT j FROM range(0, 8) t(j)),
         res AS (
           SELECT a.vec_id, a.cell,
             list_transform(generate_series(1, 64),
               i -> a.embedding[i] - c.c_emb[i]) AS rv
           FROM assigned a JOIN cents c ON c.centroid_id = a.cell),
         enc_d AS (
           SELECT r.vec_id, r.cell, s.j, c.code,
             list_dot_product(r.rv[s.j*8+1 : s.j*8+8]::DOUBLE[],
               r.rv[s.j*8+1 : s.j*8+8]::DOUBLE[])
             - 2*list_dot_product(r.rv[s.j*8+1 : s.j*8+8]::DOUBLE[],
               c.cv[s.j*8+1 : s.j*8+8]::DOUBLE[])
             + list_dot_product(c.cv[s.j*8+1 : s.j*8+8]::DOUBLE[],
               c.cv[s.j*8+1 : s.j*8+8]::DOUBLE[]) AS d
           FROM res r CROSS JOIN subs s CROSS JOIN cb c),
         enc AS (
           SELECT vec_id, cell, j, code FROM (
             SELECT vec_id, cell, j, code,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rk
             FROM enc_d) WHERE rk = 1),
         pres AS (
           SELECT p.probe_id, p.cell,
             list_transform(generate_series(1, 64),
               i -> p.p_emb[i] - c.c_emb[i]) AS rp
           FROM probe_cells p JOIN cents c ON c.centroid_id = p.cell),
         dt AS (
           SELECT pr.probe_id, pr.cell, s.j, c.code,
             list_dot_product(pr.rp[s.j*8+1 : s.j*8+8]::DOUBLE[],
               pr.rp[s.j*8+1 : s.j*8+8]::DOUBLE[])
             - 2*list_dot_product(pr.rp[s.j*8+1 : s.j*8+8]::DOUBLE[],
               c.cv[s.j*8+1 : s.j*8+8]::DOUBLE[])
             + list_dot_product(c.cv[s.j*8+1 : s.j*8+8]::DOUBLE[],
               c.cv[s.j*8+1 : s.j*8+8]::DOUBLE[]) AS d
           FROM pres pr CROSS JOIN subs s CROSS JOIN cb c),
         ad AS (
           SELECT t.probe_id, x.vec_id,
             (max(CASE WHEN x.j = 0 THEN t.d END)
              + max(CASE WHEN x.j = 1 THEN t.d END)
              + max(CASE WHEN x.j = 2 THEN t.d END)
              + max(CASE WHEN x.j = 3 THEN t.d END)
              + max(CASE WHEN x.j = 4 THEN t.d END)
              + max(CASE WHEN x.j = 5 THEN t.d END)
              + max(CASE WHEN x.j = 6 THEN t.d END)
              + max(CASE WHEN x.j = 7 THEN t.d END)) AS adist
           FROM enc x JOIN dt t
             ON t.cell = x.cell AND t.j = x.j AND t.code = x.code
             AND t.probe_id <> x.vec_id$candFilter
           GROUP BY 1, 2),
         ranked AS (
           SELECT probe_id, vec_id, adist,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY adist, vec_id) AS rk
           FROM ad)"""

  private def storeSearchOracle(candFilter: String): String =
    s"""WITH ${storeSearchCtes(candFilter)}
         SELECT probe_id, rk, vec_id, round(adist, 6) AS adist FROM ranked
         WHERE rk <= 5 ORDER BY probe_id, rk"""

  val oracles: Map[String, String] = Map(
    "q135_ann_store_search" -> storeSearchOracle(""),

    // the SAME lifecycle replay with the deleted slice excluded from
    // scoring (and ONLY from scoring: the frozen quantizers keep their
    // pre-delete training, exactly as the store keeps them).
    "q142_ann_store_delete" -> storeSearchOracle(
      "\n             AND x.vec_id % 10 <> 3"),

    // the shared ADC CTE chain truncated at rk <= 50 for the vector
    // list, the q146-style postings replay (16-hex keys) for the
    // lexical list, and the identical rank-space fusion tail.
    "q148_hybrid_index_serve" ->
      s"""WITH ${storeSearchCtes("")},
         vec_ranks AS (
           SELECT probe_id, vec_id AS doc_id, rk AS vec_rank
           FROM ranked WHERE rk <= 50),
         corpus AS (
           SELECT d.doc_id, d.text
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         posts AS (
           SELECT DISTINCT doc_id,
             substr(md5(unnest(${Tokens.sql("text")})),
               1, 16) AS tk
           FROM corpus),
         lex_ranks AS (
           SELECT probe_id, doc_id,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY lex_score DESC, doc_id) AS lex_rank
           FROM (
             SELECT p.doc_id AS probe_id, c.doc_id, count(*) AS lex_score
             FROM posts p JOIN posts c USING (tk)
             WHERE p.doc_id < 10 AND c.doc_id <> p.doc_id
             GROUP BY 1, 2)),
         fused AS (
           SELECT coalesce(v.probe_id, l.probe_id) AS probe_id,
             coalesce(v.doc_id, l.doc_id) AS doc_id,
             round(coalesce(1.0::DOUBLE / (60 + l.lex_rank), 0.0::DOUBLE)
               + coalesce(1.0::DOUBLE / (60 + v.vec_rank), 0.0::DOUBLE), 6)
               AS rrf
           FROM vec_ranks v FULL OUTER JOIN lex_ranks l
             ON l.probe_id = v.probe_id AND l.doc_id = v.doc_id)
         SELECT probe_id, rk, doc_id, rrf FROM (
           SELECT probe_id, doc_id, rrf,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY rrf DESC, doc_id) AS rk
           FROM fused) WHERE rk <= 5
         ORDER BY probe_id, rk""",

    // q135's training + assignment CTEs, then per-cell counts and
    // worst-fit minima split by the build/appended rule — counts and
    // min are order-independent, so values replay exactly.
    "q145_ann_store_staleness" ->
      """WITH cents AS (
           SELECT vec_id AS centroid_id, embedding AS c_emb FROM (
             SELECT vec_id, embedding,
               row_number() OVER (
                 ORDER BY (vec_id * 2654435761) % 999999937, vec_id) AS crn
             FROM embeddings WHERE vec_id % 10 <> 7)
           WHERE crn <= (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT))
                         FROM embeddings WHERE vec_id % 10 <> 7)),
         scored AS (
           SELECT e.vec_id, c.centroid_id,
             round(list_dot_product(e.embedding::DOUBLE[], c.c_emb::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.c_emb::DOUBLE[], c.c_emb::DOUBLE[]))),
               6) AS ccos
           FROM embeddings e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, centroid_id AS cell, ccos FROM (
             SELECT vec_id, centroid_id, ccos,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, centroid_id DESC) AS rk
             FROM scored) WHERE rk = 1)
         SELECT cell,
           CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_build,
           CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_appended,
           min(CASE WHEN vec_id % 10 <> 7 THEN ccos END) AS min_ccos_build,
           min(CASE WHEN vec_id % 10 = 7 THEN ccos END) AS min_ccos_appended
         FROM assigned GROUP BY 1 ORDER BY 1""",

    // Single-batch bounded replay of the streaming admission: the
    // subset-trained coarse quantizer (q135's cents), stored cells for
    // the seed, probed cells for the delta, IVF-pruned candidates,
    // exact-cosine rejection at the q77/q122 edge threshold — final
    // table = seed + unrejected delta.
    "q138_stream_vector_admit" ->
      s"""WITH cents AS (
           SELECT vec_id AS centroid_id, embedding AS c_emb FROM (
             SELECT vec_id, embedding,
               row_number() OVER (
                 ORDER BY (vec_id * 2654435761) % 999999937, vec_id) AS crn
             FROM embeddings WHERE vec_id % 10 <> 7)
           WHERE crn <= (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT))
                         FROM embeddings WHERE vec_id % 10 <> 7)),
         scored AS (
           SELECT e.vec_id, e.embedding, c.centroid_id,
             round(list_dot_product(e.embedding::DOUBLE[], c.c_emb::DOUBLE[])
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.c_emb::DOUBLE[], c.c_emb::DOUBLE[]))),
               6) AS ccos
           FROM embeddings e CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, centroid_id AS cell FROM (
             SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, centroid_id DESC) AS rk
             FROM scored WHERE vec_id % 10 <> 7) WHERE rk = 1),
         probe_cells AS (
           SELECT vec_id, centroid_id AS cell FROM (
             SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, centroid_id ASC) AS rk
             FROM scored WHERE vec_id % 10 = 7) WHERE rk <= 4),
         cand AS (
           SELECT DISTINCT p.vec_id, a.vec_id AS cand_id
           FROM probe_cells p JOIN assigned a USING (cell)),
         dup AS (
           SELECT DISTINCT c.vec_id
           FROM cand c
           JOIN embeddings pe ON pe.vec_id = c.vec_id
           JOIN embeddings ce ON ce.vec_id = c.cand_id
           WHERE round(list_dot_product(pe.embedding::DOUBLE[], ce.embedding::DOUBLE[])
             / (sqrt(list_dot_product(pe.embedding::DOUBLE[], pe.embedding::DOUBLE[]))
              * sqrt(list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[]))),
             6) >= ${graft.Thresholds.CosNearDup})
         SELECT vec_id, len(embedding) AS n_dims FROM embeddings
         WHERE vec_id % 10 <> 7
            OR vec_id NOT IN (SELECT vec_id FROM dup)
         ORDER BY vec_id"""
  )
}
