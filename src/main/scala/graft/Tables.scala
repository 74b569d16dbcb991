package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loading helpers for the driver-generated parquet fixtures
  * (see TESTDATA.md / FIXTURES.md). Every query in [[SparkEntry.queries]]
  * receives `(spark, sfDir)` and resolves tables through here so the scan
  * path is uniform (parquet → columnar scan with pushdown + pruning).
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Older driver fixtures store events `ts` as parquet TIMESTAMP(NANOS),
    * which Spark's vectorized reader rejects outright. Read it as raw
    * nanos (legacy conf) and convert to a microsecond TimestampType — the
    * same truncation DuckDB applies, so oracle comparisons line up.
    * Harmless when the fixture is already micros precision. */
  def nanosTs(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Convert a raw-nanos long column to TimestampType (micros). Integer
    * `div` — double division would lose precision at 1.7e18 nanos. */
  def nanosToTs(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(s"timestamp_micros($colName div 1000)")

  /** Normalize an events-like `ts` column to microsecond TimestampType
    * whatever the fixture generation stored: raw-nanos BIGINT (a
    * TIMESTAMP(NANOS) file read under [[nanosTs]]) or TIMESTAMP_NTZ (a
    * timestamp[us] file — what the driver generates as of round 9). Both
    * shapes exist across driver testdata generations, so every reader
    * dispatches on the OBSERVED schema instead of assuming one. Every
    * session pins spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast is
    * value-preserving and DuckDB (naive micros) sees identical values. */
  def tsToMicros(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", nanosToTs("ts"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    nanosTs(s)
    tsToMicros(t(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Per-(session, name) scratch directory for queries that stage data on
    * local disk (partitioned/CSV sinks, foreachBatch staging). A FIXED
    * path per session+name — written with mode("overwrite") — so repeated
    * invocations (Bench min-of-3, the gate, the suite) reuse one copy
    * instead of leaking a fresh temp tree per call; the session's scratch
    * root is deleted on JVM exit. */
  private val scratchHooks = scala.collection.mutable.HashSet.empty[String]
  def scratchDir(s: SparkSession, name: String): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${sessionKey(s)}")
    scratchHooks.synchronized {
      if (scratchHooks.add(root.toString)) {
        sys.addShutdownHook {
          def del(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
          }
          del(root)
        }
      }
    }
    val dir = new java.io.File(root, name)
    dir.mkdirs()
    dir.toString
  }

  /** Cut an iterative kernel's lineage: a reliable checkpoint when the
    * session has a checkpoint dir (survives executor loss — the
    * production setting), else a localCheckpoint; both EAGER. A round
    * that references the previous one k times grows a ~k^rounds logical
    * plan even when every stage is persisted, and Catalyst pays for it
    * per consumer on the driver. Rebasing each stage on its
    * materialized RDD keeps the plan one round deep; label
    * propagation's rounds, connected components' hooking rounds and the
    * kNN delta admission's descent rounds are cut this way. Eager on
    * purpose: with a lazy cut the downstream references race to compute
    * the stage concurrently inside one job and re-run its upstream per
    * branch. */
  private[graft] def truncate(s: SparkSession, df: DataFrame): DataFrame =
    if (s.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Filesystem-safe tag of a dataset dir, for dataset-qualified scratch
    * names (running both SFs in one session must not share a sink path).
    * ONE rule shared by every sink — five inlined copies of this regex
    * drifted apart once already (round-10 review finding). */
  def datasetTag(d: String): String = d.replaceAll("[^A-Za-z0-9.]", "_")

  /** Stable unique id of a session, for per-session resource caches.
    * `sessionUUID` is unique per session by construction;
    * `identityHashCode` (the old key) can collide across sessions and
    * would hand one session a broadcast bound to another. */
  def sessionKey(s: SparkSession): String =
    org.apache.spark.sql.graftbridge.GraftBridge.sessionUUID(s)
}
