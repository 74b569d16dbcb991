package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 hides the classic
  * conversion helpers behind `private[sql]`; a subpackage of
  * org.apache.spark.sql is the sanctioned-by-convention way for extension
  * libraries to reach them (the alternative — registering every custom
  * expression through SparkSessionExtensions — forces control of session
  * construction, which the driver contract doesn't give us).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan in a DataFrame (classic Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a Catalyst expression builder as a SQL-callable temp
    * function (the engine's UDF-extension story: SQL users call the
    * codegen'd native expressions by name — `SELECT vec_dot(a, b)` —
    * instead of being limited to the Column API). The function registry
    * lives behind `private[sql] sessionState`, hence this bridge. */
  def registerSqlFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A child session that starts from a copy of `spark`'s session state
    * (runtime conf, temp views, registered functions) and shares its
    * SparkContext and cache manager; conf set on the child never reaches
    * `spark` (`cloneSession` is private[sql]). */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Unique id of a session (`sessionUUID` is private[sql]); falls back
    * to identity hash for non-classic sessions. Used to key per-session
    * resource caches — identityHashCode alone can collide across
    * sessions. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark match {
      case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
      case other => "idhash-" + System.identityHashCode(other)
    }

  /** The analyzed logical plan of a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** True iff `df`'s plan is still registered in the session's
    * CacheManager AND its cached-buffer RDD still carries a storage
    * level. A module-level memo cache that holds a persisted DataFrame
    * across harness residue sweeps needs this check: a blanket RDD-level
    * `unpersist` (e.g. a bench harness dropping everything in
    * `getPersistentRDDs` between queries) strips the blocks AND zeroes
    * the cached RDD's storage level while the CacheManager entry —
    * and the module's DataFrame reference — survive, so every later
    * consumer of the handle silently re-derives the full child plan
    * per action instead of reading cache (the round-16 q240 bench
    * anomaly: min-of-3 runs doubling 16→33→67 s). Level-based, not
    * block-presence-based: `isCachedColumnBuffersLoaded` memoizes true
    * forever once it has seen blocks, and MEMORY_AND_DISK eviction
    * never silently drops blocks without an unpersist. */
  def cachedAndMaterialized(df: org.apache.spark.sql.DataFrame): Boolean = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers
        .getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  /** One-line persist-state forensic for a tracked DataFrame: the
    * CacheManager registration, the cached RDD's id + current storage
    * level, and how many of its partitions the block manager actually
    * holds right now. Bench dumps this between a query's min-of-N runs
    * so a stripped-blocks-but-live-handle state (see
    * [[cachedAndMaterialized]]) is visible in the artifact. */
  def cacheForensic(df: org.apache.spark.sql.DataFrame): String = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map { cd =>
        val rdd = cd.cachedRepresentation.cacheBuilder.cachedColumnBuffers
        val cached = s.sparkContext.getRDDStorageInfo
          .find(_.id == rdd.id).map(_.numCachedPartitions).getOrElse(0)
        s"rdd=${rdd.id} level=${rdd.getStorageLevel.description} " +
          s"cached_parts=$cached/${rdd.partitions.length}"
      }.getOrElse("uncached")
  }

  /** Unload every loaded streaming state-store provider on this JVM —
    * closes RocksDB instances (and their native scratch) left behind by
    * finished streaming queries. `StateStore.unloadAll` is private[sql];
    * benchmark harnesses call this between back-to-back stateful runs so
    * run i+1 starts as cold as run 1 instead of accumulating provider
    * state across a min-of-N session. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
