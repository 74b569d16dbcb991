package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The exactly-once batch contract: a re-executed batch replaces exactly
  * its own output — the engine's form of the reference's temp-file-then-
  * atomic-rename rule (mr/worker.go:96-99). Every batch-partitioned table
  * (stream sinks, store generations, release event logs) writes each
  * batch's rows under a partition named by the batch id:
  *   - id [[Seed]] is the table's base generation, and writing it
  *     replaces the whole table (static overwrite): a store build or a
  *     reset starts from nothing a previous run left;
  *   - any other id replaces only its own partition (dynamic overwrite):
  *     a replayed batch neither duplicates nor leaks rows.
  * Readers of batch N prune to partitions below N, so a replay never sees
  * its own earlier output. The overwrite mode is set per write, so no
  * session conf is mutated under concurrently planned queries.
  */
object MicroBatch {

  /** The base generation: a write at this id replaces the whole table. */
  val Seed: Long = -1L

  /** Write `df` as partition `part` = `id` of the parquet table at `dir`
    * (plus any `subParts` columns `df` already holds, nested below it). */
  def write(df: DataFrame, dir: String, id: Long, part: String = "batch_id",
      subParts: Seq[String] = Nil): Unit =
    df.withColumn(part, lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", if (id == Seed) "static" else "dynamic")
      .partitionBy(part +: subParts: _*).parquet(dir)

  /** Replace the table at `dir` with an empty one: a sink or store is
    * reset before its stream starts, so a re-run in the same session
    * returns only what this run's batches wrote — also when the input
    * under the same path changed and this run writes fewer batches.
    * Readers pass `schema` (which includes `part`), since an empty table
    * has no file to infer one from. */
  def reset(s: SparkSession, schema: StructType, dir: String,
      part: String = "batch_id"): Unit =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy(part).parquet(dir)

  /** The fixture table `d/<table>.parquet` as a file-source stream on
    * `session`, with `ts` (when the table has one) normalised as
    * [[Tables.tsToMicros]] does for batch reads. The fixture is a single
    * file, and FileStreamSource requires a directory (it derives the base
    * path from the path and ignores the basePath option), so the stream
    * reads a glob that matches only this file; the parent directory then
    * becomes the base. */
  def source(session: SparkSession, d: String, table: String): DataFrame = {
    Tables.nanosTs(session)
    val schema = session.read.parquet(s"$d/$table.parquet").schema
    val raw = session.readStream.schema(schema).parquet(s"$d/$table.parq*")
    if (schema.fieldNames.contains("ts")) Tables.tsToMicros(raw) else raw
  }

  /** Run `body` on each micro-batch of `src` until the input present at
    * start is consumed, then return: the bounded replay of a fixture. */
  def drain(src: DataFrame)(body: (DataFrame, Long) => Unit): Unit =
    src.writeStream.foreachBatch(body)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** `f` over `df` persisted for `f`'s lifetime only, so an unbounded
    * stream holds no blocks of a finished batch. */
  def scoped[A](df: DataFrame)(f: DataFrame => A): A = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(p) finally { p.unpersist(); () }
  }
}
