package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftBridge

/** The one place a query changes session conf for its own work: it runs
  * that work on a child session cloned from the caller, with the changed
  * settings on the child. The caller's session is never written, so
  * queries planned concurrently on it never see another query's
  * settings, and nothing needs restoring afterwards.
  *
  * The child copies the caller's state at clone time (conf, temp views,
  * registered functions, query-execution listeners) and shares its
  * SparkContext and cache manager. Streaming-query listeners live on a
  * session's own listener bus and are not copied, so they are added
  * here: a listener on the caller then sees every micro-batch the child
  * runs.
  *
  * Memos and scratch directories are keyed by session, so a child is
  * used only to build and start a stream; reads, memo lookups and
  * `scratchDir` calls (foreachBatch bodies included) stay on the
  * caller.
  */
object ChildSession {

  /** Shuffle width of the stream drives. Each shuffle partition
    * materializes a state-store instance per micro-batch, and at
    * micro-batch volumes that fixed cost outweighs wider parallelism;
    * a stream pins its width when it starts. */
  val StreamShufflePartitions = 8

  def apply(s: SparkSession, confs: (String, String)*): SparkSession = {
    val child = GraftBridge.cloneSession(s)
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    s.streams.listListeners().foreach(child.streams.addListener)
    child
  }

  /** A child session for driving a stream at [[StreamShufflePartitions]]. */
  def forStream(s: SparkSession): SparkSession =
    apply(s, "spark.sql.shuffle.partitions" -> StreamShufflePartitions.toString)
}
