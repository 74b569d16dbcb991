package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.GraftBridge
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything a session keeps between queries, in one place. Two kinds
  * of entry live here, both filed under (session, namespace), one
  * namespace per module:
  *
  *  - memos ([[memo]]): a value built once per (session, namespace, key)
  *    — a persisted relation, a broadcast, a count, a scratch-store run.
  *    Keys are the callers' dataset paths and params, so a fresh copy of
  *    a dataset under a new path is a new entry.
  *  - tracked relations ([[tracked]]): persisted DataFrames, one
  *    refcounted entry per canonicalized plan, so repeated registrations
  *    in a long-lived session do not grow the list or pin plan objects.
  *
  * [[release]] drops one namespace of a session and [[releaseAll]] all
  * of them: memoized broadcasts are destroyed, memoized DataFrames and
  * tracked relations unpersisted. Release only once no outstanding
  * DataFrame still reads them.
  */
private[graft] object SessionCache {

  /** One memo entry. Its own lock serialises the first builds of its
    * key, so different keys build concurrently and no registry-wide
    * lock is ever held while a build runs. `value` is empty until a
    * build completes, and stays empty when one throws. */
  private final class Slot { @volatile var value: Option[Any] = None }

  private val memos = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Any), Slot]()

  private final class Entry(val df: DataFrame) { var refs: Int = 1 }
  private val relations =
    mutable.Map.empty[(String, String), mutable.LinkedHashMap[LogicalPlan, Entry]]

  /** The value memoized for (`s`, `ns`, `key`), running `build` on the
    * first call. A build that throws caches nothing, so the next call
    * rebuilds. A cached value that fails `live` was stripped from
    * outside (a blanket RDD unpersist): the whole namespace is released
    * — its tracked relations' CacheManager entries are equally stale —
    * and the value rebuilds under the entry's lock. */
  def memo[V](s: SparkSession, ns: String, key: Any)(build: => V): V =
    memo(s, ns, key, (_: V) => true)(build)

  @annotation.tailrec
  def memo[V](s: SparkSession, ns: String, key: Any,
      live: V => Boolean)(build: => V): V = {
    val k = (Tables.sessionKey(s), ns, key)
    val slot = memos.computeIfAbsent(k, _ => new Slot)
    val got = slot.synchronized {
      // a release removed this slot while we waited: start over
      if (memos.get(k) ne slot) None
      else slot.value.map(_.asInstanceOf[V]) match {
        case Some(v) if live(v) => Some(v)
        case stale =>
          if (stale.isDefined) {
            System.err.println(s"[cache] $ns entry $key is no longer " +
              s"materialized — releasing $ns and rebuilding")
            slot.value = None
            release(s, ns)
          }
          val v = build
          slot.value = Some(v)
          Some(v)
      }
    }
    got match {
      case Some(v) => v
      case None => memo(s, ns, key, live)(build)
    }
  }

  /** Persist `df` MEMORY_AND_DISK and register it under `ns`. An
    * equivalent plan already tracked (q240 registers the exact-audit
    * relation around its own aggregates, and buildAuto's identical audit
    * must not drop it out from under them) gains one reference instead
    * of a second entry; each call holds one reference until [[drop]]. */
  def tracked(ns: String, df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon = GraftBridge.logicalPlan(p).canonicalized
    val key = (Tables.sessionKey(df.sparkSession), ns)
    relations.synchronized {
      val entries = relations.getOrElseUpdate(key, mutable.LinkedHashMap.empty)
      entries.get(canon) match {
        case Some(e) => e.refs += 1
        case None => entries(canon) = new Entry(p)
      }
    }
    p
  }

  /** Release ONE reference to a tracked relation (e.g. a build stage
    * superseded by a later stage). The relation unpersists and its plan
    * is forgotten only when the LAST reference drops, so a concurrent
    * consumer that [[tracked]] the same plan keeps it alive. A fully
    * dropped plan re-persists and re-registers cleanly on a later
    * re-track. Dropping an untracked relation just unpersists it. */
  def drop(ns: String, df: DataFrame): Unit = {
    val canon = GraftBridge.logicalPlan(df).canonicalized
    val key = (Tables.sessionKey(df.sparkSession), ns)
    val unpersistNow = relations.synchronized {
      relations.get(key).flatMap(es => es.get(canon).map(es -> _)) match {
        case None => true
        case Some((entries, e)) =>
          e.refs -= 1
          if (e.refs <= 0) { entries.remove(canon); true } else false
      }
    }
    if (unpersistNow) df.unpersist()
    ()
  }

  /** Persist-state dump of `ns`'s tracked relations: one entry per
    * tracked DataFrame with its cached RDD id, current storage level and
    * live block count — the signature of the stripped-blocks-but-live-
    * handle state is `level=None cached_parts=0/N` on a relation a
    * consumer is about to reuse. JSON-array string. */
  def forensic(s: SparkSession, ns: String): String = {
    val dfs = relations.synchronized {
      relations.get((Tables.sessionKey(s), ns))
        .map(_.values.map(_.df).toList).getOrElse(Nil)
    }
    dfs.map(df => "\"" + GraftBridge.cacheForensic(df) + "\"")
      .mkString("[", ",", "]")
  }

  /** Drop `ns`'s memos and tracked relations for `s`. A build still in
    * flight is left alone: its value lands after the release. */
  def release(s: SparkSession, ns: String): Unit =
    releaseWhere(Tables.sessionKey(s), _ == ns)

  /** Drop every namespace's memos and tracked relations for `s`. */
  def releaseAll(s: SparkSession): Unit =
    releaseWhere(Tables.sessionKey(s), _ => true)

  private def releaseWhere(sid: String, nsIn: String => Boolean): Unit = {
    memos.asScala.foreach { case (k @ (ks, ns, _), slot) =>
      val v = slot.value
      if (ks == sid && nsIn(ns) && v.isDefined && memos.remove(k, slot))
        v.get match {
          case bc: Broadcast[_] => bc.destroy()
          case df: Dataset[_] => df.unpersist()
          case _ => ()
        }
    }
    val dropped = relations.synchronized {
      val keys = relations.keys.filter { case (ks, ns) => ks == sid && nsIn(ns) }
      keys.toList.flatMap(relations.remove)
    }
    dropped.foreach(_.values.foreach(_.df.unpersist()))
  }
}
