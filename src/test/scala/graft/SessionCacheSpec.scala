package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The session cache: one registry for every memo and tracked relation
  * a session keeps, released per namespace or all at once. */
class SessionCacheSpec extends TestSpark {

  private def both[A](a: => A, b: => A): (A, A) = {
    val fa = Future(a)
    val fb = Future(b)
    (Await.result(fa, 2.minutes), Await.result(fb, 2.minutes))
  }

  test("concurrent first calls of one key run the build once") {
    val builds = new AtomicInteger(0)
    def call() = SessionCache.memo(spark, "spec.once", "k") {
      builds.incrementAndGet()
      Thread.sleep(300)
      "v"
    }
    assert(both(call(), call()) == (("v", "v")))
    assert(builds.get() == 1)
    SessionCache.release(spark, "spec.once")
  }

  test("different keys of one namespace build concurrently") {
    // each build waits for the other to start: serialised builds would
    // time out here (a per-map lock held across the build did)
    import spark.implicits._
    val started = new CountDownLatch(2)
    def labels(key: String) = graft.functions.Dedup.cachedComponents(spark, key) {
      started.countDown()
      assert(started.await(30, TimeUnit.SECONDS), s"$key built alone")
      Seq((2L, 1L), (3L, 2L)).toDF("doc_a", "doc_b")
    }
    val (a, b) = both(labels("spec#a"), labels("spec#b"))
    assert(a.collect().length == 3 && b.collect().length == 3)
    SessionCache.release(spark, "dedup")
  }

  test("a build that throws caches nothing and the next call rebuilds") {
    val builds = new AtomicInteger(0)
    intercept[IllegalStateException] {
      SessionCache.memo[String](spark, "spec.throw", "k") {
        builds.incrementAndGet()
        throw new IllegalStateException("staging failed")
      }
    }
    val v = SessionCache.memo(spark, "spec.throw", "k") {
      builds.incrementAndGet(); "ok"
    }
    assert(v == "ok" && builds.get() == 2)
    SessionCache.release(spark, "spec.throw")
  }

  test("release of one namespace leaves other namespaces and sessions alone") {
    val other = spark.newSession()
    val builds = new AtomicInteger(0)
    def memo(s: org.apache.spark.sql.SparkSession, ns: String) =
      SessionCache.memo(s, ns, "k") { builds.incrementAndGet(); ns }
    memo(spark, "knnd"); memo(spark, "spec.other"); memo(other, "knnd")
    val knndDf = SessionCache.tracked("knnd", spark.range(10).toDF("x"))
    val otherDf = SessionCache.tracked("spec.other", spark.range(11).toDF("x"))
    knndDf.count(); otherDf.count()
    assert(builds.get() == 3)

    SessionCache.release(spark, "knnd")
    memo(spark, "spec.other"); memo(other, "knnd")
    assert(builds.get() == 3, "entries outside (spark, knnd) must survive")
    assert(knndDf.storageLevel == StorageLevel.NONE)
    assert(otherDf.storageLevel == StorageLevel.MEMORY_AND_DISK)
    memo(spark, "knnd")
    assert(builds.get() == 4, "the released entry must rebuild")

    SessionCache.release(spark, "knnd")
    SessionCache.release(spark, "spec.other")
    SessionCache.releaseAll(other)
  }

  test("releaseAll destroys memoized broadcasts and unpersists tracked relations") {
    val bc = SessionCache.memo(spark, "spec.all", "bc")(
      spark.sparkContext.broadcast(Array(1, 2, 3)))
    val memoDf = SessionCache.memo(spark, "spec.all", "df")(
      spark.range(12).toDF("x").persist())
    val tracked = SessionCache.tracked("spec.all", spark.range(13).toDF("x"))
    assert(bc.value.sum == 6 && memoDf.count() == 12 && tracked.count() == 13)

    SessionCache.releaseAll(spark)
    intercept[org.apache.spark.SparkException](bc.value)
    assert(memoDf.storageLevel == StorageLevel.NONE)
    assert(tracked.storageLevel == StorageLevel.NONE)
  }

  test("src/main keeps session state only in SessionCache") {
    // a module memo map or release hook outside the registry is how a
    // teardown list goes incomplete; route it through SessionCache
    val root = java.nio.file.Paths.get("src/main/scala")
    val hook = """def\s+releaseCaches\b""".r
    // an object-level field (two-space indent) whose declaration, or
    // the line after a trailing `=`, builds a mutable map
    val field = """^  (private(\[\w+\])? )?(lazy )?va[lr] \w+""".r
    val map = """mutable\.\w*Map\b|TrieMap|ConcurrentHashMap""".r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no source found under ${root.toAbsolutePath}")
    val found = files
      .filterNot(_.getFileName.toString == "SessionCache.scala")
      .flatMap { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        val ls = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
        ls.indices.flatMap { i =>
          val decl = ls(i) + (if (ls(i).trim.endsWith("=") && i + 1 < ls.size)
            " " + ls(i + 1) else "")
          if (hook.findFirstIn(ls(i)).isDefined ||
              (field.findFirstIn(ls(i)).isDefined && map.findFirstIn(decl).isDefined))
            Some(s"$rel:${i + 1}: ${ls(i).trim}")
          else None
        }
      }
    assert(found.isEmpty,
      "session state outside SessionCache — use SessionCache.memo/tracked " +
        s"and release(s, ns):\n${found.mkString("\n")}")
  }
}
