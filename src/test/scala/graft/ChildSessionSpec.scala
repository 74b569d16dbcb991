package graft

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** Queries that need their own session conf (the stream drives' shuffle
  * width, the RocksDB state store) set it on a child session
  * ([[ChildSession]]), so the caller's session is never written and a
  * query planned concurrently on it never sees another query's settings.
  */
class ChildSessionSpec extends TestSpark {

  private val width = "spark.sql.shuffle.partitions"

  test("stream drives leave the caller's conf untouched and report to its listeners") {
    val caller = spark.newSession()
    caller.conf.set(width, "3")
    val before = caller.conf.getAll
    // (runId, caller's width at delivery, progress)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (java.util.UUID, String, StreamingQueryProgress)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        seen.add((e.progress.runId, caller.conf.get(width), e.progress)); ()
      }
    }
    def runIds = seen.asScala.map(_._1).toSet
    caller.streams.addListener(listener)
    try {
      val runsOf = Seq("q33_stream_tumbling", "q82_stream_foreach_upsert",
          "q66_transform_with_state").map { name =>
        val prior = runIds
        assert(SparkEntry.queries(name)(caller, sf0001).collect().nonEmpty, name)
        // progress events reach listeners asynchronously
        val deadline = System.nanoTime() + 30000000000L
        while ((runIds -- prior).isEmpty && System.nanoTime() < deadline)
          Thread.sleep(50)
        val fresh = runIds -- prior
        assert(fresh.nonEmpty, s"the caller's listener saw no progress from $name")
        name -> fresh
      }.toMap
      val events = seen.asScala.toSeq
      assert(events.forall(_._2 == "3"),
        s"the caller's width changed during a drive: ${events.map(_._2).distinct}")
      val q33State = events.filter(e => runsOf("q33_stream_tumbling")(e._1))
        .flatMap(_._3.stateOperators.headOption)
      assert(q33State.nonEmpty && q33State.forall(
        _.numShufflePartitions == ChildSession.StreamShufflePartitions),
        s"q33 state width: ${q33State.map(_.numShufflePartitions)}")
    } finally caller.streams.removeListener(listener)
    assert(caller.conf.getAll == before)
  }

  test("src/main writes session conf only through the sanctioned sites") {
    // a query that needs its own conf uses ChildSession; the other two
    // writes are the events-timestamp read flag (idempotent, needed by
    // every events reader) and q56's private bloom-filter session
    val allowed = Set(
      "graft/ChildSession.scala" ->
        "confs.foreach { case (k, v) => child.conf.set(k, v) }",
      "graft/Tables.scala" ->
        """spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")""",
      "graft/operators/PipelineOps.scala" ->
        """s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")""")
    val root = java.nio.file.Paths.get("src/main/scala")
    val mutation = """\.conf\.(set|unset)\(""".r
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        java.nio.file.Files.readAllLines(p).asScala.map(_.trim)
          .filter(l => mutation.findFirstIn(l).isDefined).map(rel -> _)
      }
    assert(found.nonEmpty, s"no source found under ${root.toAbsolutePath}")
    val stray = found.filterNot(allowed)
    assert(stray.isEmpty,
      "session conf written outside ChildSession — set it on a child " +
        s"session instead: ${stray.mkString("; ")}")
  }
}
