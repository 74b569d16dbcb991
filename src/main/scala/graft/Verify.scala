package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Top-level columns the driver's canonicalizer cannot sort: its pandas
    * `sort_values` factorizes raw cell values, and ndarray/dict cells are
    * unhashable (round-6 q104 shipped unverified exactly this way — the
    * builder-side check stringifies first and stayed green while the
    * driver's crashed). Every inventory query must emit scalar-only
    * schemas; arrays/maps/structs get concat_ws/to_json-serialized in the
    * query's final projection instead. */
  def nonSortable(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType]
        || f.dataType.isInstanceOf[MapType]
        || f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name substrings to run (dev
    // iteration aid — the driver always runs the full inventory)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Reliable-checkpoint dir: makes connectedComponents take its
    // production `df.checkpoint()` branch (survives executor loss) in the
    // gate instead of only ever exercising localCheckpoint. Scratch dir is
    // per-session and deleted on JVM exit.
    spark.sparkContext.setCheckpointDir(Tables.scratchDir(spark, "ckpt"))
    new java.io.File(outDir).mkdirs()
    // A query that throws must FAIL LOUDLY in the correctness artifact,
    // not silently vanish from it (round-4 advisor finding: q72/q76
    // crashed and CORRECTNESS_r04 just omitted them, looking green). So:
    // write a sentinel one-row result carrying the error — the driver's
    // DuckDB compare then reports a schema/row mismatch for that query —
    // plus an errors.json inventory, and exit nonzero.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val tq = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        // fail the query (loudly, via the sentinel path below) before the
        // driver's gate can crash on it — a non-scalar output column is a
        // builder bug, not a driver quirk
        val bad = nonSortable(df.schema)
        if (bad.nonEmpty) throw new IllegalStateException(
          s"driver-unsortable output schema — serialize (concat_ws/to_json) " +
            s"these columns: ${bad.mkString("; ")}")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name done in ${(System.nanoTime() - tq) / 1e9}%.1f s")
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        failures.synchronized { failures(name) = msg; () }
        System.err.println(s"[verify] FAILED $name: $msg")
        try {
          import spark.implicits._
          Seq(msg).toDF("__verify_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    val toRun = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }.toSeq
    // Queries are mutually independent — each stages its own scratch
    // dirs, the module memo caches are synchronized, Spark job submission
    // is thread-safe on one session, and no query writes this session's
    // conf (stream drives set theirs on a child session, see
    // ChildSession) — so every query runs on a small thread pool.
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    if (nThreads <= 1) toRun.foreach { case (n, f) => runOne(n, f) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      val cs = toRun.map { case (n, f) =>
        pool.submit(new Runnable { def run(): Unit = runOne(n, f) }) }
      cs.foreach(_.get())
      pool.shutdown()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // POST-DRIVE SELF-CHECK (round-15 verdict #1: CORRECTNESS_r15.json
    // recorded {} for a 244/244-green tree, and nothing builder-side
    // could prove the drive itself completed). Assert every inventory
    // query left a result dir with parquet inside, and write a summary
    // artifact the round log can quote: an empty or truncated driver
    // gate is now distinguishable from an engine failure by ONE file.
    val expected =
      SparkEntry.queries.keys.filter(n => only.forall(_.exists(n.contains))).toSeq
    val written = expected.filter { n =>
      val d = new java.io.File(s"$outDir/$n")
      d.isDirectory && d.listFiles != null &&
        d.listFiles.exists(_.getName.endsWith(".parquet"))
    }
    val missing = expected.diff(written)
    val wallS = (System.nanoTime() - t0) / 1e9
    Files.writeString(Paths.get(s"$outDir/_drive_summary.json"),
      s"""{"n_inventory": ${expected.size}, "n_written": ${written.size}, """ +
        s""""n_failed": ${failures.size}, "n_missing_dirs": ${missing.size}, """ +
        s""""missing": [${missing.map(q).mkString(",")}], """ +
        s""""wall_s": ${f"$wallS%.1f"}}""")
    println(s"[verify] SELF-CHECK: ${written.size}/${expected.size} query dirs " +
      s"written, ${failures.size} failed, ${missing.size} missing, " +
      f"wall $wallS%.1f s" +
      (if (missing.nonEmpty) s" — MISSING: ${missing.mkString(", ")}" else ""))
    SessionCache.releaseAll(spark)
    spark.stop()
    // exit 0 even on failures: the sentinel parquet makes each failure a
    // visible per-query mismatch in the driver's compare, which is the
    // loud signal we want; a nonzero exit might abort the compare itself.
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} quer(ies) FAILED: " +
        failures.keys.mkString(", "))
  }
}
