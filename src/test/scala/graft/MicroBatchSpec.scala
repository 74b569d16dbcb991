package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The exactly-once batch contract ([[MicroBatch]]): a seed write
  * replaces the table, a batch write replaces only its own partition, and
  * a reset sink holds nothing a previous run wrote.
  */
class MicroBatchSpec extends TestSpark {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def ids(xs: Long*) = {
    import spark.implicits._
    xs.toDF("x")
  }

  /** (x, batch) rows of the table at `dir`. */
  private def rows(dir: String, part: String = "batch_id"): Set[(Long, Long)] =
    spark.read.parquet(dir).select(col("x"), col(part).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a seed write drops every later generation") {
    val dir = tmp("mb_seed")
    MicroBatch.write(ids(1L), dir, MicroBatch.Seed)
    MicroBatch.write(ids(2L, 3L), dir, 0L)
    MicroBatch.write(ids(4L), dir, 1L)
    MicroBatch.write(ids(9L), dir, MicroBatch.Seed)
    assert(rows(dir) == Set((9L, -1L)))
  }

  test("a batch write replaces only its own partition, and a replay leaves one copy") {
    val dir = tmp("mb_batch")
    MicroBatch.write(ids(1L), dir, MicroBatch.Seed, "gen")
    MicroBatch.write(ids(2L, 3L), dir, 0L, "gen")
    MicroBatch.write(ids(4L), dir, 1L, "gen")
    MicroBatch.write(ids(5L), dir, 0L, "gen")
    assert(rows(dir, "gen") == Set((1L, -1L), (5L, 0L), (4L, 1L)))
    MicroBatch.write(ids(7L, 8L), dir, 2L, "gen")
    MicroBatch.write(ids(7L, 8L), dir, 2L, "gen")
    assert(spark.read.parquet(dir).filter(col("gen") === 2).count() == 2L)
  }

  test("reset leaves an empty table that reads through its schema") {
    val dir = tmp("mb_reset")
    MicroBatch.write(ids(1L), dir, MicroBatch.Seed)
    MicroBatch.write(ids(2L), dir, 0L)
    val schema = new StructType().add("x", "long").add("batch_id", "long")
    MicroBatch.reset(spark, schema, dir)
    assert(spark.read.schema(schema).parquet(dir).count() == 0L)
  }

  test("q139 and q149 return nothing stale after their input changes under the same path") {
    val d = tmp("mb_stale")
    val docsPath = s"$d/documents.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      java.nio.file.Paths.get(docsPath))
    // replace documents.parquet in place with the fixture rows `keep`
    // selects, as one file
    def rewriteDocs(keep: org.apache.spark.sql.Column): Unit = {
      val stage = tmp("mb_stale_stage")
      spark.read.parquet(s"$sf0001/documents.parquet").filter(keep)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(docsPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    def run(name: String): Long = SparkEntry.queries(name)(spark, d).count()
    assert(run("q139_stream_decontam") > 0L)
    assert(run("q149_stream_phash_admit") > 0L)
    // each query's stream side reads doc_id % 5 <> 0 (q139) or = 0
    // (q149); keep only the other side, so the stream admits no row
    rewriteDocs(col("doc_id") % 5 === 0)
    assert(run("q139_stream_decontam") == 0L)
    rewriteDocs(col("doc_id") % 5 =!= 0)
    assert(run("q149_stream_phash_admit") == 0L)
  }

  test("src/main writes batch tables and fixture streams only through MicroBatch") {
    // a hand-built overwrite mode, foreachBatch drive, empty-table reset
    // or fixture-stream glob is the contract re-implemented at its site
    val root = java.nio.file.Paths.get("src/main/scala")
    val banned = Seq("partitionOverwriteMode", ".foreachBatch", "emptyRDD",
      ".parq*")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no source found under ${root.toAbsolutePath}")
    val found = files
      .filterNot(_.getFileName.toString == "MicroBatch.scala")
      .flatMap { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) => s"$rel:${i + 1}: ${l.trim}"
        }
      }
    assert(found.isEmpty,
      "batch-table contract outside MicroBatch — use MicroBatch.write/reset/" +
        s"source/drain:\n${found.mkString("\n")}")
  }
}
