package graft

import org.apache.spark.sql.Row

/** Result-digest lock for the NN-descent family at sf0.001: every query
  * that reads the kNN graph (the graph itself, its audit, its consumers
  * and the delta admission) must return exactly the rows recorded in
  * src/test/resources/knn_digests_sf0001.tsv.
  *
  * A digest is order-insensitive, canonicalised as perfbench/golden.py
  * does: columns sorted by name, every cell stringified, rows sorted,
  * then SHA-256 over the column names and the cells. It is computed from
  * Spark's own result, so no DuckDB formatting is replicated. On a
  * mismatch the failure prints the observed table; a deliberate result
  * change replaces the file with it, after `check_oracle.py` passes. */
class KnnDigestSpec extends TestSpark {

  private val lockPath = "src/test/resources/knn_digests_sf0001.tsv"

  private val names = Seq("q231_knn_descent", "q240_sampled_knn_audit",
    "q245_hard_negatives", "q248_knn_delta_admit", "q77_embedding_dedup",
    "q122_embedding_dedup_keep", "q220_crosslabel_neardup")

  private def cell(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ", ", "}")
    case x => x.toString
  }

  private def digest(name: String): (Int, String) = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    val cols = df.columns.zipWithIndex.sortBy(_._1)
    val rows = df.collect().map(r => cols.map { case (_, i) => cell(r.get(i)) }.toSeq)
      .sorted(Ordering.Implicits.seqOrdering[Seq, String])
    val h = java.security.MessageDigest.getInstance("SHA-256")
    h.update(cols.map(_._1).mkString("\u001f").getBytes("UTF-8"))
    rows.foreach { r =>
      h.update("\n".getBytes("UTF-8"))
      h.update(r.mkString("\u001f").getBytes("UTF-8"))
    }
    (rows.length, h.digest().map("%02x".format(_)).mkString)
  }

  test("kNN-family results match the committed digests at sf0.001") {
    SessionCache.releaseAll(spark)
    val observed = names.map { n => val (rows, sha) = digest(n); s"$n\t$rows\t$sha" }
    val src = scala.io.Source.fromFile(lockPath)
    val expected = try src.getLines().filterNot(_.startsWith("#")).toSeq
      finally src.close()
    assert(observed == expected,
      s"kNN-family results drifted from $lockPath; observed:\n" +
        observed.mkString("\n"))
  }
}
