package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Bench's stdout contract: the full record, the compact line (the last
  * one holding `queries`), and the bounded final line. */
class BenchSpec extends TestSpark {

  private def keys(n: JsonNode): Seq[String] =
    if (n.isObject) n.properties.asScala.toSeq.flatMap(e => e.getKey +: keys(e.getValue))
    else if (n.isArray) n.elements.asScala.toSeq.flatMap(keys)
    else Nil

  test("run returns the full, compact and final JSON for a two-query selection") {
    val log = new java.io.File("bench_logs/bench_full_last.json")
    val (logExists, logStamp) = (log.exists, log.lastModified)
    val (full, compact, last) =
      Bench.run(spark, sf0001, Some(Seq("q01_", "q21_")))
    assert(log.exists == logExists && log.lastModified == logStamp,
      "run must leave bench_logs/ to main")

    val mapper = new ObjectMapper()
    val docs = Seq(full, compact, last).map(mapper.readTree)
    val names = Set("q01_pricing_summary", "q21_mr_wordcount")
    for (d <- docs) {
      assert(d.get("metric").asText == "total")
      assert(d.get("unit").asText == "sec")
      val removed = keys(d).filter(_.matches(".*(calibration|load|forensic|aqe_).*"))
      assert(removed.isEmpty, removed.mkString(", "))
    }

    val Seq(fullDoc, compactDoc, lastDoc) = docs
    val runs = fullDoc.get("runs")
    assert(runs.fieldNames.asScala.toSet == names)
    for (n <- names) {
      val rs = runs.get(n).elements.asScala.map(_.asDouble).toSeq
      assert(rs.size == 3 && rs.forall(_ >= 0), s"$n runs $rs")
      for (d <- Seq(fullDoc, compactDoc))
        assert(d.get("queries").get(n).asDouble == rs.min, n)
    }
    assert(compactDoc.get("queries").fieldNames.asScala.toSet == names)
    val sumOfMins = names.toSeq.map(n =>
      runs.get(n).elements.asScala.map(_.asDouble).min).sum
    for (d <- docs) assert(math.abs(d.get("value").asDouble - sumOfMins) < 1e-9)

    assert(lastDoc.get("queries") == null)
    assert(lastDoc.get("n_queries").asInt == 2)
    assert(last.getBytes("UTF-8").length <= 1000, s"${last.length} bytes")
  }
}
