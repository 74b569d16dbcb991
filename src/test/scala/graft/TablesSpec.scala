package graft

import org.apache.spark.sql.functions._

/** Fixture-format adaptivity: the driver has shipped events.ts as
  * parquet TIMESTAMP(NANOS) (read as raw-nanos BIGINT under the legacy
  * conf) and as timestamp[us] (read as TIMESTAMP_NTZ) across testdata
  * generations. [[Tables.tsToMicros]] must normalize BOTH shapes to the
  * same session-UTC TimestampType instant, so every events consumer is
  * generation-agnostic.
  */
class TablesSpec extends TestSpark {

  test("tsToMicros: raw-nanos and TIMESTAMP_NTZ fixtures read to the same instant") {
    import spark.implicits._
    // 2024-01-01 00:00:07.179575 UTC as epoch micros
    val micros = 1704067207179575L
    val dir = java.nio.file.Files.createTempDirectory("fixfmt").toString
    // old generation: TIMESTAMP(NANOS) arrives as a raw-nanos long
    Seq((1L, micros * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/nanos.parquet")
    // new generation: timestamp[us] arrives as TIMESTAMP_NTZ
    Seq((1L, "2024-01-01 00:00:07.179575")).toDF("event_id", "s")
      .select(col("event_id"), col("s").cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ntz.parquet")
    val shapes = Seq("nanos", "ntz").map { g =>
      val df = Tables.tsToMicros(spark.read.parquet(s"$dir/$g.parquet"))
      assert(df.schema("ts").dataType
        == org.apache.spark.sql.types.TimestampType, s"$g not normalized")
      df.select(unix_micros(col("ts"))).head().getLong(0)
    }
    assert(shapes.forall(_ == micros),
      s"generations disagree: $shapes vs $micros")
    // already-TimestampType (and ts-less) frames pass through untouched
    val plain = Seq((1L, "x")).toDF("event_id", "other")
    assert(Tables.tsToMicros(plain).schema == plain.schema)
  }
}
