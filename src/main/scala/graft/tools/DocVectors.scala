package graft.tools

import graft.functions.Tokens
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Document-derived embedding fixture builder:
  * every recall leg to date measured the NN-descent dial on PLANTED
  * synthetic vectors; this main derives a vector per actual document —
  * the q101/q177 LM-machinery shape: hashed-BIGRAM log-count profiles
  * (64 buckets = the fixture embedding dimension, xxhash64 bucketing,
  * log1p damping so mega-docs don't drown the direction) — and writes an
  * embeddings table (vec_id = doc_id, embedding float[64], label = a
  * source bucket) that scripts/ann_recall.py probes like any other leg.
  * Real documents share vocabulary by topic/source, so their profiles
  * have the weak-but-real angular structure a curation run's embedding
  * space has — the corpus shape the dial's decision should be
  * demonstrated on, between the two synthetic extremes (pure-random:
  * no structure; planted bands: exact structure). Dev-side tooling —
  * NOT part of the library runtime.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<docs dir> runMain graft.tools.DocVectors
  *        [outDir]   (default /root/repo/scratch/docvec)
  */
object DocVectors {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = if (args.nonEmpty) args(0) else "/root/repo/scratch/docvec"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dims = 64
    val docs = graft.Tables.documents(spark, sfDir)
    // token stream -> consecutive bigrams -> hashed bucket counts: one
    // corpus scan, one (doc_id, bucket)-keyed partial aggregate — the
    // q81/q177 bigram discipline, profile-sized output
    val toks = docs.select(col("doc_id"), col("source"),
      Tokens.col(lower(col("text"))).as("toks"))
    val grams = toks.select(col("doc_id"), col("source"),
        explode(zip_with(col("toks"),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      .filter(col("bg").contains(" "))
      .select(col("doc_id"), col("source"),
        pmod(xxhash64(col("bg")), lit(dims)).cast("int").as("bucket"))
    val counts = grams.groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val vecs = counts.groupBy(col("doc_id"), col("source"))
      .agg(map_from_arrays(collect_list(col("bucket")),
        collect_list(col("c"))).as("m"))
      .select(col("doc_id").as("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          i => log1p(coalesce(col("m")(i), lit(0L)).cast("double"))
            .cast("float")).as("embedding"),
        pmod(xxhash64(col("source")), lit(10)).cast("int").as("label"))
    vecs.orderBy(col("vec_id")).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val n = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    println(s"""{"metric":"doc_vectors","n_vecs":$n,"dims":$dims,""" +
      s""""src":"$sfDir","out":"$outDir"}""")
    spark.stop()
  }
}
