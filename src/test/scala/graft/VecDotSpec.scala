package graft

import graft.functions.VecDot
import org.apache.spark.sql.functions._

/** The codegen'd VecDot expression must be bit-identical to the
  * interpreted higher-order formulation it replaced (same widen-then-
  * multiply, same left-to-right fold) — that identity is what keeps the
  * q30/q31 DuckDB oracles valid.
  */
class VecDotSpec extends TestSpark {

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  test("vec_dot == interpreted aggregate/zip_with on real embeddings (float x float)") {
    val emb = Tables.embeddings(spark, sf0001).limit(200)
    val both = emb.select(
      VecDot.vecDot(col("embedding"), col("embedding")).as("native"),
      hofDot(col("embedding"), col("embedding")).as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"bit mismatch: $r")
    }
  }

  test("vec_dot handles mixed float/double sides (embedding x literal plane)") {
    val plane = Array.tabulate(64)(i => (i - 32) / 7.5)
    val planeLit = array(plane.toIndexedSeq.map(lit): _*)
    val emb = Tables.embeddings(spark, sf0001).limit(100)
    val both = emb.select(
      VecDot.vecDot(col("embedding"), planeLit).as("native"),
      hofDot(col("embedding"), planeLit).as("hof"))
    both.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"bit mismatch: $r")
    }
  }

  test("vec_dot interpreted eval matches codegen path") {
    // force the interpreted path by evaluating the expression directly
    val e = VecDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 2.0f, 3.0f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(4.0, 5.0, 6.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false)))
    assert(e.eval(null) == (1.0 * 4 + 2.0 * 5 + 3.0 * 6))
    // codegen path through a projection over a one-row frame
    import spark.implicits._
    val row = Seq(1).toDF("x")
      .select(VecDot.vecDot(
        array(lit(1.0f), lit(2.0f), lit(3.0f)),
        array(lit(4.0), lit(5.0), lit(6.0))).as("d"))
      .collect()(0)
    assert(row.getDouble(0) == 32.0)
  }

  test("doGenCode compiles in a standalone UnsafeProjection (no loop-var collision)") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    // Outside whole-stage codegen the generated apply()'s input-row
    // parameter is literally named `i`; a hardcoded loop variable collides
    // and janino fails → silent interpreter fallback. GenerateUnsafeProjection
    // has NO fallback, so a codegen bug throws here instead of degrading.
    val expr = VecDot(
      BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false),
      BoundReference(1, ArrayType(DoubleType, containsNull = false), nullable = false))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val row = new GenericInternalRow(Array[Any](
      ArrayData.toArrayData(Array(1.0f, 2.0f, 3.0f)),
      ArrayData.toArrayData(Array(4.0, 5.0, 6.0))))
    assert(proj(row).getDouble(0) == 32.0)
  }

  test("vec_dot and fnv1a are SQL-callable via the function registry") {
    graft.functions.SqlFunctions.register(spark)
    Tables.embeddings(spark, sf0001).filter(col("vec_id") < 20)
      .createOrReplaceTempView("emb_sql_t")
    val sql = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS d,
           fnv1a(CAST(vec_id AS STRING)) AS h
         FROM emb_sql_t ORDER BY vec_id""").collect()
    val api = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 20)
      .select(col("vec_id"),
        VecDot.vecDot(col("embedding"), col("embedding")).as("d"),
        graft.functions.Fnv1a.fnv1a(col("vec_id").cast("string")).as("h"))
      .orderBy(col("vec_id")).collect()
    assert(sql.nonEmpty && sql.sameElements(api))
    // pin the SQL path to the raw hash implementation too
    assert(spark.sql("SELECT fnv1a('0') AS h").collect()(0).getInt(0) ==
      graft.functions.Fnv1a.hash("0".getBytes("UTF-8")))
  }

  test("tokenize UDTF: LATERAL VIEW equals posexplode(split), null-safe") {
    graft.functions.SqlFunctions.register(spark)
    Tables.documents(spark, sf0001).filter(col("doc_id") < 50)
      .createOrReplaceTempView("doc_udtf_t")
    val viaUdtf = spark.sql(
      """SELECT doc_id, pos, tok
         FROM doc_udtf_t LATERAL VIEW tokenize(text) t AS pos, tok
         ORDER BY doc_id, pos""").collect()
    val viaBuiltin = spark.sql(
      """SELECT doc_id, pos, tok FROM doc_udtf_t
         LATERAL VIEW posexplode(filter(split(text, '[^\\p{L}]+'),
           x -> x != '')) t AS pos, tok
         ORDER BY doc_id, pos""").collect()
    assert(viaUdtf.nonEmpty && viaUdtf.sameElements(viaBuiltin))
    // null input generates zero rows, not a crash
    assert(spark.sql(
      "SELECT * FROM (SELECT CAST(NULL AS STRING) AS s) LATERAL VIEW tokenize(s) t AS p, w")
      .collect().isEmpty)
  }

  test("q30 plan stays inside whole-stage codegen with the native dot") {
    val df = graft.functions.Similarity.queries("q30_cosine_topk")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the scoring projection must carry a codegen stage marker and must
    // NOT contain the interpreted higher-order aggregate anymore
    assert(plan.contains("vecdot") || !plan.contains("aggregate(zip_with"),
      plan.take(3000))
  }
}
