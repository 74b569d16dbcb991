package graft.functions

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftBridge

/** SQL registration of the engine's native Catalyst expressions — the
  * UDF-extension story: every custom expression this library adds is
  * callable BOTH from the Column API and by name from `spark.sql(...)`,
  * like the reference's operators are callable by name from its driver
  * (reference: src/main/mrsequential.go:20-30 loads apps by name).
  *
  * Registration goes through the session's FunctionRegistry (via
  * [[GraftBridge]] — the registry lives behind `private[sql]`), so the
  * functions resolve in any SQL text without SparkSessionExtensions,
  * which the driver contract's session construction doesn't expose.
  */
object SqlFunctions {

  /** Idempotent: safe to call per-query (createOrReplaceTempFunction). */
  def register(s: SparkSession): Unit = {
    GraftBridge.registerSqlFunction(s, "vec_dot",
      exprs => VecDot(exprs.head, exprs(1)))
    GraftBridge.registerSqlFunction(s, "fnv1a",
      exprs => Fnv1a(exprs.head))
    GraftBridge.registerSqlFunction(s, "tokenize",
      exprs => TokenizeUdtf(exprs.head))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The pure-SQL path through both native expressions: vector self-dot
    // (codegen'd VecDot) and FNV-1a routing buckets (the reference's
    // ihash, reference: src/mr/worker.go:26-30) — all inside one
    // spark.sql text. The oracle replays FNV-1a 32-bit bit-exactly in
    // DuckDB via list_reduce over the key's character codes.
    "q71_sql_native_funcs" -> ((s, d) => {
      register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("embeddings_v")
      s.sql("""
        SELECT vec_id,
          round(vec_dot(embedding, embedding), 4) AS norm2,
          CAST(pmod(fnv1a(CAST(vec_id AS STRING)), 16) AS BIGINT) AS bucket
        FROM embeddings_v
        ORDER BY vec_id""")
    }),

    // The UDTF tier through pure SQL: the reference's tokenizer as a
    // registered Generator, consumed via LATERAL VIEW with per-token
    // POSITIONS (mapf's 1→N row expansion by name — the declarative twin
    // of the Dataset.flatMap engine path). The rollup keeps the result
    // compact while pinning order-awareness (first/last by position).
    "q90_sql_udtf" -> ((s, d) => {
      register(s)
      Tables.documents(s, d).createOrReplaceTempView("documents_v")
      s.sql("""
        SELECT doc_id, count(*) AS n_tokens,
          min_by(tok, pos) AS first_tok, max_by(tok, pos) AS last_tok
        FROM documents_v LATERAL VIEW tokenize(text) t AS pos, tok
        GROUP BY doc_id ORDER BY doc_id""")
    })
  )

  val oracles: Map[String, String] = Map(
    // FNV-1a 32-bit over the id's decimal string: fold
    // h = (h XOR byte) * 16777619 mod 2^32 from the 2166136261 offset
    // basis, then clear the sign bit — byte-identical to
    // graft.functions.Fnv1a.hash on ASCII keys.
    "q71_sql_native_funcs" ->
      """SELECT vec_id,
           round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 4)
             AS norm2,
           (list_reduce(
              list_prepend(2166136261::BIGINT,
                [ascii(c)::BIGINT for c in string_split(vec_id::VARCHAR, '')]),
              (h, b) -> (xor(h, b) * 16777619) % 4294967296)
            & 2147483647) % 16 AS bucket
         FROM embeddings
         ORDER BY vec_id""",
    // inner lateral view semantics: a doc with zero tokens produces no
    // row (none exist in the fixtures, but the filter keeps the replay
    // faithful at any corpus)
    "q90_sql_udtf" ->
      s"""WITH toks AS (
           SELECT doc_id,
             ${Tokens.sql("text")} AS t
           FROM documents)
         SELECT doc_id, len(t) AS n_tokens,
           t[1] AS first_tok, t[len(t)] AS last_tok
         FROM toks WHERE len(t) > 0 ORDER BY doc_id"""
  )
}
