package graft.functions

import org.apache.spark.sql.{Column, DataFrame, functions => F}

import scala.collection.immutable.ArraySeq

/** The reference tokenizer, the one word rule every text query uses:
  * maximal runs of Unicode letters, case-sensitive, empty tokens
  * dropped — Go's `strings.FieldsFunc(unicode.IsLetter)` (reference:
  * src/mrapps/wc.go:22-26). Three engines apply it, each through one
  * form here:
  *   - the JVM: [[split]], in the MapReduce apps, the `tokenize` UDTF and
  *     the typed map passes;
  *   - Spark: [[col]] and [[count]], and [[words]] for one row per token;
  *   - the DuckDB oracles: [[sql]] and [[sqlCount]].
  * The Spark and DuckDB forms are built from one private separator
  * pattern. A null text has no tokens: [[split]] returns none, and
  * [[col]] and [[sql]] return a null list, which unnests to no rows.
  */
object Tokens {

  /** A run of non-letters. `\p{L}` is the letter set of
    * `Character.isLetter(int)`, so the regex forms split where [[split]]
    * does; an unpaired surrogate is a separator in both. */
  private val Separator = "[^\\p{L}]+"

  /** The tokens of `s` by one scan over its code points; `null` gives
    * none. */
  def split(s: String): IndexedSeq[String] = {
    if (s == null) return ArraySeq.empty
    val out = ArraySeq.newBuilder[String]
    var start = -1
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { out += s.substring(start, i); start = -1 }
      i += Character.charCount(cp)
    }
    if (start >= 0) out += s.substring(start)
    out.result()
  }

  /** The token array of a string column. */
  def col(c: Column): Column = F.filter(F.split(c, Separator), x => x =!= "")

  /** The token count of a string column. */
  def count(c: Column): Column = F.size(col(c))

  /** One row per token of `text`, in a column `word` after the `keep`
    * columns: the regex split is exploded and its empty strings are
    * dropped by a row filter, with no per-row higher-order function. */
  def words(docs: DataFrame, text: Column, keep: Column*): DataFrame =
    docs.select(keep :+ F.explode(F.split(text, Separator)).as("word"): _*)
      .filter(F.col("word") =!= "")

  /** DuckDB text of the token list of the SQL expression `e`. */
  def sql(e: String): String =
    s"list_filter(string_split_regex($e, '$Separator'), x -> x <> '')"

  /** DuckDB text of the token count of the SQL expression `e`. */
  def sqlCount(e: String): String = s"len(${sql(e)})"
}
