package graft

import graft.functions.Tokens
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The word rule's null contract and its one home: [[Tokens]] holds the
  * split pattern, and no other main source spells it. */
class TokensSpec extends TestSpark {

  test("a null text has no tokens in split, col and words") {
    // the tokenize UDTF's null row is pinned in VecDotSpec
    import spark.implicits._
    assert(Tokens.split(null).isEmpty)
    val df = Seq[(Long, String)]((1L, null)).toDF("doc_id", "text")
    assert(df.select(explode(Tokens.col(col("text")))).collect().isEmpty)
    assert(Tokens.words(df, col("text")).collect().isEmpty)
  }

  test("src/main spells the split pattern only in Tokens") {
    // a copy of the pattern, at either escape level, or of the retired
    // compiled-pattern constant is the word rule re-implemented at its site
    val root = java.nio.file.Paths.get("src/main/scala")
    val banned = Seq("""[^\p{L}]+""", """[^\\p{L}]+""", "SplitRe")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no source found under ${root.toAbsolutePath}")
    val found = files
      .filterNot(_.getFileName.toString == "Tokens.scala")
      .flatMap { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if banned.exists(l.contains) => s"$rel:${i + 1}: ${l.trim}"
        }
      }
    assert(found.isEmpty,
      "word rule outside Tokens — use Tokens.split/col/count/sql/sqlCount:\n" +
        found.mkString("\n"))
  }
}
