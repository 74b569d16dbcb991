package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-generating function (UDTF) tier of the Catalyst extension story:
  * the [[Tokens]] word rule (the reference tokenizer,
  * src/mrapps/wc.go:22-26) as a native `Generator`, emitting
  * one (pos, tok) row per token. Registered by name in
  * [[SqlFunctions.register]], so SQL users get the reference's mapf-style
  * 1→N row expansion as `LATERAL VIEW tokenize(text)` — the declarative
  * twin of the engine's `Dataset.flatMap` path (SURVEY §2.4: "the
  * reference IS a UDTF/UDAF surface").
  *
  * Positions make this strictly stronger than `explode(split(...))`:
  * order-aware consumers (n-gram windows, first/last token) get the
  * token index without a separate posexplode + filter chain.
  */
case class TokenizeUdtf(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("tok", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokenize expects a string column, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else Tokens.split(v.asInstanceOf[UTF8String].toString)
      .iterator.zipWithIndex.map { case (t, i) =>
        InternalRow(i, UTF8String.fromString(t)) }
  }

  override protected def withNewChildInternal(newChild: Expression): TokenizeUdtf =
    copy(child = newChild)
}
