package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst Generator (the UDTF surface, SURVEY.md §2.9
  * `text_ngram_bigram`): explodes a token array into (pos, bigram) rows,
  * pos 1-based.
  *
  * Why a Generator rather than a posexplode+self-zip: one pass, no join, no
  * extra shuffle — rows are produced inline in the scan stage, which is the
  * shape that survives a 100 TB corpus (generation is embarrassingly
  * parallel per document). CodegenFallback is acceptable here because
  * generators sit at stage boundaries; the surrounding projections still
  * codegen.
  */
case class BigramExplode(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  private val space = UTF8String.fromString(" ")

  /** Analysis-time type gate: a non-array argument fails with a clear
    * AnalysisException instead of a runtime ClassCastException. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bigrams() requires ARRAY<STRING>, got ${other.catalogString}")
  }

  override def elementSchema: StructType = new StructType()
    .add("pos", IntegerType, nullable = false)
    .add("bigram", StringType, nullable = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) return Iterator.empty
    val arr = data.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) Iterator.empty
    else (0 until n - 1).iterator.flatMap { i =>
      // skip pairs containing a null token: elementSchema declares the
      // bigram field non-nullable, and UTF8String.concat(null, …) would
      // otherwise emit a null into it
      val a = arr.getUTF8String(i); val b = arr.getUTF8String(i + 1)
      if (a == null || b == null) Iterator.empty
      else Iterator.single(InternalRow(i + 1, UTF8String.concat(a, space, b)))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BigramExplode =
    copy(child = newChild)
}

object BigramExplode {
  /** The (pos, bigram) rows of a token-array column, as a generator
    * Column for `select`. */
  def of(toks: Column): Column = column(BigramExplode(expression(toks)))
}
