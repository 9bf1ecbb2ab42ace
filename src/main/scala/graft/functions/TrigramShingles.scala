package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 3-word shingles of a token array as a native expression.
  *
  * The higher-order-function spelling —
  * `array_distinct(transform(sequence(1, size-2), i -> concat(...)))` —
  * interprets its lambda per ELEMENT (HOFs sit outside whole-stage
  * codegen), which profiled at ~4 s for 260k shingles at sf0.1. This
  * expression is one raw loop per ROW with an insertion-ordered set, so
  * the interpretation overhead is per-document, not per-token.
  * Null tokens are skipped (a shingle containing null would otherwise
  * surface as a null array element). */
case class TrigramShingles(child: Expression)
    extends UnaryExpression with CodegenFallback {

  private val space = UTF8String.fromString(" ")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingles3() requires ARRAY<STRING>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < n - 2) {
      val a = arr.getUTF8String(i)
      val b = arr.getUTF8String(i + 1)
      val c = arr.getUTF8String(i + 2)
      if (a != null && b != null && c != null) {
        out.add(UTF8String.concat(a, space, b, space, c))
      }
      i += 1
    }
    val res = new Array[AnyRef](out.size())
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { res(j) = it.next(); j += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(newChild: Expression): TrigramShingles =
    copy(child = newChild)
}

object TrigramShingles {
  /** Distinct 3-word shingles of a token-array column. */
  def of(toks: Column): Column = column(TrigramShingles(expression(toks)))
}
