package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 made the converters
  * `private[sql]` (Column wraps a ColumnNode, not an Expression), so this
  * one-liner lives in the sql package namespace.
  *
  * It is the one way the engine calls its native kernels
  * (plans/VectorExprs, plans/SumExprs, functions/): each kernel's
  * companion wraps its Expression in a Column here (`CosineSim.of`,
  * `Tables.sum128`, ...), with no function-registry entry and no SQL
  * text to parse. SQL names exist only where a session opts in through
  * [[GraftExtensions]]; the engine's own SQL text reaches its tables and
  * 128-bit sums by plan, through [[SqlText]]. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
