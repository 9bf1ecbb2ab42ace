package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.classic

/** Driver-side relations: the rows of a plan that the optimizer already
  * folded into a local relation, and small results sorted on the driver
  * the way a distributed global sort orders them. `Dataset.ofRows` is
  * `private[sql]`, hence this package. */
object LocalRows {

  private def ofPlan(s: SparkSession, p: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], p)

  /** The rows of `df` when its optimized plan is a local relation, as one
    * over a driver-built relation with per-row projections on top is
    * (`ConvertToLocalRelation` evaluates them on the driver): reading them
    * runs no Spark job. None for any other plan. */
  def of(df: DataFrame): Option[Seq[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case _ => None
    }

  private def topSort(dist: DataFrame): Sort = dist.queryExecution.analyzed match {
    case st: Sort if st.global => st
    case p => throw new IllegalArgumentException(
      s"expected a plan ending in a global sort, got ${p.nodeName}")
  }

  /** The input of the global sort that `dist` ends in. */
  def sortInput(dist: DataFrame): DataFrame = ofPlan(dist.sparkSession, topSort(dist).child)

  /** `rows`, laid out as the input of the global sort that `dist` ends in,
    * in that sort's order: Spark's own row ordering for its `SortOrder`s,
    * so nulls, NaN and -0.0 fall where the distributed sort puts them. The
    * result is a local relation with `dist`'s analyzed schema, nullability
    * and metadata included. */
  def sortedAs(dist: DataFrame, rows: Seq[InternalRow]): DataFrame = {
    val st = topSort(dist)
    val ordering = new InterpretedOrdering(st.order, st.child.output)
    ofPlan(dist.sparkSession,
      LocalRelation(st.output.map(_.newInstance()), rows.sorted(ordering)))
  }
}
