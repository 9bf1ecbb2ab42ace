package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.graft.LocalRows

/** The one size gate for small model state:
  * `graft.graph.broadcastStateMaxRows` (default 10M rows). Under it, state
  * is small enough to live on one node:
  *  - PageRank-family loops broadcast their per-round state
  *    ([[PageRank.stateHint]]);
  *  - connected components, k-means and the SemDeDup verdict run on one
  *    collected copy on the driver;
  *  - the churn chain collects its per-user activity table once
  *    ([[QPipeline.activity]]); the churn features and the churn-window
  *    report are computed from that copy, the feature snapshot is sorted
  *    on the driver ([[sortedOnDriver]]), and the churn model's fold
  *    table, Newton passes and evaluation run on one copy
  *    ([[ChurnModel.buildFolds]]).
  * Over it, every one of them keeps its distributed path, with the same
  * output bits. */
object StateGate {
  def maxRows(s: SparkSession): Long =
    s.conf.get("graft.graph.broadcastStateMaxRows", "10000000").toLong

  /** All rows of `df` if it has at most `n` of them (one collect of at
    * most n + 1 rows, so the driver never holds more); None when it has
    * more, or when `n` < 1 (nothing is collected then). */
  def collectAtMost(df: DataFrame, n: Long): Option[Array[Row]] =
    if (n < 1) None
    else {
      val m = math.min(n, Int.MaxValue - 1L).toInt
      val rows = df.limit(m + 1).collect()
      if (rows.length <= m) Some(rows) else None
    }

  /** `df` as a driver-built local relation with its own schema: `df`
    * itself when its optimized plan already is one (no job), else its rows
    * collected when it has at most `n` of them; None over the gate. */
  def onDriver(df: DataFrame, n: Long): Option[DataFrame] =
    if (LocalRows.of(df).isDefined) Some(df)
    else collectAtMost(df, n).map(rows =>
      df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))

  /** The global sort `dist` ends in, run on the driver when its input has
    * at most `n` rows: that input is collected once and sorted by
    * [[LocalRows.sortedAs]] (Spark's ordering, `dist`'s schema), so no
    * range-partition sample, shuffle or sort job runs. Over the gate,
    * `dist` itself. */
  def sortedOnDriver(dist: DataFrame, n: Long): DataFrame = {
    val input = LocalRows.sortInput(dist)
    collectAtMost(input, n).map { rows =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(input.schema)
      LocalRows.sortedAs(dist, rows.toSeq.map(toCatalyst(_).asInstanceOf[InternalRow]))
    }.getOrElse(dist)
  }
}
