package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one size gate for iterative model state:
  * `graft.graph.broadcastStateMaxRows` (default 10M rows). Under it, state
  * is small enough to live on one node — PageRank-family loops broadcast
  * their per-round state ([[PageRank.stateHint]]), and connected
  * components, k-means and the SemDeDup verdict run on one collected copy
  * on the driver. Over it, every one of them keeps its distributed path,
  * with the same output bits. */
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
}
