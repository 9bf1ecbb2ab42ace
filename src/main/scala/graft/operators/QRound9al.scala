package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Round-9 extension wave 37 (SURVEY §2.28):
  *
  *  - `ts_stl_decompose`: STL-style trend/seasonal/residual decomposition
  *    of the hourly event-value series (centered-MA trend, hour-of-day
  *    seasonal) — the decomposition every metrics dashboard draws.
  *  - `profile_hist2d`: 2-D histogram (quantity × price band) with
  *    counts and exact mass — the joint-distribution heatmap profiler.
  *  - `serve_feature_snapshot`: the online feature-store read path —
  *    assemble probe users' current feature vectors (activity, value,
  *    recency, last action, segment) in one pass.
  */
object QRound9al extends QueryPack {

  // ---- ts_stl_decompose ----

  private val stlHalf = 12 // centered 25-hour trend window

  /** Classical decomposition of the hourly per-type series:
    * trend = centered 25-h moving average (exact decimal window sum;
    * only full windows emitted), seasonal = per-(type, hour-of-day) mean
    * of the detrended series (scale-to-long exact sum — detrended values
    * are arbitrary doubles), residual = the rest. Every emitted stat is
    * trunc4'd once.
    *
    * Scale shape: the hourly rollup partial-aggregates; the trend window
    * and the seasonal aggregate both partition by the series key;
    * nothing global. */
  private[graft] def stlDecompose(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum4(col("value")).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-stlHalf, stlHalf)
    val trended = hourly
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("trend",
        trunc4(sum(col("x").cast(D184)).over(w).cast(DoubleType) /
          col("w_n").cast(DoubleType)))
      .filter(col("w_n") === (2 * stlHalf + 1))
      .withColumn("d", col("x") - col("trend"))
      .withColumn("hod", hour(col("hr")).cast(LongType))
    val seasonal = trended.groupBy("event_type", "hod")
      .agg(trunc4(sum(floor(col("d") * lit(1e12) + lit(0.5))
          .cast(DecimalType(38, 0))).cast(DoubleType) / lit(1e12) /
          count(lit(1)).cast(DoubleType)).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("event_type", "hod"))
      .select(col("event_type"), col("hr"), col("x"),
        col("trend"), col("seasonal"),
        trunc4(col("d") - col("seasonal")).as("resid"))
      .orderBy("event_type", "hr")
  }

  private def tsStlDecompose(s: SparkSession, d: String): DataFrame =
    stlDecompose(t(s, d, "events"))

  private val oTsStlDecompose =
    s"""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
       |    ${oSum4("value")} AS x FROM events GROUP BY 1, 2),
       |tw AS (SELECT event_type, hr, x,
       |    count(*) OVER w AS w_n,
       |    ${oTrunc4(s"CAST(sum(CAST(x AS DECIMAL(18,4))) OVER w AS DOUBLE) / (count(*) OVER w)")} AS trend
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
       |    ROWS BETWEEN $stlHalf PRECEDING AND $stlHalf FOLLOWING)),
       |full_w AS (SELECT *, x - trend AS d,
       |    CAST(hour(hr) AS BIGINT) AS hod
       |  FROM tw WHERE w_n = ${2 * stlHalf + 1}),
       |seas AS (SELECT event_type, hod,
       |    ${oTrunc4("CAST(sum(CAST(floor(d * 1e12 + 5e-1) AS HUGEINT)) AS DOUBLE) / 1e12 / count(*)")} AS seasonal
       |  FROM full_w GROUP BY 1, 2)
       |SELECT f.event_type, f.hr, f.x, f.trend, s.seasonal,
       |  ${oTrunc4("f.d - s.seasonal")} AS resid
       |FROM full_w f JOIN seas s
       |  ON f.event_type = s.event_type AND f.hod = s.hod
       |ORDER BY f.event_type, f.hr""".stripMargin

  // ---- profile_hist2d ----

  /** 2-D histogram of (quantity band × price band) with counts and exact
    * revenue mass — the joint-distribution heatmap a profiler draws to
    * spot pricing anomalies. Bands are pure integer cuts on exact-2dp
    * money (no float re-rounding at bin edges).
    *
    * Scale shape: one map pass into a ≤66-cell aggregate — fully
    * map-side partial. */
  private[graft] def hist2d(lineitem: DataFrame): DataFrame =
    lineitem
      .select(expr("cast(l_quantity as bigint) div 10").as("qbin"),
        least(floor(money(col("l_extendedprice")).cast(DoubleType) /
          lit(1e4)).cast(LongType), lit(10L)).as("pbin"),
        col("l_extendedprice"))
      .groupBy("qbin", "pbin")
      .agg(count(lit(1)).as("n"), sum4(col("l_extendedprice")).as("mass"))
      .orderBy("qbin", "pbin")

  private def profileHist2d(s: SparkSession, d: String): DataFrame =
    hist2d(t(s, d, "lineitem"))

  private val oProfileHist2d =
    s"""SELECT CAST(CAST(l_quantity AS BIGINT) // 10 AS BIGINT) AS qbin,
       |  least(CAST(floor(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
       |    AS DOUBLE) / 1e4) AS BIGINT), 10) AS pbin,
       |  CAST(count(*) AS BIGINT) AS n,
       |  ${oSum4("l_extendedprice")} AS mass
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- serve_feature_snapshot ----

  private val snapUsers = Seq(3L, 7L, 11L)

  /** Online feature-store read: assemble 3 probe users' CURRENT feature
    * vectors — volume, purchase count, exact spend, active-day count,
    * last action + its timestamp, and the serving segment cut — in one
    * events pass. The max_by struct gives the deterministic "latest"
    * without a window.
    *
    * Scale shape: probe filter pushes to the scan; ONE partial-aggregable
    * groupBy per user; no window, no self-join. The 3-row result is
    * sorted on the driver under the state gate
    * ([[StateGate.sortedOnDriver]]). */
  private[graft] def featureSnapshot(events: DataFrame): DataFrame =
    events
      .filter(col("user_id").isin(snapUsers: _*))
      .select(col("user_id"), col("event_type"), col("value"), col("ts"),
        col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum((col("event_type") === "purchase").cast(LongType))
          .as("n_purchase"),
        sum4(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("spend"),
        countDistinct(date_trunc("day", col("ts"))).as("days_active"),
        max_by(col("event_type"), struct(col("us"), col("event_id")))
          .as("last_action"),
        max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("n_purchase"),
        col("spend"), col("days_active"), col("last_action"),
        col("last_ts"),
        when(col("spend") > 4e3, "whale")
          .when(col("n_purchase") >= 10, "regular")
          .otherwise("casual").as("segment"))
      .orderBy("user_id")

  private def serveFeatureSnapshot(s: SparkSession, d: String): DataFrame =
    StateGate.sortedOnDriver(featureSnapshot(t(s, d, "events")), StateGate.maxRows(s))

  private val oServeFeatureSnapshot =
    s"""WITH e AS (SELECT user_id, event_type, value, ts, event_id,
       |    epoch_us(ts) AS us FROM events
       |  WHERE user_id IN (${snapUsers.mkString(", ")})),
       |last AS (SELECT user_id, event_type AS last_action FROM (
       |  SELECT user_id, event_type, row_number() OVER (
       |    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS r
       |  FROM e) WHERE r = 1),
       |agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_purchase,
       |    ${oSum4("CASE WHEN event_type = 'purchase' THEN value ELSE 0e0 END")} AS spend,
       |    CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
       |      AS days_active,
       |    max(ts) AS last_ts
       |  FROM e GROUP BY user_id)
       |SELECT a.user_id, a.n_events, a.n_purchase, a.spend, a.days_active,
       |  l.last_action, a.last_ts,
       |  CASE WHEN a.spend > 4e3 THEN 'whale'
       |    WHEN a.n_purchase >= 10 THEN 'regular'
       |    ELSE 'casual' END AS segment
       |FROM agg a JOIN last l ON a.user_id = l.user_id
       |ORDER BY a.user_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_stl_decompose"       -> tsStlDecompose _,
    "profile_hist2d"         -> profileHist2d _,
    "serve_feature_snapshot" -> serveFeatureSnapshot _)

  val oracles: Map[String, String] = Map(
    "ts_stl_decompose"       -> oTsStlDecompose,
    "profile_hist2d"         -> oProfileHist2d,
    "serve_feature_snapshot" -> oServeFeatureSnapshot)
}
