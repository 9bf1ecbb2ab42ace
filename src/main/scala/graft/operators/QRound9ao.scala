package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Round-9 extension wave 40 (SURVEY §2.28):
  *
  *  - `agg_ols_fit`: per-group ordinary-least-squares fit (slope,
  *    intercept, r²) of price on quantity from exact moment sums — the
  *    regression readout next to `agg_corr_moments`' correlation.
  *  - `ts_rolling_corr`: rolling 7-day correlation between every pair
  *    of event types' daily series — the co-movement monitor a metrics
  *    platform alerts on.
  *  - `sample_group_split`: group-level holdout (hash SOURCES, not
  *    docs) — the leakage-correct eval split when near-dups cluster
  *    within groups.
  */
object QRound9ao extends QueryPack {

  // ---- agg_ols_fit ----

  /** OLS fit of l_extendedprice on l_quantity per returnflag: slope,
    * intercept, r², from the same exact decimal moment sums
    * agg_corr_moments uses (quantity and price are exact at the cast
    * scales; products stay decimal; one identical double expression per
    * statistic, trunc6'd once).
    *
    * Scale shape: one partial-aggregable pass — the moment sums combine
    * map-side. */
  private[graft] def olsFit(lineitem: DataFrame): DataFrame = {
    val dd = DoubleType
    val agg = lineitem.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sumDec4(col("l_quantity")).as("sx"),
        sumDec4(col("l_extendedprice")).as("sy"),
        sumProd8(col("l_quantity"), col("l_extendedprice")).as("sxy"),
        sumProd8(col("l_quantity"), col("l_quantity")).as("sxx"),
        sumProd8(col("l_extendedprice"), col("l_extendedprice")).as("syy"))
    val n = col("n").cast(dd)
    val sx = col("sx").cast(dd); val sy = col("sy").cast(dd)
    val sxy = col("sxy").cast(dd); val sxx = col("sxx").cast(dd)
    val syy = col("syy").cast(dd)
    val slope = ((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))
    val icept = (sy - (slope * sx)) / n
    val r = ((n * sxy) - (sx * sy)) /
      (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy)))
    agg.select(col("l_returnflag"), col("n"),
        trunc6(slope).as("slope"), trunc6(icept).as("intercept"),
        trunc6(r * r).as("r2"))
      .orderBy("l_returnflag")
  }

  private def aggOlsFit(s: SparkSession, d: String): DataFrame =
    olsFit(t(s, d, "lineitem"))

  private val oAggOlsFit = {
    // products cast at DECIMAL(19,4): forces DuckDB onto int128 storage
    // (its (18,4)x(18,4) multiply overflows int64) - the
    // agg_corr_moments oracle discipline
    def d4(c: String) = s"CAST($c AS DECIMAL(19,4))"
    val slope = "((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))"
    s"""WITH a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(${d4("l_quantity")} * ${d4("l_extendedprice")} AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(${d4("l_quantity")} * ${d4("l_quantity")} AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
       |    CAST(sum(CAST(${d4("l_extendedprice")} * ${d4("l_extendedprice")} AS DECIMAL(38,8))) AS DOUBLE) AS syy
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, n,
       |  ${oTrunc6(slope)} AS slope,
       |  ${oTrunc6(s"(sy - (($slope) * sx)) / n")} AS intercept,
       |  ${oTrunc6("(((n * sxy) - (sx * sy)) / (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy)))) * (((n * sxy) - (sx * sy)) / (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy))))")} AS r2
       |FROM a ORDER BY l_returnflag""".stripMargin
  }

  // ---- ts_rolling_corr ----

  /** Rolling 7-day Pearson correlation between every ordered pair of
    * event types' daily value series: windowed exact decimal moment
    * sums (the agg_corr_moments discipline inside a moving frame),
    * full windows only, trunc4. Emits the co-movement track per pair.
    *
    * Scale shape: the day×day pair alignment is an equi-join on the
    * day key; every rolling window partitions by the (ta, tb) pair —
    * at deployment the partition key is the metric pair, never one
    * global series. */
  private[graft] def rollingCorr(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum4(col("value")).as("x"))
    val a = daily.select(col("event_type").as("ta"), col("day"),
      col("x").as("xa"))
    val b = daily.select(col("event_type").as("tb"), col("day"),
      col("x").as("xb"))
    val pairs = a.join(b, Seq("day")).filter(col("ta") < col("tb"))
    val w = Window.partitionBy("ta", "tb").orderBy("day")
      .rowsBetween(-6, 0)
    def s(c: Column) = sum(c).over(w).cast(DoubleType)
    val n = count(lit(1)).over(w).cast(DoubleType)
    val sa = s(dec4(col("xa"))); val sb = s(dec4(col("xb")))
    val sab = s((dec4(col("xa")) * dec4(col("xb"))).cast(DecimalType(38, 8)))
    val saa = s((dec4(col("xa")) * dec4(col("xa"))).cast(DecimalType(38, 8)))
    val sbb = s((dec4(col("xb")) * dec4(col("xb"))).cast(DecimalType(38, 8)))
    val corr = ((n * sab) - (sa * sb)) /
      (sqrt((n * saa) - (sa * sa)) * sqrt((n * sbb) - (sb * sb)))
    pairs
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("corr7", trunc4(corr))
      .filter(col("w_n") === 7)
      .select(col("ta"), col("tb"), col("day"), col("corr7"))
      .orderBy("ta", "tb", "day")
  }

  private def tsRollingCorr(s: SparkSession, d: String): DataFrame =
    rollingCorr(t(s, d, "events"))

  private val oTsRollingCorr = {
    def d4(c: String) = s"CAST($c AS DECIMAL(18,4))"
    s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
       |    ${oSum4("value")} AS x FROM events GROUP BY 1, 2),
       |p AS (SELECT a.event_type AS ta, b.event_type AS tb, a.day,
       |    a.x AS xa, b.x AS xb
       |  FROM daily a JOIN daily b ON a.day = b.day
       |  WHERE a.event_type < b.event_type),
       |r AS (SELECT ta, tb, day,
       |    count(*) OVER w AS w_n,
       |    CAST(count(*) OVER w AS DOUBLE) AS n,
       |    CAST(sum(${d4("xa")}) OVER w AS DOUBLE) AS sa,
       |    CAST(sum(${d4("xb")}) OVER w AS DOUBLE) AS sb,
       |    CAST(sum(CAST(${d4("xa")} * ${d4("xb")} AS DECIMAL(38,8))) OVER w AS DOUBLE) AS sab,
       |    CAST(sum(CAST(${d4("xa")} * ${d4("xa")} AS DECIMAL(38,8))) OVER w AS DOUBLE) AS saa,
       |    CAST(sum(CAST(${d4("xb")} * ${d4("xb")} AS DECIMAL(38,8))) OVER w AS DOUBLE) AS sbb
       |  FROM p
       |  WINDOW w AS (PARTITION BY ta, tb ORDER BY day
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
       |SELECT ta, tb, day,
       |  ${oTrunc4("((n * sab) - (sa * sb)) / (sqrt((n * saa) - (sa * sa)) * sqrt((n * sbb) - (sb * sb)))")} AS corr7
       |FROM r WHERE w_n = 7 ORDER BY ta, tb, day""".stripMargin
  }

  // ---- sample_group_split ----

  /** Group-level holdout: hash the SOURCE (md5 % 6 = 0 → eval; probed: 4/20 sources land eval on this corpus — % 5 hits zero), never
    * the doc — when near-dups cluster within a group, doc-level splits
    * leak eval content into train; group splits are the
    * decontamination-correct discipline. Emits the per-source verdict
    * with doc/char masses.
    *
    * Scale shape: one partial-aggregable pass on the source key; the
    * assignment is a pure hash of the group key (no shuffle beyond the
    * rollup). */
  private[graft] def groupSplit(docs: DataFrame): DataFrame =
    docs
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_total"))
      .select(col("source"),
        when(md5Prefix(col("source"), 4).cast(LongType) % 6 === 0, "eval")
          .otherwise("train").as("split"),
        col("n_docs"), col("chars_total"))
      .orderBy("source")

  private def sampleGroupSplit(s: SparkSession, d: String): DataFrame =
    groupSplit(t(s, d, "documents"))

  private val oSampleGroupSplit =
    s"""SELECT source,
      |  CASE WHEN ${oMd5Prefix("source", 4)}
      |    % 6 = 0 THEN 'eval' ELSE 'train' END AS split,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_total
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, QFn] = Map(
    "agg_ols_fit"        -> aggOlsFit _,
    "ts_rolling_corr"    -> tsRollingCorr _,
    "sample_group_split" -> sampleGroupSplit _)

  val oracles: Map[String, String] = Map(
    "agg_ols_fit"        -> oAggOlsFit,
    "ts_rolling_corr"    -> oTsRollingCorr,
    "sample_group_split" -> oSampleGroupSplit)
}
