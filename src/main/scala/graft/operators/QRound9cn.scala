package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 91 (SURVEY §2.28):
  *
  *  - `ts_seasonal_mase`: MASE-style comparison of the seasonal-naive
  *    (lag-7) forecast against naive-1 on a shared evaluation window —
  *    the "which baseline must your model beat" readout.
  *  - `agg_median_polish`: Tukey median polish of the returnflag ×
  *    linestatus median-quantity table — robust two-way decomposition
  *    into row/column effects + residuals.
  *  - `sql_order_by_all`: GROUP BY ALL + ORDER BY ALL — the
  *    whole-projection shorthand surface both engines parse.
  */
object QRound9cn extends QueryPack {

  private val dd = DoubleType

  // ---- ts_seasonal_mase ----

  /** Seasonal-naive vs naive-1 on the daily count series, both scored
    * over the SAME window (days 8+ per type): absolute-error sums are
    * exact BIGINTs, the two MAEs and their ratio (the MASE of the
    * seasonal-naive forecast) are shared double spellings, and the
    * "seasonality helps" verdict is a pure integer comparison of the
    * two error sums.
    *
    * Scale shape: daily rollup + two lag windows per type; one
    * rollup. */
  private[graft] def seasonalMase(events: DataFrame): DataFrame = {
    val wd = Window.partitionBy("event_type").orderBy("day_num")
    val ser = events.groupBy(col("event_type"),
        expr("unix_micros(cast(date_trunc('DAY', ts) as timestamp)) div 86400000000")
          .as("day_num"))
      .agg(count(lit(1)).as("y"))
      .withColumn("i", row_number().over(wd))
      .withColumn("e1", abs(col("y") - lag("y", 1).over(wd)))
      .withColumn("e7", abs(col("y") - lag("y", 7).over(wd)))
      .filter(col("i") >= 8)
    ser.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"), sum("e1").as("s1"),
        sum("e7").as("s7"))
      .select(col("event_type"), col("n_eval"),
        trunc4(col("s1").cast(dd) / col("n_eval").cast(dd))
          .as("mae_naive1"),
        trunc4(col("s7").cast(dd) / col("n_eval").cast(dd))
          .as("mae_seasonal"),
        trunc4(col("s7").cast(dd) / col("s1").cast(dd)).as("mase"),
        (col("s7") < col("s1")).cast(IntegerType)
          .as("seasonal_better"))
      .orderBy("event_type")
  }

  private def tsSeasonalMase(s: SparkSession, d: String): DataFrame =
    seasonalMase(t(s, d, "events"))

  private val oTsSeasonalMase =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    count(*) AS y FROM events GROUP BY 1, 2),
       |ser AS (SELECT event_type,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day_num)
       |      AS i,
       |    abs(y - lag(y, 1) OVER (PARTITION BY event_type
       |      ORDER BY day_num)) AS e1,
       |    abs(y - lag(y, 7) OVER (PARTITION BY event_type
       |      ORDER BY day_num)) AS e7
       |  FROM daily),
       |mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
       |    CAST(sum(e1) AS BIGINT) AS s1, CAST(sum(e7) AS BIGINT) AS s7
       |  FROM ser WHERE i >= 8 GROUP BY 1)
       |SELECT event_type, n_eval,
       |  ${oTrunc4("CAST(s1 AS DOUBLE)/CAST(n_eval AS DOUBLE)")}
       |    AS mae_naive1,
       |  ${oTrunc4("CAST(s7 AS DOUBLE)/CAST(n_eval AS DOUBLE)")}
       |    AS mae_seasonal,
       |  ${oTrunc4("CAST(s7 AS DOUBLE)/CAST(s1 AS DOUBLE)")} AS mase,
       |  CAST(CASE WHEN s7 < s1 THEN 1 ELSE 0 END AS INT)
       |    AS seasonal_better
       |FROM mo ORDER BY event_type""".stripMargin

  // ---- agg_median_polish ----

  private val polishRounds = 2

  /** Tukey median polish of the 3×2 (returnflag × linestatus) table of
    * median line quantities: two sweeps of (row median out, column
    * median out), all in ×16 dyadic integers so every intermediate is
    * exact — cell medians are ½-grained, a 2-element median adds /2,
    * and two rounds add at most /4, so scale 16 never truncates. The
    * distributed part is the per-cell exact percentile; the 6-cell
    * polish is collected model state (the Markov-chain discipline).
    * The oracle replays the sweeps with median-of-2 = sum/2 and
    * median-of-3 = sum − max − min — pure integer CTEs.
    *
    * Scale shape: one 6-cell percentile rollup; everything after is
    * constant-size. */
  private[graft] def medianPolish(s: SparkSession, d: String): DataFrame = {
    val cells = t(s, d, "lineitem")
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(expr("CAST(floor(16*percentile(l_quantity, 5e-1) + 5e-1)" +
        " AS BIGINT)").as("m16"))
      .collect()
      .map(r => ((r.getAs[String]("rf"), r.getAs[String]("ls")),
        r.getAs[Long]("m16"))).toMap
    val rfs = cells.keys.map(_._1).toSeq.distinct.sorted
    val lss = cells.keys.map(_._2).toSeq.distinct.sorted
    var res = cells
    val rowEff = scala.collection.mutable.Map(rfs.map(_ -> 0L): _*)
    val colEff = scala.collection.mutable.Map(lss.map(_ -> 0L): _*)
    def med(xs: Seq[Long]): Long =
      if (xs.length == 2) (xs.sum) / 2
      else xs.sum - xs.max - xs.min // median of 3
    for (_ <- 1 to polishRounds) {
      rfs.foreach { rf =>
        val m = med(lss.map(ls => res((rf, ls))))
        rowEff(rf) += m
        lss.foreach(ls => res = res.updated((rf, ls), res((rf, ls)) - m))
      }
      lss.foreach { ls =>
        val m = med(rfs.map(rf => res((rf, ls))))
        colEff(ls) += m
        rfs.foreach(rf => res = res.updated((rf, ls), res((rf, ls)) - m))
      }
    }
    import s.implicits._
    rfs.flatMap(rf => lss.map { ls =>
      (rf, ls, cells((rf, ls)) / 16.0, rowEff(rf) / 16.0,
        colEff(ls) / 16.0, res((rf, ls)) / 16.0)
    }).toDF("rf", "ls", "cell_median", "row_eff", "col_eff", "residual")
      .select(col("rf"), col("ls"), trunc4(col("cell_median"))
        .as("cell_median"), trunc4(col("row_eff")).as("row_eff"),
        trunc4(col("col_eff")).as("col_eff"),
        trunc4(col("residual")).as("residual"))
      .orderBy("rf", "ls")
  }

  private val oAggMedianPolish = {
    // one sweep: row medians out (median of 2 = sum/2 — always even at
    // this scale), then column medians out (median of 3 = sum−max−min)
    def sweep(k: Int, src: String): String =
      s"""rm$k AS (SELECT rf, CAST(sum(v) AS BIGINT)//2 AS m FROM $src
         |  GROUP BY rf),
         |s$k AS (SELECT c.rf, c.ls, c.v - rm$k.m AS v FROM $src c
         |  JOIN rm$k ON rm$k.rf = c.rf),
         |cm$k AS (SELECT ls, CAST(sum(v) AS BIGINT)
         |    - CAST(max(v) AS BIGINT) - CAST(min(v) AS BIGINT) AS m
         |  FROM s$k GROUP BY ls),
         |t$k AS MATERIALIZED (SELECT s.rf, s.ls, s.v - cm$k.m AS v
         |  FROM s$k s JOIN cm$k ON cm$k.ls = s.ls)""".stripMargin
    val sweeps = (1 to polishRounds)
      .map(k => sweep(k, if (k == 1) "c0" else s"t${k - 1}"))
      .mkString(",\n")
    val rowSum = (1 to polishRounds).map(k => s"rm$k.m").mkString(" + ")
    val colSum = (1 to polishRounds).map(k => s"cm$k.m").mkString(" + ")
    val rowJoin = (1 to polishRounds)
      .map(k => s"JOIN rm$k ON rm$k.rf = c0.rf").mkString(" ")
    val colJoin = (1 to polishRounds)
      .map(k => s"JOIN cm$k ON cm$k.ls = c0.ls").mkString(" ")
    s"""WITH c0 AS MATERIALIZED (SELECT l_returnflag AS rf,
       |    l_linestatus AS ls,
       |    CAST(floor(16*quantile_cont(l_quantity, 5e-1) + 5e-1)
       |      AS BIGINT) AS v
       |  FROM lineitem GROUP BY 1, 2),
       |$sweeps
       |SELECT c0.rf, c0.ls,
       |  ${oTrunc4("CAST(c0.v AS DOUBLE)/16e0")} AS cell_median,
       |  ${oTrunc4(s"CAST($rowSum AS DOUBLE)/16e0")} AS row_eff,
       |  ${oTrunc4(s"CAST($colSum AS DOUBLE)/16e0")} AS col_eff,
       |  ${oTrunc4(s"CAST(t$polishRounds.v AS DOUBLE)/16e0")} AS residual
       |FROM c0 $rowJoin $colJoin
       |  JOIN t$polishRounds ON t$polishRounds.rf = c0.rf
       |    AND t$polishRounds.ls = c0.ls
       |ORDER BY c0.rf, c0.ls""".stripMargin
  }

  // ---- sql_order_by_all ----

  /** GROUP BY ALL + ORDER BY ALL: the whole-projection shorthand both
    * parsers share (Spark 4 and DuckDB resolve ALL to the non-aggregate
    * projection for grouping and the full projection for ordering) —
    * deterministic because every output column participates in the
    * sort.
    *
    * Scale shape: one map-side-partial aggregate on a 6-value key. */
  private def sqlOrderByAll(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty
        |FROM g_li_oba
        |GROUP BY ALL ORDER BY ALL""".stripMargin)(
      "g_li_oba" -> t(s, d, "lineitem"))
  }

  private val oSqlOrderByAll =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_seasonal_mase"  -> tsSeasonalMase _,
    "agg_median_polish" -> ((s, d) => medianPolish(s, d)),
    "sql_order_by_all"  -> sqlOrderByAll _)

  val oracles: Map[String, String] = Map(
    "ts_seasonal_mase"  -> oTsSeasonalMase,
    "agg_median_polish" -> oAggMedianPolish,
    "sql_order_by_all"  -> oSqlOrderByAll)
}
