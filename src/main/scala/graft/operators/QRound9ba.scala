package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 52 (SURVEY §2.28):
  *
  *  - `ts_kpss_stat`: KPSS level-stationarity statistic per event-type
  *    daily series — partial sums of the demeaned series, exact in
  *    scaled BIGINTs with one final division.
  *  - `sample_gof_check`: chi-square goodness-of-fit audit of the
  *    deterministic hash sample against the population language mix —
  *    the QA gate a sampling stage ships with.
  *  - `chp_growth_accounting`: period-over-period revenue bridge
  *    ΔR = ΔU·ARPU₀ + U₁·ΔARPU — the exact two-factor growth
  *    decomposition a metrics review opens with.
  */
object QRound9ba extends QueryPack {

  // ---- ts_kpss_stat ----

  /** KPSS statistic (lag-0 long-run variance): with daily counts c_t,
    * scaled deviations d_t = c_t·n − s1 (BIGINT-exact demeaning), scaled
    * partial sums S_t = Σ_{i≤t} d_i, the statistic is
    * η = Σ S_t² / (n · Σ d_t²) — algebra scales out, leaving one double
    * division of two exact BIGINTs. Verdict compares the trunc4'd η to
    * the 5% critical value 0.463. Magnitudes: |d| ≤ n·max|c−μ|, so the
    * squared sums stay far inside BIGINT at any tested SF (documented
    * bound; a 100 TB run would pre-scale c by the day count's GCD).
    *
    * Scale shape: running windows partition by event_type; rollups are
    * bounded by the series length. */
  private[graft] def kpssStat(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val wT = Window.partitionBy("event_type")
    val wRun = wT.orderBy("dt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val daily = events
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("dt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("s1", sum("c").over(wT))
      .withColumn("d", col("c") * col("n") - col("s1"))
      .withColumn("st", sum("d").over(wRun))
    daily.groupBy("event_type")
      .agg(max("n").as("n_days"),
        sum(col("st") * col("st")).as("a"),
        sum(col("d") * col("d")).as("b"))
      .select(col("event_type"), col("n_days"),
        trunc4(col("a").cast(dd) /
          (col("n_days").cast(dd) * col("b").cast(dd))).as("kpss_stat"))
      .withColumn("nonstationary",
        (col("kpss_stat") > lit(463e-3)).cast(IntegerType))
      .orderBy("event_type")
  }

  private def tsKpssStat(s: SparkSession, d: String): DataFrame =
    kpssStat(t(s, d, "events"))

  private val oTsKpssStat =
    s"""WITH daily AS (SELECT event_type,
       |    CAST(date_trunc('day', ts) AS DATE) AS dt,
       |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
       |t1 AS (SELECT *, CAST(count(*) OVER w AS BIGINT) AS n,
       |    CAST(sum(c) OVER w AS BIGINT) AS s1
       |  FROM daily WINDOW w AS (PARTITION BY event_type)),
       |t2 AS (SELECT *, c * n - s1 AS d FROM t1),
       |t3 AS (SELECT *, CAST(sum(d) OVER (PARTITION BY event_type
       |    ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS st FROM t2),
       |m AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
       |    CAST(sum(st * st) AS BIGINT) AS a,
       |    CAST(sum(d * d) AS BIGINT) AS b
       |  FROM t3 GROUP BY 1)
       |SELECT event_type, n_days,
       |  ${oTrunc4("CAST(a AS DOUBLE) / (CAST(n_days AS DOUBLE) * CAST(b AS DOUBLE))")} AS kpss_stat,
       |  CASE WHEN ${oTrunc4("CAST(a AS DOUBLE) / (CAST(n_days AS DOUBLE) * CAST(b AS DOUBLE))")} > 463e-3
       |    THEN 1 ELSE 0 END AS nonstationary
       |FROM m ORDER BY event_type""".stripMargin

  // ---- sample_gof_check ----

  /** Goodness-of-fit audit of the deterministic 1-in-10 hash sample
    * (md5 bucket of doc_id — the engine's standard sampling spelling):
    * per language the observed sample count vs the expected count
    * n_sample·pop_share, the scaled χ² contribution, and a TOTAL row
    * with the χ² statistic and its 5% verdict (df = langs−1, critical
    * 9.488 at df 4). Contributions run through the scale-to-long sum.
    *
    * Scale shape: two bounded per-lang aggregates (population + sample)
    * joined on the 4-row lang key; totals broadcast. */
  private[graft] def gofCheck(docs: DataFrame): DataFrame = {
    val dd = DoubleType
    val sampled = docs.filter(
      md5Prefix(col("doc_id").cast(StringType).cast(BinaryType), 15)
        .cast(LongType) % 10 === 0)
    val pop = docs.groupBy("lang").agg(count(lit(1)).as("n_pop"))
    val smp = sampled.groupBy("lang").agg(count(lit(1)).as("n_obs"))
    val tots = pop.agg(sum("n_pop").as("pop_total"))
      .crossJoin(broadcast(smp.agg(sum("n_obs").as("smp_total"))))
    val cells = pop.join(smp, Seq("lang"), "left")
      .crossJoin(broadcast(tots))
      .select(col("lang"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("n_pop"), col("pop_total"), col("smp_total"),
        (col("smp_total").cast(dd) * col("n_pop").cast(dd) /
          col("pop_total").cast(dd)).as("exp"))
      .withColumn("contrib",
        (col("n_obs").cast(dd) - col("exp")) *
          (col("n_obs").cast(dd) - col("exp")) / col("exp"))
      .localCheckpoint(true)
    val total = cells.agg(
        max("smp_total").as("n_obs"),
        max("pop_total").as("n_pop_l"),
        sum(floor(col("contrib") * lit(1e12) + lit(0.5)).cast(LongType))
          .as("chi_s"),
        count(lit(1)).as("n_langs"))
      .select(lit("_TOTAL").as("lang"), col("n_obs"),
        col("n_pop_l").as("n_pop"),
        trunc4(col("chi_s").cast(dd) / lit(1e12)).as("metric"),
        (trunc4(col("chi_s").cast(dd) / lit(1e12)) > lit(9488e-3))
          .cast(IntegerType).as("flag"))
    cells.select(col("lang"), col("n_obs"), col("n_pop"),
        trunc4(col("exp")).as("metric"), lit(0).as("flag"))
      .unionAll(total)
      .orderBy("lang")
  }

  private def sampleGofCheck(s: SparkSession, d: String): DataFrame =
    gofCheck(t(s, d, "documents"))

  private val oSampleGofCheck =
    s"""WITH smp0 AS (SELECT * FROM documents
       |  WHERE ${oMd5Prefix("CAST(doc_id AS VARCHAR)", 15)} % 10 = 0),
       |pop AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_pop
       |  FROM documents GROUP BY 1),
       |smp AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_obs
       |  FROM smp0 GROUP BY 1),
       |tots AS (SELECT (SELECT CAST(sum(n_pop) AS BIGINT) FROM pop)
       |    AS pop_total,
       |  (SELECT CAST(sum(n_obs) AS BIGINT) FROM smp) AS smp_total),
       |cells AS MATERIALIZED (SELECT p.lang,
       |    CAST(coalesce(s.n_obs, 0) AS BIGINT) AS n_obs, p.n_pop,
       |    t.pop_total, t.smp_total,
       |    CAST(t.smp_total AS DOUBLE) * p.n_pop / t.pop_total AS exp,
       |    (CAST(coalesce(s.n_obs, 0) AS DOUBLE)
       |      - CAST(t.smp_total AS DOUBLE) * p.n_pop / t.pop_total)
       |    * (CAST(coalesce(s.n_obs, 0) AS DOUBLE)
       |      - CAST(t.smp_total AS DOUBLE) * p.n_pop / t.pop_total)
       |    / (CAST(t.smp_total AS DOUBLE) * p.n_pop / t.pop_total)
       |      AS contrib
       |  FROM pop p LEFT JOIN smp s ON p.lang = s.lang, tots t)
       |SELECT lang, n_obs, n_pop, ${oTrunc4("exp")} AS metric,
       |  0 AS flag FROM cells
       |UNION ALL
       |SELECT '_TOTAL', max(smp_total), max(pop_total),
       |  ${oTrunc4("CAST(sum(CAST(floor(contrib * 1e12 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e12")},
       |  CASE WHEN ${oTrunc4("CAST(sum(CAST(floor(contrib * 1e12 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e12")} > 9488e-3
       |    THEN 1 ELSE 0 END
       |FROM cells
       |ORDER BY lang""".stripMargin

  // ---- chp_growth_accounting ----

  /** Two-factor growth bridge across the mid-month boundary:
    * ΔR = ΔU·ARPU₀ + U₁·ΔARPU (an exact identity — the decomposition
    * reconstructs the revenue delta to the last cent). Revenue sums are
    * DECIMAL-exact; active-user counts are exact distincts; the bridge
    * terms divide once each (trunc4).
    *
    * Scale shape: one conditional aggregate over events (map-side
    * partials for both periods at once); the bridge is scalar algebra. */
  private[graft] def growthAccounting(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val d4 = DecimalType(18, 4)
    val pre = dayofmonth(col("ts")) < 16
    val m = events.agg(
        sum(when(pre && col("event_type") === "purchase",
          col("value").cast(d4)).otherwise(lit(0).cast(d4)))
          .cast(dd).as("r0"),
        sum(when(!pre && col("event_type") === "purchase",
          col("value").cast(d4)).otherwise(lit(0).cast(d4)))
          .cast(dd).as("r1"),
        countDistinct(when(pre, col("user_id"))).as("u0"),
        countDistinct(when(!pre, col("user_id"))).as("u1"))
    m.select(col("r0"), col("r1"), col("u0"), col("u1"),
        (col("r0") / col("u0").cast(dd)).as("a0"),
        (col("r1") / col("u1").cast(dd)).as("a1"))
      .select(
        trunc4(col("r0")).as("rev_pre"),
        trunc4(col("r1")).as("rev_post"),
        col("u0").as("users_pre"), col("u1").as("users_post"),
        trunc4(col("a0")).as("arpu_pre"),
        trunc4(col("a1")).as("arpu_post"),
        trunc4((col("u1") - col("u0")).cast(dd) * col("a0"))
          .as("user_effect"),
        trunc4(col("u1").cast(dd) * (col("a1") - col("a0")))
          .as("arpu_effect"),
        trunc4(col("r1") - col("r0")).as("delta_rev"))
  }

  private def chpGrowthAccounting(s: SparkSession, d: String): DataFrame =
    growthAccounting(t(s, d, "events"))

  private val oChpGrowthAccounting =
    s"""WITH m AS (SELECT
       |    CAST(sum(CASE WHEN day(ts) < 16 AND event_type = 'purchase'
       |      THEN CAST(value AS DECIMAL(18,4))
       |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS r0,
       |    CAST(sum(CASE WHEN day(ts) >= 16 AND event_type = 'purchase'
       |      THEN CAST(value AS DECIMAL(18,4))
       |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS r1,
       |    CAST(count(DISTINCT CASE WHEN day(ts) < 16 THEN user_id END)
       |      AS BIGINT) AS u0,
       |    CAST(count(DISTINCT CASE WHEN day(ts) >= 16 THEN user_id END)
       |      AS BIGINT) AS u1
       |  FROM events),
       |b AS (SELECT *, r0 / u0 AS a0, r1 / u1 AS a1 FROM m)
       |SELECT ${oTrunc4("r0")} AS rev_pre, ${oTrunc4("r1")} AS rev_post,
       |  u0 AS users_pre, u1 AS users_post,
       |  ${oTrunc4("a0")} AS arpu_pre, ${oTrunc4("a1")} AS arpu_post,
       |  ${oTrunc4("CAST(u1 - u0 AS DOUBLE) * a0")} AS user_effect,
       |  ${oTrunc4("CAST(u1 AS DOUBLE) * (a1 - a0)")} AS arpu_effect,
       |  ${oTrunc4("r1 - r0")} AS delta_rev
       |FROM b""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_kpss_stat"          -> tsKpssStat _,
    "sample_gof_check"      -> sampleGofCheck _,
    "chp_growth_accounting" -> chpGrowthAccounting _)

  val oracles: Map[String, String] = Map(
    "ts_kpss_stat"          -> oTsKpssStat,
    "sample_gof_check"      -> oSampleGofCheck,
    "chp_growth_accounting" -> oChpGrowthAccounting)
}
