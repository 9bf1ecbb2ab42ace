package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 51 (SURVEY §2.28):
  *
  *  - `ts_sax_symbolize`: SAX symbolic aggregate approximation (Lin &
  *    Keogh 2003) — PAA segments z-scored into a 4-letter alphabet, the
  *    symbolic compression motif mining and cheap TS indexing run on.
  *  - `chp_churn_windows`: churn-label sensitivity to the inactivity
  *    horizon (7/14/21 days) — how much the headline churn rate is an
  *    artifact of the cutoff choice.
  *  - `profile_contract_check`: data-contract validation — declared
  *    range/enum/null/uniqueness rules with exact violation counts and
  *    pass verdicts, the gate a lakehouse ingest runs before commit.
  */
object QRound9az extends QueryPack {

  // ---- ts_sax_symbolize ----

  private val saxSegments = 8L

  /** SAX per event type over the daily count series: 8 PAA segments
    * (seg = (idx·8) div n over the day-ordered series), each segment's
    * mean z-scored against the series mean/std and mapped to {a,b,c,d}
    * by the standard Gaussian breakpoints ±0.6745 / 0. The z values are
    * trunc4'd and compared against `Ne-M` literals (the engine's
    * threshold-cut rule), so the symbols are identical cross-engine;
    * moments come from exact integer sums.
    *
    * Scale shape: windows partition by event_type; the PAA rollup is 8
    * rows per type; the word assembles with an ordered string agg. */
  private[graft] def saxSymbolize(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val wT = Window.partitionBy("event_type")
    val wOrd = wT.orderBy("dt")
    val daily = events
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("dt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("idx", row_number().over(wOrd).cast(LongType) - 1)
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("s1", sum("c").over(wT))
      .withColumn("s2", sum(col("c") * col("c")).over(wT))
    val seg = daily
      .withColumn("seg", expr(s"(idx * $saxSegments) div n"))
      .groupBy("event_type", "seg")
      .agg(sum("c").as("ss"), count(lit(1)).as("sc"),
        max("n").as("n"), max("s1").as("s1"), max("s2").as("s2"))
      .withColumn("mu", col("s1").cast(dd) / col("n").cast(dd))
      .withColumn("sd", sqrt(col("s2").cast(dd) / col("n").cast(dd) -
        (col("s1").cast(dd) / col("n").cast(dd)) *
          (col("s1").cast(dd) / col("n").cast(dd))))
      .withColumn("z",
        trunc4((col("ss").cast(dd) / col("sc").cast(dd) - col("mu")) /
          col("sd")))
      .withColumn("sym",
        when(col("z") < lit(-6745e-4), lit("a"))
          .when(col("z") < lit(0e0), lit("b"))
          .when(col("z") < lit(6745e-4), lit("c"))
          .otherwise(lit("d")))
    seg.groupBy("event_type")
      .agg(count(lit(1)).as("n_segments"),
        array_join(transform(array_sort(
          collect_list(struct(col("seg"), col("sym")))),
          x => x.getField("sym")), "").as("sax_word"),
        countDistinct("sym").as("n_symbols"))
      .orderBy("event_type")
  }

  private def tsSaxSymbolize(s: SparkSession, d: String): DataFrame =
    saxSymbolize(t(s, d, "events"))

  private val oTsSaxSymbolize =
    s"""WITH daily AS (SELECT event_type,
       |    CAST(date_trunc('day', ts) AS DATE) AS dt,
       |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
       |idx AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY dt) AS BIGINT) - 1 AS idx,
       |    CAST(count(*) OVER w AS BIGINT) AS n,
       |    CAST(sum(c) OVER w AS BIGINT) AS s1,
       |    CAST(sum(c * c) OVER w AS BIGINT) AS s2
       |  FROM daily WINDOW w AS (PARTITION BY event_type)),
       |seg AS (SELECT event_type, (idx * $saxSegments) // n AS seg,
       |    CAST(sum(c) AS BIGINT) AS ss, CAST(count(*) AS BIGINT) AS sc,
       |    max(n) AS n, max(s1) AS s1, max(s2) AS s2
       |  FROM idx GROUP BY 1, 2),
       |z AS (SELECT event_type, seg,
       |    ${oTrunc4("(CAST(ss AS DOUBLE) / sc - CAST(s1 AS DOUBLE) / n) / sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))")} AS z
       |  FROM seg),
       |sym AS (SELECT event_type, seg,
       |    CASE WHEN z < -6745e-4 THEN 'a' WHEN z < 0e0 THEN 'b'
       |      WHEN z < 6745e-4 THEN 'c' ELSE 'd' END AS sym
       |  FROM z)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_segments,
       |  string_agg(sym, '' ORDER BY seg) AS sax_word,
       |  CAST(count(DISTINCT sym) AS BIGINT) AS n_symbols
       |FROM sym GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- chp_churn_windows ----

  private val churnHorizons = Seq(7L, 14L, 21L)

  /** Churn-definition sensitivity: a user is churned at horizon h when
    * their last event lands more than h days before the corpus end. The
    * report is the churn rate at h = 7/14/21 — if the rate swings
    * wildly, the "churn" KPI is a cutoff artifact, not a behavior. All
    * comparisons are exact integer micros.
    *
    * Scale shape: it reads the per-user activity table
    * ([[QPipeline.activity]]), whose max last_us is the corpus end.
    * Distributed, the horizon grid and the end are broadcast and the
    * 3-row report is range-sorted. Under the state gate the activity table
    * is on the driver, and so is the report: the same counts and the same
    * `trunc4` (its driver twin), sorted by [[LocalRows.sortedAs]] with the
    * distributed plan's schema; no Spark job runs. */
  private[graft] def churnWindows(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val act = QPipeline.activity(s, d)
    val hs = s.createDataFrame(churnHorizons.map(Tuple1(_))).toDF("horizon_days")
    val dist = act.select("user_id", "last_us")
      .crossJoin(broadcast(act.agg(max("last_us").as("end_us"))))
      .crossJoin(broadcast(hs))
      .withColumn("churned",
        (col("last_us") < col("end_us") -
          col("horizon_days") * lit(86400000000L)).cast(LongType))
      .groupBy("horizon_days")
      .agg(count(lit(1)).as("n_users"), sum("churned").as("n_churned"))
      .select(col("horizon_days"), col("n_users"), col("n_churned"),
        trunc4(col("n_churned").cast(dd) / col("n_users").cast(dd))
          .as("churn_rate"))
      .orderBy("horizon_days")
    LocalRows.of(act).fold(dist) { rows =>
      // a null last_us compares to null, which sum skips; with no non-null
      // one the end is null too, and so is every n_churned and rate
      val last = QPipeline.lastUs(rows)
      val n = rows.size.toLong
      val end = if (last.isEmpty) None else Some(last.max)
      val report = if (rows.isEmpty) Nil else churnHorizons.map { h =>
        end.fold(InternalRow(h, n, null, null)) { e =>
          val churned = last.count(_ < e - h * 86400000000L).toLong
          InternalRow(h, n, churned, trunc4(churned.toDouble / n.toDouble))
        }
      }
      LocalRows.sortedAs(dist, report)
    }
  }

  private val oChpChurnWindows =
    s"""WITH la AS (SELECT user_id, max(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY 1),
       |e AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
       |h AS (SELECT CAST(unnest([${churnHorizons.mkString(", ")}])
       |  AS BIGINT) AS horizon_days)
       |SELECT h.horizon_days, CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(sum(CASE WHEN la.last_us < e.end_us
       |    - h.horizon_days * 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_churned,
       |  ${oTrunc4("CAST(sum(CASE WHEN la.last_us < e.end_us - h.horizon_days * 86400000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS churn_rate
       |FROM la, e, h GROUP BY h.horizon_days ORDER BY h.horizon_days""".stripMargin

  // ---- profile_contract_check ----

  /** Data-contract validation over events: five declared rules —
    * value ≥ 0, event_type within the enum, user_id NOT NULL, ts inside
    * [2020-01-01, 2030-01-01), event_id unique — each with its exact
    * violation count and a pass verdict. One wide aggregate computes
    * every rule in a single pass (uniqueness adds one exact distinct).
    *
    * Scale shape: one scan, conditional partial aggregates; the report
    * is 5 rows unpivoted from a single aggregate row. */
  private[graft] def contractCheck(events: DataFrame): DataFrame = {
    val enumVals = Seq("click", "signup", "error", "view", "purchase")
    val agg = events.agg(
        count(lit(1)).as("n"),
        sum((col("value") < 0).cast(LongType)).as("v_value"),
        sum((!col("event_type").isin(enumVals: _*)).cast(LongType))
          .as("v_enum"),
        sum(col("user_id").isNull.cast(LongType)).as("v_null"),
        sum((col("ts") < lit("2020-01-01").cast(TimestampNTZType) ||
          col("ts") >= lit("2030-01-01").cast(TimestampNTZType))
          .cast(LongType)).as("v_range"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("v_uniq"))
      .localCheckpoint(true)
    def rule(name: String, c: String) =
      agg.select(lit(name).as("rule"), col("n").as("n_rows"),
        col(c).as("n_violations"),
        (col(c) === 0).cast(IntegerType).as("pass"))
    rule("value_nonnegative", "v_value")
      .unionAll(rule("event_type_enum", "v_enum"))
      .unionAll(rule("user_id_not_null", "v_null"))
      .unionAll(rule("ts_in_range", "v_range"))
      .unionAll(rule("event_id_unique", "v_uniq"))
      .orderBy("rule")
  }

  private def profileContractCheck(s: SparkSession, d: String): DataFrame =
    contractCheck(t(s, d, "events"))

  private val oProfileContractCheck =
    s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS v_value,
       |    CAST(sum(CASE WHEN event_type NOT IN ('click', 'signup',
       |      'error', 'view', 'purchase') THEN 1 ELSE 0 END) AS BIGINT)
       |      AS v_enum,
       |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS v_null,
       |    CAST(sum(CASE WHEN ts < TIMESTAMP '2020-01-01'
       |      OR ts >= TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS v_range,
       |    CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS v_uniq
       |  FROM events)
       |SELECT 'value_nonnegative' AS rule, n AS n_rows,
       |  v_value AS n_violations,
       |  CASE WHEN v_value = 0 THEN 1 ELSE 0 END AS pass FROM a
       |UNION ALL SELECT 'event_type_enum', n, v_enum,
       |  CASE WHEN v_enum = 0 THEN 1 ELSE 0 END FROM a
       |UNION ALL SELECT 'user_id_not_null', n, v_null,
       |  CASE WHEN v_null = 0 THEN 1 ELSE 0 END FROM a
       |UNION ALL SELECT 'ts_in_range', n, v_range,
       |  CASE WHEN v_range = 0 THEN 1 ELSE 0 END FROM a
       |UNION ALL SELECT 'event_id_unique', n, v_uniq,
       |  CASE WHEN v_uniq = 0 THEN 1 ELSE 0 END FROM a
       |ORDER BY rule""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_sax_symbolize"       -> tsSaxSymbolize _,
    "chp_churn_windows"      -> churnWindows _,
    "profile_contract_check" -> profileContractCheck _)

  val oracles: Map[String, String] = Map(
    "ts_sax_symbolize"       -> oTsSaxSymbolize,
    "chp_churn_windows"      -> oChpChurnWindows,
    "profile_contract_check" -> oProfileContractCheck)
}
