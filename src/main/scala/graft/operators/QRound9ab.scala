package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 27 (SURVEY §2.28):
  *
  *  - `text_rouge_overlap`: ROUGE-1 (clipped unigram overlap) scoring of
  *    the near-dup candidate pairs — the summarization-eval metric
  *    doubling as a bag-of-words dedup second opinion.
  *  - `sql_named_window`: the SQL `WINDOW` clause (named window shared
  *    by several functions) — a parser surface both engines support.
  *  - `ts_seasonal_adjust`: day-of-week seasonally adjusted daily series
  *    (cnt · series-mean / dow-mean) as an exact staged-integer formula.
  */
object QRound9ab extends QueryPack {

  // ---- text_rouge_overlap ----

  /** ROUGE-1 over the verified LSH pairs with CLIPPED counts:
    * overlap = Σ_term min(cnt_a, cnt_b); F1 = 2·overlap/(len_a+len_b)
    * (algebraically 2pr/(p+r) when p = ov/la, r = ov/lb — one exact
    * division, no intermediate p/r rounding). All counts exact BIGINTs.
    *
    * Scale shape: term-count table is one tokenize pass; the per-pair
    * overlap joins term counts only for candidate docs (semi-join
    * pushdown through the bounded pair table), never corpus×corpus. */
  private[graft] def rougeOverlap(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val pairs = QText.lshPairsPersisted(s, d).select("a_id", "b_id")
    val tc = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val lens = tc.groupBy("doc_id").agg(sum(col("c")).as("len"))
    val ta = tc.select(col("doc_id").as("a_id"), col("w"), col("c").as("ca"))
    val tb = tc.select(col("doc_id").as("bid2"), col("w").as("wb"),
      col("c").as("cb"))
    val ov = pairs.join(ta, "a_id")
      .join(tb, col("b_id") === col("bid2") && col("w") === col("wb"))
      .drop("bid2", "wb")
      .groupBy("a_id", "b_id")
      .agg(sum(least(col("ca"), col("cb"))).as("ov"))
    ov.join(lens.select(col("doc_id").as("a_id"), col("len").as("len_a")), "a_id")
      .join(lens.select(col("doc_id").as("b_id"), col("len").as("len_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("ov"), col("len_a"), col("len_b"),
        trunc6(lit(2L) * col("ov") / (col("len_a") + col("len_b")).cast(dd))
          .as("rouge1_f"))
      .orderBy("a_id", "b_id")
  }

  private val oTextRougeOverlap =
    s"""WITH base AS (${QText.oDedupLshPairs}),
       |tc AS MATERIALIZED (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents) GROUP BY 1, 2),
       |ln AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM tc GROUP BY 1),
       |ov AS (SELECT p.a_id, p.b_id,
       |    CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
       |  FROM base p JOIN tc a ON a.doc_id = p.a_id
       |  JOIN tc b ON b.doc_id = p.b_id AND b.w = a.w
       |  GROUP BY 1, 2)
       |SELECT ov.a_id, ov.b_id, ov.ov, la.len AS len_a, lb.len AS len_b,
       |  ${oTrunc6("2 * ov.ov / CAST(la.len + lb.len AS DOUBLE)")} AS rouge1_f
       |FROM ov JOIN ln la ON la.doc_id = ov.a_id
       |JOIN ln lb ON lb.doc_id = ov.b_id
       |ORDER BY ov.a_id, ov.b_id""".stripMargin

  // ---- sql_named_window ----

  /** The SQL `WINDOW` clause: one named per-user frame shared by three
    * window functions — the spelling that keeps complex analytics
    * readable, and a parser surface Spark 4 and DuckDB both support.
    * Must plan as ONE Window node (shared frame), not three. */
  private def sqlNamedWindow(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn, run_n,
        |  CAST(floor(run_v * 1e2 + 5e-1) AS BIGINT) AS run_cents
        |FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER w AS rn,
        |    count(*) OVER w AS run_n,
        |    sum(value) OVER w AS run_v
        |  FROM g_ev_nw
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |WHERE rn <= 3
        |ORDER BY user_id, rn""".stripMargin)("g_ev_nw" -> t(s, d, "events"))
  }

  private val oSqlNamedWindow =
    """SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn,
      |  CAST(run_n AS BIGINT) AS run_n,
      |  CAST(floor(run_v * 1e2 + 5e-1) AS BIGINT) AS run_cents
      |FROM (
      |  SELECT user_id, event_id,
      |    row_number() OVER w AS rn,
      |    count(*) OVER w AS run_n,
      |    sum(value) OVER w AS run_v
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |WHERE rn <= 3
      |ORDER BY user_id, rn""".stripMargin

  // ---- ts_seasonal_adjust ----

  /** Day-of-week seasonal adjustment of each event-type daily series:
    * adjusted = cnt · mean_series / mean_dow, evaluated as the STAGED
    * exact-integer formula
    *   adj6 = ((cnt·tot·1e6) div n_days · dow_days) div dow_cnt
    * (truncating division agrees across engines; staging bounds every
    * intermediate under 2^63). A flat series adjusts to itself; a
    * weekend-heavy series gets its weekend counts deflated.
    *
    * Scale shape: shares the memoized `evdaily`; the per-type and
    * per-(type, dow) means are bounded aggregates broadcast back. */
  private[graft] def seasonalAdjust(daily: DataFrame): DataFrame = {
    val base = daily.withColumn("dow", pmod(col("day_num"), lit(7L)))
    val tot = base.groupBy("event_type")
      .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n_days"))
    val dowm = base.groupBy("event_type", "dow")
      .agg(sum(col("cnt")).as("dow_cnt"), count(lit(1)).as("dow_days"))
    base.join(broadcast(tot), "event_type")
      .join(broadcast(dowm), Seq("event_type", "dow"))
      .select(col("event_type"), col("day_num"), col("dow"), col("cnt"),
        expr("((cnt * tot * 1000000 div n_days) * dow_days) div dow_cnt")
          .as("adj6"))
      .withColumn("adjusted", trunc6(col("adj6") / lit(1e6)))
      .orderBy("event_type", "day_num")
  }

  private def tsSeasonalAdjust(s: SparkSession, d: String): DataFrame =
    seasonalAdjust(QRound9b.evDaily(s, d))

  private val oTsSeasonalAdjust =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |base AS (SELECT event_type, day_num, day_num % 7 AS dow, cnt
       |  FROM daily),
       |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS tot,
       |    CAST(count(*) AS BIGINT) AS n_days FROM base GROUP BY 1),
       |dw AS (SELECT event_type, dow, CAST(sum(cnt) AS BIGINT) AS dow_cnt,
       |    CAST(count(*) AS BIGINT) AS dow_days FROM base GROUP BY 1, 2)
       |SELECT b.event_type, b.day_num, b.dow, b.cnt,
       |  ((b.cnt * t.tot * 1000000 // t.n_days) * d.dow_days) // d.dow_cnt
       |    AS adj6,
       |  ${oTrunc6("(((b.cnt * t.tot * 1000000 // t.n_days) * d.dow_days) " +
      "// d.dow_cnt) / 1e6")} AS adjusted
       |FROM base b JOIN tot t ON t.event_type = b.event_type
       |JOIN dw d ON d.event_type = b.event_type AND d.dow = b.dow
       |ORDER BY b.event_type, b.day_num""".stripMargin

  val queries: Map[String, QFn] = Map(
    "text_rouge_overlap" -> (rougeOverlap _),
    "sql_named_window"   -> sqlNamedWindow _,
    "ts_seasonal_adjust" -> tsSeasonalAdjust _)

  val oracles: Map[String, String] = Map(
    "text_rouge_overlap" -> oTextRougeOverlap,
    "sql_named_window"   -> oSqlNamedWindow,
    "ts_seasonal_adjust" -> oTsSeasonalAdjust)
}
