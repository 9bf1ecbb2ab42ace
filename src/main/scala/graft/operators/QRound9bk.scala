package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 62 (SURVEY §2.28):
  *
  *  - `agg_mann_whitney`: Mann–Whitney U rank test per event type
  *    between the hashed arms — the nonparametric two-sample test, with
  *    deterministic midrank tie handling in pure integers.
  *  - `ts_stl_strength`: trend/seasonal strength of the STL
  *    decomposition (Hyndman's F_T, F_S) — the one-number summaries
  *    that rank series by how trended/seasonal they are.
  *  - `ds_reduce_latest`: the typed `groupByKey.reduceGroups` surface —
  *    pairwise associative reduction to each user's latest event,
  *    proven against the max_by SQL twin.
  */
object QRound9bk extends QueryPack {

  // ---- agg_mann_whitney ----

  /** Mann–Whitney U per event type: values pool across the md5 user
    * arms; midranks handle ties exactly — per (type, value) tie group
    * the contribution is (min_rn + max_rn) per row, so 2·R₁ stays a
    * BIGINT no matter the within-tie order. U₁ = R₁ − n₁(n₁+1)/2; the
    * normal approximation z = (U₁ − n₁n₂/2)/√(n₁n₂(n+1)/12) (no tie
    * correction — ties are light on 2-dp money) gives the verdict vs
    * 1.96. Caveat (documented): events cluster by user while the test
    * assumes independence, so tiny-corpus types can flag — the operator
    * reports the textbook statistic; clustered inference is the
    * ratio-metric CI key's job.
    *
    * Scale shape: ranking windows partition by event_type; tie-group
    * min/max are value-keyed windows; one bounded rollup per type. */
  private[graft] def mannWhitney(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val rows = events
      .select(col("event_type"), col("event_id"),
        col("value").cast(dd).as("v"),
        abArm(col("user_id")).as("arm"))
    val wOrd = Window.partitionBy("event_type").orderBy("v", "event_id")
    val wTie = Window.partitionBy("event_type", "v")
    val ranked = rows
      .withColumn("rn", row_number().over(wOrd).cast(LongType))
      .withColumn("r2", min("rn").over(wTie) + max("rn").over(wTie))
    val m = ranked.groupBy("event_type")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, col("r2")).otherwise(0L)).as("r1x2"))
    m.select(col("event_type"), col("n1"), col("n0"),
        ((col("r1x2") - col("n1") * (col("n1") + 1)).cast(dd) / lit(2.0))
          .as("u1"))
      .withColumn("z",
        (col("u1") - col("n1").cast(dd) * col("n0").cast(dd) / lit(2.0)) /
          sqrt(col("n1").cast(dd) * col("n0").cast(dd) *
            (col("n1") + col("n0") + 1).cast(dd) / lit(12.0)))
      .select(col("event_type"), col("n1"), col("n0"),
        trunc4(col("u1")).as("u_stat"), trunc4(col("z")).as("z_score"))
      .withColumn("significant",
        (abs(col("z_score")) > lit(196e-2)).cast(IntegerType))
      .orderBy("event_type")
  }

  private def aggMannWhitney(s: SparkSession, d: String): DataFrame =
    mannWhitney(t(s, d, "events"))

  private val oAggMannWhitney =
    s"""WITH rows0 AS (SELECT event_type, event_id,
       |    CAST(value AS DOUBLE) AS v,
       |    ${oAbArm("user_id")} AS arm
       |  FROM events),
       |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY v, event_id) AS BIGINT) AS rn FROM rows0),
       |tg AS (SELECT *, min(rn) OVER (PARTITION BY event_type, v)
       |      + max(rn) OVER (PARTITION BY event_type, v) AS r2 FROM rk),
       |m AS (SELECT event_type,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN arm = 1 THEN r2 ELSE 0 END) AS BIGINT)
       |      AS r1x2
       |  FROM tg GROUP BY 1),
       |u AS (SELECT event_type, n1, n0,
       |    CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2e0 AS u1 FROM m),
       |z AS (SELECT *, (u1 - CAST(n1 AS DOUBLE) * n0 / 2e0) /
       |    sqrt(CAST(n1 AS DOUBLE) * n0 * (n1 + n0 + 1) / 12e0) AS z
       |  FROM u)
       |SELECT event_type, n1, n0, ${oTrunc4("u1")} AS u_stat,
       |  ${oTrunc4("z")} AS z_score,
       |  CASE WHEN abs(${oTrunc4("z")}) > 196e-2 THEN 1 ELSE 0 END
       |    AS significant
       |FROM z ORDER BY event_type""".stripMargin

  // ---- ts_stl_strength ----

  /** Hyndman's decomposition strengths from the shared STL key:
    * F_T = max(0, 1 − Var(R)/Var(T+R)), F_S = max(0, 1 − Var(R)/Var(S+R))
    * per type — 1 = pure trend/season, 0 = noise. All three component
    * columns are already trunc4'd identical doubles; the variances run
    * through scale-to-long moment sums (values ≤ ~1e4 ⇒ squares scale
    * at 1e6 stays far inside BIGINT).
    *
    * Scale shape: one pass over the bounded decomposition table; two
    * moment pairs per type. */
  private[graft] def stlStrength(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val stl = QRound9al.stlDecompose(t(s, d, "events"))
    def varOf(c: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(floor(c * lit(1e6) + lit(0.5)).cast(LongType)).as(s"s_$tag"),
      sum(floor(c * c * lit(1e6) + lit(0.5)).cast(LongType)).as(s"q_$tag"))
    val m = stl.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (varOf(col("resid"), "r") ++
         varOf(col("trend") + col("resid"), "tr") ++
         varOf(col("seasonal") + col("resid"), "sr")): _*)
    def v(tag: String) =
      col(s"q_$tag").cast(dd) / lit(1e6) / col("n").cast(dd) -
        (col(s"s_$tag").cast(dd) / lit(1e6) / col("n").cast(dd)) *
        (col(s"s_$tag").cast(dd) / lit(1e6) / col("n").cast(dd))
    m.select(col("event_type"), col("n").as("n_hours"),
        trunc4(greatest(lit(0.0), lit(1.0) - v("r") / v("tr")))
          .as("f_trend"),
        trunc4(greatest(lit(0.0), lit(1.0) - v("r") / v("sr")))
          .as("f_seasonal"))
      .orderBy("event_type")
  }

  private val oTsStlStrength = {
    val stl = QRound9al.oracles("ts_stl_decompose")
    def mom(x: String, tag: String) =
      s"""CAST(sum(CAST(floor(($x) * 1e6 + 5e-1) AS BIGINT)) AS BIGINT)
         |      AS s_$tag,
         |    CAST(sum(CAST(floor(($x) * ($x) * 1e6 + 5e-1) AS BIGINT))
         |      AS BIGINT) AS q_$tag""".stripMargin
    def v(tag: String) =
      s"(CAST(q_$tag AS DOUBLE) / 1e6 / n - (CAST(s_$tag AS DOUBLE) / 1e6 / n) * (CAST(s_$tag AS DOUBLE) / 1e6 / n))"
    s"""WITH stl AS MATERIALIZED (SELECT * FROM ($stl)),
       |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    ${mom("resid", "r")},
       |    ${mom("trend + resid", "tr")},
       |    ${mom("seasonal + resid", "sr")}
       |  FROM stl GROUP BY 1)
       |SELECT event_type, n AS n_hours,
       |  ${oTrunc4(s"greatest(0e0, 1e0 - ${v("r")} / ${v("tr")})")} AS f_trend,
       |  ${oTrunc4(s"greatest(0e0, 1e0 - ${v("r")} / ${v("sr")})")} AS f_seasonal
       |FROM m ORDER BY event_type""".stripMargin
  }

  // ---- ds_reduce_latest ----

  case class REv(user_id: Long, event_id: Long, us: Long, et: String)

  /** Typed `reduceGroups`: each user's events reduce pairwise to the
    * latest one (max us, max event_id tiebreak) — the associative
    * reduction surface that completes the typed family (mapGroups,
    * flatMapGroups, cogroup, joinWith). Proven against the max_by SQL
    * twin.
    *
    * Scale shape: reduceGroups combines partially map-side (unlike
    * mapGroups, which must shuffle whole groups). */
  private[graft] def reduceLatest(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val ds = events.select(col("user_id"), col("event_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"),
      col("event_type").as("et")).as[REv]
    ds.groupByKey(_.user_id)
      .reduceGroups { (a, b) =>
        if (a.us > b.us) a
        else if (b.us > a.us) b
        else if (a.event_id > b.event_id) a else b
      }
      .map { case (_, e) => (e.user_id, e.event_id, e.us, e.et) }
      .toDF("user_id", "last_event_id", "last_us", "last_type")
      .orderBy("user_id")
  }

  private def dsReduceLatest(s: SparkSession, d: String): DataFrame =
    reduceLatest(t(s, d, "events"))

  private val oDsReduceLatest =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      |  FROM events),
      |p AS (SELECT user_id,
      |    max(struct_pack(us := us, event_id := event_id)) AS k
      |  FROM e GROUP BY 1)
      |SELECT p.user_id, e.event_id AS last_event_id, e.us AS last_us,
      |  e.event_type AS last_type
      |FROM p JOIN e ON e.user_id = p.user_id
      |  AND e.us = p.k.us AND e.event_id = p.k.event_id
      |ORDER BY p.user_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "agg_mann_whitney" -> aggMannWhitney _,
    "ts_stl_strength"  -> ((s, d) => stlStrength(s, d)),
    "ds_reduce_latest" -> dsReduceLatest _)

  val oracles: Map[String, String] = Map(
    "agg_mann_whitney" -> oAggMannWhitney,
    "ts_stl_strength"  -> oTsStlStrength,
    "ds_reduce_latest" -> oDsReduceLatest)
}
