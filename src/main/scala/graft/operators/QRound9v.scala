package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 21 (SURVEY §2.28):
  *
  *  - `chp_absorbing_prob`: absorbing-Markov hitting probability (reach
  *    `purchase` within k steps, k = 1..4) from the empirical transition
  *    matrix — the "how far is every behavior state from conversion"
  *    analytic beside the raw transition table, in EXACT integers.
  *  - `ds_observe_metrics`: `Dataset.observe` — zero-extra-pass metric
  *    collection riding the query's own execution (the ingestion
  *    accounting every production pipeline wants without a second scan).
  *  - `sql_lateral_view`: the HiveQL LATERAL VIEW explode surface —
  *    the legacy spelling of generator joins that real migrated
  *    workloads still carry.
  */
object QRound9v extends QueryPack {

  // ---- chp_absorbing_prob ----

  private val absRounds = 4
  private val absState = "purchase"
  // ceiling on the driver-collected state space (V² matrix cells)
  private[graft] val absMaxStates = 64

  /** Hitting probability of the absorbing `purchase` state within
    * 1..4 steps, from the empirical per-user transition counts: with
    * p pinned to 1 at the absorbing state,
    * p_k(s) = Σ_t T(s,t)·p_{k−1}(t) is the probability a ≤k-step walk
    * from s converts. Every probability is carried as a 1e12-scaled
    * BIGINT and each round is (Σ_t c_st·p12(t)) div tot_s — integer
    * multiply, integer sum, integer floor-div — so the whole recursion
    * is engine-exact with zero floating point (per-round floor loses
    * < 4e-12 total, far below the trunc6 report). States with no
    * outgoing transitions stay at 0.
    *
    * Scale shape: the transition table is V²-bounded (the
    * `chp_markov_prob` observation); each round is one V²-row
    * join+aggregate; fixed rounds → unrolled-CTE oracle. */
  private[graft] def absorbingProb(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    // the transition matrix is V²-bounded MODEL STATE (V = action
    // vocabulary): collect it once and run the 4 integer rounds
    // driver-side (the k-means-centroid collect discipline) — pure long
    // arithmetic in a fixed order, so the driver loop is exactly the
    // distributed spelling's result without 8 tiny-table join jobs
    val T = 1000000000000L
    val cells = trans.collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("cnt")))
    val tot = cells.groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._3).sum }
    val states = events.select(col("event_type").as("state")).distinct()
      .collect().map(_.getAs[String]("state")).sorted
    // the "V²-bounded MODEL STATE" claim is ASSERTED (VERDICT r11 #4): a
    // high-cardinality event_type column would silently turn these
    // collects row-scale — fail loudly instead
    require(states.length <= absMaxStates,
      s"action vocabulary ${states.length} exceeds the $absMaxStates bound" +
        " — the driver-side matrix recursion assumes a small state space")
    require(cells.length <= states.length.toLong * states.length,
      s"transition collect ${cells.length} exceeds V²")
    var p = states.map(s0 => s0 -> (if (s0 == absState) T else 0L)).toMap
    val rounds = (1 to absRounds).map { _ =>
      p = states.map { s0 =>
        s0 -> (if (s0 == absState) T
        else tot.get(s0) match {
          case Some(tt) if tt > 0 =>
            cells.filter(_._1 == s0).map { case (_, t2, c) => c * p(t2) }.sum / tt
          case _ => 0L
        })
      }.toMap
      p
    }
    val spark = events.sparkSession
    import spark.implicits._
    states.map(s0 => (s0, rounds(0)(s0), rounds(1)(s0), rounds(2)(s0),
        rounds(3)(s0))).toSeq
      .toDF("state", "p12_1", "p12_2", "p12_3", "p12_4")
      .withColumn("p_hit4", trunc6(col("p12_4") / lit(1e12)))
      .orderBy("state")
  }

  private def chpAbsorbingProb(s: SparkSession, d: String): DataFrame =
    absorbingProb(t(s, d, "events"))

  private val oChpAbsorbingProb = {
    val rounds = (1 to absRounds).map { k =>
      s"""p$k AS MATERIALIZED (SELECT s.state,
         |    CASE WHEN s.state = '$absState' THEN 1000000000000
         |      ELSE coalesce(st.p12, 0) END AS p12
         |  FROM states s LEFT JOIN (
         |    SELECT t.from_type AS state,
         |      CAST(sum(t.cnt * p.p12) AS BIGINT) // tt.tot AS p12
         |    FROM trans t JOIN p${k - 1} p ON p.state = t.to_type
         |    JOIN totals tt ON tt.from_type = t.from_type
         |    GROUP BY t.from_type, tt.tot) st ON st.state = s.state),"""
        .stripMargin
    }.mkString("\n")
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
       |  FROM events),
       |seq AS (SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS to_type FROM e),
       |trans AS MATERIALIZED (SELECT from_type, to_type,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |totals AS MATERIALIZED (SELECT from_type,
       |    CAST(sum(cnt) AS BIGINT) AS tot FROM trans GROUP BY 1),
       |states AS (SELECT DISTINCT event_type AS state FROM events),
       |p0 AS (SELECT state, CASE WHEN state = '$absState'
       |    THEN CAST(1000000000000 AS BIGINT) ELSE 0 END AS p12
       |  FROM states),
       |$rounds
       |j AS (SELECT s.state, a.p12 AS p12_1, b.p12 AS p12_2,
       |    c.p12 AS p12_3, dd.p12 AS p12_4
       |  FROM states s JOIN p1 a USING (state) JOIN p2 b USING (state)
       |  JOIN p3 c USING (state) JOIN p4 dd USING (state))
       |SELECT state, CAST(p12_1 AS BIGINT) AS p12_1,
       |  CAST(p12_2 AS BIGINT) AS p12_2, CAST(p12_3 AS BIGINT) AS p12_3,
       |  CAST(p12_4 AS BIGINT) AS p12_4,
       |  ${oTrunc6("p12_4 / 1e12")} AS p_hit4
       |FROM j ORDER BY state""".stripMargin
  }

  // ---- ds_observe_metrics ----

  /** `Dataset.observe`: ingestion accounting (row count + exact cents
    * mass) attached to the scan and collected DURING the query's own
    * execution — no second pass over the data, which is the entire
    * point at 100 TB (a separate audit query doubles the scan bill).
    * The key's output is the per-type rollup; Round9vSpec drives the
    * `Observation` helper and proves the observed metrics equal the
    * rollup's own totals. */
  private[graft] def observedAgg(events: DataFrame,
      obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val base = events.select(col("event_type"),
      floor(col("value") * lit(1e2) + lit(5e-1)).cast(LongType)
        .as("cents"))
    val metrics = Seq(count(lit(1)).as("obs_rows"),
      sum(col("cents")).as("obs_cents"))
    val watched = obs match {
      case Some(o) => base.observe(o, metrics.head, metrics.tail: _*)
      case None => base.observe("ingest_metrics", metrics.head,
        metrics.tail: _*)
    }
    watched.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_total"))
      .orderBy("event_type")
  }

  private def dsObserveMetrics(s: SparkSession, d: String): DataFrame =
    observedAgg(t(s, d, "events"))

  private val oDsObserveMetrics =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT)) AS BIGINT)
      |    AS cents_total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- sql_lateral_view ----

  /** The HiveQL LATERAL VIEW explode spelling — the generator-join
    * surface countless migrated warehouse queries still use; must plan
    * exactly like the modern `explode` projection (one Generate node,
    * no join). Top-30 corpus terms by total frequency, rank tiebroken
    * by term. */
  private def sqlLateralView(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT tok, count(*) AS n
        |FROM g_docs_lv
        |LATERAL VIEW explode(split(lower(text), '[^a-z]+')) x AS tok
        |WHERE tok <> '' AND length(tok) >= 3
        |GROUP BY tok
        |ORDER BY n DESC, tok
        |LIMIT 30""".stripMargin)("g_docs_lv" -> t(s, d, "documents"))
  }

  private val oSqlLateralView =
    """SELECT tok, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+'))
      |    AS tok FROM documents)
      |WHERE tok <> '' AND length(tok) >= 3
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 30""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_absorbing_prob" -> chpAbsorbingProb _,
    "ds_observe_metrics" -> dsObserveMetrics _,
    "sql_lateral_view"   -> sqlLateralView _)

  val oracles: Map[String, String] = Map(
    "chp_absorbing_prob" -> oChpAbsorbingProb,
    "ds_observe_metrics" -> oDsObserveMetrics,
    "sql_lateral_view"   -> oSqlLateralView)
}
