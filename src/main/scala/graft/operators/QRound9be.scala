package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 56 (SURVEY §2.28):
  *
  *  - `ds_flatmap_sessions`: the typed `groupByKey.flatMapGroups`
  *    surface — one-to-many per group — spelled as the sessionizer, and
  *    proven equivalent to the window-SQL islands twin cross-engine.
  *  - `ts_forecast_reconcile`: hierarchical forecast reconciliation —
  *    per-type Holt forecasts vs the total-series forecast, with
  *    top-down proportional reconciliation (forecasts of parts should
  *    sum to the forecast of the whole; they don't, and this is the
  *    standard fix).
  *  - `text_hash_collision_audit`: the hashing-trick collision audit —
  *    distinct terms vs occupied buckets at 2^10/14/18 — the fidelity
  *    check a hashed-feature pipeline ships with.
  */
object QRound9be extends QueryPack {

  // ---- ds_flatmap_sessions ----

  case class SEv(user_id: Long, event_id: Long, us: Long)

  /** Typed sessionizer through `flatMapGroups`: each user's events sort
    * in memory and split on >30-min gaps, emitting ONE ROW PER SESSION —
    * the one-to-many group output mapGroups cannot express. Semantics
    * identical to chp_sessionize_batch's window spelling; the oracle is
    * the same islands SQL, so the two spellings are proven equivalent.
    *
    * Scale shape: per-user event lists are session-scale; groups shuffle
    * once on the user key (the typed-funnel discipline). */
  private[graft] def flatmapSessions(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val ds = events.select(col("user_id"), col("event_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us")).as[SEv]
    ds.groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(e => (e.us, e.event_id))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var sessIdx = 0L
        var sessStartPos = 0
        var i = 1
        def emit(endPos: Int): Unit = {
          sessIdx += 1
          val span = evs.slice(sessStartPos, endPos)
          out += ((uid, sessIdx, span.length.toLong,
            (span.last.us - span.head.us) / 1000000L,
            span.map(_.event_id).min))
        }
        while (i < evs.length) {
          if (evs(i).us - evs(i - 1).us > 1800000000L) {
            emit(i); sessStartPos = i
          }
          i += 1
        }
        if (evs.nonEmpty) emit(evs.length)
        out.iterator
      }
      .toDF("user_id", "session_idx", "n_events", "duration_s",
        "first_event")
      .orderBy("user_id", "session_idx")
  }

  private def dsFlatmapSessions(s: SparkSession, d: String): DataFrame =
    flatmapSessions(t(s, d, "events"))

  private val oDsFlatmapSessions =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) AS prev_us FROM e),
      |f AS (SELECT *, CASE WHEN prev_us IS NULL
      |    OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM l),
      |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS session_idx FROM f)
      |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
      |  (max(us) - min(us)) // 1000000 AS duration_s,
      |  CAST(min(event_id) AS BIGINT) AS first_event
      |FROM g GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  // ---- ts_forecast_reconcile ----

  /** Hierarchical reconciliation: Holt level+trend forecasts for each
    * event type AND for the '_ALL' total series (the same exact integer
    * recursion, the total series just unioned in as a sixth series).
    * Bottom-up = Σ type forecasts ≠ top-down = total-series forecast;
    * the reconciled per-type value distributes top-down by the bottom-up
    * proportions (trunc4). All forecasts are 1e6-scaled BIGINTs until
    * the final shares.
    *
    * Scale shape: the bounded daily table gains one aggregated pseudo
    * series; the recursion stays driver-side model state. */
  private[graft] def forecastReconcile(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val daily = QRound9b.evDaily(s, d)
    val total = daily.groupBy("day_num")
      .agg(sum("cnt").as("cnt"))
      .select(lit("_ALL").as("event_type"), col("day_num"), col("cnt"))
    val hw = QRound9y.holtLinear(daily.unionByName(total))
      .select(col("event_type"), col("forecast6")).localCheckpoint(true)
    val top = hw.filter(col("event_type") === "_ALL")
      .select(col("forecast6").as("td6"))
    val parts = hw.filter(col("event_type") =!= "_ALL")
    val bu = parts.agg(sum("forecast6").as("bu6"))
    parts.crossJoin(broadcast(bu)).crossJoin(broadcast(top))
      .select(col("event_type"),
        trunc4(col("forecast6").cast(dd) / lit(1e6)).as("base_forecast"),
        trunc4(col("forecast6").cast(dd) / col("bu6").cast(dd))
          .as("share"),
        trunc4(col("td6").cast(dd) / lit(1e6) *
          (col("forecast6").cast(dd) / col("bu6").cast(dd)))
          .as("reconciled"),
        trunc4(col("bu6").cast(dd) / lit(1e6)).as("bottom_up_total"),
        trunc4(col("td6").cast(dd) / lit(1e6)).as("top_down_total"))
      .orderBy("event_type")
  }

  private val oTsForecastReconcile =
    s"""WITH RECURSIVE daily0 AS (
       |  SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |daily AS (SELECT * FROM daily0
       |  UNION ALL SELECT '_ALL', day_num, CAST(sum(cnt) AS BIGINT)
       |  FROM daily0 GROUP BY day_num),
       |${QRound9y.oHoltRecCtes},
       |fin AS MATERIALIZED (SELECT r.event_type, r.l + r.b AS f6
       |  FROM rec r JOIN n ON n.event_type = r.event_type
       |    AND r.i = n.n_days),
       |top AS (SELECT f6 AS td6 FROM fin WHERE event_type = '_ALL'),
       |parts AS (SELECT * FROM fin WHERE event_type <> '_ALL'),
       |bu AS (SELECT CAST(sum(f6) AS BIGINT) AS bu6 FROM parts)
       |SELECT p.event_type,
       |  ${oTrunc4("CAST(p.f6 AS DOUBLE) / 1e6")} AS base_forecast,
       |  ${oTrunc4("CAST(p.f6 AS DOUBLE) / b.bu6")} AS share,
       |  ${oTrunc4("CAST(t.td6 AS DOUBLE) / 1e6 * (CAST(p.f6 AS DOUBLE) / b.bu6)")} AS reconciled,
       |  ${oTrunc4("CAST(b.bu6 AS DOUBLE) / 1e6")} AS bottom_up_total,
       |  ${oTrunc4("CAST(t.td6 AS DOUBLE) / 1e6")} AS top_down_total
       |FROM parts p, bu b, top t ORDER BY p.event_type""".stripMargin

  // ---- text_hash_collision_audit ----

  private val hashBits = Seq(10, 14, 18)

  /** Hashing-trick fidelity audit: the corpus vocabulary hashed into
    * 2^k buckets (md5-long mod — the engine's portable hashingTF) for
    * k = 10/14/18; per k the occupied buckets, the at-least-lost terms
    * (terms − buckets, a collision lower bound) and the load factor.
    * Exact distinct counts end to end.
    *
    * Scale shape: one distinct-token aggregate; per k one bounded
    * distinct over the bucketed vocab. */
  private[graft] def hashCollisionAudit(docs: DataFrame): DataFrame = {
    val dd = DoubleType
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
      .withColumn("h", md5Prefix(col("term").cast(BinaryType), 15).cast(LongType))
      .localCheckpoint(true)
    val branches = hashBits.map { k =>
      val space = 1L << k
      vocab.select((col("h") % space).as("bkt"))
        .agg(countDistinct("bkt").as("n_buckets_used"))
        .crossJoin(broadcast(vocab.agg(count(lit(1)).as("n_terms"))))
        .select(lit(k.toLong).as("bits"), lit(space).as("space"),
          col("n_terms"), col("n_buckets_used"),
          (col("n_terms") - col("n_buckets_used")).as("n_collided"),
          trunc4(col("n_terms").cast(dd) / lit(space.toDouble))
            .as("load_factor"))
    }
    branches.reduce(_ unionAll _).orderBy("bits")
  }

  private def textHashCollisionAudit(s: SparkSession, d: String): DataFrame =
    hashCollisionAudit(t(s, d, "documents"))

  private val oTextHashCollisionAudit = {
    val branches = hashBits.map { k =>
      val space = 1L << k
      s"""SELECT CAST($k AS BIGINT) AS bits, CAST($space AS BIGINT) AS space,
         |  (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS n_terms,
         |  CAST(count(DISTINCT h % $space) AS BIGINT) AS n_buckets_used,
         |  (SELECT CAST(count(*) AS BIGINT) FROM vocab)
         |    - CAST(count(DISTINCT h % $space) AS BIGINT) AS n_collided,
         |  ${oTrunc4(s"(SELECT CAST(count(*) AS DOUBLE) FROM vocab) / $space")} AS load_factor
         |FROM vocab""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH vocab AS MATERIALIZED (SELECT DISTINCT term,
       |    ${oMd5Prefix("term", 15)} AS h
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term
       |    FROM documents) WHERE term <> '')
       |$branches
       |ORDER BY bits""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "ds_flatmap_sessions"       -> dsFlatmapSessions _,
    "ts_forecast_reconcile"     -> ((s, d) => forecastReconcile(s, d)),
    "text_hash_collision_audit" -> textHashCollisionAudit _)

  val oracles: Map[String, String] = Map(
    "ds_flatmap_sessions"       -> oDsFlatmapSessions,
    "ts_forecast_reconcile"     -> oTsForecastReconcile,
    "text_hash_collision_audit" -> oTextHashCollisionAudit)
}
