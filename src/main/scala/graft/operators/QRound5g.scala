package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 seventh wave (SURVEY §2.20) — three surfaces nothing else
  * covers:
  *
  *  - `agg_bitmap_distinct`: exact distinct counting via bitmap rollup
  *    (the ClickHouse/Druid groupBitmap idea): user ids pack into 32-bit
  *    chunk bitmaps that OR together associatively — a distinct count
  *    that partial-aggregates map-side like a SUM, with none of
  *    count(distinct)'s per-group sort/dedup. The same row carries the
  *    classic count(distinct) so the equality is part of the hash.
  *  - `maint_vacuum_ttl`: retention enforcement (the GDPR/TTL vacuum
  *    job): rewrite the table keeping only rows younger than a cutoff
  *    derived from the data, then report kept/deleted per type — the
  *    oracle recomputes both sides from the original table, so a row
  *    wrongly kept OR wrongly deleted breaks the hash.
  *  - `join_asof_tolerance`: as-of join with a max-gap tolerance — the
  *    feature-engineering variant of `join_asof`: a purchase only
  *    matches its most recent prior view if that view is within 30
  *    minutes; staler context is treated as no context.
  */
object QRound5g extends QueryPack {

  // ---- bitmap-rollup exact distinct ----

  /** Exact distinct users per event type, twice: via bitmap chunks
    * (chunk = id div 32, bitmap = bit_or of 1<<(id%32), count = sum of
    * popcounts) and via the built-in count(distinct). Bitmaps live in
    * BIGINT lanes with 32 bits used per chunk: a shift past 30 overflows
    * DuckDB's signed 32-bit <<, and 1<<63 overflows its BIGINT <<.
    * Scale shape: the bitmap is a pure associative OR — it partial-
    * aggregates map-side and shuffles one word per (type, chunk), where
    * count(distinct) shuffles every distinct (type, user) pair; at
    * dense-id scale the bitmap side is the one that survives. */
  private def aggBitmapDistinct(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val viaBitmap = ev
      .select(col("event_type"),
        expr("user_id div 32").as("chunk"),
        expr("shiftleft(1L, cast(user_id % 32 as int))").as("bit"))
      .groupBy("event_type", "chunk")
      .agg(bit_or(col("bit")).as("bitmap"))
      .groupBy("event_type")
      .agg(sum(bit_count(col("bitmap"))).as("n_distinct_bitmap"),
        count(lit(1)).as("n_chunks"))
    val viaExact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_distinct_exact"))
    viaBitmap.join(viaExact, "event_type")
      .select("event_type", "n_distinct_bitmap", "n_distinct_exact", "n_chunks")
      .orderBy("event_type")
  }

  private val oAggBitmapDistinct =
    """WITH b AS (
      |  SELECT event_type, user_id // 32 AS chunk,
      |    1::BIGINT << CAST(user_id % 32 AS INT) AS bit
      |  FROM events),
      | bm AS (SELECT event_type, chunk, bit_or(bit) AS bitmap
      |   FROM b GROUP BY 1, 2),
      | vb AS (SELECT event_type,
      |    CAST(sum(bit_count(bitmap)) AS BIGINT) AS n_distinct_bitmap,
      |    count(*) AS n_chunks
      |   FROM bm GROUP BY 1),
      | ve AS (SELECT event_type, count(DISTINCT user_id) AS n_distinct_exact
      |   FROM events GROUP BY 1)
      |SELECT vb.event_type, vb.n_distinct_bitmap, ve.n_distinct_exact, vb.n_chunks
      |FROM vb JOIN ve USING (event_type) ORDER BY event_type""".stripMargin

  // ---- TTL retention vacuum ----

  private val ttlDays = 20L

  /** Retention rewrite: keep only events within `ttlDays` of the newest
    * event (cutoff derived FROM the data, so every sf exercises both
    * sides), report kept vs deleted per type against the original
    * table's totals. Scale shape: the vacuum is one filtered rewrite —
    * a full scan + write of the survivors, no shuffle; the cutoff is a
    * one-row broadcast. At 100 TB this runs per partition-date folder
    * and most folders are dropped wholesale by partition pruning
    * without reading a row (the scan_partition_prune layout). */
  private def maintVacuumTtl(s: SparkSession, d: String): DataFrame = {
    val micros = expr("unix_micros(cast(ts as timestamp))")
    val dir = QRound3.staged(s, d, "vacuum") { dir =>
      val src = t(s, d, "events")
      val cutoff = src.select(max(micros)).scalar() - lit(ttlDays * 86400000000L)
      src.filter(micros >= cutoff)
        .write.mode("overwrite").parquet(s"$dir/kept")
    }
    val kept = s.read.parquet(s"$dir/kept")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        sum4(col("value")).as("kept_value"),
        expr("min(unix_micros(cast(ts as timestamp)) div 86400000000)")
          .as("min_day_kept"))
    val totals = t(s, d, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n_total"))
    kept.join(totals, "event_type")
      .select(col("event_type"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_deleted"),
        col("kept_value"), col("min_day_kept"))
      .orderBy("event_type")
  }

  private val oMaintVacuumTtl =
    s"""WITH c AS (SELECT max(epoch_us(ts)) - ${ttlDays} * 86400000000 AS cutoff FROM events),
       | kept AS (SELECT event_type, count(*) AS n_kept,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS kept_value,
       |    min(epoch_us(ts) // 86400000000) AS min_day_kept
       |  FROM events, c WHERE epoch_us(ts) >= c.cutoff GROUP BY 1),
       | tot AS (SELECT event_type, count(*) AS n_total FROM events GROUP BY 1)
       |SELECT kept.event_type, kept.n_kept,
       |  tot.n_total - kept.n_kept AS n_deleted,
       |  kept.kept_value, kept.min_day_kept
       |FROM kept JOIN tot USING (event_type) ORDER BY event_type""".stripMargin

  // ---- as-of join with tolerance ----

  /** For every purchase, the most recent view BY THE SAME USER at or
    * before the purchase — but only if it happened within 30 minutes;
    * older context is returned as null (the "stale feature" rule every
    * leakage-safe feature store applies). Spelled as the union +
    * running-last window (the join_asof pattern) plus the tolerance
    * filter. Scale shape: one shuffle on user_id shared by the window;
    * no join at all — the union IS the as-of. */
  private def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("us"))
    val tagged = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("us"), col("event_id"), lit(0).as("kind"))
      .unionAll(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"), lit(1).as("kind")))
    val w = Window.partitionBy("user_id").orderBy("us", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view_us",
        last(when(col("kind") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        when(col("us") - col("last_view_us") <= 1800000000L,
          col("last_view_us")).as("view_us"),
        when(col("us") - col("last_view_us") <= 1800000000L,
          expr("(us - last_view_us) div 1000000L")).as("gap_s"))
      .orderBy("user_id", "purchase_id")
  }

  private val oJoinAsofTolerance =
    """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      | tagged AS (
      |  SELECT user_id, us, event_id, 0 AS kind FROM ev WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT user_id, us, event_id, 1 AS kind FROM ev WHERE event_type = 'purchase'),
      | w AS (SELECT *,
      |    last_value(CASE WHEN kind = 0 THEN us END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY us, kind, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
      |  FROM tagged)
      |SELECT user_id, event_id AS purchase_id,
      |  CASE WHEN us - last_view_us <= 1800000000 THEN last_view_us END AS view_us,
      |  CAST(CASE WHEN us - last_view_us <= 1800000000
      |       THEN (us - last_view_us) // 1000000 END AS BIGINT) AS gap_s
      |FROM w WHERE kind = 1 ORDER BY user_id, purchase_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "agg_bitmap_distinct" -> aggBitmapDistinct _,
    "maint_vacuum_ttl"    -> maintVacuumTtl _,
    "join_asof_tolerance" -> joinAsofTolerance _)

  val oracles: Map[String, String] = Map(
    "agg_bitmap_distinct" -> oAggBitmapDistinct,
    "maint_vacuum_ttl"    -> oMaintVacuumTtl,
    "join_asof_tolerance" -> oJoinAsofTolerance)
}
