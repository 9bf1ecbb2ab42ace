package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-5 second wave (SURVEY §2.15) — six surfaces nothing else covers:
  *
  *  - `chp_sessionize_batch`: BATCH gaps-and-islands sessionization (the
  *    streaming twin is `stream_session_window`) — MorphL's core
  *    per-user session features are built exactly this way offline.
  *  - `agg_mode_median`: deterministic MODE (tie-break: smallest value)
  *    + exact interpolated MEDIAN per group — the two order statistics
  *    the agg inventory still lacked.
  *  - `text_pii_redact`: PII scrubbing (emails, long digit runs) over
  *    the documents corpus — a mandatory pass in any LLM training-data
  *    pipeline. The corpus carries no PII, so both engines inject the
  *    same deterministic synthetic PII first; the regex redaction and
  *    its md5-verified output are fully real.
  *  - `ts_gap_interp`: linear interpolation over gaps in a daily
  *    time-series (the fill-forward twin is `ts_fill_forward`).
  *  - `sql_lateral_topk`: correlated LATERAL subquery with ORDER BY +
  *    LIMIT — Spark decorrelates it to a ranked window join
  *    (DecorrelateInnerQuery), the SQL surface's per-group top-k.
  *  - `maint_compact_files`: small-file compaction — the storage
  *    maintenance job every 100 TB lake runs nightly; the query output
  *    is the lossless-ness proof (aggregates over the compacted copy
  *    must hash-match the oracle over the original table).
  */
object QRound5b extends QueryPack {

  // ---- batch sessionization (gaps-and-islands) ----

  /** Per-user sessions with a 30-minute inactivity gap: lag() flags
    * session starts, a running sum numbers them, one groupBy collapses
    * them to session rows. Scale shape: both windows and the final
    * groupBy share PARTITION BY user_id, so Catalyst plans ONE shuffle
    * on user_id and reuses its sort; user_id is uniform (no skew).
    * Ties on ts break on event_id, so numbering is deterministic. */
  private def chpSessionizeBatch(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("us"))
      .withColumn("prev_us", lag("us", 1).over(wOrd))
      .withColumn("new_sess",
        (col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L)
          .cast(LongType))
      .withColumn("session_idx", sum("new_sess").over(wRun))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        expr("(max(us) - min(us)) div 1000000").as("duration_s"),
        min("event_id").as("first_event"))
      .orderBy("user_id", "session_idx")
  }

  private val oChpSessionizeBatch =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      | l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
      | f AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM l),
      | g AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM f)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events,
      |  (max(us) - min(us)) // 1000000 AS duration_s,
      |  min(event_id) AS first_event
      |FROM g GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  // ---- deterministic mode + exact median ----

  /** MODE with a total tie-break (highest count, then smallest value —
    * built-in mode() is tie-arbitrary in BOTH engines, so it can never
    * hash-match) and exact interpolated MEDIAN per return flag.
    * Scale shape: mode pre-aggregates to (flag, qty) counts — ≤ a few
    * hundred rows regardless of input size — before the ranking window
    * touches them; median is Spark's native percentile, one shuffle. */
  private def aggModeMedian(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val cnts = li.groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
    val mode = cnts
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("l_quantity").asc)))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
    val stats = li.groupBy("l_returnflag")
      .agg(median(col("l_quantity")).cast(DoubleType).as("median_qty"),
        count(lit(1)).as("n"))
    stats.join(mode, Seq("l_returnflag"))
      .select("l_returnflag", "mode_qty", "median_qty", "n")
      .orderBy("l_returnflag")
  }

  private val oAggModeMedian =
    """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt
      |           FROM lineitem GROUP BY 1, 2),
      | m AS (SELECT l_returnflag, l_quantity AS mode_qty FROM
      |   (SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY cnt DESC, l_quantity) AS rn FROM c) WHERE rn = 1),
      | s AS (SELECT l_returnflag, CAST(median(l_quantity) AS DOUBLE) AS median_qty,
      |          count(*) AS n FROM lineitem GROUP BY 1)
      |SELECT s.l_returnflag, m.mode_qty, s.median_qty, s.n
      |FROM s JOIN m USING (l_returnflag) ORDER BY 1""".stripMargin

  // ---- PII redaction ----

  /** Email + long-digit-run redaction. The synthetic corpus contains no
    * PII (verified: zero '@', zero 4+-digit runs), so both engines
    * append the SAME deterministic synthetic PII (an address derived
    * from doc_id; every third doc gets a second phone) — the regexes,
    * replacement order (emails first, so their digits never leak into
    * the number pass), and the md5 over the full redacted text are the
    * real operator under test. Scale shape: pure per-row map, no
    * shuffle before the final sort; regexes are codegen'd string ops. */
  private def textPiiRedact(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%]+@[A-Za-z0-9.]+[.][A-Za-z]{2,}"
    val numRe = "[0-9]{6,}"
    t(s, d, "documents")
      .withColumn("full_text", concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or call "),
        (col("doc_id") * 7919 + 1000000).cast(StringType),
        when(col("doc_id") % 3 === 0, lit(" alt 5551234567")).otherwise(lit("")),
        lit(" now")))
      .withColumn("red",
        regexp_replace(regexp_replace(col("full_text"), emailRe, "<EMAIL>"),
          numRe, "<NUM>"))
      .select(col("doc_id"),
        regexp_count(col("full_text"), lit(emailRe)).as("n_emails"),
        regexp_count(col("full_text"), lit(numRe)).as("n_nums"),
        length(col("red")).as("red_len"),
        md5(col("red").cast(BinaryType)).as("red_md5"))
      .orderBy("doc_id")
  }

  private val oTextPiiRedact =
    """WITH d AS (SELECT doc_id,
      |    concat(text, ' contact user', doc_id, '@mail.example.com or call ',
      |           CAST(doc_id*7919 + 1000000 AS VARCHAR),
      |           CASE WHEN doc_id % 3 = 0 THEN ' alt 5551234567' ELSE '' END,
      |           ' now') AS full_text
      |  FROM documents),
      | r AS (SELECT doc_id, full_text,
      |    regexp_replace(
      |      regexp_replace(full_text, '[A-Za-z0-9._%]+@[A-Za-z0-9.]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{6,}', '<NUM>', 'g') AS red
      |  FROM d)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(full_text, '[A-Za-z0-9._%]+@[A-Za-z0-9.]+[.][A-Za-z]{2,}')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(full_text, '[0-9]{6,}')) AS INT) AS n_nums,
      |  CAST(length(red) AS INT) AS red_len,
      |  md5(red) AS red_md5
      |FROM r ORDER BY doc_id""".stripMargin

  // ---- time-series gap interpolation ----

  /** Linear interpolation over gaps in the per-event-type daily value
    * series. Observations are thinned to every third day (a pure
    * function of day number — both engines thin identically), a full
    * day spine is rebuilt with sequence(), and missing days get
    * pv + (nv-pv)*(d-pd)/(nd-pd) from the bracketing observations
    * (edges clamp to the nearest side). Scale shape: the four windows
    * are all PARTITION BY event_type over the tiny spine (series_count
    * × days — thousands of rows even at 100 TB of raw events); the
    * heavy groupBy to daily grain shuffles once on (type, day). */
  private def tsGapInterp(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val obs = ev
      .select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day_num"),
        col("value"))
      .groupBy("event_type", "day_num")
      .agg(sum4(col("value")).as("v"))
    val kept = obs.filter(col("day_num") % 3 === 0)
    val bounds = obs.agg(min("day_num").as("lo"), max("day_num").as("hi"))
    val spine = obs.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("day_num"))
    val wPrev = Window.partitionBy("event_type").orderBy("day_num")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("day_num")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("day_num"))
    spine.join(kept, Seq("event_type", "day_num"), "left")
      .withColumn("pv", last("v", ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("nv", first("v", ignoreNulls = true).over(wNext))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("day_num"),
        when(col("v").isNotNull, 0).otherwise(1).as("interp"),
        trunc4(coalesce(col("v"),
          when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") +
              (col("nv") - col("pv")) * (col("day_num") - col("pd")) /
                (col("nd") - col("pd"))))).as("val"))
      .orderBy("event_type", "day_num")
  }

  private val oTsGapInterp =
    """WITH obs AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_num,
      |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      | kept AS (SELECT * FROM obs WHERE day_num % 3 = 0),
      | bounds AS (SELECT min(day_num) AS lo, max(day_num) AS hi FROM obs),
      | spine AS (SELECT et.event_type, gs.g AS day_num
      |   FROM (SELECT DISTINCT event_type FROM obs) et
      |   CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS g FROM bounds) gs),
      | j AS (SELECT s.event_type, s.day_num, k.v FROM spine s
      |       LEFT JOIN kept k ON k.event_type = s.event_type AND k.day_num = s.day_num),
      | w AS (SELECT *,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day_num
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN day_num END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY day_num
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day_num
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN day_num END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY day_num
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM j)
      |SELECT event_type, day_num,
      |  CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS interp,
      |  floor(coalesce(v,
      |    CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
      |         ELSE pv + (nv - pv) * (day_num - pd) / (nd - pd) END)*10000)/10000.0 AS val
      |FROM w ORDER BY event_type, day_num""".stripMargin

  // ---- correlated LATERAL subquery (per-group top-k in SQL text) ----

  /** Top-3 customers by account balance per nation, written as a
    * correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-text
    * spelling of per-group top-k. Spark decorrelates the limit into a
    * ranked window join (DecorrelateInnerQuery), so the physical plan
    * is the same single-shuffle window top-k as `topk_per_group`, not
    * a per-outer-row re-execution. */
  private def sqlLateralTopk(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM g_nation n JOIN LATERAL (
        |  SELECT c_name, c_acctbal FROM g_customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 3) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin)(
      "g_nation" -> t(s, d, "nation"), "g_customer" -> t(s, d, "customer"))
  }

  private val oSqlLateralTopk =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n JOIN LATERAL (
      |  SELECT c_name, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_name LIMIT 3) t ON true
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin

  // ---- small-file compaction (storage maintenance) ----

  /** The nightly lake-maintenance job: a 64-way write simulates the
    * small-file problem (at 100 TB this is thousands of KB-sized files
    * per partition bloating the NameNode/listing path and killing scan
    * throughput), then compaction rewrites into 4 event_type-hashed,
    * (event_type, ts)-sorted files. The query output aggregates the
    * COMPACTED copy; the oracle aggregates the ORIGINAL table — any
    * row lost, duplicated, or corrupted by the rewrite breaks the
    * hash. Round5bSpec gates the actual file-count collapse. */
  private def maintCompactFiles(s: SparkSession, d: String): DataFrame = {
    val dir = QRound3.staged(s, d, "compactm") { dir =>
      t(s, d, "events").repartition(64)
        .write.mode("overwrite").parquet(s"$dir/small")
      s.read.parquet(s"$dir/small")
        .repartition(4, col("event_type"))
        .sortWithinPartitions("event_type", "ts", "event_id")
        .write.mode("overwrite").parquet(s"$dir/compact")
    }
    s.read.parquet(s"$dir/compact")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum4(col("value")).as("sum_value"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  private val oMaintCompactFiles =
    s"""SELECT event_type, count(*) AS n,
       |  ${oSum4("value")} AS sum_value,
       |  min(event_id) AS min_id, max(event_id) AS max_id
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- null-aware NOT IN (the three-valued-logic join surface) ----

  /** NOT IN vs NOT EXISTS is THE classic SQL semantics trap: one NULL in
    * the subquery list makes `x NOT IN (...)` UNKNOWN for every row —
    * the correct answer is empty, and an engine that plans a plain anti
    * join silently returns the wrong set. One row, four counts: the
    * null-free NOT IN (a real anti join), the with-null NOT IN (must be
    * 0), the with-null IN (null rows simply never match), and the null
    * count itself. Scale shape: Spark plans the single-key NOT IN as a
    * broadcast null-aware anti join (the list side is an aggregate —
    * tiny); no O(N²) fallback. */
  private def sqlNotInNull(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """WITH withnull AS (
        |  SELECT CASE WHEN o_totalprice > 200000 THEN NULL ELSE o_custkey END AS k
        |  FROM g_orders WHERE o_orderpriority = '1-URGENT')
        |SELECT
        |  (SELECT count(*) FROM g_customer WHERE c_custkey NOT IN
        |     (SELECT o_custkey FROM g_orders
        |      WHERE o_orderpriority = '1-URGENT')) AS n_anti_nullfree,
        |  (SELECT count(*) FROM g_customer
        |   WHERE c_custkey NOT IN (SELECT k FROM withnull)) AS n_anti_withnull,
        |  (SELECT count(*) FROM g_customer
        |   WHERE c_custkey IN (SELECT k FROM withnull)) AS n_semi_withnull,
        |  (SELECT count(*) FROM withnull WHERE k IS NULL) AS n_nulls""".stripMargin)(
      "g_orders" -> t(s, d, "orders"), "g_customer" -> t(s, d, "customer"))
  }

  private val oSqlNotInNull =
    """WITH withnull AS (
      |  SELECT CASE WHEN o_totalprice > 200000 THEN NULL ELSE o_custkey END AS k
      |  FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT
      |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
      |     (SELECT o_custkey FROM orders
      |      WHERE o_orderpriority = '1-URGENT')) AS n_anti_nullfree,
      |  (SELECT count(*) FROM customer
      |   WHERE c_custkey NOT IN (SELECT k FROM withnull)) AS n_anti_withnull,
      |  (SELECT count(*) FROM customer
      |   WHERE c_custkey IN (SELECT k FROM withnull)) AS n_semi_withnull,
      |  (SELECT count(*) FROM withnull WHERE k IS NULL) AS n_nulls""".stripMargin

  // ---- typed Dataset cogroup (the Dataset[T] API surface) ----

  /** Two-source reconciliation via the TYPED API: orders and events
    * cogrouped per key through `KeyValueGroupedDataset.cogroup` — the
    * Dataset[T] surface the DataFrame keys never touch, and the right
    * tool when per-key logic needs both sides' iterators at once.
    * Sums accumulate as exact 4-dp BigDecimal inside the cogroup
    * function (iterator order within a group is partition-dependent —
    * double += would be nondeterministic), matching sum4's decimal
    * spelling. Scale shape: one co-partitioned shuffle per side on the
    * uniform key, then per-key streaming iterators — no materialized
    * per-group collections. */
  private def dsCogroupStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = t(s, d, "orders")
      .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
    val e = t(s, d, "events")
      .select(col("user_id"), col("value")).as[(Long, Double)]
    def sum4bd(it: Iterator[(Long, Double)]): (Long, BigDecimal) =
      it.foldLeft((0L, BigDecimal(0))) { case ((n, acc), (_, v)) =>
        (n + 1,
          acc + BigDecimal.valueOf(v).setScale(4, BigDecimal.RoundingMode.HALF_UP))
      }
    o.groupByKey(_._1).cogroup(e.groupByKey(_._1)) { (k, os, es) =>
        val (no, so) = sum4bd(os)
        val (ne, se) = sum4bd(es)
        Iterator((k, no, so.toDouble, ne, se.toDouble))
      }
      .toDF("k", "n_orders", "sum_orders", "n_events", "sum_events")
      .orderBy("k")
  }

  private val oDsCogroupStats =
    s"""WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders,
       |           ${oSum4("o_totalprice")} AS sum_orders
       |           FROM orders GROUP BY 1),
       |     e AS (SELECT user_id AS k, count(*) AS n_events,
       |           ${oSum4("value")} AS sum_events
       |           FROM events GROUP BY 1)
       |SELECT coalesce(o.k, e.k) AS k,
       |  coalesce(n_orders, 0) AS n_orders,
       |  coalesce(sum_orders, 0.0) AS sum_orders,
       |  coalesce(n_events, 0) AS n_events,
       |  coalesce(sum_events, 0.0) AS sum_events
       |FROM o FULL JOIN e ON o.k = e.k ORDER BY k""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_sessionize_batch" -> chpSessionizeBatch _,
    "agg_mode_median"      -> aggModeMedian _,
    "text_pii_redact"      -> textPiiRedact _,
    "ts_gap_interp"        -> tsGapInterp _,
    "sql_lateral_topk"     -> sqlLateralTopk _,
    "maint_compact_files"  -> maintCompactFiles _,
    "sql_not_in_null"      -> sqlNotInNull _,
    "ds_cogroup_stats"     -> dsCogroupStats _)

  val oracles: Map[String, String] = Map(
    "chp_sessionize_batch" -> oChpSessionizeBatch,
    "agg_mode_median"      -> oAggModeMedian,
    "text_pii_redact"      -> oTextPiiRedact,
    "ts_gap_interp"        -> oTsGapInterp,
    "sql_lateral_topk"     -> oSqlLateralTopk,
    "maint_compact_files"  -> oMaintCompactFiles,
    "sql_not_in_null"      -> oSqlNotInNull,
    "ds_cogroup_stats"     -> oDsCogroupStats)
}
