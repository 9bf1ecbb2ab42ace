package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-4 coverage: the remaining pipeline stages a 100 TB training-data
  * engine needs beyond individual operators.
  *
  *  - `dedup_cc_cluster`: connected components over the LSH near-dup pair
  *    graph — the final stage of the dedup pipeline (pairs → clusters →
  *    canonical-doc election). Union-find on the driver under the state
  *    gate; above it iterative min-label propagation, the standard
  *    distributed CC recipe (cf. "hash-to-min", Rastogi et al.).
  *  - `chp_funnel_steps`: ordered funnel conversion (view → click →
  *    signup → purchase) per user — MorphL-style behavioral analytics.
  *  - `chp_retention_cohort`: monthly cohort retention matrix over orders.
  *  - `profile_columns`: per-column data-quality profile (count / nulls /
  *    distinct / min / max / sum) — the pre-flight audit every ingest runs.
  *  - `sample_stratified_hash`: deterministic per-stratum hash sampling —
  *    reproducible train/eval splits without RNG state.
  *  - `join_interval_bucket`: point-in-interval join via time-bucketed
  *    equi-keys — the scalable spelling of an interval join.
  */
object QRound4 extends QueryPack {

  // ---- connected-components dedup clustering ----

  /** Cluster the LSH near-duplicate pairs (QText.dedup_lsh_pairs, jaccard
    * ≥ 0.8) into connected components and elect the minimum doc_id as each
    * cluster's canonical document; singleton docs are their own cluster.
    *
    * Labels are model state, memoized per (session, sfDir) via graft.Memo:
    * one shared entry per session instead of one per call. Under the state
    * gate (`graft.graph.broadcastStateMaxRows` edges, [[StateGate]]) the
    * pair graph is collected in one job and labeled by driver-side
    * union-find; the entry is then a local relation, with no cached blocks
    * to lose. Over it, ConnectedComponents runs distributed min-label
    * propagation (one equi-join + one combining groupBy per round, a
    * label-sum fixpoint test) and the entry is its localCheckpointed
    * result. Same labels either way. */
  private[operators] def ccLabels(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "cc", d)(
      ConnectedComponents.labels(
        QText.lshPairsPersisted(s, d)
          .select(col("a_id").as("src"), col("b_id").as("dst"))))

  private def dedupCcCluster(s: SparkSession, d: String): DataFrame = {
    val lab = ccLabels(s, d)
    val comp = lab.withColumnRenamed("id", "doc_id")
    val assigned = t(s, d, "documents").select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster_id"))
    assigned
      .withColumn("n_cluster",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), col("cluster_id"),
        (col("cluster_id") === col("doc_id")).cast(IntegerType).as("is_canon"),
        col("n_cluster"))
      .orderBy("doc_id")
  }

  private val oDedupCcCluster = {
    val oPairs = QText.oracles("dedup_lsh_pairs")
    s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($oPairs)),
       |  e AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |        UNION ALL SELECT b_id, a_id FROM pairs),
       |  reach(src, dst) AS (
       |    SELECT src, dst FROM e
       |    UNION
       |    SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       |  comp AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src),
       |  m AS (SELECT d.doc_id,
       |          coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id
       |        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
       |SELECT doc_id, cluster_id,
       |  CAST(cluster_id = doc_id AS INT) AS is_canon,
       |  count(*) OVER (PARTITION BY cluster_id) AS n_cluster
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // ---- ordered funnel conversion ----

  /** Per-user ordered funnel: first view, first click within 48 h AFTER
    * that view, first signup within 48 h after that click, first purchase
    * within 48 h after that signup. The 48 h conversion window is what
    * makes depth discriminating — with no window, every user on this data
    * eventually converts (probed: depth 4 for all 150 users).
    * Each stage is one filtered aggregate joined on user_id — at scale all
    * four stage tables shuffle on the same uniform user_id key (AQE
    * coalesces the tiny ones), and no window-over-everything is needed.
    * depth = number of stages reached, in order. */
  private def chpFunnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select("user_id", "event_type", "ts")
    def stage(typ: String, prev: DataFrame, prevCol: String, as: String) =
      ev.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col(prevCol)), "user_id")
        .filter(col("ts") > col(prevCol) &&
          col("ts") < col(prevCol) + expr("INTERVAL 48 HOUR"))
        .groupBy("user_id").agg(min("ts").as(as))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val t2 = stage("click", t1, "t_view", "t_click")
    val t3 = stage("signup", t2, "t_click", "t_signup")
    val t4 = stage("purchase", t3, "t_signup", "t_purchase")
    ev.select("user_id").distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .join(t4, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_signup"), col("t_purchase"),
        (col("t_view").isNotNull.cast(IntegerType) +
         col("t_click").isNotNull.cast(IntegerType) +
         col("t_signup").isNotNull.cast(IntegerType) +
         col("t_purchase").isNotNull.cast(IntegerType)).as("depth"))
      .orderBy("user_id")
  }

  private val oChpFunnelSteps =
    """WITH t1 AS (SELECT user_id, min(ts) AS t_view FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |  t2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
      |         JOIN t1 ON e.user_id = t1.user_id
      |         WHERE e.event_type = 'click' AND e.ts > t1.t_view
      |           AND e.ts < t1.t_view + INTERVAL 48 HOUR
      |         GROUP BY e.user_id),
      |  t3 AS (SELECT e.user_id, min(e.ts) AS t_signup FROM events e
      |         JOIN t2 ON e.user_id = t2.user_id
      |         WHERE e.event_type = 'signup' AND e.ts > t2.t_click
      |           AND e.ts < t2.t_click + INTERVAL 48 HOUR
      |         GROUP BY e.user_id),
      |  t4 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      |         JOIN t3 ON e.user_id = t3.user_id
      |         WHERE e.event_type = 'purchase' AND e.ts > t3.t_signup
      |           AND e.ts < t3.t_signup + INTERVAL 48 HOUR
      |         GROUP BY e.user_id),
      |  u AS (SELECT DISTINCT user_id FROM events)
      |SELECT u.user_id, t1.t_view, t2.t_click, t3.t_signup, t4.t_purchase,
      |  CAST(t1.user_id IS NOT NULL AS INT) + CAST(t2.user_id IS NOT NULL AS INT)
      |  + CAST(t3.user_id IS NOT NULL AS INT) + CAST(t4.user_id IS NOT NULL AS INT)
      |  AS depth
      |FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
      |  LEFT JOIN t2 ON u.user_id = t2.user_id
      |  LEFT JOIN t3 ON u.user_id = t3.user_id
      |  LEFT JOIN t4 ON u.user_id = t4.user_id
      |ORDER BY u.user_id""".stripMargin

  // ---- action-sequence mining (behavioral n-grams) ----

  /** Consecutive action pairs per user (event-type bigrams over the
    * ts-ordered stream) counted corpus-wide, with distinct-user support —
    * the classic behavioral-sequence feature (what did users do right
    * before purchasing?). One window pass partitioned on uniform user_id,
    * then a 25-key aggregate; no self-join against the stream. */
  private def chpActionBigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("from_type", "to_type")
  }

  private val oChpActionBigrams =
    """WITH s AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type AS from_type, next_type AS to_type,
      |  count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM s WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  // ---- monthly cohort retention ----

  /** Cohort = a customer's first order month (as year*12+month-1); each
    * order contributes to (cohort, month offset). One aggregate to find
    * cohorts, one broadcast-able join back (the per-customer first-month
    * table is |customers| rows — tiny next to the orders fact), one final
    * aggregate. The classic retention matrix, unpivoted to rows. */
  private def chpRetentionCohort(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(
      col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("ym"),
      col("o_totalprice"))
    val firstYm = o.groupBy("o_custkey").agg(min("ym").as("cohort_ym"))
    o.join(firstYm, "o_custkey")
      .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("offset_m"))
      .agg(count_distinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum4(col("o_totalprice")).as("sum_price"))
      .orderBy("cohort_ym", "offset_m")
  }

  private val oChpRetentionCohort =
    s"""WITH o AS (SELECT o_custkey,
       |    year(o_orderdate)*12 + month(o_orderdate) - 1 AS ym, o_totalprice
       |  FROM orders),
       |  f AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey)
       |SELECT CAST(f.cohort_ym AS INT) AS cohort_ym,
       |  CAST(o.ym - f.cohort_ym AS INT) AS offset_m,
       |  count(DISTINCT o.o_custkey) AS n_customers,
       |  count(*) AS n_orders,
       |  ${oSum4("o.o_totalprice")} AS sum_price
       |FROM o JOIN f ON o.o_custkey = f.o_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- per-column data profiling ----

  /** Column profile of lineitem's measures: row count, null count, exact
    * distinct count, min/max, exact decimal sum — spelled as one aggregate
    * branch per column, unioned (NOT a stack/unpivot: the inline comment
    * below records the measured reason). Each branch is an independent
    * single-column scan + global aggregate; the branches' distinct
    * shuffles stay per-column, so one wide column cannot hot-spot a
    * reducer shared with the others. */
  private def profileColumns(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = t(s, d, "lineitem")
    // one aggregate branch per column, unioned: each branch's parquet scan
    // prunes to a SINGLE column (a stack/unpivot spelling reads all four
    // into a 4N-row expand before aggregating — measured ~3x slower), and
    // the branches' distinct shuffles stay per-column, so one wide column
    // cannot hot-spot a reducer shared with the others
    cols.map { c =>
      li.select(col(c).as("val"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("val"))).as("n_null"),
          count_distinct(col("val")).as("n_distinct"),
          min(col("val")).as("v_min"),
          max(col("val")).as("v_max"),
          sum4(col("val")).as("v_sum"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("v_min"), col("v_max"), col("v_sum"))
    }.reduce(_ unionByName _)
      .orderBy("col_name")
  }

  private val oProfileColumns = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val unions = cols.map(c => s"SELECT '$c' AS col_name, $c AS val FROM lineitem")
      .mkString("\n  UNION ALL ")
    s"""WITH u AS ($unions)
       |SELECT col_name, count(*) AS n_rows,
       |  count(*) - count(val) AS n_null,
       |  count(DISTINCT val) AS n_distinct,
       |  min(val) AS v_min, max(val) AS v_max,
       |  ${oSum4("val")} AS v_sum
       |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin
  }

  // ---- deterministic stratified hash sampling ----

  /** Reproducible ~10% sample per stratum (order priority) with NO RNG:
    * keep rows whose md5(o_orderkey) mod 10 == 0. Unlike seeded sample(),
    * the decision is a pure row function — stable across partitioning,
    * retries, and engines (the oracle recomputes it exactly). Per stratum:
    * true count, sample count, sampled sum, true sum, realized rate. */
  private def sampleStratifiedHash(s: SparkSession, d: String): DataFrame = {
    val h = md5Prefix(col("o_orderkey").cast(StringType).cast(BinaryType), 8)
      .cast(LongType) % 10
    t(s, d, "orders")
      .withColumn("keep", h === 0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_total"),
        sum(col("keep").cast(LongType)).as("n_sample"),
        sum(when(col("keep"), dec4(col("o_totalprice")))).cast(DoubleType)
          .as("sum_sample"),
        sum4(col("o_totalprice")).as("sum_total"))
      .withColumn("rate", trunc4(col("n_sample").cast(DoubleType) / col("n_total")))
      .orderBy("o_orderpriority")
  }

  private val oSampleStratifiedHash =
    s"""WITH o AS (SELECT *,
       |    ${oMd5Prefix("CAST(o_orderkey AS VARCHAR)", 8)} % 10 = 0 AS keep
       |  FROM orders)
       |SELECT o_orderpriority, count(*) AS n_total,
       |  CAST(SUM(CAST(keep AS BIGINT)) AS BIGINT) AS n_sample,
       |  CAST(SUM(CASE WHEN keep THEN CAST(o_totalprice AS DECIMAL(18,4)) END)
       |    AS DOUBLE) AS sum_sample,
       |  ${oSum4("o_totalprice")} AS sum_total,
       |  ${oTrunc4("CAST(SUM(CAST(keep AS BIGINT)) AS DOUBLE) / count(*)")} AS rate
       |FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- SCD type-2 interval build (versioned history) ----

  /** Slowly-changing-dimension type-2 build: each purchase event is a new
    * version of its user's value; emit validity intervals
    * [valid_from, valid_to) via one `lead` window pass (open interval +
    * is_current flag on the latest). The warehouse-standard versioned-
    * history shape next to `upsert_latest`'s latest-wins compaction.
    * One shuffle on uniform user_id; no self-join against history. */
  private def upsertScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("valid_from"),
        col("event_id"), col("value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .select(col("user_id"), col("valid_from"), col("valid_to"),
        col("value"),
        col("valid_to").isNull.cast(IntegerType).as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  private val oUpsertScd2 =
    """SELECT user_id, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |  value,
      |  CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    IS NULL AS INT) AS is_current
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY user_id, valid_from""".stripMargin

  // ---- corpus dedup-rate report ----

  /** Per-(lang, source) duplication report over the CANONICAL fingerprint
    * (md5 of the sorted distinct token set — same construction as
    * text_fingerprint): docs, distinct fingerprints, dup count and ratio —
    * the dashboard number a dedup pipeline is run for. The raw-text digest
    * would be non-discriminating here (this corpus has no byte-exact dups
    * at sf0.01; fingerprints collide 446/500 — probed). One pass,
    * two-phase distinct on uniform md5 keys — skew-free, no pair
    * enumeration. */
  private def dedupSummaryExact(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("lang"), col("source"),
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
          .cast(BinaryType)).as("h"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("h")).as("n_unique"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dups"),
        trunc4((col("n_docs") - col("n_unique")).cast(DoubleType) / col("n_docs"))
          .as("dup_ratio"))
      .orderBy("lang", "source")

  private val oDedupSummaryExact =
    s"""WITH g AS (SELECT lang, source, count(*) AS n_docs,
       |    count(DISTINCT md5(array_to_string(
       |      list_sort(list_distinct(string_split(text,' '))), ' '))) AS n_unique
       |  FROM documents GROUP BY lang, source)
       |SELECT lang, source, n_docs, n_unique,
       |  n_docs - n_unique AS n_dups,
       |  ${oTrunc4("CAST(n_docs - n_unique AS DOUBLE) / n_docs")} AS dup_ratio
       |FROM g ORDER BY lang, source""".stripMargin

  // ---- composed corpus-cleaning pipeline (quality gate → dedup → stats) ----

  /** The end-to-end shape every training-corpus build runs, composed as ONE
    * query: quality gate (length + token-count thresholds) → canonical-
    * fingerprint dedup (min doc_id survives per fingerprint, globally) →
    * per-(lang, source) retention funnel (n_in → n_quality → n_final with
    * kept ratio). Every stage is map-side or one uniform-key shuffle
    * (fingerprint row_number, group counts); the three stage-counts join
    * back on the tiny (lang, source) key. */
  private def pipelineCorpusClean(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .withColumn("n_toks", size(split(col("text"), " ")))
    val quality = docs.filter(col("n_chars") >= 150 && col("n_toks") >= 30)
    val fp = quality.withColumn("fp",
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
        .cast(BinaryType)))
    val wFp = Window.partitionBy("fp").orderBy("doc_id")
    val kept = fp.withColumn("rn", row_number().over(wFp))
      .filter(col("rn") === 1)
    val s1 = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_in"))
    val s2 = quality.groupBy("lang", "source").agg(count(lit(1)).as("n_quality"))
    val s3 = kept.groupBy("lang", "source").agg(count(lit(1)).as("n_final"))
    s1.join(s2, Seq("lang", "source"), "left")
      .join(s3, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_in"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        trunc4(coalesce(col("n_final"), lit(0L)).cast(DoubleType) / col("n_in"))
          .as("kept_ratio"))
      .orderBy("lang", "source")
  }

  private val oPipelineCorpusClean =
    s"""WITH d AS (SELECT *, CAST(len(string_split(text,' ')) AS INT) AS n_toks,
       |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
       |  FROM documents),
       |  q AS (SELECT * FROM d WHERE n_chars >= 150 AND n_toks >= 30),
       |  k AS (SELECT * FROM (SELECT *, row_number() OVER (
       |      PARTITION BY fp ORDER BY doc_id) AS rn FROM q) WHERE rn = 1),
       |  s1 AS (SELECT lang, source, count(*) AS n_in FROM d GROUP BY 1, 2),
       |  s2 AS (SELECT lang, source, count(*) AS n_quality FROM q GROUP BY 1, 2),
       |  s3 AS (SELECT lang, source, count(*) AS n_final FROM k GROUP BY 1, 2)
       |SELECT s1.lang, s1.source, s1.n_in,
       |  coalesce(s2.n_quality, 0) AS n_quality,
       |  coalesce(s3.n_final, 0) AS n_final,
       |  ${oTrunc4("CAST(coalesce(s3.n_final, 0) AS DOUBLE) / s1.n_in")} AS kept_ratio
       |FROM s1 LEFT JOIN s2 ON s1.lang = s2.lang AND s1.source = s2.source
       |  LEFT JOIN s3 ON s1.lang = s3.lang AND s1.source = s3.source
       |ORDER BY s1.lang, s1.source""".stripMargin

  // ---- time-series gap fill (forward fill over a date spine) ----

  /** Per-user daily purchase value, gap-filled: build the (user × day)
    * grid over the observed global date range, left-join the observed
    * daily sums, forward-fill missing days from the last observed value
    * (`last(..., ignoreNulls)` over a rows-unbounded-preceding frame —
    * nulls remain before a user's first observation). The standard
    * time-series regularization step before any windowed feature.
    * Scale shape: the spine is tiny (days) and broadcast into the grid
    * cross join; the fill is one window pass partitioned on uniform
    * user_id — never a self-join per gap. */
  private def tsFillForward(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val daily = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(sum4(col("value")).as("v_obs"))
    val spine = ev.agg(date_trunc("DAY", min(col("ts"))).as("lo"),
        date_trunc("DAY", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 DAY"))).as("day"))
    val grid = ev.select("user_id").distinct().crossJoin(broadcast(spine))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        col("v_obs").isNotNull.cast(IntegerType).as("is_observed"),
        last(col("v_obs"), ignoreNulls = true).over(w).as("v_filled"))
      .orderBy("user_id", "day")
  }

  private val oTsFillForward =
    s"""WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
       |    ${oSum4("value")} AS v_obs
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
       |  b AS (SELECT date_trunc('day', min(ts)) AS lo,
       |          date_trunc('day', max(ts)) AS hi FROM events),
       |  spine AS (SELECT unnest(generate_series((SELECT lo FROM b),
       |    (SELECT hi FROM b), INTERVAL 1 DAY)) AS day),
       |  grid AS (SELECT u.user_id, CAST(s.day AS TIMESTAMP) AS day
       |    FROM (SELECT DISTINCT user_id FROM events) u, spine s)
       |SELECT g.user_id, g.day,
       |  CAST(d.v_obs IS NOT NULL AS INT) AS is_observed,
       |  last_value(d.v_obs IGNORE NULLS) OVER (
       |    PARTITION BY g.user_id ORDER BY g.day
       |    ROWS UNBOUNDED PRECEDING) AS v_filled
       |FROM grid g LEFT JOIN daily d
       |  ON g.user_id = d.user_id AND g.day = d.day
       |ORDER BY g.user_id, g.day""".stripMargin

  // ---- deterministic correlation via exact moments ----

  /** Pearson correlation of quantity vs extended price per return flag,
    * computed from EXACT decimal moment sums (Σx, Σy, Σxy, Σx², Σy² — the
    * inputs are true 2-dp values, so the 4-dp products are exact and the
    * decimal sums are order-independent), then one fixed scalar double
    * formula. The native `corr()` streams double accumulators whose
    * reduce order varies with partitioning — not hash-stable across
    * engines or cluster sizes; this spelling is bit-deterministic at any
    * parallelism: the only doubles are post-aggregation scalars, and both
    * engines run the identical IEEE op sequence on them. One partial-
    * aggregable pass, same cost class as the plain sums. */
  private def aggCorrMoments(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sumDec4(x).as("sx"), sumDec4(y).as("sy"),
        sumProd8(x, y).as("sxy"),
        sumProd8(x, x).as("sxx"),
        sumProd8(y, y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        trunc6(
          (col("n").cast(DoubleType) * col("sxy").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
          / sqrt(col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
          / sqrt(col("n").cast(DoubleType) * col("syy").cast(DoubleType)
            - col("sy").cast(DoubleType) * col("sy").cast(DoubleType)))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  private val oAggCorrMoments = {
    def d4(c: String) = s"CAST($c AS DECIMAL(18,4))"
    // products cast at DECIMAL(19,4): forces DuckDB onto int128 storage
    // (its (18,4)×(18,4) multiply overflows int64); the values are
    // identical exact decimals either way, matching Spark's (37,8)
    def d4w(c: String) = s"CAST($c AS DECIMAL(19,4))"
    s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
       |    CAST(SUM(${d4("l_quantity")}) AS DOUBLE) AS sx,
       |    CAST(SUM(${d4("l_extendedprice")}) AS DOUBLE) AS sy,
       |    CAST(SUM(${d4w("l_quantity")} * ${d4w("l_extendedprice")}) AS DOUBLE) AS sxy,
       |    CAST(SUM(${d4w("l_quantity")} * ${d4w("l_quantity")}) AS DOUBLE) AS sxx,
       |    CAST(SUM(${d4w("l_extendedprice")} * ${d4w("l_extendedprice")}) AS DOUBLE) AS syy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  ${oTrunc6("(CAST(n AS DOUBLE) * sxy - sx * sy) " +
                    "/ sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) " +
                    "/ sqrt(CAST(n AS DOUBLE) * syy - sy * sy)")} AS corr_qty_price
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  // ---- point-in-interval join via bucketed equi-keys ----

  /** Clicks landing inside any (same-user) 1-hour post-purchase window.
    * The naive spelling is a range-only theta join; the scalable spelling
    * bucketizes time: each 1-hour window covers ≤ 2 hour buckets
    * (sequence + explode — bounded 2× blowup of the SMALL interval side),
    * each point maps to exactly 1 bucket, and the join becomes pure equi
    * on (user_id, bucket) with the exact range as a cheap residual. Equal
    * semantics, but shuffle keys are now fine-grained and uniform — no
    * 25-way parallelism ceiling, no per-key O(G²). A click inside two
    * overlapping windows pairs once per window but lives in one bucket, so
    * no bucket-induced duplicates exist. */
  private def joinIntervalBucket(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val win = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      .withColumn("bucket", explode(sequence(
        date_trunc("HOUR", col("w_start")), date_trunc("HOUR", col("w_end")),
        expr("INTERVAL 1 HOUR"))))
    val pts = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withColumn("bucket", date_trunc("HOUR", col("c_ts")))
    win.join(pts, Seq("user_id", "bucket"))
      .filter(col("c_ts") > col("w_start") && col("c_ts") < col("w_end"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("c_id")).as("n_clicks"),
        count_distinct(col("p_id")).as("n_windows_hit"))
      .orderBy("user_id")
  }

  private val oJoinIntervalBucket =
    """SELECT p.user_id, count(*) AS n_pairs,
      |  count(DISTINCT c.event_id) AS n_clicks,
      |  count(DISTINCT p.event_id) AS n_windows_hit
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      |  AND p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts > p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
      |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "dedup_cc_cluster"       -> dedupCcCluster _,
    "chp_funnel_steps"       -> chpFunnelSteps _,
    "chp_retention_cohort"   -> chpRetentionCohort _,
    "chp_action_bigrams"     -> chpActionBigrams _,
    "upsert_scd2"            -> upsertScd2 _,
    "dedup_summary_fingerprint"    -> dedupSummaryExact _,
    "pipeline_corpus_clean"  -> pipelineCorpusClean _,
    "profile_columns"        -> profileColumns _,
    "sample_stratified_hash" -> sampleStratifiedHash _,
    "agg_corr_moments"       -> aggCorrMoments _,
    "ts_fill_forward"        -> tsFillForward _,
    "join_interval_bucket"   -> joinIntervalBucket _)

  val oracles: Map[String, String] = Map(
    "dedup_cc_cluster"       -> oDedupCcCluster,
    "chp_funnel_steps"       -> oChpFunnelSteps,
    "chp_retention_cohort"   -> oChpRetentionCohort,
    "chp_action_bigrams"     -> oChpActionBigrams,
    "upsert_scd2"            -> oUpsertScd2,
    "dedup_summary_fingerprint"    -> oDedupSummaryExact,
    "pipeline_corpus_clean"  -> oPipelineCorpusClean,
    "profile_columns"        -> oProfileColumns,
    "sample_stratified_hash" -> oSampleStratifiedHash,
    "agg_corr_moments"       -> oAggCorrMoments,
    "ts_fill_forward"        -> oTsFillForward,
    "join_interval_bucket"   -> oJoinIntervalBucket)
}
