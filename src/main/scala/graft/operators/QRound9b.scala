package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave (SURVEY §2.27) — the analytics/curation surface a
  * churn platform + training-data pipeline still lacked after §2.26:
  *
  *  - `chp_survival_km`: Kaplan–Meier survival of inter-event waiting time
  *    (time-to-next-event, right-censored at the observation window end) —
  *    the classic survival analytic beside retention cohorts and streaks.
  *  - `ts_changepoint_cusum`: CUSUM changepoint chart over per-type daily
  *    event counts, entirely in exact integer arithmetic.
  *  - `ts_autocorr_lag`: lag-1 autocorrelation of the same daily series via
  *    exact integer moments (the `agg_corr_moments` determinism pattern).
  *  - `win_mad_outlier`: robust median/MAD outlier counts per group (the
  *    robust twin of `ts_anomaly_zscore`'s mean/stddev).
  *  - `sample_reservoir_weighted`: deterministic weighted sampling without
  *    replacement (Efraimidis–Spirakis A-ES, hash-derived uniforms).
  *  - `text_c4_filters`: C4-style per-document heuristic rule bitmask
  *    (Raffel et al. 2020) — the rule-level filter the rollup-level
  *    `pipeline_corpus_clean` doesn't expose.
  *  - `graph_bfs_distance`: multi-source BFS hop distance over the kNN
  *    similarity graph (reachability beside PageRank/LPA/CC/triangles).
  *  - `mm_channel_stats`: per-channel (RGB) image statistics from the real
  *    PPM decode path — color-balance features for multimodal curation.
  */
object QRound9b extends QueryPack {

  // ---- chp_survival_km: Kaplan–Meier time-to-next-event ----

  /** Hours a user waits before their next event; the last (open) gap per
    * user is right-censored at the global window end. Probed at sf0.01:
    * 9850 observed + 150 censored gaps over 79 distinct hour buckets —
    * and the bucket count is bounded by the observation WINDOW length in
    * hours (domain-bounded model state), not by the corpus size. */
  private[graft] def kmGaps(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val mx = e.agg(max(col("us")).as("wend"))
    e.withColumn("nxt", lead(col("us"), 1).over(w))
      .join(broadcast(mx))
      .select(
        expr("(coalesce(nxt, wend) - us) div 3600000000").as("t"),
        when(col("nxt").isNull, lit(0L)).otherwise(lit(1L)).as("ev"))
  }

  /** Kaplan–Meier estimate over the gap table: per distinct duration t,
    * events d_t / censored c_t, at-risk n_t = Σ_{t'≥t}(d+c), hazard
    * d_t/n_t, survival Π_{t'≤t}(1 − d/n) (log-space; a d==n bucket forces
    * survival 0 from there on — the ln(0) branch is guarded in BOTH
    * engines, DuckDB raises on ln(0)).
    *
    * Scale shape: the gap table is one partitioned window pass; the KM
    * table is DOMAIN-bounded (≤ window-hours rows), so both cumulative
    * sums are spelled as bounded triangular joins over the ~80-row
    * aggregate — the `join_theta_range` pair-bound pattern — never a
    * global window (the inventory-wide PlanSpec gate) and never a second
    * pass over the events. */
  private[graft] def survivalKm(events: DataFrame): DataFrame = {
    val gaps = kmGaps(events)
    val lt = gaps.groupBy("t").agg(
      sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val tot = gaps.agg(count(lit(1)).as("n"))
    // broadcast() on the ~80-row side: without the hint Spark has no size
    // stats for the aggregate and plans the non-equi join as a
    // CartesianProduct (both sides shuffled to one stream) instead of a
    // BroadcastNestedLoopJoin — caught by the PlanSpec gate
    val cum = lt.select(col("t"))
      .join(broadcast(lt.select(col("t").as("t2"),
        (col("d") + col("c")).as("dc"))),
        col("t2") < col("t"), "left")
      .groupBy("t").agg(coalesce(sum(col("dc")), lit(0L)).as("cum_prev"))
    val risk = lt.join(cum, "t").join(broadcast(tot))
      .select(col("t"), col("d"), col("c"),
        (col("n") - col("cum_prev")).as("n_risk"))
    val terms = risk.select(col("t").as("t2"),
      when(col("d") < col("n_risk"),
        log((col("n_risk") - col("d")).cast(DoubleType)
          / col("n_risk").cast(DoubleType))).as("lnterm"),
      when(col("d") >= col("n_risk"), lit(1)).otherwise(lit(0)).as("z"))
    risk.join(broadcast(terms), col("t2") <= col("t"))
      .groupBy("t", "d", "c", "n_risk")
      .agg(max(col("z")).as("anyz"), sum(col("lnterm")).as("ls"))
      .select(col("t"), col("n_risk"), col("d").as("n_event"),
        col("c").as("n_censored"),
        trunc6(col("d").cast(DoubleType) / col("n_risk").cast(DoubleType))
          .as("hazard"),
        when(col("anyz") === 1, lit(0.0))
          .otherwise(trunc4(exp(col("ls")))).as("survival"))
      .orderBy("t")
  }

  private def chpSurvivalKm(s: SparkSession, d: String): DataFrame =
    survivalKm(t(s, d, "events"))

  private val oChpSurvivalKm =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
       |mx AS (SELECT max(us) AS wend FROM e),
       |g AS (SELECT (coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id), wend) - us) // 3600000000 AS t,
       |        CASE WHEN lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL THEN 0 ELSE 1 END AS ev
       |      FROM e, mx),
       |lt AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c FROM g GROUP BY t),
       |tot AS (SELECT count(*) AS n FROM g),
       |cum AS (SELECT a.t, coalesce(CAST(sum(b.d + b.c) AS BIGINT), 0) AS cum_prev
       |        FROM lt a LEFT JOIN lt b ON b.t < a.t GROUP BY a.t),
       |risk AS (SELECT lt.t, lt.d, lt.c, n - cum_prev AS n_risk
       |         FROM lt JOIN cum ON cum.t = lt.t, tot),
       |terms AS (SELECT t AS t2,
       |    CASE WHEN d < n_risk THEN ln(CAST(n_risk - d AS DOUBLE)/CAST(n_risk AS DOUBLE)) END AS lnterm,
       |    CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS z FROM risk)
       |SELECT r.t, r.n_risk, r.d AS n_event, r.c AS n_censored,
       |  ${oTrunc6("CAST(r.d AS DOUBLE)/CAST(r.n_risk AS DOUBLE)")} AS hazard,
       |  CASE WHEN max(tm.z) = 1 THEN 0.0
       |       ELSE ${oTrunc4("exp(sum(tm.lnterm))")} END AS survival
       |FROM risk r JOIN terms tm ON tm.t2 <= r.t
       |GROUP BY r.t, r.n_risk, r.d, r.c ORDER BY r.t""".stripMargin

  // ---- shared per-type daily count series ----

  /** (event_type, day_num, cnt) — the daily series both time-series keys
    * consume; memoized + persisted (one events pass feeds two keys). One
    * map-side date-trunc + one uniform-key aggregate. */
  private[graft] def evDaily(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "evdaily", d)(
      t(s, d, "events")
        .select(col("event_type"),
          expr("unix_micros(cast(date_trunc('DAY', ts) as timestamp)) div 86400000000")
            .as("day_num"))
        .groupBy("event_type", "day_num").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private val oEvDaily =
    """SELECT event_type, epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
      |    count(*) AS cnt FROM events GROUP BY 1, 2""".stripMargin

  // ---- ts_changepoint_cusum ----

  /** CUSUM changepoint chart per event-type series, in EXACT integers:
    * the mean-centered cumulative sum Σ_{j≤i}(x_j − mean) scaled by
    * n_days (C_i = n·cumsum_i − i·total — no division ever happens), with
    * a flag where |C_i| exceeds 10% of the series mass (|C|·10 > n·total).
    * A level shift in the series walks C monotonically away from 0 — the
    * classic CUSUM signal — and every comparison is integer-exact in both
    * engines.
    *
    * Scale shape: the series table is one uniform-key aggregate; windows
    * are partitioned per event_type; per-type totals broadcast back. */
  private[graft] def cusum(daily: DataFrame): DataFrame = {
    val per = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"))
    val w = Window.partitionBy("event_type").orderBy("day_num")
    val c = col("n_days") * col("cum") - col("i") * col("total")
    daily.join(broadcast(per), "event_type")
      .withColumn("i", row_number().over(w).cast(LongType))
      .withColumn("cum", sum(col("cnt")).over(w))
      .select(col("event_type"), col("day_num"), col("cnt"),
        c.as("cusum_scaled"),
        (abs(c) * lit(10L) > col("n_days") * col("total")).as("flag"))
      .orderBy("event_type", "day_num")
  }

  private def tsChangepointCusum(s: SparkSession, d: String): DataFrame =
    cusum(evDaily(s, d))

  private val oTsChangepointCusum =
    s"""WITH daily AS ($oEvDaily),
       |per AS (SELECT event_type, count(*) AS n_days,
       |    CAST(sum(cnt) AS BIGINT) AS total FROM daily GROUP BY 1),
       |c AS (SELECT d.event_type, d.day_num, d.cnt,
       |    CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY d.day_num) AS BIGINT) AS i,
       |    CAST(sum(d.cnt) OVER (PARTITION BY d.event_type ORDER BY d.day_num) AS BIGINT) AS cum,
       |    p.n_days, p.total
       |  FROM daily d JOIN per p USING (event_type))
       |SELECT event_type, day_num, cnt,
       |  n_days * cum - i * total AS cusum_scaled,
       |  abs(n_days * cum - i * total) * 10 > n_days * total AS flag
       |FROM c ORDER BY event_type, day_num""".stripMargin

  // ---- ts_autocorr_lag ----

  /** Lag-1 autocorrelation of the per-type daily series — the burstiness /
    * persistence signal beside the EWMA and z-score keys. Pearson over
    * (x_i, x_{i-1}) pairs with EXACT integer moments (counts are longs, so
    * n·Σxy − Σx·Σy is exact; the `agg_corr_moments` pattern) and one
    * trunc6'd division at the end. Windows partitioned per event_type. */
  private[graft] def autocorrLag(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day_num")
    val dd = DoubleType
    daily.withColumn("y", lag(col("cnt"), 1).over(w))
      .filter(col("y").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cnt")).as("sx"), sum(col("y")).as("sy"),
        sum(col("cnt") * col("y")).as("sxy"),
        sum(col("cnt") * col("cnt")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n_pairs"),
        trunc6(
          (col("n_pairs").cast(dd) * col("sxy").cast(dd)
            - col("sx").cast(dd) * col("sy").cast(dd))
          / sqrt(col("n_pairs").cast(dd) * col("sxx").cast(dd)
            - col("sx").cast(dd) * col("sx").cast(dd))
          / sqrt(col("n_pairs").cast(dd) * col("syy").cast(dd)
            - col("sy").cast(dd) * col("sy").cast(dd)))
          .as("autocorr_lag1"))
      .orderBy("event_type")
  }

  private def tsAutocorrLag(s: SparkSession, d: String): DataFrame =
    autocorrLag(evDaily(s, d))

  private val oTsAutocorrLag =
    s"""WITH daily AS ($oEvDaily),
       |p AS (SELECT event_type, cnt AS x,
       |    lag(cnt) OVER (PARTITION BY event_type ORDER BY day_num) AS y
       |  FROM daily),
       |m AS (SELECT event_type, count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
       |    CAST(sum(y*y) AS BIGINT) AS syy
       |  FROM p WHERE y IS NOT NULL GROUP BY event_type)
       |SELECT event_type, n AS n_pairs,
       |  ${oTrunc6("(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) " +
                    "/ sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) " +
                    "/ sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)")} AS autocorr_lag1
       |FROM m ORDER BY event_type""".stripMargin

  // ---- win_mad_outlier ----

  /** Robust outlier counts per order priority: exact median of
    * o_totalprice, MAD (median absolute deviation), and |x − med| > 3·MAD
    * counts. The robust twin of the mean/stddev z-score keys — one wild
    * order can't move the fence. Exactness: 2-dp money doubles subtract
    * exactly, both engines interpolate even-count medians as (a+b)/2 (an
    * exact halving), and 3·MAD is a single identical rounding — so the
    * strict > cut lands identically with no trunc needed.
    *
    * Scale note: exact per-group medians sort within groups (the
    * `agg_mode_median` precedent); at lake scale the same query swaps in
    * approx_percentile — the engine keeps the exact spelling because the
    * key IS the exact semantics. Group keys are the 5 priorities; both
    * median passes and the fence count are per-group aggregates with the
    * tiny 5-row model tables broadcast back. */
  private[graft] def madOutlier(orders: DataFrame): DataFrame = {
    val g = orders.groupBy("o_orderpriority")
      .agg(median(col("o_totalprice")).as("med"))
    // NOTE (r17, examined): `j` feeds both the MAD aggregate and the
    // fence count; the duplicated scans in the static plan dedup at
    // runtime via AQE exchange reuse — a lazy localCheckpoint A/B'd
    // slightly WORSE (1.23 -> 1.38 s) and was not kept.
    val j = orders.join(broadcast(g), "o_orderpriority")
      .withColumn("dev", abs(col("o_totalprice") - col("med")))
    val g2 = j.groupBy("o_orderpriority").agg(median(col("dev")).as("mad"))
    j.join(broadcast(g2), "o_orderpriority")
      .groupBy("o_orderpriority", "med", "mad")
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select("o_orderpriority", "n", "med", "mad", "n_outliers")
      .orderBy("o_orderpriority")
  }

  private def winMadOutlier(s: SparkSession, d: String): DataFrame =
    madOutlier(t(s, d, "orders"))

  private val oWinMadOutlier =
    """WITH g AS (SELECT o_orderpriority, median(o_totalprice) AS med
      |           FROM orders GROUP BY 1),
      |j AS (SELECT o.o_orderpriority, g.med,
      |        abs(o.o_totalprice - g.med) AS dev
      |      FROM orders o JOIN g USING (o_orderpriority)),
      |g2 AS (SELECT o_orderpriority, median(dev) AS mad FROM j GROUP BY 1)
      |SELECT j.o_orderpriority, count(*) AS n, j.med, g2.mad,
      |  CAST(sum(CASE WHEN j.dev > 3 * g2.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM j JOIN g2 USING (o_orderpriority)
      |GROUP BY j.o_orderpriority, j.med, g2.mad
      |ORDER BY j.o_orderpriority""".stripMargin

  // ---- sample_reservoir_weighted ----

  private val resK = 50

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006, A-ES): each doc draws a hash-derived uniform
    * u = (v+1)/2^52 with v the first 13 md5 hex digits of its id (52 bits
    * — exactly a double), scores key = ln(u)/w (the order-equivalent
    * log-space spelling of u^(1/w)), and the top-k keys win. No RNG —
    * the same portable seeded-hash trick as the MinHash family, so the
    * sample is reproducible across engines, partitionings and reruns.
    *
    * Scale shape: the score is one map-side expression; top-k is
    * TakeOrderedAndProject (per-partition heaps + one k-row merge), never
    * a global sort; trunc6 on the key + doc_id tiebreak pins the
    * selection boundary identically in both engines. */
  private[graft] def reservoirWeighted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"))
      .withColumn("v",
        md5Prefix(col("doc_id").cast(StringType), 13).cast(LongType))
      .withColumn("skey", trunc6(
        log((col("v") + lit(1L)).cast(DoubleType) / lit(4.503599627370496e15))
          / col("w").cast(DoubleType)))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(resK)
      .select("doc_id", "w", "skey")

  private def sampleReservoirWeighted(s: SparkSession, d: String): DataFrame =
    reservoirWeighted(t(s, d, "documents"))

  private val oSampleReservoirWeighted =
    s"""SELECT doc_id, greatest(n_chars, 1) AS w,
       |  ${oTrunc6(s"ln((${oMd5Prefix("CAST(doc_id AS VARCHAR)", 13)} + 1) / 4.503599627370496e15) / greatest(n_chars, 1)")} AS skey
       |FROM documents ORDER BY skey DESC, doc_id LIMIT $resK""".stripMargin

  // ---- text_c4_filters ----

  /** C4-style heuristic rule bitmask per document (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning..." §2.2 rules, adapted):
    * bit 1 = under 5 words; bit 2 = mean word length outside [3,10]
    * (spelled as the integer cross-multiplication sumlen<3n ∨ sumlen>10n,
    * where sumlen = chars − spaces = len − n_words + 1 under the corpus's
    * single-space tokenization — no division); bit 4 = contains '{'
    * (code); bit 8 = contains 'lorem ipsum'; bit 16 = doesn't end in
    * terminal punctuation. keep = mask 0. Entirely per-row integer/string
    * ops — one map pass, no shuffle but the output sort. */
  private[graft] def c4Filters(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      size(split(col("text"), " ")).cast(LongType).as("n_words"),
      length(col("text")).cast(LongType).as("len"))
      .withColumn("sumlen", col("len") - col("n_words") + lit(1L))
      .select(col("doc_id"), col("n_words"),
        (when(col("n_words") < 5, 1).otherwise(0)
          + when(col("sumlen") < col("n_words") * 3
            || col("sumlen") > col("n_words") * 10, 2).otherwise(0)
          + when(col("text").contains("{"), 4).otherwise(0)
          + when(lower(col("text")).contains("lorem ipsum"), 8).otherwise(0)
          + when(!substring(col("text"), -1, 1).isin(".", "!", "?"), 16)
            .otherwise(0)).cast(IntegerType).as("mask"))
      .withColumn("keep", col("mask") === 0)
      .orderBy("doc_id")

  private def textC4Filters(s: SparkSession, d: String): DataFrame =
    c4Filters(t(s, d, "documents"))

  private val oTextC4Filters =
    """WITH f AS (SELECT doc_id, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(length(text) AS BIGINT) AS len FROM documents),
      |m AS (SELECT doc_id, n_words, len - n_words + 1 AS sumlen, text FROM f)
      |SELECT doc_id, n_words,
      |  CAST((CASE WHEN n_words < 5 THEN 1 ELSE 0 END)
      |   + (CASE WHEN sumlen < n_words * 3 OR sumlen > n_words * 10 THEN 2 ELSE 0 END)
      |   + (CASE WHEN contains(text, '{') THEN 4 ELSE 0 END)
      |   + (CASE WHEN contains(lower(text), 'lorem ipsum') THEN 8 ELSE 0 END)
      |   + (CASE WHEN substr(text, length(text), 1) NOT IN ('.', '!', '?') THEN 16 ELSE 0 END)
      |   AS INT) AS mask,
      |  (CASE WHEN n_words < 5 THEN 1 ELSE 0 END)
      |   + (CASE WHEN sumlen < n_words * 3 OR sumlen > n_words * 10 THEN 2 ELSE 0 END)
      |   + (CASE WHEN contains(text, '{') THEN 4 ELSE 0 END)
      |   + (CASE WHEN contains(lower(text), 'lorem ipsum') THEN 8 ELSE 0 END)
      |   + (CASE WHEN substr(text, length(text), 1) NOT IN ('.', '!', '?') THEN 16 ELSE 0 END)
      |   = 0 AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  // ---- graph_bfs_distance ----

  private val bfsRounds = 4

  /** Multi-source BFS hop distance over the kNN similarity graph — the
    * reachability/diffusion analytic ("how far does influence travel from
    * these seeds?") beside PageRank, LPA, CC and triangles. Edges are the
    * `sim_knn_join` neighbor lists symmetrized (an undirected graph-ANN
    * neighborhood graph); sources are vec_id < 5; `bfsRounds` fixed rounds
    * of dist ← min(dist, neighbor+1); unreached nodes emit −1.
    *
    * Scale shape: the edge table is memoized + persisted index state
    * (O(N·k) rows); each round is one equi-join on the vertex key + one
    * min-combine groupBy — the PageRank/CC bounded-shuffle shape; lazy
    * per-round localCheckpoint truncates the doubling lineage in one job.
    * Rounds are fixed so the oracle unrolls them as MATERIALIZED CTEs. */
  private[graft] def bfsDistance(nodes: DataFrame, edges: DataFrame): DataFrame = {
    var dist = nodes.filter(col("vec_id") < 5)
      .select(col("vec_id").as("node"), lit(0L).as("dist"))
    for (_ <- 1 to bfsRounds) {
      val nd = edges.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + lit(1L)).as("dist"))
      dist = dist.unionByName(nd)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(false)
    }
    nodes.join(dist, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("dist"), lit(-1L)).cast(IntegerType).as("dist"))
      .orderBy("vec_id")
  }

  private def graphBfsDistance(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    bfsDistance(QSim.embPersisted(s, d).select("vec_id"), edges)
  }

  private val oGraphBfsDistance = {
    val rounds = (1 to bfsRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM d${r - 1}
         |  UNION ALL SELECT e.dst AS node, b.dist + 1 AS dist
         |    FROM d${r - 1} b JOIN edges e ON e.src = b.node) GROUP BY node),"""
        .stripMargin
    }.mkString("\n")
    s"""WITH ${QSim.oKnnEdges},
       |nodes AS (SELECT vec_id FROM embeddings),
       |d0 AS MATERIALIZED (SELECT vec_id AS node, CAST(0 AS BIGINT) AS dist
       |  FROM nodes WHERE vec_id < 5),
       |$rounds
       |fin AS (SELECT node, dist FROM d$bfsRounds)
       |SELECT n.vec_id, CAST(coalesce(f.dist, -1) AS INT) AS dist
       |FROM nodes n LEFT JOIN fin f ON f.node = n.vec_id
       |ORDER BY n.vec_id""".stripMargin
  }

  // ---- mm_channel_stats ----

  /** Per-channel (R, G, B) mean intensity from the REAL P6 decode path —
    * color-balance features (e.g. for near-gray / screenshot detection in
    * multimodal curation). Channel sums are exact longs accumulated in the
    * partition-batched decode; the single lossy division happens here at
    * the very end. Oracle replays the synthesis formula per channel
    * (byte i belongs to channel i mod 3). */
  private def mmChannelStats(s: SparkSession, d: String): DataFrame = {
    val wh = (col("width") * col("height")).cast(DoubleType)
    Multimodal.channelStatsAll(Multimodal.mediaFromPpm(s, d))
      .select(col("media_id"), col("width"), col("height"),
        trunc4(col("r_sum").cast(DoubleType) / wh / lit(255.0)).as("mean_r"),
        trunc4(col("g_sum").cast(DoubleType) / wh / lit(255.0)).as("mean_g"),
        trunc4(col("b_sum").cast(DoubleType) / wh / lit(255.0)).as("mean_b"))
      .orderBy("media_id")
  }

  private val oMmChannelStats = {
    def ch(c: Int) =
      oTrunc4(s"CAST(SUM(CASE WHEN i % 3 = $c THEN (doc_id*31 + i*7) % 256 END) AS DOUBLE)/(width*height)/255")
    s"""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS width,
       |             CAST(3 + doc_id % 4 AS INT) AS height FROM documents),
       |  px AS (SELECT doc_id, width, height,
       |           unnest(generate_series(0, width*height*3 - 1)) AS i FROM d)
       |SELECT doc_id AS media_id, width, height,
       |  ${ch(0)} AS mean_r, ${ch(1)} AS mean_g, ${ch(2)} AS mean_b
       |FROM px GROUP BY doc_id, width, height ORDER BY media_id""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "chp_survival_km"           -> chpSurvivalKm _,
    "ts_changepoint_cusum"      -> tsChangepointCusum _,
    "ts_autocorr_lag"           -> tsAutocorrLag _,
    "win_mad_outlier"           -> winMadOutlier _,
    "sample_reservoir_weighted" -> sampleReservoirWeighted _,
    "text_c4_filters"           -> textC4Filters _,
    "graph_bfs_distance"        -> graphBfsDistance _,
    "mm_channel_stats"          -> mmChannelStats _)

  val oracles: Map[String, String] = Map(
    "chp_survival_km"           -> oChpSurvivalKm,
    "ts_changepoint_cusum"      -> oTsChangepointCusum,
    "ts_autocorr_lag"           -> oTsAutocorrLag,
    "win_mad_outlier"           -> oWinMadOutlier,
    "sample_reservoir_weighted" -> oSampleReservoirWeighted,
    "text_c4_filters"           -> oTextC4Filters,
    "graph_bfs_distance"        -> oGraphBfsDistance,
    "mm_channel_stats"          -> oMmChannelStats)
}
