package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 9 (SURVEY §2.27):
  *
  *  - `chp_feature_drift`: PSI (population stability index) drift monitor
  *    between the first and second half of the observation window — the
  *    model-monitoring analytic beside calibration/confusion (a deployed
  *    churn platform alarms on feature drift before retraining).
  *  - `ts_crosscorr_lag`: lagged cross-correlation between event-type
  *    daily series — the lead/lag dependency analytic beside
  *    autocorrelation (does `error` predict `signup` churn 2 days out?).
  *  - `graph_clustering_coeff`: local clustering coefficient per node of
  *    the kNN graph — the transitivity analytic beside triangle count,
  *    k-core and assortativity.
  *  - `chp_sequence_match`: per-user behavioral sequence pattern match
  *    (view→click→purchase in order) over the time-ordered event-type
  *    string — the funnel-as-regex spelling of sequence analytics.
  */
object QRound9j extends QueryPack {

  // ---- chp_feature_drift ----

  /** PSI of the `value` feature distribution per event type, first half
    * of the observation window vs the second: fixed-width bins
    * (floor(value/50) clamped to 7), PSI = Σ_bins (p−q)·ln(p/q) over bins
    * populated in BOTH halves (the standard ε-free spelling; one-sided
    * bins are counted in `n_skipped` instead of infinitely inflating the
    * index). Engine-stable: p, q and the log ratio derive from exact
    * long counts, each bin's term is scaled-to-long
    * (floor(t·1e12+0.5)) and the ≤8-term sum is exact — the
    * VecCentroid/PageRank discipline — with one descale + trunc6 at the
    * end.
    *
    * Scale shape: one events pass → a (type, half, bin) aggregate whose
    * cardinality is bounded by types×2×8 regardless of corpus size; the
    * half split point is a 1-row min/max aggregate broadcast back. */
  private[graft] def featureDrift(events: DataFrame): DataFrame = {
    val e = events.select(col("event_type"), col("value"),
      expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
    // integer floor-div: CAST of a double-division half-point would
    // round-half-even in DuckDB but truncate in Spark
    val mid = e.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val binned = e.crossJoin(broadcast(mid))
      .withColumn("half", when(col("day") <= col("mid"), 0).otherwise(1))
      .withColumn("bin",
        least(floor(col("value") / lit(5e1)).cast(IntegerType), lit(7)))
    val cells = binned.groupBy("event_type", "bin")
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
    val tot = cells.groupBy("event_type")
      .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    val term = (col("c0").cast(DoubleType) / col("n0") -
        col("c1").cast(DoubleType) / col("n1")) *
      log((col("c0") * col("n1")).cast(DoubleType) /
        (col("c1") * col("n0")).cast(DoubleType))
    cells.join(broadcast(tot), "event_type")
      .withColumn("both", col("c0") > 0 && col("c1") > 0)
      .withColumn("t_scaled",
        when(col("both"), floor(term * lit(1e12) + lit(0.5)).cast(LongType))
          .otherwise(0L))
      .groupBy("event_type")
      .agg(max(col("n0")).as("n_first"), max(col("n1")).as("n_second"),
        sum(when(col("both"), 1L).otherwise(0L)).as("n_bins"),
        sum(when(!col("both"), 1L).otherwise(0L)).as("n_skipped"),
        trunc6(sum(col("t_scaled")) / lit(1e12)).as("psi"))
      .orderBy("event_type")
  }

  private def chpFeatureDrift(s: SparkSession, d: String): DataFrame =
    featureDrift(t(s, d, "events"))

  private val oChpFeatureDrift =
    s"""WITH e AS (SELECT event_type, value,
       |    epoch_us(ts) // 86400000000 AS day FROM events),
       |m AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
       |cells AS (SELECT event_type,
       |    least(CAST(floor(value / 5e1) AS INT), 7) AS bin,
       |    CAST(sum(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS BIGINT) AS c0,
       |    CAST(sum(CASE WHEN day > mid THEN 1 ELSE 0 END) AS BIGINT) AS c1
       |  FROM e, m GROUP BY 1, 2),
       |tot AS (SELECT event_type, CAST(sum(c0) AS BIGINT) AS n0,
       |    CAST(sum(c1) AS BIGINT) AS n1 FROM cells GROUP BY 1),
       |terms AS (SELECT c.event_type, t.n0, t.n1,
       |    c.c0 > 0 AND c.c1 > 0 AS in_both,
       |    CASE WHEN c.c0 > 0 AND c.c1 > 0 THEN
       |      CAST(floor((CAST(c.c0 AS DOUBLE)/t.n0 - CAST(c.c1 AS DOUBLE)/t.n1)
       |        * ln(CAST(c.c0 * t.n1 AS DOUBLE)/CAST(c.c1 * t.n0 AS DOUBLE))
       |        * 1e12 + 5e-1) AS BIGINT) ELSE 0 END AS t_scaled
       |  FROM cells c JOIN tot t USING (event_type))
       |SELECT event_type, max(n0) AS n_first, max(n1) AS n_second,
       |  CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT) AS n_bins,
       |  CAST(sum(CASE WHEN in_both THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped,
       |  ${oTrunc6("sum(t_scaled) / 1e12")} AS psi
       |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- ts_crosscorr_lag ----

  private val ccMaxLag = 3

  /** Pearson cross-correlation of every ordered event-type pair's daily
    * count series at lags 0..`ccMaxLag` (y shifted `lag` days after x) —
    * which signal leads which. All five moments (n, Σx, Σy, Σxy, Σx²,
    * Σy²) are exact BIGINT sums of exact daily counts (the
    * `agg_corr_moments` discipline); the only double op is the final
    * r = cov/√(varx·vary), trunc6'd. Pairs with a degenerate variance on
    * either side are excluded (ANSI would throw on the division; a
    * constant series has no correlation to report).
    *
    * Scale shape: consumes the memoized `evdaily` series (one events pass
    * shared with CUSUM/seasonality/autocorr); the lag table (4 rows)
    * broadcasts; the pair join keys on the day number so each day
    * co-locates; output is bounded by types²×lags, corpus-size-free.
    * Lake-scale note: daily counts at 100 TB reach ~1e9/day — the moment
    * products then approach BIGINT range, and the documented swap is the
    * same scale-to-DECIMAL(38) widening `agg_corr_moments` records. */
  private[graft] def crosscorr(daily: DataFrame): DataFrame = {
    val lags = daily.sparkSession.range(0, ccMaxLag + 1)
      .select(col("id").as("lag"))
    val a = daily.select(col("event_type").as("type_x"),
      col("day_num"), col("cnt").as("x"))
    val b = daily.select(col("event_type").as("type_y"),
      col("day_num").as("day_y"), col("cnt").as("y"))
    a.crossJoin(broadcast(lags))
      .join(b, col("day_y") === col("day_num") + col("lag") &&
        col("type_x") =!= col("type_y"))
      .groupBy("type_x", "type_y", "lag")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("varx", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("n_days") * col("syy") - col("sy") * col("sy"))
      .filter(col("varx") > 0 && col("vary") > 0)
      .select(col("type_x"), col("type_y"), col("lag"), col("n_days"),
        trunc6((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) /
          sqrt(col("varx").cast(DoubleType) * col("vary").cast(DoubleType)))
          .as("xcorr"))
      .orderBy("type_x", "type_y", "lag")
  }

  private def tsCrosscorrLag(s: SparkSession, d: String): DataFrame =
    crosscorr(QRound9b.evDaily(s, d))

  private val oTsCrosscorrLag =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
       |lags AS (SELECT unnest(generate_series(0, $ccMaxLag)) AS lag),
       |m AS (SELECT a.event_type AS type_x, b.event_type AS type_y, l.lag,
       |    CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(a.cnt) AS BIGINT) AS sx, CAST(sum(b.cnt) AS BIGINT) AS sy,
       |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS sxy,
       |    CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx,
       |    CAST(sum(b.cnt * b.cnt) AS BIGINT) AS syy
       |  FROM daily a CROSS JOIN lags l
       |  JOIN daily b ON b.day_num = a.day_num + l.lag
       |    AND b.event_type <> a.event_type
       |  GROUP BY 1, 2, 3)
       |SELECT type_x, type_y, lag, n_days,
       |  ${oTrunc6("CAST(n_days * sxy - sx * sy AS DOUBLE) / " +
         "sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) * " +
         "CAST(n_days * syy - sy * sy AS DOUBLE))")} AS xcorr
       |FROM m WHERE n_days * sxx - sx * sx > 0
       |  AND n_days * syy - sy * sy > 0
       |ORDER BY type_x, type_y, lag""".stripMargin

  // ---- graph_clustering_coeff ----

  /** Local clustering coefficient per node of the symmetrized kNN graph:
    * coeff(v) = closed wedges at v / (deg·(deg−1)/2), i.e. how many of
    * v's neighbor pairs are themselves connected. Nodes of degree < 2
    * report 0 (no wedge exists). The coefficient is one exact integer
    * ratio per node, trunc6'd.
    *
    * Scale shape: wedges are enumerated only through the edge-table
    * self-join on the CENTER vertex (Σ deg² — the `graph_triangle_count`
    * bound; the kNN graph's degree is capped by construction at
    * k+incoming, so wedge fan-out is structurally bounded); closure is
    * one equi-join of the wedge's (u,w) rim pair against the edge table;
    * the degree table broadcasts back. Shares the memoized kNN edge
    * table (`QSim.knnEdgesMemo`) with BFS/k-core/Jaccard — the
    * graph-index reuse a real engine gets from materialized adjacency. */
  private[graft] def clusteringCoeff(nodes: DataFrame, edges: DataFrame)
      : DataFrame =
    clusteringFromWedges(nodes, wedgeTable(edges))

  /** The per-vertex (degree, closed-wedge-count) table — the expensive
    * wedge-enumeration + closure join, separated so the sf-dir entry can
    * memoize it per corpus exactly like `QRound5c.triCounts` does for the
    * co-occurrence graph (VERDICT r12 #1a: un-memoized, the wedge join
    * re-ran on every call and the key sat ~5× over its oracle). */
  private[graft] def wedgeTable(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val e1 = edges.select(col("src").as("v"), col("dst").as("u"))
    val e2 = edges.select(col("src").as("v2"), col("dst").as("w"))
    val wedges = e1.join(e2, col("v") === col("v2") && col("u") < col("w"))
    val closed = wedges.join(
        edges.select(col("src").as("u"), col("dst").as("w")), Seq("u", "w"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(closed.withColumnRenamed("v", "v3"),
        col("v") === col("v3"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  private def clusteringFromWedges(nodes: DataFrame, wt: DataFrame)
      : DataFrame = {
    val deg = wt.select(col("v"), col("deg"))
    val closed = wt.select(col("v"), col("n_tri"))
    // deg/closed are node-count-sized — plain equi-joins (AQE may still
    // broadcast at test scale, but the plan must not REQUIRE it at 100 TB)
    nodes.select(col("vec_id"))
      .join(deg, col("vec_id") === col("v"), "left")
      .join(closed.withColumnRenamed("v", "v3"),
        col("vec_id") === col("v3"), "left")
      .select(col("vec_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_closed"),
        when(coalesce(col("deg"), lit(0L)) < 2, lit(0.0))
          .otherwise(trunc6(
            (coalesce(col("n_tri"), lit(0L)) * lit(2)).cast(DoubleType) /
            (col("deg") * (col("deg") - 1)).cast(DoubleType)))
          .as("clust_coeff"))
      .orderBy("vec_id")
  }

  private def graphClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    // per-corpus wedge index: node-count-sized (v, deg, n_tri), built once
    // per session like `tricounts` — each call is then two node-sized joins
    val wt = graft.Memo.memo(s, "clustwedge", d)(
      wedgeTable(edges).localCheckpoint(true))
    clusteringFromWedges(QSim.embPersisted(s, d).select("vec_id"), wt)
  }

  private val oGraphClusteringCoeff =
    s"""WITH ${QSim.oKnnEdges},
       |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1),
       |closed AS (SELECT e1.src AS v, CAST(count(*) AS BIGINT) AS n_tri
       |  FROM edges e1 JOIN edges e2
       |    ON e2.src = e1.src AND e1.dst < e2.dst
       |  JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
       |  GROUP BY 1)
       |SELECT n.vec_id, coalesce(d.deg, 0) AS degree,
       |  coalesce(c.n_tri, 0) AS n_closed,
       |  CASE WHEN coalesce(d.deg, 0) < 2 THEN 0.0
       |    ELSE ${oTrunc6("CAST(coalesce(c.n_tri, 0) * 2 AS DOUBLE) / " +
         "CAST(d.deg * (d.deg - 1) AS DOUBLE)")} END AS clust_coeff
       |FROM embeddings n LEFT JOIN deg d ON d.v = n.vec_id
       |LEFT JOIN closed c ON c.v = n.vec_id
       |ORDER BY n.vec_id""".stripMargin

  // ---- chp_sequence_match ----

  /** Behavioral sequence matching: each user's time-ordered event-type
    * initial letters concatenated into one string, matched against the
    * conversion pattern `v.*c.*p` (a view, later a click, later a
    * purchase — the regex spelling of ordered-funnel membership that
    * `chp_funnel_steps` counts in aggregate). Ordering is pinned by
    * (ts, event_id) inside a sorted struct array, so the string is
    * identical across partitionings and engines; the pattern uses only
    * portable regex constructs (both engines' semantics agree).
    *
    * Scale shape: one shuffle on the user key; each user's sequence is
    * session-scale (the `chp_sessionize_batch` assumption); the match is
    * a map-side regex over the assembled string. */
  private[graft] def sequenceMatch(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"),
      col("event_id"), substring(col("event_type"), 1, 1).as("ch"))
    e.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("us"), col("event_id"),
        col("ch")))).as("arr"))
      .select(col("user_id"),
        size(col("arr")).cast(LongType).as("n_events"),
        expr("array_join(transform(arr, x -> x.ch), '')").as("seq"))
      .withColumn("matched",
        when(col("seq").rlike("v.*c.*p"), 1).otherwise(0))
      .orderBy("user_id")
  }

  private def chpSequenceMatch(s: SparkSession, d: String): DataFrame =
    sequenceMatch(t(s, d, "events"))

  private val oChpSequenceMatch =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |    substring(event_type, 1, 1) AS ch FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  string_agg(ch, '' ORDER BY us, event_id) AS seq,
      |  CAST(CASE WHEN regexp_matches(
      |    string_agg(ch, '' ORDER BY us, event_id), 'v.*c.*p')
      |    THEN 1 ELSE 0 END AS INT) AS matched
      |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_feature_drift"      -> chpFeatureDrift _,
    "ts_crosscorr_lag"       -> tsCrosscorrLag _,
    "graph_clustering_coeff" -> graphClusteringCoeff _,
    "chp_sequence_match"     -> chpSequenceMatch _)

  val oracles: Map[String, String] = Map(
    "chp_feature_drift"      -> oChpFeatureDrift,
    "ts_crosscorr_lag"       -> oTsCrosscorrLag,
    "graph_clustering_coeff" -> oGraphClusteringCoeff,
    "chp_sequence_match"     -> oChpSequenceMatch)
}
