package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 45 (SURVEY §2.28):
  *
  *  - `emb_uniformity_metric`: the Wang–Isola uniformity loss of the
  *    embedding space (log-mean Gaussian potential over hash-sampled
  *    pairs on the unit sphere) — the collapse detector a contrastive
  *    embedding run tracks.
  *  - `chp_funnel_time_pctl`: time-to-convert percentiles (first view →
  *    first purchase) — the latency half of the funnel story
  *    (chp_funnel_steps counts; this measures how long).
  *  - `agg_theil_index`: Theil T inequality index of per-user spend with
  *    the exact within/between decomposition by event type — the
  *    decomposable concentration measure (profile_gini_concentration
  *    ranks; this attributes).
  */
object QRound9at extends QueryPack {

  // ---- emb_uniformity_metric ----

  private val unifBuckets = 16

  /** Uniformity of the embedding distribution (Wang & Isola 2020):
    * U = ln( mean over pairs of exp(−2·d²) ) with d² = 2 − 2·cos(a,b)
    * on the unit sphere (0 = fully collapsed; more negative = more
    * uniform). Pairs are hash-sampled structurally: vectors land in 16
    * md5 buckets and only within-bucket pairs (a < b) are scored —
    * Σ|b|²/2 pairs, never N². The cosine is trunc4'd before the
    * potential so both engines exponentiate identical doubles; the mean
    * runs through the scale-to-long sum.
    *
    * Scale shape: one bucket-keyed self-join (uniform md5 keys, no
    * skew); the rollup is one row. At 100 TB the same plan holds — the
    * bucket count scales with the corpus to keep |b| bounded. */
  private[graft] def uniformityMetric(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(dd)).as("v"),
        (md5Prefix(col("vec_id").cast(StringType).cast(BinaryType), 15)
          .cast(LongType) % unifBuckets).as("bkt"))
    val pairs = e.select(col("bkt"), col("vec_id").as("ia"), col("v").as("va"))
      .join(e.select(col("bkt"), col("vec_id").as("ib"), col("v").as("vb")),
        "bkt")
      .filter(col("ia") < col("ib"))
      .select(trunc4(CosineSim.of(col("va"), col("vb"))).as("c"))
      .withColumn("d2", lit(2.0) - lit(2.0) * col("c"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(floor(col("d2") * lit(1e12) + lit(0.5)).cast(LongType)).as("sd"),
        sum(floor(exp(lit(-2.0) * col("d2")) * lit(1e12) + lit(0.5))
          .cast(LongType)).as("sp"))
      .select(col("n_pairs"),
        trunc4(col("sd").cast(dd) / lit(1e12) / col("n_pairs").cast(dd))
          .as("mean_sq_dist"),
        trunc4(log(col("sp").cast(dd) / lit(1e12) /
          col("n_pairs").cast(dd))).as("uniformity"))
  }

  private val oEmbUniformityMetric =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    ${oMd5Prefix("CAST(vec_id AS VARCHAR)", 15)} % $unifBuckets AS bkt
       |  FROM embeddings),
       |pairs AS (SELECT
       |    ${oTrunc4("list_cosine_similarity(a.v, b.v)")} AS c
       |  FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
       |d AS (SELECT 2e0 - 2e0 * c AS d2 FROM pairs)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  ${oTrunc4("CAST(sum(CAST(floor(d2 * 1e12 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e12 / count(*)")} AS mean_sq_dist,
       |  ${oTrunc4("ln(CAST(sum(CAST(floor(exp(-2e0 * d2) * 1e12 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e12 / count(*))")} AS uniformity
       |FROM d""".stripMargin

  // ---- chp_funnel_time_pctl ----

  /** Time-to-convert distribution: per user the first 'view' and first
    * 'purchase' timestamps; converting users (purchase at/after view)
    * contribute the exact integer micros delta; the report is the
    * count plus interpolated P50/P90 and max in seconds (trunc4) — the
    * "how long does the funnel take" number beside chp_funnel_steps'
    * "how many make it".
    *
    * Scale shape: one per-user aggregate (partial map-side), then one
    * bounded global percentile aggregate. */
  private[graft] def funnelTimePctl(events: DataFrame): DataFrame = {
    val us = expr("unix_micros(cast(ts as timestamp))")
    events
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", us)).as("v_us"),
        min(when(col("event_type") === "purchase", us)).as("p_us"))
      .filter(col("v_us").isNotNull && col("p_us").isNotNull &&
        col("p_us") >= col("v_us"))
      .withColumn("delta_us", col("p_us") - col("v_us"))
      // one array-percentile call — see ts_gap_percentiles (r16)
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(delta_us, array(0.5, 0.9))").as("ps"),
        trunc4(max("delta_us").cast(DoubleType) / lit(1e6)).as("max_s"))
      .select(col("n_converted"),
        trunc4(element_at(col("ps"), 1) / lit(1e6)).as("p50_s"),
        trunc4(element_at(col("ps"), 2) / lit(1e6)).as("p90_s"),
        col("max_s"))
  }

  private def chpFunnelTimePctl(s: SparkSession, d: String): DataFrame =
    funnelTimePctl(t(s, d, "events"))

  private val oChpFunnelTimePctl =
    s"""WITH u AS (SELECT user_id,
       |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
       |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
       |  FROM events GROUP BY user_id),
       |c AS (SELECT p_us - v_us AS delta_us FROM u
       |  WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= v_us)
       |SELECT CAST(count(*) AS BIGINT) AS n_converted,
       |  ${oTrunc4("quantile_cont(delta_us, 5e-1) / 1e6")} AS p50_s,
       |  ${oTrunc4("quantile_cont(delta_us, 9e-1) / 1e6")} AS p90_s,
       |  ${oTrunc4("CAST(max(delta_us) AS DOUBLE) / 1e6")} AS max_s
       |FROM c""".stripMargin

  // ---- agg_theil_index ----

  /** Theil T index of positive spend x over (user, event_type) cells,
    * decomposed by event type: T_g = (1/n_g)·Σ (x/μ_g)·ln(x/μ_g) within
    * each group, and the exact decomposition T = Σ s_g·T_g +
    * Σ s_g·ln(μ_g/μ) with income shares s_g = S_g/S. Spend sums are
    * exact DECIMAL(18,4) before the double cast (2-dp money values);
    * every log term runs through the scale-to-long sum; one trunc4 per
    * output. Rows: one per event type plus `_WITHIN`/`_BETWEEN`/`_TOTAL`
    * summary rows (income_share 1.0, mean the grand mean).
    *
    * Scale shape: one (user,type) aggregate, one per-type rollup, scalar
    * totals broadcast; contributions re-scan the cell table once; the
    * 5-row per-group table is localCheckpoint'd so the summary union
    * does not replay the events scans. */
  private[graft] def theilIndex(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val cells = events
      .groupBy("user_id", "event_type")
      .agg(sum(col("value").cast(DecimalType(18, 4))).cast(dd).as("x"))
      .filter(col("x") > 0)
    val grp = cells.groupBy("event_type")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x").cast(DecimalType(18, 4))).cast(dd).as("s_g"))
      .withColumn("mu_g", col("s_g") / col("n_g").cast(dd))
    val tot = grp.agg(sum("n_g").as("n"),
        sum(col("s_g").cast(DecimalType(18, 4))).cast(dd).as("s"))
      .withColumn("mu", col("s") / col("n").cast(dd))
    val within = cells.join(broadcast(grp.select("event_type", "mu_g")),
        "event_type")
      .select(col("event_type"),
        floor((col("x") / col("mu_g")) * log(col("x") / col("mu_g"))
          * lit(1e12) + lit(0.5)).cast(LongType).as("t"))
      .groupBy("event_type").agg(sum("t").as("st"))
    val perGroup = grp.join(within, "event_type").crossJoin(broadcast(tot))
      .select(col("event_type").as("grp"), col("n_g").as("n"),
        trunc4(col("mu_g")).as("mean_x"),
        trunc4(col("st").cast(dd) / lit(1e12) / col("n_g").cast(dd))
          .as("theil"),
        trunc4(col("s_g") / col("s")).as("income_share"),
        (col("st").cast(dd) / lit(1e12) / col("n_g").cast(dd)).as("t_g"),
        (col("s_g") / col("s")).as("sh"),
        col("mu_g"), col("mu"), col("n").as("n_tot"))
      .localCheckpoint(true)
    val summ = perGroup.agg(
        max("n_tot").as("n"),
        sum(floor(col("sh") * col("t_g") * lit(1e12) + lit(0.5))
          .cast(LongType)).as("sw"),
        sum(floor(col("sh") * log(col("mu_g") / col("mu")) * lit(1e12)
          + lit(0.5)).cast(LongType)).as("sb"),
        max("mu").as("mu"))
      .localCheckpoint(true)
    def sRow(name: String, v: org.apache.spark.sql.Column) =
      summ.select(lit(name).as("grp"), col("n"),
        trunc4(col("mu")).as("mean_x"), trunc4(v.cast(dd) / lit(1e12))
          .as("theil"), lit(1.0).as("income_share"))
    perGroup.select("grp", "n", "mean_x", "theil", "income_share")
      .unionAll(sRow("_WITHIN", col("sw")))
      .unionAll(sRow("_BETWEEN", col("sb")))
      .unionAll(sRow("_TOTAL", col("sw") + col("sb")))
      .orderBy("grp")
  }

  private def aggTheilIndex(s: SparkSession, d: String): DataFrame =
    theilIndex(t(s, d, "events"))

  private val oAggTheilIndex =
    s"""WITH cells AS MATERIALIZED (SELECT user_id, event_type,
       |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
       |  FROM events GROUP BY 1, 2 HAVING x > 0),
       |grp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
       |    CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS s_g
       |  FROM cells GROUP BY 1),
       |g2 AS (SELECT *, s_g / n_g AS mu_g FROM grp),
       |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
       |    CAST(sum(CAST(s_g AS DECIMAL(18,4))) AS DOUBLE) AS s FROM grp),
       |t2 AS (SELECT *, s / n AS mu FROM tot),
       |w AS (SELECT c.event_type,
       |    CAST(sum(CAST(floor((c.x / g.mu_g) * ln(c.x / g.mu_g) * 1e12
       |      + 5e-1) AS BIGINT)) AS BIGINT) AS st
       |  FROM cells c JOIN g2 g ON c.event_type = g.event_type
       |  GROUP BY c.event_type),
       |pg AS MATERIALIZED (SELECT g.event_type AS grp, g.n_g,
       |    g.mu_g, g.s_g, w.st, t.mu, t.s, t.n AS n_tot,
       |    CAST(st AS DOUBLE) / 1e12 / g.n_g AS t_g, g.s_g / t.s AS sh
       |  FROM g2 g JOIN w ON g.event_type = w.event_type, t2 t),
       |summ AS (SELECT max(n_tot) AS n,
       |    CAST(sum(CAST(floor(sh * t_g * 1e12 + 5e-1) AS BIGINT))
       |      AS BIGINT) AS sw,
       |    CAST(sum(CAST(floor(sh * ln(mu_g / mu) * 1e12 + 5e-1)
       |      AS BIGINT)) AS BIGINT) AS sb,
       |    max(mu) AS mu FROM pg)
       |SELECT grp, n_g AS n, ${oTrunc4("mu_g")} AS mean_x,
       |  ${oTrunc4("t_g")} AS theil, ${oTrunc4("sh")} AS income_share
       |FROM pg
       |UNION ALL SELECT '_WITHIN', n, ${oTrunc4("mu")},
       |  ${oTrunc4("CAST(sw AS DOUBLE) / 1e12")}, 1e0 FROM summ
       |UNION ALL SELECT '_BETWEEN', n, ${oTrunc4("mu")},
       |  ${oTrunc4("CAST(sb AS DOUBLE) / 1e12")}, 1e0 FROM summ
       |UNION ALL SELECT '_TOTAL', n, ${oTrunc4("mu")},
       |  ${oTrunc4("CAST(sw + sb AS DOUBLE) / 1e12")}, 1e0 FROM summ
       |ORDER BY grp""".stripMargin

  val queries: Map[String, QFn] = Map(
    "emb_uniformity_metric" -> uniformityMetric _,
    "chp_funnel_time_pctl"  -> chpFunnelTimePctl _,
    "agg_theil_index"       -> aggTheilIndex _)

  val oracles: Map[String, String] = Map(
    "emb_uniformity_metric" -> oEmbUniformityMetric,
    "chp_funnel_time_pctl"  -> oChpFunnelTimePctl,
    "agg_theil_index"       -> oAggTheilIndex)
}
