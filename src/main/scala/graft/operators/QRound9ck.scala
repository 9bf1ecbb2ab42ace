package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 88 (SURVEY §2.28):
  *
  *  - `chp_brier_decomp`: Murphy decomposition of the binned Brier
  *    score (reliability − resolution + uncertainty) over the model's
  *    reliability table — the standard probabilistic-forecast quality
  *    split.
  *  - `ts_dickey_fuller`: Dickey–Fuller unit-root test per event type
  *    (Δy on lagged level, with constant) — the stationarity check
  *    KPSS asks from the other side.
  *  - `sample_contrastive_pairs`: deterministic (anchor, positive,
  *    negative) triplet construction from the shared k-means cells —
  *    the training-pair builder a contrastive embedding run feeds on.
  */
object QRound9ck extends QueryPack {

  private val dd = DoubleType

  // ---- chp_brier_decomp ----

  /** Murphy decomposition over the 10-decile reliability table:
    * per-bin confidence = σ(avg_score) and observed rate, both
    * re-scaled to exact 1e4 integers (the ECE discipline);
    * reliability numerator Σ n_b(conf−acc)² is pure BIGINT, the
    * resolution terms n_b(acc − ȳ)² go through scale-to-long (ȳ is
    * rational), uncertainty = ȳ(1−ȳ); binned Brier = rel − res + unc.
    *
    * Scale shape: composes the memoized 10-row reliability table —
    * everything here is model state. */
  private def chpBrierDecomp(s: SparkSession, d: String): DataFrame = {
    val bins = QRound7d.queries("chp_calibration_bins")(s, d)
    val conf4 = floor(lit(1.0) / (lit(1.0) + exp(-col("avg_score")))
      * lit(1e4) + lit(5e-1)).cast(LongType)
    val acc4 = floor(col("churn_rate") * lit(1e4) + lit(5e-1))
      .cast(LongType)
    // NOTE (r17, examined): `pre` is consumed twice (moment rollup +
    // residual pass) and the static plan shows 18 duplicated scans, but
    // AQE's runtime exchange reuse dedups the shared subtrees — a lazy
    // localCheckpoint here was A/B'd at 1.6 -> 1.9 s (pure overhead)
    // and reverted.
    val pre = bins.select(col("n_users"), conf4.as("conf4"),
      acc4.as("acc4"))
    val mo = pre.agg(sum("n_users").as("n_total"),
        count(lit(1)).as("n_bins"),
        sum(col("n_users") * (col("conf4") - col("acc4"))
          * (col("conf4") - col("acc4"))).as("rel_num"),
        sum(col("n_users") * col("acc4")).as("num_y"))
    val withY = pre.crossJoin(broadcast(mo))
      .withColumn("ybar4", col("num_y").cast(dd) / col("n_total").cast(dd))
      .withColumn("res_sc",
        floor(col("n_users").cast(dd) *
          (col("acc4").cast(dd) - col("ybar4")) *
          (col("acc4").cast(dd) - col("ybar4")) + lit(5e-1))
          .cast(LongType))
    withY.groupBy("n_total", "n_bins", "rel_num", "num_y")
      .agg(sum("res_sc").as("res_num"))
      .select(col("n_total"), col("n_bins"),
        trunc6(col("rel_num").cast(dd) / col("n_total").cast(dd) / lit(1e8))
          .as("reliability"),
        trunc6(col("res_num").cast(dd) / col("n_total").cast(dd) / lit(1e8))
          .as("resolution"),
        trunc6((col("num_y").cast(dd) / col("n_total").cast(dd) / lit(1e4))
          * (lit(1e0) - col("num_y").cast(dd) / col("n_total").cast(dd)
            / lit(1e4))).as("uncertainty"),
        trunc6(col("rel_num").cast(dd) / col("n_total").cast(dd) / lit(1e8)
          - col("res_num").cast(dd) / col("n_total").cast(dd) / lit(1e8)
          + (col("num_y").cast(dd) / col("n_total").cast(dd) / lit(1e4))
          * (lit(1e0) - col("num_y").cast(dd) / col("n_total").cast(dd)
            / lit(1e4))).as("brier_binned"))
  }

  private val oChpBrierDecomp = {
    val conf4 = "CAST(floor(1e0/(1e0 + exp(-avg_score))*1e4 + 5e-1)" +
      " AS BIGINT)"
    val acc4 = "CAST(floor(churn_rate*1e4 + 5e-1) AS BIGINT)"
    s"""WITH bins AS (${QRound7d.oracles("chp_calibration_bins")}),
       |pre AS (SELECT n_users, $conf4 AS conf4, $acc4 AS acc4 FROM bins),
       |mo AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_total,
       |    CAST(count(*) AS BIGINT) AS n_bins,
       |    CAST(sum(n_users*(conf4 - acc4)*(conf4 - acc4)) AS BIGINT)
       |      AS rel_num,
       |    CAST(sum(n_users*acc4) AS BIGINT) AS num_y
       |  FROM pre),
       |wy AS (SELECT p.n_users, p.acc4, m.n_total, m.n_bins, m.rel_num,
       |    m.num_y,
       |    CAST(m.num_y AS DOUBLE)/CAST(m.n_total AS DOUBLE) AS ybar4
       |  FROM pre p, mo m),
       |res AS (SELECT n_total, n_bins, rel_num, num_y,
       |    CAST(sum(CAST(floor(CAST(n_users AS DOUBLE)
       |      *(CAST(acc4 AS DOUBLE) - ybar4)
       |      *(CAST(acc4 AS DOUBLE) - ybar4) + 5e-1) AS BIGINT))
       |      AS BIGINT) AS res_num
       |  FROM wy GROUP BY 1, 2, 3, 4)
       |SELECT n_total, n_bins,
       |  ${oTrunc6("CAST(rel_num AS DOUBLE)/CAST(n_total AS DOUBLE)/1e8")}
       |    AS reliability,
       |  ${oTrunc6("CAST(res_num AS DOUBLE)/CAST(n_total AS DOUBLE)/1e8")}
       |    AS resolution,
       |  ${oTrunc6("(CAST(num_y AS DOUBLE)/CAST(n_total AS DOUBLE)/1e4)" +
         "*(1e0 - CAST(num_y AS DOUBLE)/CAST(n_total AS DOUBLE)/1e4)")}
       |    AS uncertainty,
       |  ${oTrunc6("CAST(rel_num AS DOUBLE)/CAST(n_total AS DOUBLE)/1e8" +
         " - CAST(res_num AS DOUBLE)/CAST(n_total AS DOUBLE)/1e8" +
         " + (CAST(num_y AS DOUBLE)/CAST(n_total AS DOUBLE)/1e4)" +
         "*(1e0 - CAST(num_y AS DOUBLE)/CAST(n_total AS DOUBLE)/1e4)")}
       |    AS brier_binned
       |FROM res""".stripMargin
  }

  // ---- ts_dickey_fuller ----

  /** Dickey–Fuller test (with constant) per event type on the daily
    * count series: regress Δy_t on y_{t−1}; the slope and its t-stat
    * come from exact BIGINT centered moments
    * (Suu = nΣu²−(Σu)², Suz, Szz), combined in doubles with one shared
    * spelling: t = Suz·sqrt((n−2)/(Szz·Suu − Suz²)). Unit root
    * rejected at 5% when trunc4(t) < −2.86 (DF constant-case critical
    * value). The granger-key discipline, pointed at the unit-root
    * question.
    *
    * Scale shape: one daily rollup + per-type lead windows over the
    * bounded day spine; moments are one rollup per type. */
  private[graft] def dickeyFuller(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy("event_type").orderBy("day_num")
    val daily = events.groupBy(col("event_type"),
        expr("unix_micros(cast(date_trunc('DAY', ts) as timestamp)) div 86400000000")
          .as("day_num"))
      .agg(count(lit(1)).as("y"))
    val pairs = daily
      .withColumn("ylag", lag("y", 1).over(wd))
      .filter(col("ylag").isNotNull)
      .select(col("event_type"), col("ylag").as("u"),
        (col("y") - col("ylag")).as("z"))
    pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("u").as("su"), sum("z").as("sz"),
        sum(col("u") * col("u")).as("suu_r"),
        sum(col("u") * col("z")).as("suz_r"),
        sum(col("z") * col("z")).as("szz_r"))
      .select(col("event_type"), col("n"),
        (col("n") * col("suu_r") - col("su") * col("su")).as("suu"),
        (col("n") * col("suz_r") - col("su") * col("sz")).as("suz"),
        (col("n") * col("szz_r") - col("sz") * col("sz")).as("szz"))
      .select(col("event_type"), col("n").as("n_obs"),
        trunc6(col("suz").cast(dd) / col("suu").cast(dd)).as("beta"),
        trunc4(col("suz").cast(dd) *
          sqrt((col("n") - 2).cast(dd) /
            (col("szz").cast(dd) * col("suu").cast(dd)
              - col("suz").cast(dd) * col("suz").cast(dd))))
          .as("t_df"))
      .withColumn("reject_unit_root",
        (col("t_df") < lit(-2.86)).cast(IntegerType))
      .orderBy("event_type")
  }

  private def tsDickeyFuller(s: SparkSession, d: String): DataFrame =
    dickeyFuller(t(s, d, "events"))

  private val oTsDickeyFuller = {
    val tExpr = "CAST(suz AS DOUBLE)*sqrt(CAST(n - 2 AS DOUBLE)" +
      "/(CAST(szz AS DOUBLE)*CAST(suu AS DOUBLE)" +
      " - CAST(suz AS DOUBLE)*CAST(suz AS DOUBLE)))"
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    count(*) AS y FROM events GROUP BY 1, 2),
       |pr AS (SELECT event_type,
       |    lag(y) OVER (PARTITION BY event_type ORDER BY day_num) AS u,
       |    y - lag(y) OVER (PARTITION BY event_type ORDER BY day_num)
       |      AS z
       |  FROM daily),
       |mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(u) AS BIGINT) AS su, CAST(sum(z) AS BIGINT) AS sz,
       |    CAST(sum(u*u) AS BIGINT) AS suu_r,
       |    CAST(sum(u*z) AS BIGINT) AS suz_r,
       |    CAST(sum(z*z) AS BIGINT) AS szz_r
       |  FROM pr WHERE u IS NOT NULL GROUP BY 1),
       |ce AS (SELECT event_type, n, n*suu_r - su*su AS suu,
       |    n*suz_r - su*sz AS suz, n*szz_r - sz*sz AS szz FROM mo)
       |SELECT event_type, n AS n_obs,
       |  ${oTrunc6("CAST(suz AS DOUBLE)/CAST(suu AS DOUBLE)")} AS beta,
       |  ${oTrunc4(tExpr)} AS t_df,
       |  CAST(CASE WHEN ${oTrunc4(tExpr)} < -2.86e0 THEN 1 ELSE 0 END
       |    AS INT) AS reject_unit_root
       |FROM ce ORDER BY event_type""".stripMargin
  }

  // ---- sample_contrastive_pairs ----

  private val cpCells = 16
  private val cpIters = 3

  /** Deterministic contrastive triplets off the shared k-means fit:
    * anchors are every 20th vector; the positive is the next id in the
    * anchor's own cell (cyclic — smallest id above, else the cell
    * minimum; singleton cells excluded), the negative is picked from
    * the NEXT cell's roster at index anchor mod size. Emits both
    * trunc4'd cosines and the margin — the triplet-quality readout a
    * contrastive run monitors.
    *
    * Scale shape: cell rosters are bounded collected model state
    * (≤k arrays; at lake scale the roster join becomes a bucket join
    * with the same keying); the three vector fetches are uniform
    * equi-joins. */
  private[graft] def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val cent = AnnKMeans.centroidsMemo(s, d, "emb", cpCells, cpIters)(e)
    val assigned = AnnKMeans.assign(e, cent).select("vec_id", "cell")
    // cell rosters: bounded model state (k sorted id arrays)
    val rosters = assigned.groupBy("cell")
      .agg(sort_array(collect_list("vec_id")).as("arr"))
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Long](1)))
      .sortBy(_._1)
    val byCell = rosters.zipWithIndex.map { case ((cell, arr), i) =>
      val narr = rosters((i + 1) % rosters.length)._2
      (cell, arr, narr)
    }.toIndexedSeq
    import s.implicits._
    val rosterDf = byCell.toDF("cell", "arr", "narr")
    val anchors = assigned.filter(col("vec_id") % 20 === 0)
      .join(broadcast(rosterDf), "cell")
      .filter(size(col("arr")) > 1)
      .select(col("vec_id").as("anchor_id"),
        coalesce(expr("array_min(filter(arr, x -> x > vec_id))"),
          element_at(col("arr"), 1)).as("pos_id"),
        expr("element_at(narr, CAST(vec_id % size(narr) AS INT) + 1)")
          .as("neg_id"))
    val av = e.toDF("anchor_id", "va")
    val pv = e.toDF("pos_id", "vp")
    val nv = e.toDF("neg_id", "vn")
    anchors.join(av, "anchor_id").join(pv, "pos_id").join(nv, "neg_id")
      .select(col("anchor_id"), col("pos_id"), col("neg_id"),
        trunc4(CosineSim.of(col("va"), col("vp"))).as("pos_sim"),
        trunc4(CosineSim.of(col("va"), col("vn"))).as("neg_sim"))
      .withColumn("margin", col("pos_sim") - col("neg_sim"))
      .orderBy("anchor_id")
  }

  private val oSampleContrastive =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${AnnKMeans.oCentroidChain(cpCells, cpIters, 64)}
       |asn AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC,
       |    c.cell) AS r
       |  FROM e, c$cpIters c) WHERE r = 1),
       |cc AS MATERIALIZED (SELECT cell,
       |    list_sort(list(vec_id)) AS arr, count(*) AS n
       |  FROM asn GROUP BY 1),
       |nx AS (SELECT cell, arr, n,
       |    coalesce(lead(arr) OVER (ORDER BY cell),
       |      first_value(arr) OVER (ORDER BY cell
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |      AS narr
       |  FROM cc),
       |an AS (SELECT a.vec_id AS anchor_id,
       |    coalesce(list_min(list_filter(x.arr, z -> z > a.vec_id)),
       |      x.arr[1]) AS pos_id,
       |    x.narr[CAST(a.vec_id % len(x.narr) AS BIGINT) + 1] AS neg_id
       |  FROM asn a JOIN nx x ON x.cell = a.cell
       |  WHERE a.vec_id % 20 = 0 AND x.n > 1)
       |SELECT an.anchor_id, an.pos_id, an.neg_id,
       |  ${oTrunc4("list_cosine_similarity(va.v, vp.v)")} AS pos_sim,
       |  ${oTrunc4("list_cosine_similarity(va.v, vn.v)")} AS neg_sim,
       |  ${oTrunc4("list_cosine_similarity(va.v, vp.v)")}
       |    - ${oTrunc4("list_cosine_similarity(va.v, vn.v)")} AS margin
       |FROM an JOIN e va ON va.vec_id = an.anchor_id
       |  JOIN e vp ON vp.vec_id = an.pos_id
       |  JOIN e vn ON vn.vec_id = an.neg_id
       |ORDER BY an.anchor_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_brier_decomp"         -> chpBrierDecomp _,
    "ts_dickey_fuller"         -> tsDickeyFuller _,
    "sample_contrastive_pairs" -> ((s, d) => contrastivePairs(s, d)))

  val oracles: Map[String, String] = Map(
    "chp_brier_decomp"         -> oChpBrierDecomp,
    "ts_dickey_fuller"         -> oTsDickeyFuller,
    "sample_contrastive_pairs" -> oSampleContrastive)
}
