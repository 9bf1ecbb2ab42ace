package graft.operators

import graft.QueryPack
import graft.plans.SqDistLong
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 70 (SURVEY §2.28):
  *
  *  - `ts_dtw_distance`: banded dynamic-time-warping distance between
  *    every pair of daily series — the classic elastic similarity
  *    measure; exact integer DP, oracle = anti-diagonal recursive CTE.
  *  - `chp_adstock_ols`: advertising adstock (geometric carryover,
  *    λ=1/2 over 7 taps — exact dyadic integers) regressed against
  *    purchases — the media-mix-modeling primitive.
  *  - `emb_energy_distance`: Székely energy distance between every
  *    label pair of the embedding corpus — the metric two-sample test
  *    for representation drift.
  */
object QRound9bs extends QueryPack {

  private val dd = DoubleType

  // ---- ts_dtw_distance ----

  /** Exact banded DTW (Sakoe–Chiba, w = |n−m|+10) on Long series:
    * classic O(n·w) two-row DP. Exposed for the Round9bsSpec
    * hand-checked fixtures. */
  private[graft] def dtwBanded(xs: Array[Long], ys: Array[Long],
      extra: Int): Long = {
    val n = xs.length; val m = ys.length
    val w = math.abs(n - m) + extra
    val INF = Long.MaxValue / 4
    var prev = Array.fill(m)(INF)
    var cur = Array.fill(m)(INF)
    var i = 0
    while (i < n) {
      java.util.Arrays.fill(cur, INF)
      var j = math.max(0, i - w)
      val jHi = math.min(m - 1, i + w)
      while (j <= jHi) {
        val c = math.abs(xs(i) - ys(j))
        val best =
          if (i == 0 && j == 0) 0L
          else {
            var b = if (i > 0) prev(j) else INF
            if (j > 0 && cur(j - 1) < b) b = cur(j - 1)
            if (i > 0 && j > 0 && prev(j - 1) < b) b = prev(j - 1)
            b
          }
        cur(j) = c + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m - 1)
  }

  /** DTW between all 10 unordered pairs of event-type daily series:
    * integer |x−y| step costs make the whole DP exact, so the engine
    * and the oracle's anti-diagonal WITH RECURSIVE (each wavefront
    * depends only on the previous two, carried via a fresh/carry row
    * protocol) agree bit-for-bit. Emits the raw warp cost and the
    * per-step normalization.
    *
    * Scale shape: series collapse to per-type arrays (bounded model
    * state — days, not events); the 10 DP runs are O(n·w) each. The
    * heavy lifting (daily rollup) is the one shuffle. */
  private[graft] def dtwDistance(s: SparkSession, d: String): DataFrame = {
    val daily = QRound9b.evDaily(s, d)
    val ser = daily.groupBy("event_type").agg(
      expr("transform(array_sort(collect_list(struct(day_num, cnt))), z -> z.cnt)")
        .as("vs"))
    val a = ser.select(col("event_type").as("x_type"), col("vs").as("xs"))
    val b = ser.select(col("event_type").as("y_type"), col("vs").as("ys"))
    val dtwU = udf((xs: Seq[Long], ys: Seq[Long]) =>
      dtwBanded(xs.toArray, ys.toArray, 10))
    a.join(b, col("x_type") < col("y_type"))
      .select(col("x_type"), col("y_type"),
        size(col("xs")).cast(LongType).as("n_x"),
        size(col("ys")).cast(LongType).as("n_y"),
        dtwU(col("xs"), col("ys")).as("dtw_cost"))
      .withColumn("dtw_per_step", trunc4(col("dtw_cost").cast(dd)
        / (col("n_x") + col("n_y")).cast(dd)))
      .orderBy("x_type", "y_type")
  }

  private val oTsDtw =
    """WITH RECURSIVE daily AS (SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
      |    count(*) AS cnt FROM events GROUP BY 1, 2),
      |idx AS MATERIALIZED (SELECT event_type, cnt,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day_num) - 1
      |      AS i
      |  FROM daily),
      |len AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
      |pr AS MATERIALIZED (SELECT la.event_type AS xt, lb.event_type AS yt,
      |    la.n AS nx, lb.n AS ny, abs(la.n - lb.n) + 10 AS w
      |  FROM len la JOIN len lb ON la.event_type < lb.event_type),
      |dtw(xt, yt, d, i, j, cost, fresh) AS (
      |  SELECT pr.xt, pr.yt, 0, 0, 0,
      |    (SELECT abs(x.cnt - y.cnt) FROM idx x, idx y
      |      WHERE x.event_type = pr.xt AND x.i = 0
      |        AND y.event_type = pr.yt AND y.i = 0), 1
      |  FROM pr
      |  UNION ALL
      |  SELECT g.xt, g.yt, g.d, g.i, g.j,
      |    CASE WHEN g.fresh = 1 THEN
      |      (SELECT abs(x.cnt - y.cnt) FROM idx x, idx y
      |        WHERE x.event_type = g.xt AND x.i = g.i
      |          AND y.event_type = g.yt AND y.i = g.j) + g.mc
      |    ELSE g.mc END, g.fresh
      |  FROM (
      |    SELECT c.xt, c.yt, c.nd AS d, c.ni AS i, c.nj AS j,
      |      min(p.cost) AS mc, 1 AS fresh
      |    FROM (
      |      SELECT DISTINCT r.xt, r.yt, r.d + 1 AS nd, r.ni, r.nj
      |      FROM (SELECT xt, yt, d, i + 1 AS ni, j AS nj FROM dtw
      |              WHERE fresh = 1
      |            UNION ALL
      |            SELECT xt, yt, d, i, j + 1 FROM dtw WHERE fresh = 1) r
      |      JOIN pr ON pr.xt = r.xt AND pr.yt = r.yt
      |      WHERE r.ni < pr.nx AND r.nj < pr.ny
      |        AND abs(r.ni - r.nj) <= pr.w) c
      |    JOIN dtw p ON p.xt = c.xt AND p.yt = c.yt AND
      |      ((p.i = c.ni - 1 AND p.j = c.nj)
      |       OR (p.i = c.ni AND p.j = c.nj - 1)
      |       OR (p.i = c.ni - 1 AND p.j = c.nj - 1))
      |    GROUP BY c.xt, c.yt, c.nd, c.ni, c.nj
      |    UNION ALL
      |    SELECT t.xt, t.yt, t.d, t.i, t.j, t.cost AS mc, 0 AS fresh
      |    FROM dtw t JOIN pr ON pr.xt = t.xt AND pr.yt = t.yt
      |    WHERE t.fresh = 1 AND t.d + 1 < pr.nx + pr.ny - 1) g
      |)
      |SELECT pr.xt AS x_type, pr.yt AS y_type,
      |  CAST(pr.nx AS BIGINT) AS n_x, CAST(pr.ny AS BIGINT) AS n_y,
      |  CAST(min(dtw.cost) AS BIGINT) AS dtw_cost,
      |  floor(CAST(min(dtw.cost) AS DOUBLE)/CAST(pr.nx + pr.ny AS DOUBLE)
      |    *10000)/10000.0 AS dtw_per_step
      |FROM pr JOIN dtw ON dtw.xt = pr.xt AND dtw.yt = pr.yt
      |  AND dtw.i = pr.nx - 1 AND dtw.j = pr.ny - 1
      |GROUP BY pr.xt, pr.yt, pr.nx, pr.ny ORDER BY 1, 2""".stripMargin

  // ---- chp_adstock_ols ----

  // shared OLS tower off exact centered BIGINT moments
  private val aSlope = "CAST(sxy AS DOUBLE)/nullif(CAST(sxx AS DOUBLE), 0e0)"
  private val aR2 = "CAST(sxy AS DOUBLE)*CAST(sxy AS DOUBLE)" +
    "/nullif(CAST(sxx AS DOUBLE)*CAST(syy AS DOUBLE), 0e0)"

  /** Adstock regression: each channel's daily count passes through the
    * geometric carryover filter a_t = Σ_{k=0..6} x_{t−k}·2^{6−k}
    * (λ = 1/2 truncated at 7 taps, scaled by 64 — EXACT dyadic
    * integers), then purchases_t is regressed on a_t: slope (per
    * unscaled adstock unit, ×64), R². The media-mix question — how
    * much of today's conversions does each channel's recent pressure
    * explain.
    *
    * Scale shape: per-channel lag windows + one rollup; moments are
    * exact BIGINTs via n·Σab − Σa·Σb. */
  private[graft] def adstockOls(s: SparkSession, d: String): DataFrame = {
    val daily = QRound9b.evDaily(s, d)
    val pur = daily.filter(col("event_type") === "purchase")
      .select(col("day_num"), col("cnt").as("y"))
    val ch = daily.filter(col("event_type") =!= "purchase")
    val w = Window.partitionBy("event_type").orderBy("day_num")
    val ads = ch.select(col("event_type"), col("day_num"),
        (col("cnt") * lit(64L) + lag("cnt", 1).over(w) * lit(32L)
          + lag("cnt", 2).over(w) * lit(16L) + lag("cnt", 3).over(w) * lit(8L)
          + lag("cnt", 4).over(w) * lit(4L) + lag("cnt", 5).over(w) * lit(2L)
          + lag("cnt", 6).over(w) * lit(1L)).as("a"))
      .filter(col("a").isNotNull)
    val j = ads.join(pur, "day_num")
    val m = j.groupBy("event_type").agg(count(lit(1)).as("np"),
      sum("a").as("sa"), sum("y").as("sy"),
      sum(col("a") * col("a")).as("raa"),
      sum(col("a") * col("y")).as("ray"),
      sum(col("y") * col("y")).as("ryy"))
    m.withColumn("sxx", col("np") * col("raa") - col("sa") * col("sa"))
      .withColumn("sxy", col("np") * col("ray") - col("sa") * col("sy"))
      .withColumn("syy", col("np") * col("ryy") - col("sy") * col("sy"))
      .withColumn("slope", expr(aSlope))
      .select(col("event_type").as("channel"), col("np").as("n_obs"),
        trunc6(expr("slope * 64e0")).as("slope_per_click"),
        trunc4(expr(aR2)).as("r2"))
      .orderBy("channel")
  }

  private val oChpAdstock =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |pur AS (SELECT day_num, cnt AS y FROM daily
       |  WHERE event_type = 'purchase'),
       |ads AS (SELECT event_type, day_num,
       |    cnt*64 + lag(cnt, 1) OVER w * 32 + lag(cnt, 2) OVER w * 16
       |    + lag(cnt, 3) OVER w * 8 + lag(cnt, 4) OVER w * 4
       |    + lag(cnt, 5) OVER w * 2 + lag(cnt, 6) OVER w * 1 AS a
       |  FROM daily WHERE event_type <> 'purchase'
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day_num)),
       |j AS (SELECT event_type, a, y FROM ads JOIN pur USING (day_num)
       |  WHERE a IS NOT NULL),
       |m AS (SELECT event_type, count(*) AS np,
       |    CAST(sum(a) AS BIGINT) AS sa, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(a*a) AS BIGINT) AS raa, CAST(sum(a*y) AS BIGINT) AS ray,
       |    CAST(sum(y*y) AS BIGINT) AS ryy
       |  FROM j GROUP BY 1),
       |s1 AS (SELECT *, np*raa - sa*sa AS sxx, np*ray - sa*sy AS sxy,
       |    np*ryy - sy*sy AS syy FROM m),
       |s2 AS (SELECT *, ($aSlope) AS slope FROM s1)
       |SELECT event_type AS channel, np AS n_obs,
       |  ${oTrunc6("slope * 64e0")} AS slope_per_click,
       |  ${oTrunc4(aR2)} AS r2
       |FROM s2 ORDER BY channel""".stripMargin

  // ---- emb_energy_distance ----

  /** Székely energy distance E²(X,Y) = 2·E|X−Y| − E|X−X'| − E|Y−Y'|
    * between every label pair: vectors 1e6-quantized so squared
    * distances are exact integers; each pair distance is the
    * correctly-rounded floor(sqrt(d2)·1e6+0.5) — a single IEEE sqrt,
    * identical in both engines — and every expectation is an exact
    * BIGINT sum over unordered distinct pairs. Large E² = the two
    * label clouds occupy different regions.
    *
    * Scale shape: one all-pairs (a<b) self-join grouped by the label
    * pair — N²/2 bounded rows; the per-label within sums come from the
    * same pass (la == lb rows). At corpus scale the same statistic
    * runs on per-label uniform samples. */
  private[graft] def energyDistance(s: SparkSession, d: String): DataFrame = {
    val qe = t(s, d, "embeddings").select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 5e-1) AS BIGINT))")
        .as("q"))
    val a = qe.select(col("vec_id").as("ia"), col("label").as("la"),
      col("q").as("qa"))
    val b = qe.select(col("vec_id").as("ib"), col("label").as("lb"),
      col("q").as("qb"))
    val pairs = a.join(b, col("ia") < col("ib"))
      .select(
        least(col("la"), col("lb")).as("l1"),
        greatest(col("la"), col("lb")).as("l2"),
        floor(sqrt(SqDistLong.of(col("qa"), col("qb")).cast(DoubleType))
          * lit(1e6) + lit(5e-1)).cast(LongType).as("dist_sc"))
    val sums = pairs.groupBy("l1", "l2")
      .agg(count(lit(1)).as("n_pairs"), sum("dist_sc").as("s"))
    val within = sums.filter(col("l1") === col("l2"))
      .select(col("l1").as("lw"), col("n_pairs").as("nw"),
        col("s").as("sw"))
    val counts = qe.groupBy("label").agg(count(lit(1)).as("n"))
    val between = sums.filter(col("l1") =!= col("l2"))
    between
      .join(broadcast(within.select(col("lw").as("l1"),
        col("sw").as("sw1"), col("nw").as("nw1"))), "l1")
      .join(broadcast(within.select(col("lw").as("l2"),
        col("sw").as("sw2"), col("nw").as("nw2"))), "l2")
      .join(broadcast(counts.select(col("label").as("l1"),
        col("n").as("na"))), "l1")
      .join(broadcast(counts.select(col("label").as("l2"),
        col("n").as("nb"))), "l2")
      .select(col("l1"), col("l2"), col("na"), col("nb"),
        trunc4(expr(
          """(2e0*CAST(s AS DOUBLE)/CAST(na*nb AS DOUBLE)
            | - CAST(sw1 AS DOUBLE)/CAST(nw1 AS DOUBLE)
            | - CAST(sw2 AS DOUBLE)/CAST(nw2 AS DOUBLE)) / 1e12""".stripMargin))
          .as("energy_dist"))
      .orderBy("l1", "l2")
  }

  private val oEmbEnergy =
    s"""WITH qe AS MATERIALIZED (SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 5e-1) AS BIGINT)) AS q
       |  FROM embeddings),
       |p AS (SELECT least(a.label, b.label) AS l1,
       |    greatest(a.label, b.label) AS l2,
       |    CAST(floor(sqrt(CAST(list_sum(list_transform(list_zip(a.q, b.q),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS DOUBLE))*1e6 + 5e-1)
       |      AS BIGINT) AS dist_sc
       |  FROM qe a JOIN qe b ON a.vec_id < b.vec_id),
       |sums AS (SELECT l1, l2, count(*) AS n_pairs,
       |    CAST(sum(dist_sc) AS BIGINT) AS s FROM p GROUP BY 1, 2),
       |wi AS (SELECT l1 AS lw, n_pairs AS nw, s AS sw FROM sums
       |  WHERE l1 = l2),
       |cn AS (SELECT label, count(*) AS n FROM qe GROUP BY 1)
       |SELECT CAST(b.l1 AS INT) AS l1, CAST(b.l2 AS INT) AS l2,
       |  CAST(ca.n AS BIGINT) AS na,
       |  CAST(cb.n AS BIGINT) AS nb,
       |  ${oTrunc4("""(2e0*CAST(b.s AS DOUBLE)/CAST(ca.n*cb.n AS DOUBLE)
    - CAST(w1.sw AS DOUBLE)/CAST(w1.nw AS DOUBLE)
    - CAST(w2.sw AS DOUBLE)/CAST(w2.nw AS DOUBLE)) / 1e12""")}
       |    AS energy_dist
       |FROM sums b JOIN wi w1 ON w1.lw = b.l1 JOIN wi w2 ON w2.lw = b.l2
       |  JOIN cn ca ON ca.label = b.l1 JOIN cn cb ON cb.label = b.l2
       |WHERE b.l1 <> b.l2 ORDER BY b.l1, b.l2""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_dtw_distance"     -> ((s, d) => dtwDistance(s, d)),
    "chp_adstock_ols"     -> ((s, d) => adstockOls(s, d)),
    "emb_energy_distance" -> ((s, d) => energyDistance(s, d)))

  val oracles: Map[String, String] = Map(
    "ts_dtw_distance"     -> oTsDtw,
    "chp_adstock_ols"     -> oChpAdstock,
    "emb_energy_distance" -> oEmbEnergy)
}
