package graft.operators

import graft.QueryPack
import graft.plans.SqDistLong
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 78 (SURVEY §2.28):
  *
  *  - `chp_causal_impact_lite`: pre/post counterfactual analysis — fit
  *    purchases on a control series pre-intervention, project the
  *    counterfactual post-window, report the cumulative effect and its
  *    z — the CausalImpact shape without the state-space machinery.
  *  - `ts_spectral_entropy`: normalized Shannon entropy of the
  *    harmonic power spectrum per daily series — one number for "how
  *    concentrated is this series' periodicity".
  *  - `emb_mmd_rbf`: kernel Maximum Mean Discrepancy (RBF, mean-d²
  *    bandwidth) between every label pair — the kernel two-sample test
  *    beside the energy distance.
  */
object QRound9ca extends QueryPack {

  private val dd = DoubleType

  // ---- chp_causal_impact_lite ----

  private val ciPreDays = 20L

  // shared towers
  private val ciB = "CAST(sxy AS DOUBLE)/nullif(CAST(sxx AS DOUBLE), 0e0)"
  private val ciA =
    "(CAST(sy AS DOUBLE) - beta*CAST(sx AS DOUBLE))/CAST(np AS DOUBLE)"
  private val ciZ =
    "(CAST(ce_sc AS DOUBLE)/1e6)" +
      "/nullif(sqrt(CAST(sse_sc AS DOUBLE)/1e12/CAST(np - 2 AS DOUBLE))" +
      "*sqrt(CAST(npost AS DOUBLE)), 0e0)"

  /** Causal-impact lite: the first 20 days are the pre-period — OLS of
    * daily purchases on daily clicks from exact centered BIGINT
    * moments; the post-period counterfactual is α + β·clicks, the
    * observed-minus-predicted effects are scale-to-long'd at 1e6 (exact
    * cumulative sum), and z = cum_effect/(s·√n_post) with the residual
    * variance from 1e12-scaled pre-period SSE terms. The
    * "did-the-launch-move-purchases" analysis.
    *
    * Scale shape: one day-joined pair of series + two rollups; the
    * model is two scalars broadcast back. */
  private[graft] def causalImpactLite(s: SparkSession, d: String): DataFrame = {
    val daily = QRound9b.evDaily(s, d)
    val y = daily.filter(col("event_type") === "purchase")
      .select(col("day_num"), col("cnt").as("yc"))
    val x = daily.filter(col("event_type") === "click")
      .select(col("day_num"), col("cnt").as("xc"))
    val j = y.join(x, "day_num")
    val d0 = j.agg(min("day_num").as("d0"))
    val jj = j.crossJoin(broadcast(d0))
      .withColumn("pre", (col("day_num") - col("d0") < ciPreDays)
        .cast(IntegerType))
    val m = jj.filter(col("pre") === 1).agg(count(lit(1)).as("np"),
      sum("xc").as("sx"), sum("yc").as("sy"),
      sum(col("xc") * col("xc")).as("rxx"),
      sum(col("xc") * col("yc")).as("rxy"))
    val coef = m
      .withColumn("sxx", col("np") * col("rxx") - col("sx") * col("sx"))
      .withColumn("sxy", col("np") * col("rxy") - col("sx") * col("sy"))
      .withColumn("beta", expr(ciB)).withColumn("alpha", expr(ciA))
    val scored = jj.crossJoin(broadcast(coef
        .select("np", "beta", "alpha")))
      .withColumn("eff_sc", floor((col("yc").cast(dd) - col("alpha")
        - col("beta") * col("xc").cast(dd)) * lit(1e6) + lit(0.5))
        .cast(LongType))
    val sse = scored.filter(col("pre") === 1)
      .agg(sum(floor((col("eff_sc").cast(dd) / lit(1e6))
        * (col("eff_sc").cast(dd) / lit(1e6)) * lit(1e12) + lit(0.5))
        .cast(LongType)).as("sse_sc"))
    val post = scored.filter(col("pre") === 0)
      .agg(count(lit(1)).as("npost"), sum("eff_sc").as("ce_sc"))
    coef.select("np", "beta").crossJoin(sse).crossJoin(post)
      .withColumn("z", expr(ciZ))
      .select(col("np").as("n_pre"), col("npost").as("n_post"),
        trunc6(col("beta")).as("beta"),
        trunc4(col("ce_sc").cast(dd) / lit(1e6)).as("cum_effect"),
        trunc4(col("z")).as("z_score"),
        (abs(trunc4(col("z"))) > lit(1.96)).cast(IntegerType)
          .as("significant"))
  }

  private val oChpCausalImpact =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |j AS (SELECT y.day_num, y.cnt AS yc, x.cnt AS xc
       |  FROM (SELECT day_num, cnt FROM daily WHERE event_type = 'purchase') y
       |  JOIN (SELECT day_num, cnt FROM daily WHERE event_type = 'click') x
       |    USING (day_num)),
       |d0 AS (SELECT min(day_num) AS d0 FROM j),
       |jj AS (SELECT j.*, CASE WHEN day_num - d0 < $ciPreDays THEN 1
       |    ELSE 0 END AS pre FROM j, d0),
       |m AS (SELECT count(*) AS np, CAST(sum(xc) AS BIGINT) AS sx,
       |    CAST(sum(yc) AS BIGINT) AS sy,
       |    CAST(sum(xc*xc) AS BIGINT) AS rxx,
       |    CAST(sum(xc*yc) AS BIGINT) AS rxy
       |  FROM jj WHERE pre = 1),
       |c1 AS (SELECT *, np*rxx - sx*sx AS sxx, np*rxy - sx*sy AS sxy
       |  FROM m),
       |c2 AS (SELECT *, ($ciB) AS beta FROM c1),
       |c3 AS (SELECT *, ($ciA) AS alpha FROM c2),
       |sc AS (SELECT jj.*, np, beta, alpha,
       |    CAST(floor((CAST(yc AS DOUBLE) - alpha - beta*CAST(xc AS DOUBLE))
       |      * 1e6 + 5e-1) AS BIGINT) AS eff_sc
       |  FROM jj, c3),
       |sse AS (SELECT CAST(sum(CAST(floor((CAST(eff_sc AS DOUBLE)/1e6)
       |    *(CAST(eff_sc AS DOUBLE)/1e6)*1e12 + 5e-1) AS BIGINT)) AS BIGINT)
       |    AS sse_sc
       |  FROM sc WHERE pre = 1),
       |post AS (SELECT count(*) AS npost, CAST(sum(eff_sc) AS BIGINT)
       |    AS ce_sc FROM sc WHERE pre = 0),
       |f AS (SELECT np, beta, sse_sc, npost, ce_sc, ($ciZ) AS z
       |  FROM c3, sse, post)
       |SELECT CAST(np AS BIGINT) AS n_pre, CAST(npost AS BIGINT) AS n_post,
       |  ${oTrunc6("beta")} AS beta,
       |  ${oTrunc4("CAST(ce_sc AS DOUBLE)/1e6")} AS cum_effect,
       |  ${oTrunc4("z")} AS z_score,
       |  CAST(abs(${oTrunc4("z")}) > 196e-2 AS INT) AS significant
       |FROM f""".stripMargin

  // ---- ts_spectral_entropy ----

  /** Spectral entropy per daily series: harmonic band powers k = 1..8
    * over the re-based day index (Goertzel probe, mean-centered exact
    * integers, per-term 1e6 scale-to-long), powers normalized into a
    * distribution, entropy via per-band 1e12 scale-to-long terms,
    * normalized by ln 8. Near 1 = white, near 0 = one dominant cycle.
    *
    * Scale shape: days × 8 bands map-side; two bounded rollups. */
  private[graft] def spectralEntropy(s: SparkSession, d: String): DataFrame = {
    val daily = QRound9b.evDaily(s, d)
    val base = daily.groupBy(col("event_type").as("tb"))
      .agg(min("day_num").as("d0"), count(lit(1)).as("nd"),
        sum("cnt").as("tot"))
    val bands = s.range(8).select((col("id") + 1).cast(IntegerType).as("k"))
    val tt = (col("day_num") - col("d0")).cast(dd)
    val ang = lit(2.0 * math.Pi) * col("k").cast(dd) * tt / col("nd").cast(dd)
    val ctr = (col("nd") * col("cnt") - col("tot")).cast(dd)
    val pw = daily.join(broadcast(base), col("event_type") === col("tb"))
      .crossJoin(broadcast(bands))
      .select(col("event_type"), col("k"),
        floor(ctr * cos(ang) * lit(1e6) + lit(5e-1)).cast(LongType).as("tc"),
        floor(ctr * sin(ang) * lit(1e6) + lit(5e-1)).cast(LongType).as("ts"))
      .groupBy("event_type", "k")
      .agg(sum("tc").as("sc6"), sum("ts").as("ss6"))
      .withColumn("power",
        (col("sc6") / lit(1e6)) * (col("sc6") / lit(1e6))
          + (col("ss6") / lit(1e6)) * (col("ss6") / lit(1e6)))
      .withColumn("p_sc", floor(col("power") + lit(0.5)).cast(LongType))
      .filter(col("p_sc") > 0)
    val tot = pw.groupBy("event_type").agg(sum("p_sc").as("ptot"),
      count(lit(1)).as("nb"), max("p_sc").as("pmax"))
    pw.join(broadcast(tot), "event_type")
      .withColumn("term_sc", floor(
        col("p_sc").cast(dd) / col("ptot").cast(dd)
          * log(col("ptot").cast(dd) / col("p_sc").cast(dd)) * lit(1e12)
          + lit(0.5)).cast(LongType))
      .groupBy("event_type", "nb", "ptot", "pmax")
      .agg(sum("term_sc").as("h_sc"))
      .select(col("event_type"), col("nb").as("n_bands"),
        trunc4(col("h_sc").cast(dd) / lit(1e12) / log(lit(8.0)))
          .as("spectral_entropy_norm"),
        trunc4(col("pmax").cast(dd) / col("ptot").cast(dd))
          .as("dominant_band_share"))
      .orderBy("event_type")
  }

  private val oTsSpectralEntropy =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |base AS (SELECT event_type, min(day_num) AS d0, count(*) AS nd,
       |    CAST(sum(cnt) AS BIGINT) AS tot FROM daily GROUP BY 1),
       |pw AS (SELECT daily.event_type, k,
       |    CAST(sum(CAST(floor(CAST(nd*cnt - tot AS DOUBLE)
       |      * cos(2e0*3141592653589793e-15*k*(day_num - d0)/nd)
       |      * 1e6 + 5e-1) AS BIGINT)) AS BIGINT) AS sc6,
       |    CAST(sum(CAST(floor(CAST(nd*cnt - tot AS DOUBLE)
       |      * sin(2e0*3141592653589793e-15*k*(day_num - d0)/nd)
       |      * 1e6 + 5e-1) AS BIGINT)) AS BIGINT) AS ss6
       |  FROM daily JOIN base USING (event_type),
       |    (SELECT unnest(range(1, 9)) AS k)
       |  GROUP BY 1, 2),
       |pp AS (SELECT event_type, k, CAST(floor(
       |    (sc6/1e6)*(sc6/1e6) + (ss6/1e6)*(ss6/1e6) + 5e-1) AS BIGINT)
       |    AS p_sc FROM pw),
       |pz AS (SELECT * FROM pp WHERE p_sc > 0),
       |tt AS (SELECT event_type, CAST(sum(p_sc) AS BIGINT) AS ptot,
       |    count(*) AS nb, CAST(max(p_sc) AS BIGINT) AS pmax
       |  FROM pz GROUP BY 1),
       |h AS (SELECT pz.event_type, nb, ptot, pmax,
       |    CAST(sum(CAST(floor(CAST(p_sc AS DOUBLE)/CAST(ptot AS DOUBLE)
       |      * ln(CAST(ptot AS DOUBLE)/CAST(p_sc AS DOUBLE)) * 1e12 + 5e-1)
       |      AS BIGINT)) AS BIGINT) AS h_sc
       |  FROM pz JOIN tt USING (event_type) GROUP BY 1, 2, 3, 4)
       |SELECT event_type, CAST(nb AS BIGINT) AS n_bands,
       |  ${oTrunc4("CAST(h_sc AS DOUBLE)/1e12/ln(8e0)")}
       |    AS spectral_entropy_norm,
       |  ${oTrunc4("CAST(pmax AS DOUBLE)/CAST(ptot AS DOUBLE)")}
       |    AS dominant_band_share
       |FROM h ORDER BY event_type""".stripMargin

  // ---- emb_mmd_rbf ----

  /** Kernel MMD² (biased V-statistic over distinct pairs) between every
    * label pair: RBF kernel exp(−d²/(2σ²)) with the GLOBAL mean
    * pairwise squared distance as σ² (the median-heuristic stand-in,
    * deterministic), per-pair kernel values scale-to-long'd at 1e12;
    * MMD² = k̄_XX + k̄_YY − 2k̄_XY. The kernel companion to
    * `emb_energy_distance`, on the same sqdist_q kernel.
    *
    * Scale shape: one a<b self-join (bounded N²/2) with the codegen'd
    * exact-integer distance; the bandwidth is one broadcast scalar. */
  private[graft] def mmdRbf(s: SparkSession, d: String): DataFrame = {
    val qe = t(s, d, "embeddings").select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 5e-1) AS BIGINT))")
        .as("q"))
    val a = qe.select(col("vec_id").as("ia"), col("label").as("la"),
      col("q").as("qa"))
    val b = qe.select(col("vec_id").as("ib"), col("label").as("lb"),
      col("q").as("qb"))
    val pairs = a.join(b, col("ia") < col("ib"))
      .select(least(col("la"), col("lb")).as("l1"),
        greatest(col("la"), col("lb")).as("l2"),
        SqDistLong.of(col("qa"), col("qb")).as("d2"))
    val sig = pairs.agg(sum("d2").as("sd2"), count(lit(1)).as("npair"))
    val kv = pairs.crossJoin(broadcast(sig))
      .withColumn("k_sc", floor(exp(col("d2").cast(dd)
        * lit(-1.0) / (lit(2.0) * (col("sd2").cast(dd)
          / col("npair").cast(dd)))) * lit(1e12) + lit(0.5))
        .cast(LongType))
    val sums = kv.groupBy("l1", "l2")
      .agg(count(lit(1)).as("n"), sum("k_sc").as("sk"))
    val within = sums.filter(col("l1") === col("l2"))
      .select(col("l1").as("lw"), col("n").as("nw"), col("sk").as("skw"))
    sums.filter(col("l1") =!= col("l2"))
      .join(broadcast(within.select(col("lw").as("l1"),
        col("nw").as("n1"), col("skw").as("sk1"))), "l1")
      .join(broadcast(within.select(col("lw").as("l2"),
        col("nw").as("n2"), col("skw").as("sk2"))), "l2")
      .select(col("l1"), col("l2"),
        trunc6(expr(
          """(CAST(sk1 AS DOUBLE)/CAST(n1 AS DOUBLE)
            | + CAST(sk2 AS DOUBLE)/CAST(n2 AS DOUBLE)
            | - 2e0*CAST(sk AS DOUBLE)/CAST(n AS DOUBLE)) / 1e12"""
            .stripMargin)).as("mmd2"))
      .orderBy("l1", "l2")
  }

  private val oEmbMmdRbf =
    s"""WITH qe AS MATERIALIZED (SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 5e-1) AS BIGINT)) AS q
       |  FROM embeddings),
       |p AS MATERIALIZED (SELECT least(a.label, b.label) AS l1,
       |    greatest(a.label, b.label) AS l2,
       |    CAST(list_sum(list_transform(list_zip(a.q, b.q),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |  FROM qe a JOIN qe b ON a.vec_id < b.vec_id),
       |sig AS (SELECT CAST(sum(d2) AS BIGINT) AS sd2, count(*) AS npair
       |  FROM p),
       |kv AS (SELECT l1, l2, CAST(floor(exp(CAST(d2 AS DOUBLE)
       |    * -1e0 / (2e0 * (CAST(sd2 AS DOUBLE)/CAST(npair AS DOUBLE))))
       |    * 1e12 + 5e-1) AS BIGINT) AS k_sc
       |  FROM p, sig),
       |sums AS (SELECT l1, l2, count(*) AS n, CAST(sum(k_sc) AS BIGINT)
       |    AS sk FROM kv GROUP BY 1, 2),
       |wi AS (SELECT l1 AS lw, n AS nw, sk AS skw FROM sums WHERE l1 = l2)
       |SELECT CAST(b.l1 AS INT) AS l1, CAST(b.l2 AS INT) AS l2,
       |  ${oTrunc6("""(CAST(w1.skw AS DOUBLE)/CAST(w1.nw AS DOUBLE)
     + CAST(w2.skw AS DOUBLE)/CAST(w2.nw AS DOUBLE)
     - 2e0*CAST(b.sk AS DOUBLE)/CAST(b.n AS DOUBLE)) / 1e12""")} AS mmd2
       |FROM sums b JOIN wi w1 ON w1.lw = b.l1 JOIN wi w2 ON w2.lw = b.l2
       |WHERE b.l1 <> b.l2 ORDER BY l1, l2""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_causal_impact_lite" -> ((s, d) => causalImpactLite(s, d)),
    "ts_spectral_entropy"    -> ((s, d) => spectralEntropy(s, d)),
    "emb_mmd_rbf"            -> ((s, d) => mmdRbf(s, d)))

  val oracles: Map[String, String] = Map(
    "chp_causal_impact_lite" -> oChpCausalImpact,
    "ts_spectral_entropy"    -> oTsSpectralEntropy,
    "emb_mmd_rbf"            -> oEmbMmdRbf)
}
