package graft.operators

import graft.QueryPack
import graft.plans.SqDistLong
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 83 (SURVEY §2.28):
  *
  *  - `chp_sprt_sequential`: Wald's SPRT replayed over the daily
  *    conversion stream per cohort — the always-valid sequential A/B
  *    test that stops the moment evidence suffices.
  *  - `win_pareto_front`: the 2-D skyline operator — parts not
  *    dominated on (unit price ↓, total volume ↑); the classic
  *    database Pareto query via one sort + running max.
  *  - `emb_neighbor_preservation`: top-5 neighbor overlap between the
  *    original embedding space and its JL projection — the QA score
  *    that says whether the compressed index is safe to serve.
  */
object QRound9cf extends QueryPack {

  private val dd = DoubleType

  // ---- chp_sprt_sequential ----

  // H0: p = 0.55 vs H1: p = 0.75 per-user-day conversion-ish signal;
  // boundaries ±ln(19) (α = β = 0.05). Shared literal tower.
  private val sprtLw = "ln(75e-2/55e-2)"   // weight per success
  private val sprtLl = "ln(25e-2/45e-2)"   // weight per failure
  private val sprtB = "ln(19e0)"

  /** SPRT replay per cohort (user_id % 2): each day contributes
    * k·ln(p1/p0) + (n−k)·ln(q1/q0) where k = users of the cohort who
    * purchased that day and n = active users that day; the LLR path is
    * a per-day scale-to-long (1e9) then an EXACT integer cumulative
    * sum, so the first boundary crossing is an exact integer argmin.
    * Emits per cohort the decision (accept H1 / accept H0 / still
    * running), the decision day, and the final LLR.
    *
    * Scale shape: one (cohort, day) rollup + one prefix window. */
  private[graft] def sprtSequential(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val daily = ev.select(col("user_id"),
        expr("(unix_micros(cast(date_trunc('DAY', ts) as timestamp)) div 86400000000)")
          .as("day_num"),
        (col("event_type") === "purchase").cast(LongType).as("pur"))
      .groupBy((col("user_id") % 2).cast(IntegerType).as("cohort"),
        col("user_id"), col("day_num"))
      .agg(max("pur").as("conv"))
      .groupBy("cohort", "day_num")
      .agg(count(lit(1)).as("n"), sum("conv").as("k"))
    val steps = daily.withColumn("llr_sc", floor(
      (col("k").cast(dd) * expr(sprtLw)
        + (col("n") - col("k")).cast(dd) * expr(sprtLl)) * lit(1e9)
        + lit(0.5)).cast(LongType))
    val w = Window.partitionBy("cohort").orderBy("day_num")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val path = steps.withColumn("cum_sc", sum("llr_sc").over(w))
      .withColumn("bound_sc", floor(expr(sprtB) * lit(1e9) + lit(0.5))
        .cast(LongType))
      .withColumn("crossed", when(col("cum_sc") >= col("bound_sc"), 1)
        .when(col("cum_sc") <= -col("bound_sc"), -1).otherwise(0))
    val firstCross = path.filter(col("crossed") =!= 0)
      .groupBy("cohort").agg(min("day_num").as("decision_day"))
    val lastRow = path.groupBy("cohort").agg(max("day_num").as("last_day"),
      count(lit(1)).as("n_days"))
    // verdict from the crossing row (or the final row when undecided)
    val verdictRow = path.join(firstCross, Seq("cohort"), "left")
      .join(lastRow, "cohort")
      .filter(col("day_num") === coalesce(col("decision_day"),
        col("last_day")))
    verdictRow.select(col("cohort"), col("n_days"),
        coalesce(col("decision_day"), lit(-1L)).as("decision_day"),
        when(col("crossed") === 1, lit("accept_h1"))
          .when(col("crossed") === -1, lit("accept_h0"))
          .otherwise(lit("undecided")).as("verdict"),
        trunc4(col("cum_sc").cast(dd) / lit(1e9)).as("final_llr"))
      .orderBy("cohort")
  }

  private val oChpSprt =
    s"""WITH daily AS (SELECT CAST(user_id % 2 AS INT) AS cohort,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS conv
       |  FROM events GROUP BY 1, 2, 3),
       |agg AS (SELECT cohort, day_num, count(*) AS n,
       |    CAST(sum(conv) AS BIGINT) AS k FROM daily GROUP BY 1, 2),
       |steps AS (SELECT cohort, day_num, n, k,
       |    CAST(floor((CAST(k AS DOUBLE) * ($sprtLw)
       |      + CAST(n - k AS DOUBLE) * ($sprtLl)) * 1e9 + 5e-1) AS BIGINT)
       |      AS llr_sc
       |  FROM agg),
       |path AS (SELECT cohort, day_num,
       |    CAST(sum(llr_sc) OVER (PARTITION BY cohort ORDER BY day_num
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_sc,
       |    CAST(floor(($sprtB) * 1e9 + 5e-1) AS BIGINT) AS bound_sc
       |  FROM steps),
       |marked AS (SELECT *, CASE WHEN cum_sc >= bound_sc THEN 1
       |    WHEN cum_sc <= -bound_sc THEN -1 ELSE 0 END AS crossed
       |  FROM path),
       |fc AS (SELECT cohort, min(day_num) AS decision_day FROM marked
       |  WHERE crossed <> 0 GROUP BY 1),
       |lr AS (SELECT cohort, max(day_num) AS last_day, count(*) AS n_days
       |  FROM marked GROUP BY 1),
       |vr AS (SELECT m.*, lr.n_days, fc.decision_day
       |  FROM marked m LEFT JOIN fc USING (cohort) JOIN lr USING (cohort)
       |  WHERE m.day_num = coalesce(fc.decision_day, lr.last_day))
       |SELECT cohort, CAST(n_days AS BIGINT) AS n_days,
       |  coalesce(decision_day, -1) AS decision_day,
       |  CASE WHEN crossed = 1 THEN 'accept_h1'
       |       WHEN crossed = -1 THEN 'accept_h0'
       |       ELSE 'undecided' END AS verdict,
       |  ${oTrunc4("CAST(cum_sc AS DOUBLE)/1e9")} AS final_llr
       |FROM vr ORDER BY cohort""".stripMargin

  // ---- win_pareto_front ----

  /** 2-D skyline: per part, mean unit price (lower better, exact
    * cents·1e4-per-qty scale) vs total shipped volume (higher better);
    * a part is on the Pareto front iff no other part has strictly
    * lower price AND strictly higher volume. One sort by price + a
    * running max of volume over strictly-cheaper parts — the classic
    * O(n log n) skyline. Ties on price are handled exactly (the
    * running max only sees STRICTLY cheaper rows via a range frame).
    *
    * Scale shape: one part rollup + one global-ordering window (the
    * skyline sort); at lake scale the same query runs per coarse
    * price-band with a final merge. */
  private[graft] def paretoFront(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val per = li.groupBy(col("l_partkey").as("part"))
      .agg(sum(floor(col("l_extendedprice") * lit(100) + lit(0.5))
        .cast(LongType)).as("cents"),
        sum(col("l_quantity").cast(LongType)).as("volume"))
      // exact price-per-unit key: cents*1e4/qty floor — integer
      .withColumn("price_key", expr("cents * 10000 div volume"))
    // skyline via a bounded anti-join (no global window — the
    // PlanSpec gate): a part survives iff NO strictly-cheaper part
    // carries at least its volume
    val dom = per.select(col("price_key").as("pk2"),
      col("volume").as("v2"))
    val front = per.join(broadcast(dom),
      col("pk2") < col("price_key") && col("v2") >= col("volume"),
      "left_anti")
    front.select(col("part"), col("volume"),
        trunc4(col("price_key").cast(dd) / lit(1e6)).as("unit_price"))
      .orderBy("unit_price", "part")
  }

  private val oWinParetoFront =
    s"""WITH per AS (SELECT l_partkey AS part,
       |    CAST(sum(CAST(floor(l_extendedprice*100 + 5e-1) AS BIGINT))
       |      AS BIGINT) AS cents,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS volume
       |  FROM lineitem GROUP BY 1),
       |keyed AS (SELECT *, cents * 10000 // volume AS price_key FROM per),
       |mk AS (SELECT *, max(volume) OVER (ORDER BY price_key
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS best_cheaper_vol FROM keyed)
       |SELECT part, volume,
       |  ${oTrunc4("CAST(price_key AS DOUBLE)/1e6")} AS unit_price
       |FROM mk WHERE best_cheaper_vol IS NULL OR volume > best_cheaper_vol
       |ORDER BY unit_price, part""".stripMargin

  // ---- emb_neighbor_preservation ----

  /** Neighbor preservation under JL compression: for each anchor
    * (vec_id % 8 = 0) the exact top-5 neighbors (quantized integer
    * distances, id tie-break) are computed in BOTH the original 64-d
    * space and the 16-d projection (the `emb_jl_projection` sign
    * matrix); the score is the mean top-5 overlap. The go/no-go QA for
    * serving the compressed index.
    *
    * Scale shape: two bounded anchor×corpus scans on the codegen'd
    * sqdist_q kernel; overlap is a tiny join. */
  private[graft] def neighborPreservation(s: SparkSession, d: String): DataFrame = {
    // the memoized (vec_id, q, pq) JL index shared with
    // emb_jl_projection — one spelling, one build (ADVICE-r13-style
    // dedup: the re-spelled copy here could drift from the declared
    // projection, and re-derived it per call)
    val full = QRound9bt.jlIndex(s, d)
    def top5(space: String): DataFrame = {
      val anch = full.filter(col("vec_id") % 8 === 0)
        .select(col("vec_id").as("aid"), col(space).as("av"))
      val cand = full.select(col("vec_id").as("cid"), col(space).as("cv"))
      val pairs = cand.join(broadcast(anch), col("cid") =!= col("aid"))
        .select(col("aid"), col("cid"),
          SqDistLong.of(col("av"), col("cv")).as("d2"))
      val w = Window.partitionBy("aid").orderBy(col("d2"), col("cid"))
      pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select("aid", "cid")
    }
    val o5 = top5("q")
    val p5 = top5("pq").withColumnRenamed("cid", "cid2")
    val overlap = o5.join(p5,
        o5("aid") === p5("aid") && col("cid") === col("cid2"), "inner")
      .groupBy(o5("aid").as("aid")).agg(count(lit(1)).as("hits"))
    val anchors = o5.select("aid").distinct()
    anchors.join(overlap, Seq("aid"), "left")
      .select(coalesce(col("hits"), lit(0L)).as("hits"))
      .agg(count(lit(1)).as("n_anchors"), sum("hits").as("total_hits"))
      .select(col("n_anchors"),
        trunc4(col("total_hits").cast(dd) / lit(5.0)
          / col("n_anchors").cast(dd)).as("preservation_at_5"))
  }

  private val oEmbNeighborPreservation =
    s"""WITH qe AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 5e-1) AS BIGINT)) AS q
       |  FROM embeddings),
       |signs AS (SELECT t.tdim, s.sdim,
       |    CAST(1 - 2 * (${oMd5Prefix("concat(CAST(t.tdim AS VARCHAR), '_', CAST(s.sdim AS VARCHAR))", 15)} % 2) AS BIGINT) AS sg
       |  FROM (SELECT unnest(range(16)) AS tdim) t,
       |       (SELECT unnest(range(64)) AS sdim) s),
       |comps AS (SELECT vec_id, CAST(i - 1 AS INT) AS sdim, q[i] AS qv
       |  FROM qe, (SELECT unnest(range(1, 65)) AS i)),
       |proj AS MATERIALIZED (SELECT vec_id, list(pv ORDER BY tdim) AS pq
       |  FROM (SELECT vec_id, tdim, CAST(sum(sg * qv) AS BIGINT) AS pv
       |    FROM comps JOIN signs USING (sdim) GROUP BY 1, 2)
       |  GROUP BY 1),
       |o5 AS MATERIALIZED (SELECT aid, cid FROM (
       |  SELECT a.vec_id AS aid, c.vec_id AS cid,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      CAST(list_sum(list_transform(list_zip(a.q, c.q),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT), c.vec_id)
       |      AS rnk
       |  FROM qe a JOIN qe c ON c.vec_id <> a.vec_id
       |  WHERE a.vec_id % 8 = 0) WHERE rnk <= 5),
       |p5 AS MATERIALIZED (SELECT aid, cid FROM (
       |  SELECT a.vec_id AS aid, c.vec_id AS cid,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      CAST(list_sum(list_transform(list_zip(ap.pq, cp.pq),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT), c.vec_id)
       |      AS rnk
       |  FROM qe a JOIN proj ap ON ap.vec_id = a.vec_id
       |    JOIN qe c ON c.vec_id <> a.vec_id
       |    JOIN proj cp ON cp.vec_id = c.vec_id
       |  WHERE a.vec_id % 8 = 0) WHERE rnk <= 5),
       |hits AS (SELECT o5.aid, count(*) AS h FROM o5
       |  JOIN p5 ON p5.aid = o5.aid AND p5.cid = o5.cid GROUP BY 1),
       |anch AS (SELECT DISTINCT aid FROM o5)
       |SELECT CAST(count(*) AS BIGINT) AS n_anchors,
       |  ${oTrunc4("CAST(sum(coalesce(h, 0)) AS DOUBLE)/5e0/count(*)")}
       |    AS preservation_at_5
       |FROM anch LEFT JOIN hits USING (aid)""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_sprt_sequential"       -> ((s, d) => sprtSequential(s, d)),
    "win_pareto_front"          -> ((s, d) => paretoFront(s, d)),
    "emb_neighbor_preservation" -> ((s, d) => neighborPreservation(s, d)))

  val oracles: Map[String, String] = Map(
    "chp_sprt_sequential"       -> oChpSprt,
    "win_pareto_front"          -> oWinParetoFront,
    "emb_neighbor_preservation" -> oEmbNeighborPreservation)
}
