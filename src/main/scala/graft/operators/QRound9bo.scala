package graft.operators

import graft.QueryPack
import graft.plans.SqDistLong
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 66 (SURVEY §2.28):
  *
  *  - `chp_shapley_attribution`: exact data-driven (Shapley-value)
  *    channel attribution over the 4-channel touch space — the
  *    marketing-science upgrade of last-touch attribution.
  *  - `emb_intrinsic_dim`: Two-NN intrinsic-dimension estimator
  *    (Facco et al. 2017) over the embedding corpus — how many degrees
  *    of freedom the data actually occupies, from nearest-neighbor
  *    distance ratios alone.
  *  - `set_union_by_name`: `unionByName(allowMissingColumns = true)`
  *    schema-alignment semantics — positional-blind union with null
  *    fill, the DuckDB `UNION ALL BY NAME` twin.
  */
object QRound9bo extends QueryPack {

  private val dd = DoubleType

  // ---- chp_shapley_attribution ----

  /** Exact Shapley attribution over k=4 channels (click/error/signup/
    * view; purchase = conversion): per user, the touched-channel
    * bitmask; coalition value v(S) = conversion rate of users whose
    * touch set is exactly S (scale-to-long at 1e12; unobserved sets
    * contribute v = 0). phi_i = Σ_{S∌i} |S|!(k-1-|S|)!/k! ·
    * (v(S∪i) − v(S)) computed in exact BIGINT arithmetic (×24 ×1e12),
    * divided out only at the end. Efficiency axiom (Σ phi = v(full) −
    * v(∅)) holds by telescoping and is gated in Round9boSpec.
    *
    * Scale shape: one groupBy user (the only real shuffle), one tiny
    * mask rollup, then broadcast joins against the 64-row subset
    * enumeration — the 2^k blowup touches k·2^k rows, never the fact
    * table. */
  private[graft] def shapleyAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val users = ev.groupBy("user_id").agg(
      expr("bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 " +
        "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END)").as("mask"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val coal = users.groupBy("mask")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      .select(col("mask"),
        floor(col("n_conv").cast(dd) * lit(1e12) / col("n_users").cast(dd)
          + lit(0.5)).cast(LongType).as("v_sc"))
    val chans = s.range(4).select(
      element_at(lit(Array("click", "error", "signup", "view")),
        (col("id") + 1).cast(IntegerType)).as("channel"),
      expr("CAST(shiftleft(1, CAST(id AS INT)) AS INT)").as("bit"))
    val en = s.range(16).select(col("id").cast(IntegerType).as("smask"))
      .join(broadcast(chans), expr("(smask & bit) = 0"))
      .withColumn("w24", expr(
        "CASE bit_count(smask) WHEN 0 THEN 6L WHEN 1 THEN 2L " +
          "WHEN 2 THEN 2L ELSE 6L END"))
    val c0 = coal.select(col("mask").as("m0"), col("v_sc").as("v0"))
    val c1 = coal.select(col("mask").as("m1"), col("v_sc").as("v1"))
    val phi = en
      .join(broadcast(c0), expr("m0 = smask"), "left")
      .join(broadcast(c1), expr("m1 = (smask | bit)"), "left")
      .groupBy("channel")
      .agg(sum(col("w24") * (coalesce(col("v1"), lit(0L))
        - coalesce(col("v0"), lit(0L)))).as("phi24"))
    val touch = users.join(broadcast(chans), expr("(mask & bit) != 0"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touch"), sum("conv").as("n_touch_conv"))
    phi.join(touch, "channel")
      .select(col("channel"), col("n_touch"), col("n_touch_conv"),
        trunc6(col("phi24").cast(dd) / lit(24.0) / lit(1e12))
          .as("shapley_value"))
      .orderBy("channel")
  }

  private val oChpShapley =
    s"""WITH u AS (SELECT user_id,
       |    bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
       |      WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END) AS mask,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id),
       |coal AS (SELECT mask,
       |    CAST(floor(CAST(sum(conv) AS DOUBLE)*1e12/CAST(count(*) AS DOUBLE)
       |      + 5e-1) AS BIGINT) AS v_sc
       |  FROM u GROUP BY mask),
       |ch AS (SELECT * FROM (VALUES ('click',1),('error',2),('signup',4),
       |  ('view',8)) v(channel, bit)),
       |en AS (SELECT channel, bit, CAST(range AS INTEGER) AS smask,
       |    CASE bit_count(CAST(range AS INTEGER)) WHEN 0 THEN 6 WHEN 1 THEN 2
       |      WHEN 2 THEN 2 ELSE 6 END AS w24
       |  FROM range(16), ch WHERE (CAST(range AS INTEGER) & bit) = 0),
       |phi AS (SELECT channel,
       |    sum(w24 * (coalesce(c1.v_sc, 0) - coalesce(c0.v_sc, 0))) AS phi24
       |  FROM en LEFT JOIN coal c0 ON c0.mask = en.smask
       |          LEFT JOIN coal c1 ON c1.mask = (en.smask | en.bit)
       |  GROUP BY channel),
       |touch AS (SELECT channel, CAST(count(*) AS BIGINT) AS n_touch,
       |    CAST(sum(conv) AS BIGINT) AS n_touch_conv
       |  FROM u, ch WHERE (mask & bit) <> 0 GROUP BY channel)
       |SELECT p.channel, t.n_touch, t.n_touch_conv,
       |  ${oTrunc6("CAST(phi24 AS DOUBLE)/24e0/1e12")} AS shapley_value
       |FROM phi p JOIN touch t ON p.channel = t.channel
       |ORDER BY p.channel""".stripMargin

  // ---- emb_intrinsic_dim ----

  /** Two-NN intrinsic dimension (Facco et al. 2017): on a deterministic
    * anchor sample (vec_id % 8 = 0), the two nearest Euclidean
    * neighbors give mu = r2/r1 and the MLE d = n / Σ ln mu. Vectors are
    * quantized to 1e6-scaled BIGINTs so squared distances are exact
    * integers (order-independent sums, identical in both engines); only
    * the final ln runs in doubles, scale-to-long'd at 1e12. Zero
    * distances (exact duplicates) are excluded per the paper.
    *
    * Scale shape: the estimator is sample-based by construction —
    * anchors broadcast against the corpus (corpus never shuffles), the
    * per-anchor window ranks |corpus| candidate rows; production keeps
    * the anchor count fixed as data grows. */
  private[graft] def intrinsicDim(s: SparkSession, d: String): DataFrame = {
    val qe = t(s, d, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 5e-1) AS BIGINT))")
        .as("q"))
    val anchors = qe.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("aid"), col("q").as("aq"))
    val pairs = qe.join(broadcast(anchors), col("vec_id") =!= col("aid"))
      .select(col("aid"), col("vec_id"),
        SqDistLong.of(col("aq"), col("q")).as("d2"))
      .filter(col("d2") > 0)
    val w = Window.partitionBy("aid").orderBy(col("d2"), col("vec_id"))
    val nn = pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .groupBy("aid").agg(
        max(when(col("rnk") === 1, col("d2"))).as("r1sq"),
        max(when(col("rnk") === 2, col("d2"))).as("r2sq"))
      .filter(col("r1sq").isNotNull && col("r2sq").isNotNull)
    nn.select(floor(lit(0.5) * log(col("r2sq").cast(dd) / col("r1sq").cast(dd))
        * lit(1e12) + lit(0.5)).cast(LongType).as("lnmu"))
      .agg(count(lit(1)).as("n_anchors"), sum("lnmu").as("sum_lnmu_sc"))
      .select(col("n_anchors"), col("sum_lnmu_sc"),
        trunc4(col("n_anchors").cast(dd) /
          nullif(col("sum_lnmu_sc").cast(dd) / lit(1e12), lit(0.0)))
          .as("id_twonn"))
  }

  private val oEmbIntrinsicDim =
    s"""WITH qe AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1e6 + 5e-1) AS BIGINT)) AS q
       |  FROM embeddings),
       |a AS (SELECT vec_id AS aid, q AS aq FROM qe WHERE vec_id % 8 = 0),
       |p AS (SELECT aid, vec_id,
       |    CAST(list_sum(list_transform(list_zip(aq, q),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |  FROM a, qe WHERE vec_id <> aid),
       |r AS (SELECT aid, d2, vec_id,
       |    row_number() OVER (PARTITION BY aid ORDER BY d2, vec_id) AS rnk
       |  FROM p WHERE d2 > 0),
       |nn AS (SELECT aid,
       |    max(CASE WHEN rnk = 1 THEN d2 END) AS r1sq,
       |    max(CASE WHEN rnk = 2 THEN d2 END) AS r2sq
       |  FROM r WHERE rnk <= 2 GROUP BY aid),
       |lm AS (SELECT CAST(floor(5e-1 * ln(CAST(r2sq AS DOUBLE)/CAST(r1sq AS DOUBLE))
       |      * 1e12 + 5e-1) AS BIGINT) AS lnmu
       |  FROM nn WHERE r1sq IS NOT NULL AND r2sq IS NOT NULL)
       |SELECT CAST(count(*) AS BIGINT) AS n_anchors,
       |  CAST(sum(lnmu) AS BIGINT) AS sum_lnmu_sc,
       |  ${oTrunc4("CAST(count(*) AS DOUBLE) / nullif(CAST(sum(lnmu) AS DOUBLE)/1e12, 0e0)")}
       |    AS id_twonn
       |FROM lm""".stripMargin

  // ---- set_union_by_name ----

  /** unionByName(allowMissingColumns = true): two rollups with
    * different grouping keys and partially disjoint measure columns,
    * aligned by NAME (not position), missing measures null-filled —
    * the DuckDB `UNION ALL BY NAME` twin. sum_qty is exact (integral
    * doubles); avg_price goes through exact cent scaling.
    *
    * Scale shape: two independent map-side-partial aggregates; the
    * union itself is a zero-shuffle concat. */
  private[graft] def unionByName(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val a = li.groupBy(col("l_returnflag").as("grp_key")).agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).cast(LongType).as("sum_qty"))
      .withColumn("side", lit("by_rf"))
    val b = li.groupBy(col("l_linestatus").as("grp_key")).agg(
        count(lit(1)).as("n"),
        trunc4(sum(floor(col("l_extendedprice") * lit(100) + lit(0.5))
            .cast(LongType)).cast(dd) / lit(1e2) / count(lit(1)).cast(dd))
          .as("avg_price"))
      .withColumn("side", lit("by_ls"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy("side", "grp_key")
  }

  private val oSetUnionByName =
    s"""SELECT * FROM (
       |  SELECT l_returnflag AS grp_key, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(l_quantity) AS BIGINT) AS sum_qty, 'by_rf' AS side
       |  FROM lineitem GROUP BY 1
       |  UNION ALL BY NAME
       |  SELECT l_linestatus AS grp_key, CAST(count(*) AS BIGINT) AS n,
       |    ${oTrunc4("CAST(sum(CAST(floor(l_extendedprice*100 + 5e-1) AS BIGINT)) AS DOUBLE)/1e2/CAST(count(*) AS DOUBLE)")}
       |      AS avg_price, 'by_ls' AS side
       |  FROM lineitem GROUP BY 1
       |) ORDER BY side, grp_key""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_shapley_attribution" -> ((s, d) => shapleyAttribution(s, d)),
    "emb_intrinsic_dim"       -> ((s, d) => intrinsicDim(s, d)),
    "set_union_by_name"       -> ((s, d) => unionByName(s, d)))

  val oracles: Map[String, String] = Map(
    "chp_shapley_attribution" -> oChpShapley,
    "emb_intrinsic_dim"       -> oEmbIntrinsicDim,
    "set_union_by_name"       -> oSetUnionByName)
}
