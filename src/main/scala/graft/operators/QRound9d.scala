package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 3 (SURVEY §2.27):
  *
  *  - `join_asof_forward`: forward as-of (next event at-or-after) — the
  *    mirror of the backward as-of family, answering "how long until the
  *    next click after each purchase".
  *  - `mm_image_entropy`: pixel-value entropy per image through the real
  *    P6 decode (texture/complexity signal for multimodal curation).
  *  - `graph_jaccard_neighbors`: neighbor-overlap (Jaccard) similarity of
  *    node pairs sharing neighbors — the link-prediction analytic on the
  *    kNN graph.
  *  - `chp_ab_lift_test`: two-proportion z-test between hash-assigned
  *    experiment arms — the experimentation readout a churn platform runs
  *    on top of its conversion labels.
  *  - `pipeline_shard_assign`: deterministic hash-sharding plan + shard
  *    balance report for training-corpus output layout.
  */
object QRound9d extends QueryPack {

  // ---- join_asof_forward ----

  /** Forward as-of: for each purchase, the timestamp of the user's NEXT
    * click strictly after it (null if none). Same union-window spelling as
    * `join_asof` with the frame flipped to (1 FOLLOWING, UNBOUNDED
    * FOLLOWING) — one user-partitioned window pass, no self-join; windows
    * ordered by (ts, event_id) so ties break identically cross-engine. */
  private[graft] def asofForward(events: DataFrame): DataFrame = {
    val e = events.filter(col("event_type").isin("click", "purchase"))
      .select("event_id", "user_id", "ts", "event_type")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("next_click_ts",
        min(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "next_click_ts")
      .orderBy("event_id")
  }

  private def joinAsofForward(s: SparkSession, d: String): DataFrame =
    asofForward(t(s, d, "events"))

  private val oJoinAsofForward =
    """WITH e AS (SELECT event_id, user_id, ts, event_type FROM events
      |  WHERE event_type IN ('click', 'purchase')),
      |w AS (SELECT event_id, user_id, ts, event_type,
      |    min(CASE WHEN event_type = 'click' THEN ts END) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_ts
      |  FROM e)
      |SELECT event_id, user_id, ts, next_click_ts FROM w
      |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // ---- mm_image_entropy ----

  /** Pixel-value Shannon entropy per image: the 256-bin exact histogram
    * lives inside the partition-batched decode; the decode emits only
    * exact longs (n, distinct values, scale-to-long Σ c·ln c), and the
    * single H = ln n − s/1e12/n division is the same Catalyst/DuckDB
    * expression on both sides. High-entropy ≈ texture/noise, low ≈ flat
    * or synthetic fills — a standard multimodal curation signal. */
  private def mmImageEntropy(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    Multimodal.byteEntropyAll(Multimodal.mediaFromPpm(s, d))
      .select(col("media_id"), col("n_bytes"), col("n_distinct"),
        trunc6(log(col("n_bytes").cast(dd))
          - col("s_scaled").cast(dd) / lit(1e12) / col("n_bytes").cast(dd))
          .as("entropy"))
      .orderBy("media_id")
  }

  private val oMmImageEntropy =
    s"""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS width,
       |             CAST(3 + doc_id % 4 AS INT) AS height FROM documents),
       |px AS (SELECT doc_id, unnest(generate_series(0, width*height*3 - 1)) AS i,
       |         width, height FROM d),
       |v AS (SELECT doc_id, (doc_id*31 + i*7) % 256 AS v FROM px),
       |h AS (SELECT doc_id, v, count(*) AS c FROM v GROUP BY 1, 2),
       |p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bytes,
       |    CAST(count(*) AS INT) AS n_distinct,
       |    CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS s
       |  FROM h GROUP BY 1)
       |SELECT doc_id AS media_id, n_bytes, n_distinct,
       |  ${oTrunc6("ln(CAST(n_bytes AS DOUBLE)) - CAST(s AS DOUBLE) / 1e12 / n_bytes")} AS entropy
       |FROM p ORDER BY media_id""".stripMargin

  // ---- graph_jaccard_neighbors ----

  /** Neighbor-overlap similarity: for node pairs (a < b) sharing ≥ 2
    * neighbors in the symmetrized kNN graph, Jaccard =
    * common / (deg_a + deg_b − common) — the classic link-prediction /
    * "should these be connected" score beside the k-core and BFS views.
    *
    * Scale shape: candidate pairs come ONLY from co-neighborhood (one
    * equi-join of the edge table with itself on the shared neighbor —
    * Σ_n deg(n)², the triangle-count bound, never all-pairs); degrees are
    * one count aggregate broadcast back twice. */
  private[graft] def jaccardNeighbors(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val common = edges.select(col("src").as("a"), col("dst").as("n"))
      .join(edges.select(col("src").as("b"), col("dst").as("n")), "n")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    common
      .join(broadcast(deg.select(col("src").as("a"), col("deg").as("deg_a"))), "a")
      .join(broadcast(deg.select(col("src").as("b"), col("deg").as("deg_b"))), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        trunc4(col("common").cast(DoubleType)
          / (col("deg_a") + col("deg_b") - col("common")).cast(DoubleType))
          .as("jaccard"))
      .orderBy("a", "b")
  }

  private def graphJaccardNeighbors(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    jaccardNeighbors(edges)
  }

  private val oGraphJaccardNeighbors =
    s"""WITH ${QSim.oKnnEdges},
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |cm AS (SELECT x.src AS a, y.src AS b, count(*) AS common
       |  FROM edges x JOIN edges y ON x.dst = y.dst AND x.src < y.src
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT cm.a, cm.b, cm.common, da.deg AS deg_a, db.deg AS deg_b,
       |  ${oTrunc4("CAST(cm.common AS DOUBLE) / (da.deg + db.deg - cm.common)")} AS jaccard
       |FROM cm JOIN deg da ON da.src = cm.a JOIN deg db ON db.src = cm.b
       |ORDER BY cm.a, cm.b""".stripMargin

  // ---- chp_ab_lift_test ----

  /** Two-proportion z-test between hash-assigned experiment arms: users
    * split 50/50 by an md5 bit (no RNG — the portable seeded-hash
    * discipline), conversion = has ≥ 1 high-value purchase (value > 90 —
    * plain "any purchase" is degenerate on this corpus: every user has
    * one, pooled p = 1 and the z denominator vanishes; probed 127/150
    * converters at sf0.01); emits per-arm counts/rates, absolute lift and
    * the pooled z statistic — the A/B readout a churn platform runs on
    * its own conversion labels. Every input to the FP arithmetic is an
    * exact long; one trunc'd emission per statistic. One events pass +
    * two tiny aggregates. */
  private[graft] def abLiftTest(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val users = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase"
        && col("value") > lit(9e1), 1L).otherwise(0L))
        .as("conv"))
      .withColumn("arm", abArm(col("user_id")))
    val g = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val a = g.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("c").as("conv_a"))
    val b = g.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("c").as("conv_b"))
    val pa = col("conv_a").cast(dd) / col("n_a").cast(dd)
    val pb = col("conv_b").cast(dd) / col("n_b").cast(dd)
    val pp = (col("conv_a") + col("conv_b")).cast(dd) /
      (col("n_a") + col("n_b")).cast(dd)
    a.join(broadcast(b))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        trunc6(pa).as("rate_a"), trunc6(pb).as("rate_b"),
        trunc6(pb - pa).as("lift"),
        trunc4((pb - pa) / sqrt(pp * (lit(1.0) - pp)
          * (lit(1.0) / col("n_a").cast(dd) + lit(1.0) / col("n_b").cast(dd))))
          .as("z_stat"))
  }

  private def chpAbLiftTest(s: SparkSession, d: String): DataFrame =
    abLiftTest(t(s, d, "events"))

  private val oChpAbLiftTest =
    s"""WITH u AS (SELECT user_id,
       |    CAST(max(CASE WHEN event_type = 'purchase' AND value > 9e1 THEN 1 ELSE 0 END) AS BIGINT) AS conv,
       |    ${oAbArm("user_id")} AS arm
       |  FROM events GROUP BY user_id),
       |g AS (SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
       |  FROM u GROUP BY arm),
       |f AS (SELECT
       |    (SELECT n FROM g WHERE arm = 0) AS n_a,
       |    (SELECT c FROM g WHERE arm = 0) AS conv_a,
       |    (SELECT n FROM g WHERE arm = 1) AS n_b,
       |    (SELECT c FROM g WHERE arm = 1) AS conv_b),
       |x AS (SELECT n_a, conv_a, n_b, conv_b,
       |    CAST(conv_a AS DOUBLE) / n_a AS pa, CAST(conv_b AS DOUBLE) / n_b AS pb,
       |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
       |  FROM f)
       |SELECT n_a, conv_a, n_b, conv_b,
       |  ${oTrunc6("pa")} AS rate_a, ${oTrunc6("pb")} AS rate_b,
       |  ${oTrunc6("pb - pa")} AS lift,
       |  ${oTrunc4("(pb - pa) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))")} AS z_stat
       |FROM x""".stripMargin

  // ---- pipeline_shard_assign ----

  private val nShards = 8

  /** Deterministic output-sharding plan for a training corpus: shard =
    * md5(doc_id) mod `nShards` (portable, RNG-free, stable under
    * re-partitioning — the property a resumable writer needs), with the
    * balance report (docs, token mass, share) a sharded-write planner
    * checks before committing the layout. One map-side assignment + one
    * bounded-key aggregate; the total is a broadcast 1-row join. */
  private[graft] def shardAssign(docs: DataFrame): DataFrame = {
    val assigned = docs.select(
      (md5Prefix(col("doc_id").cast(StringType), 4)
        .cast(LongType) % nShards).as("shard"),
      size(split(col("text"), " ")).cast(LongType).as("n_toks"))
    val g = assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = g.agg(sum(col("n_tokens")).as("total"))
    g.join(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        trunc4(col("n_tokens").cast(DoubleType) / col("total").cast(DoubleType))
          .as("token_share"))
      .orderBy("shard")
  }

  private def pipelineShardAssign(s: SparkSession, d: String): DataFrame =
    shardAssign(t(s, d, "documents"))

  private val oPipelineShardAssign =
    s"""WITH a AS (SELECT
       |    ${oMd5Prefix("CAST(doc_id AS VARCHAR)", 4)} % $nShards AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |g AS (SELECT shard, count(*) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM a GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM g)
       |SELECT shard, n_docs, n_tokens,
       |  ${oTrunc4("CAST(n_tokens AS DOUBLE) / total")} AS token_share
       |FROM g, tot ORDER BY shard""".stripMargin

  val queries: Map[String, QFn] = Map(
    "join_asof_forward"       -> joinAsofForward _,
    "mm_image_entropy"        -> mmImageEntropy _,
    "graph_jaccard_neighbors" -> graphJaccardNeighbors _,
    "chp_ab_lift_test"        -> chpAbLiftTest _,
    "pipeline_shard_assign"   -> pipelineShardAssign _)

  val oracles: Map[String, String] = Map(
    "join_asof_forward"       -> oJoinAsofForward,
    "mm_image_entropy"        -> oMmImageEntropy,
    "graph_jaccard_neighbors" -> oGraphJaccardNeighbors,
    "chp_ab_lift_test"        -> oChpAbLiftTest,
    "pipeline_shard_assign"   -> oPipelineShardAssign)
}
