package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Round-9 extension wave 35 (SURVEY §2.28):
  *
  *  - `graph_ppr_seeds`: personalized PageRank from 3 seed documents —
  *    the "related to THESE items" recommendation primitive (restart
  *    mass on the seeds instead of the uniform teleport).
  *  - `emb_triplet_mining`: triplet-loss batch construction — per
  *    anchor, the hardest positive (least-similar same-label) and
  *    hardest negative (most-similar other-label) with the margin gap.
  *  - `sql_star_except`: SELECT * EXCEPT + ORDER BY ALL — the
  *    wide-table projection surfaces (DuckDB spells EXCLUDE; the oracle
  *    uses its native form).
  */
object QRound9aj extends QueryPack {

  // ---- graph_ppr_seeds ----

  private val pprIters = 4
  private val pprSeeds = 3

  private def sci(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E") || s.contains("e")) s.replace("E", "e") else s + "e0"
  }

  /** Personalized PageRank over the LSH near-dup graph: restart mass
    * (1−d) concentrated on the 3 smallest node ids (deterministic seed
    * choice), 4 scaled-long iterations (the PageRank.ranks discipline:
    * per-edge contributions floor-scaled to longs so per-node sums are
    * exact integer math; per-round trunc8 stops drift). Emits only
    * reached nodes (ppr > 0) — the seed neighbourhood ranking.
    *
    * Scale shape: identical to PageRank — per round one equi-join on
    * uniform ids + one combining groupBy; the 3-row seed set broadcasts;
    * ranks localCheckpoint'd per round (lineage truncation). */
  private[graft] def pprSeedsRanks(pairsIn: DataFrame): DataFrame = {
    val half = pairsIn.select(col("src"), col("dst")).localCheckpoint()
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val seeds = deg.select(col("src").as("id")).orderBy("id")
      .limit(pprSeeds).withColumn("is_seed", lit(1))
    val restart = PageRank.teleportNum / pprSeeds.toDouble
    var pr = deg.select(col("src").as("id"))
      .join(broadcast(seeds), Seq("id"), "left_outer")
      .select(col("id"),
        when(col("is_seed") === 1, lit(1.0 / pprSeeds.toDouble))
          .otherwise(lit(0.0)).as("pr"))
      .localCheckpoint()
    for (_ <- 1 to pprIters) {
      val contrib = edges.join(deg, "src")
        .join(pr.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"),
          floor(col("pr") / col("deg") * 1e12 + 0.5).cast(LongType).as("c"))
      pr = contrib.groupBy("id")
        .agg(sum(col("c")).as("csum"))
        .join(broadcast(seeds), Seq("id"), "left_outer")
        .select(col("id"),
          (floor((when(col("is_seed") === 1, lit(restart)).otherwise(lit(0.0))
            + lit(PageRank.damping) *
              (col("csum").cast(DoubleType) / 1e12)) * 1e8) / 1e8).as("pr"))
        .localCheckpoint()
    }
    pr.filter(col("pr") > 0.0)
      .join(deg.withColumnRenamed("src", "id"), "id")
      .select(col("id").as("doc_id"), col("deg"), col("pr").as("ppr"))
      .orderBy("doc_id")
  }

  private def graphPprSeeds(s: SparkSession, d: String): DataFrame =
    pprSeedsRanks(QText.lshPairsPersisted(s, d)
      .select(col("a_id").as("src"), col("b_id").as("dst")))

  private val oGraphPprSeeds = {
    val oPairs = QText.oracles("dedup_lsh_pairs")
    val sb = new StringBuilder
    sb.append(
      s"""WITH pairs AS (SELECT a_id, b_id FROM ($oPairs)),
         |e AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |      UNION ALL SELECT b_id, a_id FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |seeds AS (SELECT src AS id FROM deg ORDER BY src LIMIT $pprSeeds),
         |p0 AS (SELECT deg.src AS id,
         |    CASE WHEN s.id IS NOT NULL THEN ${sci(1.0 / pprSeeds)}
         |      ELSE 0e0 END AS pr
         |  FROM deg LEFT JOIN seeds s ON s.id = deg.src),
         |""".stripMargin)
    val restart = sci(PageRank.teleportNum / pprSeeds.toDouble)
    val d85 = sci(PageRank.damping)
    for (i <- 1 to pprIters) {
      sb.append(
        s"""p$i AS (SELECT e.dst AS id,
           |    floor(((CASE WHEN s.id IS NOT NULL THEN $restart ELSE 0e0 END)
           |      + $d85 * (CAST(SUM(CAST(floor(p.pr / deg.deg * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12)) * 1e8) / 1e8 AS pr
           |  FROM e JOIN deg ON e.src = deg.src
           |    JOIN p${i - 1} p ON e.src = p.id
           |    LEFT JOIN seeds s ON s.id = e.dst
           |  GROUP BY e.dst, s.id),
           |""".stripMargin)
    }
    sb.append(
      s"""fin AS (SELECT p.id AS doc_id, deg.deg, p.pr AS ppr
         |  FROM p$pprIters p JOIN deg ON deg.src = p.id WHERE p.pr > 0e0)
         |SELECT doc_id, deg, ppr FROM fin ORDER BY doc_id""".stripMargin)
    sb.toString
  }

  // ---- emb_triplet_mining ----

  /** Triplet mining for the 20 probe anchors: hardest positive =
    * least-similar SAME-label vector (what the loss must pull in),
    * hardest negative = most-similar OTHER-label vector (what it must
    * push out), gap = trunc4(pos−neg), violation if gap < 0.2 (trunc'd
    * threshold compare — engine-identical cut).
    *
    * Scale shape: the 20-anchor set broadcasts against the corpus scan
    * (one pass, fused cosine kernel); per-anchor argmin/argmax are
    * windows partitioned by anchor. */
  private[graft] def tripletMining(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val anchors = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("v").as("a_v"))
    val scored = e.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
        trunc4(CosineSim.of(col("a_v"), col("v"))).as("score"))
    val pos = scored.filter(col("label") === col("a_label"))
      .withColumn("r", row_number().over(Window.partitionBy("a_id")
        .orderBy(col("score"), col("vec_id"))))
      .filter(col("r") === 1)
      .select(col("a_id"), col("vec_id").as("pos_id"),
        col("score").as("pos_sim"))
    val neg = scored.filter(col("label") =!= col("a_label"))
      .withColumn("r", row_number().over(Window.partitionBy("a_id")
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("r") === 1)
      .select(col("a_id"), col("vec_id").as("neg_id"),
        col("score").as("neg_sim"))
    pos.join(neg, Seq("a_id"))
      .select(col("a_id"), col("pos_id"), col("pos_sim"),
        col("neg_id"), col("neg_sim"),
        trunc4(col("pos_sim") - col("neg_sim")).as("gap"))
      .withColumn("violation",
        (col("gap") < lit(2e-1)).cast(IntegerType))
      .orderBy("a_id")
  }

  private val oEmbTripletMining =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |a AS (SELECT vec_id AS a_id, label AS a_label, v AS a_v FROM e
       |  WHERE vec_id < 20),
       |sc AS (SELECT a.a_id, a.a_label, e.vec_id, e.label,
       |    ${oTrunc4("list_cosine_similarity(a.a_v, e.v)")} AS score
       |  FROM e, a WHERE e.vec_id <> a.a_id),
       |pos AS (SELECT a_id, vec_id AS pos_id, score AS pos_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY a_id
       |    ORDER BY score, vec_id) AS r FROM sc WHERE label = a_label)
       |  WHERE r = 1),
       |neg AS (SELECT a_id, vec_id AS neg_id, score AS neg_sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY a_id
       |    ORDER BY score DESC, vec_id) AS r FROM sc WHERE label <> a_label)
       |  WHERE r = 1)
       |SELECT p.a_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
       |  ${oTrunc4("p.pos_sim - n.neg_sim")} AS gap,
       |  CASE WHEN ${oTrunc4("p.pos_sim - n.neg_sim")} < 2e-1
       |    THEN 1 ELSE 0 END AS violation
       |FROM pos p JOIN neg n ON p.a_id = n.a_id ORDER BY p.a_id""".stripMargin

  // ---- sql_star_except ----

  /** SELECT * EXCEPT (wide-table projection without enumerating the
    * keep-list) + ORDER BY ALL, run as literal SQL through the Spark
    * parser. DuckDB's native spelling is EXCLUDE — the oracle uses it,
    * so the key proves the two dialects' star-modifier semantics line
    * up column-for-column.
    *
    * Scale shape: the EXCEPT projection prunes columns AT THE SCAN
    * (ReadSchema drops the excluded fields); the filter pushes down. */
  private[graft] def starExcept(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s, """SELECT * EXCEPT (o_orderpriority, o_orderstatus)
             FROM orders_se WHERE o_totalprice > 4e5 ORDER BY ALL""")(
      "orders_se" -> t(s, d, "orders"))
  }

  private val oSqlStarExcept =
    """SELECT * EXCLUDE (o_orderpriority, o_orderstatus)
      |FROM orders WHERE o_totalprice > 4e5 ORDER BY ALL""".stripMargin

  val queries: Map[String, QFn] = Map(
    "graph_ppr_seeds"    -> graphPprSeeds _,
    "emb_triplet_mining" -> tripletMining _,
    "sql_star_except"    -> (starExcept _))

  val oracles: Map[String, String] = Map(
    "graph_ppr_seeds"    -> oGraphPprSeeds,
    "emb_triplet_mining" -> oEmbTripletMining,
    "sql_star_except"    -> oSqlStarExcept)
}
