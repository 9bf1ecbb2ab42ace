package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 23 (SURVEY §2.28):
  *
  *  - `text_edit_similarity`: Levenshtein verification of the MinHash-LSH
  *    candidate pairs — the character-level second opinion beside the
  *    shingle-Jaccard score (catches near-dups whose word shingles differ
  *    but whose characters barely do, and vice versa).
  *  - `sim_mmr_rerank`: Maximal Marginal Relevance diversity re-ranking
  *    of the exact top-10 retrieval — the standard RAG/result-diversity
  *    selection (Carbonell & Goldstein 1998), run in exact integers.
  *  - `sql_exists_correlated`: the correlated EXISTS subquery surface —
  *    must plan as one semi join, never a per-row subquery.
  */
object QRound9x extends QueryPack {

  // ---- text_edit_similarity ----

  /** Levenshtein distance + normalized edit similarity
    * (1 − d/max(|a|,|b|), trunc4) over the verified LSH near-dup pairs.
    * Edit distance is O(|a|·|b|) per pair — affordable exactly BECAUSE
    * the pair space is the banded-LSH candidate set, never all pairs
    * (the whole point of the LSH stage at 100 TB).
    *
    * Scale shape: reuses the memoized verified-pair table (one row per
    * near-dup pair); two broadcast-able joins fetch the texts; the DP
    * runs map-side per pair. */
  private[graft] def editSimilarity(s: SparkSession, d: String): DataFrame = {
    val pairs = QText.lshPairsPersisted(s, d)
    val docs = t(s, d, "documents")
    val ta = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val tb = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    pairs.join(ta, "a_id").join(tb, "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_text"), col("b_text")).cast(LongType).as("lev_d"),
        trunc4(lit(1.0) -
          levenshtein(col("a_text"), col("b_text")).cast(DoubleType) /
          greatest(length(col("a_text")), length(col("b_text")))
            .cast(DoubleType)).as("edit_sim"))
      .orderBy("a_id", "b_id")
  }

  private val oTextEditSimilarity =
    s"""WITH base AS (${QText.oDedupLshPairs})
       |SELECT a_id, b_id,
       |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev_d,
       |  ${oTrunc4("1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE) / " +
      "greatest(length(ta.text), length(tb.text))")} AS edit_sim
       |FROM base JOIN documents ta ON ta.doc_id = a_id
       |JOIN documents tb ON tb.doc_id = b_id
       |ORDER BY a_id, b_id""".stripMargin

  // ---- sim_mmr_rerank ----

  private val mmrK = 5

  /** MMR diversity re-ranking: from each query's exact top-10, greedily
    * select 5 by argmax of λ·rel − (1−λ)·max-sim-to-selected with
    * λ = 0.5 — equivalently argmax of (rel4 − maxprev4) over 1e4-scaled
    * INTEGER cosines (trunc4 scores recovered exactly), vec_id
    * tiebreak, so the whole greedy recursion is engine-exact.
    *
    * Scale shape: the candidate pool (20 queries × 10) and its
    * within-pool pairwise trunc4 cosines are BOUNDED MODEL STATE — they
    * collect once (the k-means-centroid discipline) and the 5 greedy
    * rounds run driver-side in exact longs; the corpus is touched only
    * by the memoized exact top-k ranking. The unrolled-CTE oracle
    * replays the same integer recursion. */
  private[graft] def mmrRerank(s: SparkSession, d: String): DataFrame = {
    val top = QSim.simCosineTopk(s, d)
    val emb = QSim.embPersisted(s, d)
    val cand = top.select(col("qid"), col("vec_id"),
      floor(col("score") * lit(1e4) + lit(0.5)).cast(LongType).as("rel4"))
    val cv = cand.join(emb, "vec_id")
      .select(col("qid"), col("vec_id"), col("v"))
    val pa = cv.select(col("qid"), col("vec_id").as("a"), col("v").as("av"))
    val pb = cv.select(col("qid").as("qid2"), col("vec_id").as("b"),
      col("v").as("bv"))
    val pairSims = pa.join(pb, col("qid") === col("qid2") && col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        floor(trunc4(CosineSim.of(col("av"), col("bv"))) * lit(1e4) + lit(0.5))
          .cast(LongType).as("s4"))
    // bounded model state: 20 queries x 10 candidates (+ 10x9 pair sims)
    val candM = cand.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rel4")))
    val simM = pairSims.collect()
      .map(r => ((r.getAs[Long]("qid"), r.getAs[Long]("a"),
        r.getAs[Long]("b")), r.getAs[Long]("s4"))).toMap
    val out = candM.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val pool = scala.collection.mutable.Set(cs.map(c => (c._2, c._3)): _*)
      var selected = List.empty[Long]
      (1 to mmrK).flatMap { rank =>
        if (pool.isEmpty) None
        else {
          val scored = pool.toSeq.map { case (vid, rel4) =>
            val maxPrev = if (selected.isEmpty) 0L
            else selected.map(s0 => simM((qid, vid, s0))).max
            (vid, rel4, rel4 - maxPrev)
          }
          val (vid, rel4, mmr4) = scored
            .minBy { case (v2, _, m) => (-m, v2) }
          pool.remove((vid, rel4))
          selected ::= vid
          Some((qid, rank.toLong, vid, rel4, mmr4))
        }
      }
    }.sortBy(r => (r._1, r._2))
    val spark = s
    import spark.implicits._
    out.toDF("qid", "sel_rank", "vec_id", "rel4", "mmr4")
  }

  private def simMmrRerank(s: SparkSession, d: String): DataFrame =
    mmrRerank(s, d)

  private val oSimMmrRerank = {
    val rounds = (1 to mmrK).map { k =>
      val prev = (1 to k - 1).map(i => s"SELECT qid, vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      val maxPrev =
        if (k == 1) "CAST(0 AS BIGINT)"
        else s"""coalesce((SELECT max(p.s4) FROM pairs p
                |      JOIN ($prev) sp ON sp.qid = c.qid AND sp.vec_id = p.b
                |      WHERE p.qid = c.qid AND p.a = c.vec_id), 0)"""
          .stripMargin
      val notIn =
        if (k == 1) ""
        else s"""WHERE NOT EXISTS (SELECT 1 FROM ($prev) sp2
                |    WHERE sp2.qid = c.qid AND sp2.vec_id = c.vec_id)"""
          .stripMargin
      s"""sc$k AS MATERIALIZED (SELECT c.qid, c.vec_id, c.rel4,
         |    c.rel4 - $maxPrev AS mmr4
         |  FROM cand c $notIn),
         |sel$k AS MATERIALIZED (SELECT qid, vec_id, rel4, mmr4 FROM (
         |    SELECT qid, vec_id, rel4, mmr4, row_number() OVER (
         |      PARTITION BY qid ORDER BY mmr4 DESC, vec_id) AS rn
         |    FROM sc$k) WHERE rn = 1),"""
        .stripMargin
    }.mkString("\n")
    val unionSel = (1 to mmrK)
      .map(k => s"SELECT qid, $k AS sel_rank, vec_id, rel4, mmr4 FROM sel$k")
      .mkString("\n  UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < 20),
       |c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
       |       FROM embeddings),
       |sc AS (SELECT qid, vec_id,
       |         ${oTrunc4("list_cosine_similarity(qv, cv)")} AS score
       |       FROM q, c0),
       |rk AS (SELECT qid, vec_id, score, row_number() OVER (
       |        PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc),
       |cand AS MATERIALIZED (SELECT qid,  vec_id,
       |    CAST(floor(score * 1e4 + 5e-1) AS BIGINT) AS rel4
       |  FROM rk WHERE rnk <= 10),
       |pairs AS MATERIALIZED (SELECT a.qid, a.vec_id AS a, b.vec_id AS b,
       |    CAST(floor(${oTrunc4("list_cosine_similarity(va.cv, vb.cv)")}
       |      * 1e4 + 5e-1) AS BIGINT) AS s4
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
       |  JOIN c0 va ON va.vec_id = a.vec_id
       |  JOIN c0 vb ON vb.vec_id = b.vec_id),
       |$rounds
       |u AS ($unionSel)
       |SELECT qid, CAST(sel_rank AS BIGINT) AS sel_rank, vec_id, rel4, mmr4
       |FROM u ORDER BY qid, sel_rank""".stripMargin
  }

  // ---- sql_exists_correlated ----

  /** Correlated EXISTS — the subquery spelling of a left-semi join (the
    * decorrelation rule both engines share): customers with at least one
    * high-value urgent-ish order. Must plan as ONE semi hash join, never
    * a per-outer-row subquery execution. */
  private def sqlExistsCorrelated(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM g_cust_ex c
        |WHERE EXISTS (SELECT 1 FROM g_ord_ex o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey
        |LIMIT 50""".stripMargin)(
      "g_cust_ex" -> t(s, d, "customer"), "g_ord_ex" -> t(s, d, "orders"))
  }

  private val oSqlExistsCorrelated =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 400000)
      |ORDER BY c_custkey
      |LIMIT 50""".stripMargin

  val queries: Map[String, QFn] = Map(
    "text_edit_similarity"  -> (editSimilarity _),
    "sim_mmr_rerank"        -> simMmrRerank _,
    "sql_exists_correlated" -> sqlExistsCorrelated _)

  val oracles: Map[String, String] = Map(
    "text_edit_similarity"  -> oTextEditSimilarity,
    "sim_mmr_rerank"        -> oSimMmrRerank,
    "sql_exists_correlated" -> oSqlExistsCorrelated)
}
