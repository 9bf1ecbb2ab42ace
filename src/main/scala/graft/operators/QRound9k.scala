package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 10 (SURVEY §2.27):
  *
  *  - `emb_knn_classifier`: kNN majority-vote label prediction over the
  *    embedding corpus — the semi-supervised labeling / label-noise-audit
  *    analytic a curation pipeline runs against weak labels.
  *  - `sample_kcenter_coreset`: greedy k-center (farthest-point) coreset
  *    selection — the diversity-sampling dual of the importance/quality
  *    samplers (pick k maximally-spread exemplars, assign everyone to a
  *    nearest exemplar).
  *  - `win_time_range_rolling`: per-user rolling 24-hour activity via a
  *    time-RANGE window frame — the time-based frame capability beside
  *    the row-based frames (`win_range_frame` is numeric-range).
  *  - `stream_static_join`: streaming enrichment against a static
  *    dimension (the stream-STATIC join beside the stream-stream joins);
  *    batch twin declared, Round9kSpec proves readStream ⋈ static dim
  *    reaches the identical aggregate.
  */
object QRound9k extends QueryPack {

  // ---- emb_knn_classifier ----

  /** Majority-vote kNN classification: each vector's predicted label is
    * the mode of its k nearest neighbors' stored labels (vote count
    * desc, label asc tiebreak — deterministic), compared against its own
    * label. The canonical recall/consistency audit for weak labels on an
    * embedding corpus.
    *
    * Scale shape: neighbor lists come from the bounded same-cell kNN
    * join (`sim_knn_join`, Σ|cell|²/k — never all-pairs); the vote is a
    * uniform-key aggregate on (vec_id, label) whose cardinality is
    * ≤ N·k; the label lookup is a vertex-keyed equi-join. Nothing
    * collects. */
  private[graft] def knnClassifier(knn: DataFrame, labeled: DataFrame)
      : DataFrame = {
    val votes = knn
      .join(labeled.select(col("vec_id").as("nid"),
        col("label").as("nbr_label")), col("nbr_id") === col("nid"))
      .groupBy("vec_id", "nbr_label").agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("n_votes").desc, col("nbr_label").asc)
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("pv"), col("nbr_label").as("label_pred"),
        col("n_votes"))
    labeled.select(col("vec_id"), col("label").cast(IntegerType)
        .as("label_true"))
      .join(pred, col("vec_id") === col("pv"))
      .select(col("vec_id"), col("label_true"),
        col("label_pred").cast(IntegerType).as("label_pred"),
        col("n_votes"),
        when(col("label_true") === col("label_pred"), 1).otherwise(0)
          .as("correct"))
      .orderBy("vec_id")
  }

  private def embKnnClassifier(s: SparkSession, d: String): DataFrame =
    knnClassifier(
      QSim.knnJoinPersisted(s, d).select("vec_id", "nbr_id"),
      t(s, d, "embeddings").select("vec_id", "label"))

  private val oEmbKnnClassifier =
    s"""WITH knn AS MATERIALIZED (SELECT vec_id, nbr_id
       |  FROM (${QSim.oracles("sim_knn_join")})),
       |votes AS (SELECT k.vec_id, e.label AS nbr_label,
       |    CAST(count(*) AS BIGINT) AS n_votes
       |  FROM knn k JOIN embeddings e ON e.vec_id = k.nbr_id
       |  GROUP BY 1, 2),
       |pred AS (SELECT vec_id, nbr_label, n_votes, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY n_votes DESC, nbr_label) AS rn
       |  FROM votes)
       |SELECT e.vec_id, CAST(e.label AS INT) AS label_true,
       |  CAST(p.nbr_label AS INT) AS label_pred, p.n_votes,
       |  CAST(CASE WHEN e.label = p.nbr_label THEN 1 ELSE 0 END AS INT)
       |    AS correct
       |FROM embeddings e JOIN pred p ON p.vec_id = e.vec_id AND p.rn = 1
       |ORDER BY e.vec_id""".stripMargin

  // ---- sample_kcenter_coreset ----

  private val kCenters = 8

  /** Greedy k-center (farthest-point traversal) coreset: seed with the
    * min vec_id, then `kCenters`−1 rounds each add the point whose
    * best-similarity-to-any-center is LOWEST (trunc4'd cosine, vec_id
    * tiebreak) — the 2-approximation diversity cover (Gonzalez 1985),
    * the standard exemplar picker for training-data diversity sampling.
    * Every point is then assigned to its most-similar center.
    *
    * Scale shape: the center set is bounded model state (k rows,
    * broadcast each round — the k-means/AnnKMeans discipline); each
    * round is one corpus×k scored pass + one global argmin
    * (TakeOrderedAndProject, never a full sort); the corpus is the
    * memoized persisted embedding table and never shuffles. Fixed
    * rounds → the oracle unrolls them as MATERIALIZED CTEs. */
  private[graft] def kcenterCoreset(s: SparkSession, emb: DataFrame)
      : DataFrame = {
    var centers = Seq(emb.select(min(col("vec_id"))).head().getLong(0))
    for (_ <- 1 until kCenters) {
      val cdf = emb.filter(col("vec_id").isin(centers: _*))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val next = emb.filter(!col("vec_id").isin(centers: _*))
        .join(broadcast(cdf))
        .select(col("vec_id"), trunc4(CosineSim.of(col("v"), col("cv"))).as("sim"))
        .groupBy("vec_id").agg(max(col("sim")).as("msim"))
        .orderBy(col("msim").asc, col("vec_id").asc)
        .limit(1).head().getLong(0)
      centers = centers :+ next
    }
    val cdf = emb.filter(col("vec_id").isin(centers: _*))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("cid").asc)
    emb.join(broadcast(cdf))
      .select(col("vec_id"), col("cid"),
        trunc4(CosineSim.of(col("v"), col("cv"))).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("center_id"), col("sim"),
        when(col("vec_id").isin(centers: _*), 1).otherwise(0).as("is_center"))
      .orderBy("vec_id")
  }

  private def sampleKcenterCoreset(s: SparkSession, d: String): DataFrame =
    kcenterCoreset(s, QSim.embPersisted(s, d))

  private val oSampleKcenterCoreset = {
    val sim = oTrunc4("list_cosine_similarity(e.cv, x.cv)")
    val rounds = (1 until kCenters).map { r =>
      s"""s$r AS MATERIALIZED (SELECT e.vec_id, max($sim) AS msim
         |  FROM emb e, (SELECT c.vec_id AS cid, c.cv FROM emb c
         |    JOIN c${r - 1} ct ON c.vec_id = ct.cid) x
         |  WHERE e.vec_id NOT IN (SELECT cid FROM c${r - 1})
         |  GROUP BY e.vec_id),
         |c$r AS MATERIALIZED (SELECT cid FROM c${r - 1} UNION ALL
         |  SELECT vec_id AS cid FROM (SELECT vec_id FROM s$r
         |    ORDER BY msim ASC, vec_id LIMIT 1)),""".stripMargin
    }.mkString("\n")
    s"""WITH emb AS MATERIALIZED (SELECT vec_id,
       |    CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |c0 AS (SELECT min(vec_id) AS cid FROM emb),
       |$rounds
       |scored AS (SELECT e.vec_id, x.cid, $sim AS sim,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY $sim DESC, x.cid) AS rn
       |  FROM emb e, (SELECT c.vec_id AS cid, c.cv FROM emb c
       |    JOIN c${kCenters - 1} ct ON c.vec_id = ct.cid) x)
       |SELECT vec_id, cid AS center_id, sim,
       |  CAST(CASE WHEN vec_id IN (SELECT cid FROM c${kCenters - 1})
       |    THEN 1 ELSE 0 END AS INT) AS is_center
       |FROM scored WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  // ---- win_time_range_rolling ----

  /** Per-event rolling 24-hour lookback per user (count + exact-cents
    * value mass) via a time-RANGE window frame on epoch micros — "how
    * active was this user in the day before this event". The frame is
    * [us−86 400 000 000+1, us] (inclusive current instant, strictly
    * within 24 h); value mass is scale-to-long cents so the sliding sum
    * is exact under any evaluation order (a sliding DOUBLE sum is not —
    * the two engines fold frames differently).
    *
    * Scale shape: one user-partitioned window pass; RANGE frames
    * evaluate as a per-partition sliding aggregate, never a self-join. */
  private[graft] def timeRangeRolling(events: DataFrame): DataFrame = {
    val e = events.select(col("event_id"), col("user_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"),
      floor(col("value") * lit(1e2) + lit(5e-1)).cast(LongType).as("cents"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-86400000000L + 1, 0)
    e.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_24h"),
        sum(col("cents")).over(w).as("cents_24h"))
      .orderBy("event_id")
  }

  private def winTimeRangeRolling(s: SparkSession, d: String): DataFrame =
    timeRangeRolling(t(s, d, "events"))

  private val oWinTimeRangeRolling =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents FROM events)
      |SELECT event_id, user_id,
      |  CAST(count(*) OVER w AS BIGINT) AS n_24h,
      |  CAST(sum(cents) OVER w AS BIGINT) AS cents_24h
      |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
      |  RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---- stream_static_join ----

  /** Streaming enrichment against a static dimension: the event stream
    * joined to the customer dim (user_id = c_custkey) and rolled up per
    * market segment (count + exact cents). Declared as the batch read of
    * the staged landing-zone directory ⋈ dim; Round9kSpec streams the
    * SAME directory (`readStream`, multiple micro-batches) through the
    * SAME join and proves the complete-mode aggregate identical — the
    * stream-STATIC join Structured Streaming executes stateless
    * per-batch, beside the stateful stream-stream joins.
    *
    * Scale shape: the dim broadcasts (classic star enrichment); the
    * aggregate is partial+final on a ≤5-key segment domain. */
  private[graft] def staticJoinAgg(events: DataFrame, dim: DataFrame)
      : DataFrame =
    events.select(col("user_id"),
        floor(col("value") * lit(1e2) + lit(5e-1)).cast(LongType).as("cents"))
      .join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_total"))
      .orderBy("c_mktsegment")

  private def streamStaticJoin(s: SparkSession, d: String): DataFrame =
    staticJoinAgg(
      s.read.parquet(QRound9i.stagedEventsDir(s, d)),
      t(s, d, "customer"))

  private val oStreamStaticJoin =
    """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(e.value * 1e2 + 5e-1) AS BIGINT)) AS BIGINT)
      |    AS cents_total
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "emb_knn_classifier"     -> embKnnClassifier _,
    "sample_kcenter_coreset" -> sampleKcenterCoreset _,
    "win_time_range_rolling" -> winTimeRangeRolling _,
    "stream_static_join"     -> streamStaticJoin _)

  val oracles: Map[String, String] = Map(
    "emb_knn_classifier"     -> oEmbKnnClassifier,
    "sample_kcenter_coreset" -> oSampleKcenterCoreset,
    "win_time_range_rolling" -> oWinTimeRangeRolling,
    "stream_static_join"     -> oStreamStaticJoin)
}
