package graft.operators

import graft.QueryPack
import graft.functions.VecCentroid
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 58 (SURVEY §2.28):
  *
  *  - `sim_rocchio_expand`: pseudo-relevance feedback (Rocchio) — the
  *    query moves toward the centroid of its top-5 neighbors and
  *    re-retrieves; the overlap report shows how much the expanded
  *    query re-ranks.
  *  - `chp_sessionize_incremental`: incremental sessionization proof —
  *    sessionizing two batches and merging the one boundary-spanning
  *    session per user must reproduce the full-corpus session count
  *    exactly.
  *  - `text_stylometry_confusion`: stylometric source attribution —
  *    3-feature style vectors, per-source centroids, nearest-centroid
  *    assignment and the source×assigned confusion matrix.
  */
object QRound9bg extends QueryPack {

  // ---- sim_rocchio_expand ----

  /** Rocchio expansion over the shared brute-force top-k table: for the
    * 5 probe queries, q' = q + ½·centroid(top-5 neighbors) (the centroid
    * is the engine-exact per-dim scale-to-long mean), then a fresh
    * corpus scan retrieves the expanded top-5. Reports the retained
    * overlap and both top-1 ids — the classic relevance-feedback shift,
    * fully deterministic through trunc4'd cosines.
    *
    * Scale shape: feedback sets come from the memoized top-k; the
    * re-query is one broadcast scan (5 expanded queries × corpus). */
  private[graft] def rocchioExpand(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(dd)).as("v"))
    val top = QSim.simCosineTopk(s, d)
      .filter(col("qid") < 5 && col("vec_id") =!= col("qid"))
    val fb = top.withColumn("rnk2",
        row_number().over(Window.partitionBy("qid")
          .orderBy("rnk"))).filter(col("rnk2") <= 5)
    val initTop = fb.filter(col("rnk2") === 1)
      .select(col("qid"), col("vec_id").as("init_top1"))
    val cent = fb.join(e, "vec_id")
      .groupBy("qid").agg(VecCentroid.of(col("v")).as("cv"))
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val expanded = qv.join(cent, "qid")
      .select(col("qid"),
        zip_with(col("qv"), col("cv"), (x, y) => x + lit(0.5) * y)
          .as("ev"))
    val rescored = e.join(broadcast(expanded),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        trunc4(CosineSim.of(col("ev"), col("v"))).as("score"))
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("vec_id"))
    val newTop = rescored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
    val overlap = newTop.join(
        fb.select(col("qid"), col("vec_id"), lit(1L).as("was_fb")),
        Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("was_fb"), lit(0L))).as("n_overlap"),
        max(when(col("rnk") === 1, col("vec_id"))).as("new_top1"))
    overlap.join(initTop, "qid")
      .select(col("qid"), col("n_overlap"), col("init_top1"),
        col("new_top1"))
      .orderBy("qid")
  }

  private val oSimRocchioExpand =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |top AS (SELECT * FROM (${QSim.oracles("sim_cosine_topk")}) t
       |  WHERE t.qid < 5 AND t.vec_id <> t.qid),
       |fb AS (SELECT qid, vec_id, rnk, row_number() OVER (
       |    PARTITION BY qid ORDER BY rnk) AS rnk2 FROM top
       |  QUALIFY rnk2 <= 5),
       |init1 AS (SELECT qid, vec_id AS init_top1 FROM fb WHERE rnk2 = 1),
       |cent AS (SELECT qid, list(cx ORDER BY pos) AS cv FROM (
       |  SELECT f.qid, i.i AS pos,
       |    CAST(SUM(CAST(floor(e.v[i.i] * 1000000 + 0.5) AS BIGINT))
       |      AS DOUBLE) / count(*) / 1000000 AS cx
       |  FROM fb f JOIN e ON e.vec_id = f.vec_id,
       |    (SELECT unnest(generate_series(1, 64)) AS i) i
       |  GROUP BY f.qid, i.i) GROUP BY qid),
       |ex AS (SELECT q.vec_id AS qid,
       |    [q.v[i] + 5e-1 * c.cv[i] FOR i IN generate_series(1, 64)]
       |      AS ev
       |  FROM e q JOIN cent c ON c.qid = q.vec_id WHERE q.vec_id < 5),
       |sc AS (SELECT x.qid, e.vec_id,
       |    ${oTrunc4("list_cosine_similarity(x.ev, e.v)")} AS score
       |  FROM e JOIN ex x ON e.vec_id <> x.qid),
       |nt AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, vec_id) AS rnk FROM sc QUALIFY rnk <= 5),
       |ov AS (SELECT n.qid,
       |    CAST(sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_overlap,
       |    CAST(max(CASE WHEN n.rnk = 1 THEN n.vec_id END) AS BIGINT)
       |      AS new_top1
       |  FROM nt n LEFT JOIN fb f
       |    ON f.qid = n.qid AND f.vec_id = n.vec_id
       |  GROUP BY n.qid)
       |SELECT o.qid, o.n_overlap, i.init_top1, o.new_top1
       |FROM ov o JOIN init1 i ON i.qid = o.qid ORDER BY o.qid""".stripMargin

  // ---- chp_sessionize_incremental ----

  /** Incremental sessionization correctness: sessionize the day<16 and
    * day≥16 batches independently, then merge at most ONE
    * boundary-spanning session per user (part-1 tail within 30 min of
    * part-2 head). The identity n_full = n_part1 + n_part2 − n_merged
    * must hold user-by-user — the state-handoff contract an incremental
    * pipeline relies on.
    *
    * Scale shape: three islands passes (all user-partitioned windows)
    * and per-user count joins. */
  private[graft] def sessionizeIncremental(events: DataFrame): DataFrame = {
    def sessCount(df: DataFrame): DataFrame = {
      val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
      df.withColumn("prev_us", lag("us", 1).over(wOrd))
        .withColumn("new_sess",
          (col("prev_us").isNull ||
            col("us") - col("prev_us") > 1800000000L).cast(LongType))
        .groupBy("user_id").agg(sum("new_sess").as("n_sess"))
    }
    val base = events.select(col("user_id"), col("event_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"),
      dayofmonth(col("ts")).as("dom"))
    val p1 = base.filter(col("dom") < 16)
    val p2 = base.filter(col("dom") >= 16)
    val full = sessCount(base).withColumnRenamed("n_sess", "n_full")
    val c1 = sessCount(p1).withColumnRenamed("n_sess", "n_p1")
    val c2 = sessCount(p2).withColumnRenamed("n_sess", "n_p2")
    val tail1 = p1.groupBy("user_id").agg(max("us").as("tail_us"))
    val head2 = p2.groupBy("user_id").agg(min("us").as("head_us"))
    val merged = tail1.join(head2, "user_id")
      .select(col("user_id"),
        (col("head_us") - col("tail_us") <= 1800000000L)
          .cast(LongType).as("m"))
    val perUser = full
      .join(c1, Seq("user_id"), "left")
      .join(c2, Seq("user_id"), "left")
      .join(merged, Seq("user_id"), "left")
      .select(col("user_id"), col("n_full"),
        (coalesce(col("n_p1"), lit(0L)) + coalesce(col("n_p2"), lit(0L)) -
          coalesce(col("m"), lit(0L))).as("n_incremental"),
        coalesce(col("m"), lit(0L)).as("m"))
    perUser.agg(count(lit(1)).as("n_users"),
        sum("n_full").as("n_sessions_full"),
        sum("n_incremental").as("n_sessions_incremental"),
        sum("m").as("n_boundary_merged"),
        sum((col("n_full") =!= col("n_incremental")).cast(LongType))
          .as("n_mismatch"))
  }

  private def chpSessionizeIncremental(s: SparkSession, d: String): DataFrame =
    sessionizeIncremental(t(s, d, "events"))

  private val oChpSessionizeIncremental =
    s"""WITH base AS (SELECT user_id, event_id, epoch_us(ts) AS us,
       |    day(ts) AS dom FROM events),
       |full_s AS (SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_full FROM (
       |  SELECT user_id, CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
       |  FROM base WINDOW w AS (PARTITION BY user_id
       |    ORDER BY us, event_id)) GROUP BY 1),
       |p1 AS (SELECT * FROM base WHERE dom < 16),
       |p2 AS (SELECT * FROM base WHERE dom >= 16),
       |c1 AS (SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_p1 FROM (
       |  SELECT user_id, CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
       |  FROM p1 WINDOW w AS (PARTITION BY user_id
       |    ORDER BY us, event_id)) GROUP BY 1),
       |c2 AS (SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_p2 FROM (
       |  SELECT user_id, CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
       |  FROM p2 WINDOW w AS (PARTITION BY user_id
       |    ORDER BY us, event_id)) GROUP BY 1),
       |t1 AS (SELECT user_id, max(us) AS tail_us FROM p1 GROUP BY 1),
       |h2 AS (SELECT user_id, min(us) AS head_us FROM p2 GROUP BY 1),
       |mg AS (SELECT t1.user_id, CASE WHEN h2.head_us - t1.tail_us
       |    <= 1800000000 THEN 1 ELSE 0 END AS m
       |  FROM t1 JOIN h2 ON t1.user_id = h2.user_id),
       |pu AS (SELECT f.user_id, f.n_full,
       |    coalesce(c1.n_p1, 0) + coalesce(c2.n_p2, 0)
       |      - coalesce(mg.m, 0) AS n_incremental,
       |    coalesce(mg.m, 0) AS m
       |  FROM full_s f LEFT JOIN c1 ON c1.user_id = f.user_id
       |  LEFT JOIN c2 ON c2.user_id = f.user_id
       |  LEFT JOIN mg ON mg.user_id = f.user_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(sum(n_full) AS BIGINT) AS n_sessions_full,
       |  CAST(sum(n_incremental) AS BIGINT) AS n_sessions_incremental,
       |  CAST(sum(m) AS BIGINT) AS n_boundary_merged,
       |  CAST(sum(CASE WHEN n_full <> n_incremental THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_mismatch
       |FROM pu""".stripMargin

  // ---- text_stylometry_confusion ----

  /** Stylometric source attribution: per doc a 3-feature style vector —
    * mean token length, stopword ratio, type-token ratio (exact
    * rationals); per-source centroids via scale-to-long means; each doc
    * assigns to the nearest centroid (squared distance on identical
    * doubles, source-name tiebreak); the output is the populated
    * source×assigned confusion cells. On synthetic prose the matrix is
    * diffuse — the operator is the attribution MACHINERY, which the
    * spec gates structurally (cells partition the corpus).
    *
    * Scale shape: features are one tokenize pass; centroids are a
    * 20-row broadcast; assignment is a map-side argmin. */
  private[graft] def stylometryConfusion(docs: DataFrame): DataFrame = {
    val dd = DoubleType
    val feats = docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"),
        sum(length(col("w"))).as("chars"),
        sum(col("w").isin("a", "the").cast(LongType)).as("stops"),
        countDistinct("w").as("dist"))
      .select(col("doc_id"), col("source"),
        (col("chars").cast(dd) / col("n").cast(dd)).as("f1"),
        (col("stops").cast(dd) / col("n").cast(dd)).as("f2"),
        (col("dist").cast(dd) / col("n").cast(dd)).as("f3"))
      .localCheckpoint(true)
    def centMean(c: String) =
      (sum(floor(col(c) * lit(1e6) + lit(0.5)).cast(LongType)).cast(dd) /
        count(lit(1)).cast(dd) / lit(1e6))
    val cents = feats.groupBy(col("source").as("c_source"))
      .agg(centMean("f1").as("c1"), centMean("f2").as("c2"),
        centMean("f3").as("c3"))
    val d2 = (col("f1") - col("c1")) * (col("f1") - col("c1")) +
      (col("f2") - col("c2")) * (col("f2") - col("c2")) +
      (col("f3") - col("c3")) * (col("f3") - col("c3"))
    val w = Window.partitionBy("doc_id").orderBy(col("d2"), col("c_source"))
    feats.crossJoin(broadcast(cents))
      .select(col("doc_id"), col("source"), col("c_source"), d2.as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("source"), col("c_source").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy("source", "assigned")
  }

  private def textStylometryConfusion(s: SparkSession, d: String): DataFrame =
    stylometryConfusion(t(s, d, "documents"))

  private val oTextStylometryConfusion =
    s"""WITH toks AS (SELECT doc_id, source,
       |    unnest(string_split(text, ' ')) AS w FROM documents),
       |feats AS MATERIALIZED (SELECT doc_id, source,
       |    CAST(sum(len(w)) AS DOUBLE) / count(*) AS f1,
       |    CAST(sum(CASE WHEN w IN ('a', 'the') THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*) AS f2,
       |    CAST(count(DISTINCT w) AS DOUBLE) / count(*) AS f3
       |  FROM toks WHERE w <> '' GROUP BY 1, 2),
       |cents AS (SELECT source AS c_source,
       |    CAST(sum(CAST(floor(f1 * 1e6 + 5e-1) AS BIGINT)) AS DOUBLE)
       |      / count(*) / 1e6 AS c1,
       |    CAST(sum(CAST(floor(f2 * 1e6 + 5e-1) AS BIGINT)) AS DOUBLE)
       |      / count(*) / 1e6 AS c2,
       |    CAST(sum(CAST(floor(f3 * 1e6 + 5e-1) AS BIGINT)) AS DOUBLE)
       |      / count(*) / 1e6 AS c3
       |  FROM feats GROUP BY 1),
       |asn AS (SELECT doc_id, source, c_source FROM (
       |  SELECT f.doc_id, f.source, c.c_source,
       |    row_number() OVER (PARTITION BY f.doc_id ORDER BY
       |      (f.f1 - c.c1) * (f.f1 - c.c1)
       |      + (f.f2 - c.c2) * (f.f2 - c.c2)
       |      + (f.f3 - c.c3) * (f.f3 - c.c3), c.c_source) AS rn
       |  FROM feats f, cents c) WHERE rn = 1)
       |SELECT source, c_source AS assigned, CAST(count(*) AS BIGINT) AS n
       |FROM asn GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sim_rocchio_expand"         -> ((s, d) => rocchioExpand(s, d)),
    "chp_sessionize_incremental" -> chpSessionizeIncremental _,
    "text_stylometry_confusion"  -> textStylometryConfusion _)

  val oracles: Map[String, String] = Map(
    "sim_rocchio_expand"         -> oSimRocchioExpand,
    "chp_sessionize_incremental" -> oChpSessionizeIncremental,
    "text_stylometry_confusion"  -> oTextStylometryConfusion)
}
