package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Round-9 extension wave 34 (SURVEY §2.28):
  *
  *  - `chp_propensity_match`: within-caliper nearest-neighbour
  *    propensity matching between hash-assigned arms — the
  *    observational-causal counterpart of `chp_ipw_ate`.
  *  - `sample_neyman_alloc`: Neyman-optimal stratified allocation
  *    (n_h ∝ N_h·S_h) with a deterministic hash draw — the
  *    variance-minimizing survey-sampling design.
  *  - `mm_histogram_equalize`: per-image grayscale histogram
  *    equalization through the real P6 decode — the classic contrast
  *    normalization preprocessing step.
  */
object QRound9ai extends QueryPack {

  // ---- chp_propensity_match ----

  /** Caliper (±0.01) nearest-neighbour propensity matching: users split
    * into treatment/control by an md5 bit, propensity = trunc4(click
    * share), each treated user matched to the nearest control within the
    * caliper (|Δscore| ≤ 0.01, ties → lower control id), effect = outcome
    * difference on the matched pair.
    *
    * Scale shape: candidate generation is an EQUI-join — each treated row
    * explodes to its 3 adjacent score-grid cells and joins controls on
    * the cell key (never a score-range cross join); per-treated ranking
    * partitions by the treated key. Grid cells are the standard
    * blocking trick that keeps matching linear at corpus scale. */
  private[graft] def propensityMatch(events: DataFrame): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        sum((col("event_type") === "click").cast(LongType)).as("n_click"),
        sum4(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("outcome"))
      .select(col("user_id"),
        trunc4(col("n_click").cast(DoubleType) / col("n_ev").cast(DoubleType))
          .as("score"),
        col("outcome"),
        abArm(col("user_id")).as("arm"))
      .withColumn("cell", floor(col("score") * lit(1e2)).cast(LongType))
    val treated = users.filter(col("arm") === 1)
      .select(col("user_id").as("t_user"), col("score").as("t_score"),
        col("outcome").as("t_outcome"),
        explode(array(col("cell") - 1, col("cell"), col("cell") + 1))
          .as("cell"))
    val controls = users.filter(col("arm") === 0)
      .select(col("user_id").as("c_user"), col("score").as("c_score"),
        col("outcome").as("c_outcome"), col("cell"))
    // best-match selection as a struct-MIN hash aggregate instead of a
    // row_number window (OPTIMIZATION r16, guide §2.3 "aggregate before
    // you shuffle"): the window spelling shuffled and SORTED the whole
    // candidate stream by t_user; min(struct(diff, c_user, ...)) picks
    // the identical row (lexicographic struct order == ORDER BY diff,
    // c_user; a (t,c) pair appears once — controls own ONE cell) with
    // map-side partial aggregation, so only one best-so-far row per
    // treated user crosses the exchange.
    treated.join(controls, Seq("cell"))
      .withColumn("diff", abs(col("t_score") - col("c_score")))
      .filter(col("diff") <= lit(1e-2))
      .groupBy("t_user", "t_score", "t_outcome")
      .agg(min(struct(col("diff"), col("c_user"), col("c_score"),
        col("c_outcome"))).as("best"))
      .select(col("t_user"), col("best.c_user").as("c_user"),
        col("t_score"), col("best.c_score").as("c_score"),
        trunc4(col("best.diff")).as("diff"),
        col("t_outcome"), col("best.c_outcome").as("c_outcome"),
        trunc4(col("t_outcome") - col("best.c_outcome")).as("effect"))
      .orderBy("t_user")
  }

  private def chpPropensityMatch(s: SparkSession, d: String): DataFrame =
    propensityMatch(t(s, d, "events"))

  private val oChpPropensityMatch =
    s"""WITH u AS (SELECT user_id,
       |    ${oTrunc4("CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS score,
       |    ${oSum4("CASE WHEN event_type = 'purchase' THEN value ELSE 0e0 END")} AS outcome,
       |    ${oAbArm("user_id")} AS arm
       |  FROM events GROUP BY user_id),
       |uc AS (SELECT *, CAST(floor(score * 1e2) AS BIGINT) AS cell FROM u),
       |tr AS (SELECT user_id AS t_user, score AS t_score,
       |    outcome AS t_outcome, cell + g.o AS cell
       |  FROM uc, (SELECT unnest([-1, 0, 1]) AS o) g WHERE arm = 1),
       |ct AS (SELECT user_id AS c_user, score AS c_score,
       |    outcome AS c_outcome, cell FROM uc WHERE arm = 0),
       |cand AS (SELECT t_user, c_user, t_score, c_score, t_outcome,
       |    c_outcome, abs(t_score - c_score) AS diff
       |  FROM tr JOIN ct ON tr.cell = ct.cell
       |  WHERE abs(t_score - c_score) <= 1e-2),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY t_user
       |    ORDER BY diff, c_user) AS r FROM cand)
       |SELECT t_user, c_user, t_score, c_score,
       |  ${oTrunc4("diff")} AS diff, t_outcome, c_outcome,
       |  ${oTrunc4("t_outcome - c_outcome")} AS effect
       |FROM rk WHERE r = 1 ORDER BY t_user""".stripMargin

  // ---- sample_neyman_alloc ----

  private val neymanBudget = 500L

  /** Neyman-optimal stratified allocation: n_h = ⌊budget · N_h·S_h / Σ⌋
    * on exact decimal power sums (the per-stratum weight is scaled to an
    * integer BEFORE the cross-stratum total, so the grand total is an
    * order-free exact sum — never a float reduction); the draw is the
    * deterministic md5 rank, achieved counts and sampled mass reported.
    *
    * Scale shape: stratum stats are one partial-aggregable pass; the
    * 5-row weight table broadcasts; the draw is a per-stratum top-n on
    * the hash order (partitioned window). */
  private[graft] def neymanAlloc(events: DataFrame): DataFrame = {
    val st = events.groupBy("event_type")
      // 128-bit integer moment sums (OPTIMIZATION r16, see Tables.sum128)
      .agg(count(lit(1)).as("n_h"),
        sumDec4(col("value")).as("s1"),
        sumProd128(unscaled4Col(col("value")),
          unscaled4Col(col("value")), 8).as("s2"))
      .select(col("event_type"), col("n_h"),
        sqrt((col("s2").cast(DoubleType) / col("n_h").cast(DoubleType)) -
          ((col("s1").cast(DoubleType) / col("n_h").cast(DoubleType)) *
            (col("s1").cast(DoubleType) / col("n_h").cast(DoubleType))))
          .as("s_h"))
      .withColumn("w_scaled",
        floor(col("n_h").cast(DoubleType) * col("s_h") * lit(1e6) + lit(0.5))
          .cast(LongType))
    val tot = st.agg(sum("w_scaled").as("w_tot"))
    val alloc = st.join(broadcast(tot))
      .select(col("event_type"), col("n_h"), trunc4(col("s_h")).as("s_h"),
        expr(s"($neymanBudget * w_scaled) div w_tot").as("alloc"))
    val w = Window.partitionBy("event_type")
      .orderBy(md5(col("event_id").cast(StringType)), col("event_id"))
    val drawn = events
      .withColumn("r", row_number().over(w).cast(LongType))
      .join(broadcast(alloc), Seq("event_type"))
      .filter(col("r") <= col("alloc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("took"), sum4(col("value")).as("sample_sum"))
    alloc.join(drawn, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_h"), col("s_h"), col("alloc"),
        coalesce(col("took"), lit(0L)).as("took"),
        coalesce(col("sample_sum"), lit(0.0)).as("sample_sum"))
      .orderBy("event_type")
  }

  private def sampleNeymanAlloc(s: SparkSession, d: String): DataFrame =
    neymanAlloc(t(s, d, "events"))

  private val oSampleNeymanAlloc =
    s"""WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
       |    sqrt((CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) / count(*)) -
       |      ((CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*)) *
       |       (CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*)))) AS s_h
       |  FROM events GROUP BY 1),
       |sw AS (SELECT *, CAST(floor(n_h * s_h * 1e6 + 5e-1) AS BIGINT)
       |    AS w_scaled FROM st),
       |tot AS (SELECT sum(w_scaled) AS w_tot FROM sw),
       |al AS (SELECT event_type, n_h, ${oTrunc4("s_h")} AS s_h,
       |    ($neymanBudget * w_scaled) // w_tot AS alloc FROM sw, tot),
       |rk AS (SELECT event_type, value, row_number() OVER (
       |    PARTITION BY event_type
       |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS r
       |  FROM events),
       |dr AS (SELECT rk.event_type, CAST(count(*) AS BIGINT) AS took,
       |    ${oSum4("value")} AS sample_sum
       |  FROM rk JOIN al ON rk.event_type = al.event_type
       |  WHERE rk.r <= al.alloc GROUP BY 1)
       |SELECT al.event_type, al.n_h, al.s_h, CAST(al.alloc AS BIGINT) AS alloc,
       |  coalesce(dr.took, 0) AS took,
       |  coalesce(dr.sample_sum, 0e0) AS sample_sum
       |FROM al LEFT JOIN dr ON al.event_type = dr.event_type
       |ORDER BY al.event_type""".stripMargin

  // ---- mm_histogram_equalize ----

  /** Per-image grayscale histogram equalization through the real P6
    * decode: gray = (r+g+b)/3, remap g' = 255·(cdf−cdf_min)/(n−cdf_min)
    * in pure integer arithmetic (identical in both engines), emitting
    * per-image contrast stats before/after. The oracle replays the pixel
    * synthesis, so a decode or cdf bug breaks the hash.
    *
    * Scale shape: the per-image 256-bin histogram folds inside
    * mapPartitions (bounded rows leave each task, not pixels); cdf and
    * stats windows/aggregates partition by media_id. */
  private[graft] def histogramEqualize(media: org.apache.spark.sql.Dataset[
      Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    val hist = media.mapPartitions(_.flatMap { r =>
      Multimodal.pixelPlane(r.payload).toSeq.flatMap { case (w, h, px) =>
        val counts = new Array[Long](256)
        var j = 0
        val n = w * h
        while (j < n) {
          val g = ((px(3 * j) & 0xff) + (px(3 * j + 1) & 0xff) +
            (px(3 * j + 2) & 0xff)) / 3
          counts(g) += 1
          j += 1
        }
        counts.zipWithIndex.collect { case (c, g) if c > 0 =>
          (r.media_id, g.toLong, c, n.toLong)
        }
      }
    }).toDF("media_id", "gray", "cnt", "n_px")
    val w = Window.partitionBy("media_id").orderBy("gray")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cdf", sum("cnt").over(wRun))
      .withColumn("cdf_min", first("cnt").over(wRun))
      .withColumn("g2",
        when(col("n_px") === col("cdf_min"), lit(0L))
          .otherwise(expr("(255 * (cdf - cdf_min)) div (n_px - cdf_min)")))
      .groupBy("media_id")
      .agg(first("n_px").as("n_px"),
        count(lit(1)).as("levels_before"),
        countDistinct("g2").as("levels_after"),
        sum(col("gray") * col("cnt")).as("gsum"),
        sum(col("g2") * col("cnt")).as("g2sum"),
        min("g2").as("min_after"), max("g2").as("max_after"))
      .select(col("media_id"), col("n_px"), col("levels_before"),
        col("levels_after"),
        trunc4(col("gsum").cast(DoubleType) / col("n_px").cast(DoubleType))
          .as("mean_before"),
        trunc4(col("g2sum").cast(DoubleType) / col("n_px").cast(DoubleType))
          .as("mean_after"),
        col("min_after"), col("max_after"))
      .orderBy("media_id")
  }

  private def mmHistogramEqualize(s: SparkSession, d: String): DataFrame =
    histogramEqualize(Multimodal.mediaFromPpm(s, d))

  private val oMmHistogramEqualize =
    s"""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
       |  FROM documents),
       |px AS (SELECT doc_id, w * h AS n_px,
       |    ((doc_id * 31 + (3 * j.j) * 7) % 256 +
       |     (doc_id * 31 + (3 * j.j + 1) * 7) % 256 +
       |     (doc_id * 31 + (3 * j.j + 2) * 7) % 256) // 3 AS gray
       |  FROM d, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS j) j),
       |hist AS (SELECT doc_id AS media_id, n_px, gray,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM px GROUP BY 1, 2, 3),
       |c AS (SELECT *, sum(cnt) OVER (PARTITION BY media_id ORDER BY gray
       |      ROWS UNBOUNDED PRECEDING) AS cdf,
       |    first_value(cnt) OVER (PARTITION BY media_id ORDER BY gray
       |      ROWS UNBOUNDED PRECEDING) AS cdf_min
       |  FROM hist),
       |g AS (SELECT *, CASE WHEN n_px = cdf_min THEN 0
       |    ELSE (255 * (cdf - cdf_min)) // (n_px - cdf_min) END AS g2
       |  FROM c)
       |SELECT media_id, CAST(any_value(n_px) AS BIGINT) AS n_px,
       |  CAST(count(*) AS BIGINT) AS levels_before,
       |  CAST(count(DISTINCT g2) AS BIGINT) AS levels_after,
       |  ${oTrunc4("CAST(sum(gray * cnt) AS DOUBLE) / any_value(n_px)")} AS mean_before,
       |  ${oTrunc4("CAST(sum(g2 * cnt) AS DOUBLE) / any_value(n_px)")} AS mean_after,
       |  CAST(min(g2) AS BIGINT) AS min_after,
       |  CAST(max(g2) AS BIGINT) AS max_after
       |FROM g GROUP BY media_id ORDER BY media_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_propensity_match"  -> chpPropensityMatch _,
    "sample_neyman_alloc"   -> sampleNeymanAlloc _,
    "mm_histogram_equalize" -> mmHistogramEqualize _)

  val oracles: Map[String, String] = Map(
    "chp_propensity_match"  -> oChpPropensityMatch,
    "sample_neyman_alloc"   -> oSampleNeymanAlloc,
    "mm_histogram_equalize" -> oMmHistogramEqualize)
}
