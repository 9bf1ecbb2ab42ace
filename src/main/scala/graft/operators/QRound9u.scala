package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 20 (SURVEY §2.28):
  *
  *  - `sql_identifier_clause`: the Spark 4 IDENTIFIER(:param) clause —
  *    injection-safe DYNAMIC table/column names, completing the
  *    parameterized-SQL surface (`sql_parameterized` binds values;
  *    this binds identifiers).
  *  - `text_langid_confusion`: confusion matrix of the n-gram language
  *    detector against the stored labels — the classifier-evaluation
  *    audit for an in-engine model, like `dedup_eval_prf` for LSH.
  *  - `chp_ipw_ate`: inverse-propensity-weighted average treatment
  *    effect, segment-stratified — the causal estimate beside the raw
  *    A/B contrast (`chp_ab_lift_test` assumes randomization; IPW
  *    corrects for the segment mix).
  *  - `mm_image_colorfulness`: the Hasler–Süsstrunk colorfulness metric
  *    through the real P6 decode — the color-vividness curation signal
  *    beside brightness/entropy/sharpness.
  */
object QRound9u extends QueryPack {

  // ---- sql_identifier_clause ----

  /** IDENTIFIER(:tbl) — the parser resolves a parameter into a table
    * identifier at analysis time, so application code can route between
    * tables without string interpolation (a hostile value cannot escape
    * the identifier position). The bound query must plan exactly like
    * the literal spelling — pushdown and partial aggregation intact. */
  private def sqlIdentifierClause(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM IDENTIFIER(:tbl)
        |WHERE value > :minv
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
      Map("tbl" -> "g_events_idc", "minv" -> 10))(
      "g_events_idc" -> t(s, d, "events"))
  }

  private val oSqlIdentifierClause =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM events WHERE value > 10
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- text_langid_confusion ----

  /** Language-ID evaluation: the bigram-profile detector's predictions
    * (`text_lang_detect`, a 4-class model) cross-tabulated against the
    * stored labels (5 classes — `zh` has no profile and can only be a
    * miss, which the matrix makes visible). Each cell carries its count
    * and its share of the true-label row (trunc4 exact ratio) — recall
    * per class on the diagonal.
    *
    * Scale shape: composes the detector's map-side scoring; the matrix
    * is a langs²-bounded aggregate; row totals broadcast back. */
  private def textLangidConfusion(s: SparkSession, d: String): DataFrame = {
    val pred = QRound3.queries("text_lang_detect")(s, d)
      .select(col("doc_id"), col("pred_lang"))
    val truth = t(s, d, "documents").select(col("doc_id"), col("lang"))
    val cells = truth.join(pred, "doc_id")
      .groupBy(col("lang").as("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("true_lang").agg(sum(col("n")).as("row_n"))
    cells.join(broadcast(rows), "true_lang")
      .select(col("true_lang"), col("pred_lang"), col("n"),
        trunc4(col("n").cast(DoubleType) / col("row_n").cast(DoubleType))
          .as("row_frac"))
      .orderBy("true_lang", "pred_lang")
  }

  private val oTextLangidConfusion =
    s"""WITH pred AS (SELECT doc_id, pred_lang
       |  FROM (${QRound3.oracles("text_lang_detect")})),
       |cells AS (SELECT d.lang AS true_lang, p.pred_lang,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM documents d JOIN pred p USING (doc_id)
       |  GROUP BY 1, 2),
       |rows_ AS (SELECT true_lang, CAST(sum(n) AS BIGINT) AS row_n
       |  FROM cells GROUP BY 1)
       |SELECT c.true_lang, c.pred_lang, c.n,
       |  ${oTrunc4("CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE)")}
       |    AS row_frac
       |FROM cells c JOIN rows_ r USING (true_lang)
       |ORDER BY true_lang, pred_lang""".stripMargin

  // ---- chp_ipw_ate ----

  /** Inverse-propensity-weighted ATE, stratified by customer segment:
    * ÂTE = (1/N)·Σ_seg (conv₁·n_seg/n₁ − conv₀·n_seg/n₀) — the
    * Horvitz–Thompson estimate with the observed per-segment propensity
    * p̂ = n₁/n_seg (each segment's term collapses algebraically to exact
    * long ratios; the naïve pooled difference is emitted beside it — if
    * arms are balanced across segments the two agree, and a gap exposes
    * confounding). Per-segment terms are scaled-to-long and summed
    * exactly; segments with an empty arm are excluded and counted.
    *
    * Scale shape: one events pass → per-user flags; broadcast dim join;
    * segment-level model state only. */
  private def chpIpwAte(s: SparkSession, d: String): DataFrame = {
    val u = t(s, d, "events").groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > lit(9e1), 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", abArm(col("user_id")))
    val seg = u.join(broadcast(t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
      col("user_id") === col("c_custkey"))
    val g = seg.groupBy("segment")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"))
    val ok = col("n1") > 0 && col("n0") > 0
    val term = col("c1").cast(DoubleType) * col("n_seg") / col("n1") -
      col("c0").cast(DoubleType) * col("n_seg") / col("n0")
    g.select(col("n_seg"), col("n1"), col("c1"), col("n0"), col("c0"),
        when(ok, floor(term * lit(1e6) + lit(5e-1)).cast(LongType))
          .otherwise(0L).as("t6"),
        when(ok, 0L).otherwise(1L).as("excl"),
        when(ok, col("n_seg")).otherwise(0L).as("n_used"))
      .agg(sum(col("n_used")).as("n_users"),
        count(lit(1)).as("n_segments"),
        sum(col("excl")).as("n_excluded"),
        trunc6((sum(col("t6")) / lit(1e6)) / sum(col("n_used")))
          .as("ate_ipw"),
        trunc6(sum(col("c1")).cast(DoubleType) / sum(col("n1")) -
          sum(col("c0")).cast(DoubleType) / sum(col("n0"))).as("ate_naive"))
  }

  private val oChpIpwAte =
    s"""WITH u AS (SELECT user_id,
       |    CAST(max(CASE WHEN event_type = 'purchase' AND value > 9e1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS conv,
       |    ${oAbArm("user_id")} AS arm
       |  FROM events GROUP BY user_id),
       |sg AS (SELECT c.c_mktsegment AS segment, u.arm, u.conv
       |  FROM u JOIN customer c ON c.c_custkey = u.user_id),
       |g AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_seg,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0
       |  FROM sg GROUP BY segment),
       |tt AS (SELECT n_seg, n1, c1, n0, c0,
       |    CASE WHEN n1 > 0 AND n0 > 0 THEN CAST(floor(
       |      (CAST(c1 AS DOUBLE) * n_seg / n1 -
       |       CAST(c0 AS DOUBLE) * n_seg / n0) * 1e6 + 5e-1) AS BIGINT)
       |      ELSE 0 END AS t6,
       |    CASE WHEN n1 > 0 AND n0 > 0 THEN 0 ELSE 1 END AS excl,
       |    CASE WHEN n1 > 0 AND n0 > 0 THEN n_seg ELSE 0 END AS n_used
       |  FROM g)
       |SELECT CAST(sum(n_used) AS BIGINT) AS n_users,
       |  CAST(count(*) AS BIGINT) AS n_segments,
       |  CAST(sum(excl) AS BIGINT) AS n_excluded,
       |  ${oTrunc6("(sum(t6) / 1e6) / sum(n_used)")} AS ate_ipw,
       |  ${oTrunc6("CAST(sum(c1) AS DOUBLE) / sum(n1) - " +
         "CAST(sum(c0) AS DOUBLE) / sum(n0)")} AS ate_naive
       |FROM tt""".stripMargin

  // ---- mm_image_colorfulness ----

  /** Hasler–Süsstrunk colorfulness through the real P6 decode:
    * rg = R−G, yb' = R+G−2B (twice the standard yb so every moment is
    * an exact integer); C = √(σ²rg + σ²yb) + 0.3·√(μ²rg + μ²yb). The
    * five moments accumulate as exact longs inside the partition-batched
    * decode; the metric is ONE double expression over them, trunc4'd.
    * The oracle replays the synthesis formula per pixel.
    *
    * Scale shape: the mm-family decode shape; a 6-column rollup
    * shuffles. */
  private[graft] def colorfulness(media: org.apache.spark.sql.Dataset[
      Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      Multimodal.pixelPlane(r.payload).map { case (w, h, px) =>
        var n = 0L; var srg = 0L; var srg2 = 0L; var syb = 0L; var syb2 = 0L
        var i = 0
        val np = w * h
        while (i < np) {
          val rr = px(i * 3) & 0xff
          val gg = px(i * 3 + 1) & 0xff
          val bb = px(i * 3 + 2) & 0xff
          val rg = (rr - gg).toLong
          val yb = (rr + gg - 2 * bb).toLong
          n += 1; srg += rg; srg2 += rg * rg; syb += yb; syb2 += yb * yb
          i += 1
        }
        (r.media_id, n, srg, srg2, syb, syb2)
      }
    }).toDF("media_id", "n", "srg", "srg2", "syb", "syb2")
      .select(col("media_id"), col("n").as("n_pixels"),
        trunc4(
          sqrt((col("n") * col("srg2") - col("srg") * col("srg"))
            .cast(DoubleType) / (col("n") * col("n")).cast(DoubleType) +
            (col("n") * col("syb2") - col("syb") * col("syb"))
              .cast(DoubleType) /
              (lit(4.0) * (col("n") * col("n")).cast(DoubleType))) +
          lit(3e-1) * sqrt(
            (col("srg") * col("srg")).cast(DoubleType) /
              (col("n") * col("n")).cast(DoubleType) +
            (col("syb") * col("syb")).cast(DoubleType) /
              (lit(4.0) * (col("n") * col("n")).cast(DoubleType))))
          .as("colorfulness"))
      .orderBy("media_id")
  }

  private def mmImageColorfulness(s: SparkSession, d: String): DataFrame =
    colorfulness(Multimodal.mediaFromPpm(s, d))

  private val oMmImageColorfulness =
    s"""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
       |    CAST(3 + doc_id % 4 AS INT) AS h FROM documents),
       |pxi AS (SELECT doc_id, w, h, i.i,
       |    (doc_id*31 + (i.i*3)*7) % 256 AS r,
       |    (doc_id*31 + (i.i*3+1)*7) % 256 AS g,
       |    (doc_id*31 + (i.i*3+2)*7) % 256 AS b
       |  FROM d, LATERAL (SELECT unnest(generate_series(0, w*h - 1)) AS i) i),
       |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(r - g) AS BIGINT) AS srg,
       |    CAST(sum((r - g) * (r - g)) AS BIGINT) AS srg2,
       |    CAST(sum(r + g - 2*b) AS BIGINT) AS syb,
       |    CAST(sum((r + g - 2*b) * (r + g - 2*b)) AS BIGINT) AS syb2
       |  FROM pxi GROUP BY doc_id)
       |SELECT doc_id AS media_id, n AS n_pixels,
       |  ${oTrunc4("sqrt(CAST(n*srg2 - srg*srg AS DOUBLE)/CAST(n*n AS DOUBLE) + " +
         "CAST(n*syb2 - syb*syb AS DOUBLE)/(4.0*CAST(n*n AS DOUBLE))) + " +
         "3e-1 * sqrt(CAST(srg*srg AS DOUBLE)/CAST(n*n AS DOUBLE) + " +
         "CAST(syb*syb AS DOUBLE)/(4.0*CAST(n*n AS DOUBLE)))")}
       |    AS colorfulness
       |FROM m ORDER BY media_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sql_identifier_clause"  -> sqlIdentifierClause _,
    "text_langid_confusion"  -> textLangidConfusion _,
    "chp_ipw_ate"            -> chpIpwAte _,
    "mm_image_colorfulness"  -> mmImageColorfulness _)

  val oracles: Map[String, String] = Map(
    "sql_identifier_clause"  -> oSqlIdentifierClause,
    "text_langid_confusion"  -> oTextLangidConfusion,
    "chp_ipw_ate"            -> oChpIpwAte,
    "mm_image_colorfulness"  -> oMmImageColorfulness)
}
