package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 60 (SURVEY §2.28):
  *
  *  - `agg_welch_ttest`: Welch's unequal-variance t-test on per-user
  *    spend between the hashed arms — the default two-sample test when
  *    variances differ, with the Welch–Satterthwaite df.
  *  - `mm_image_mirror_symmetry`: horizontal mirror-symmetry score per
  *    image through the real P6 decode — exact integer asymmetry mass,
  *    the composition/synthetic-artifact screen.
  *  - `sql_lateral_alias`: lateral column aliases — SELECT items
  *    referencing earlier aliases in the same list, a parser surface
  *    both engines resolve identically.
  */
object QRound9bi extends QueryPack {

  // ---- agg_welch_ttest ----

  /** Welch's t-test: arms from the md5 split, metric = per-user total
    * spend (DECIMAL-exact sums; sample variances with n−1);
    * t = Δm/√(v₁/n₁+v₀/n₀), df by Welch–Satterthwaite. The verdict
    * compares trunc4(|t|) against the 1.96 literal. A null split must
    * not reject.
    *
    * Scale shape: one per-user aggregate, one 2×3-moment rollup. */
  private[graft] def welchTtest(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val d4 = DecimalType(18, 4)
    val user = events.groupBy("user_id")
      .agg(sum(col("value").cast(d4)).cast(d4).as("x"))
      .withColumn("arm", abArm(col("user_id")))
    val m = user.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("x")).cast(dd).as("s"),
        sum(col("x") * col("x")).cast(dd).as("ss"))
      .withColumn("mean", col("s") / col("n").cast(dd))
      .withColumn("v", (col("ss") - col("s") * col("s") /
        col("n").cast(dd)) / (col("n") - 1).cast(dd))
    val a = m.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("mean").as("m_a"), col("v").as("v_a"))
    val b = m.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("mean").as("m_b"), col("v").as("v_b"))
    val se2 = col("v_a") / col("n_a").cast(dd) +
      col("v_b") / col("n_b").cast(dd)
    a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        trunc4(col("m_b") - col("m_a")).as("mean_diff"),
        trunc4((col("m_b") - col("m_a")) / sqrt(se2)).as("t_stat"),
        trunc4(se2 * se2 /
          ((col("v_a") / col("n_a").cast(dd)) *
            (col("v_a") / col("n_a").cast(dd)) /
            (col("n_a") - 1).cast(dd) +
           (col("v_b") / col("n_b").cast(dd)) *
            (col("v_b") / col("n_b").cast(dd)) /
            (col("n_b") - 1).cast(dd))).as("df"))
      .withColumn("significant",
        (abs(col("t_stat")) > lit(196e-2)).cast(IntegerType))
  }

  private def aggWelchTtest(s: SparkSession, d: String): DataFrame =
    welchTtest(t(s, d, "events"))

  private val oAggWelchTtest =
    s"""WITH u AS (SELECT user_id,
       |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
       |  FROM events GROUP BY 1),
       |a2 AS (SELECT ${oAbArm("user_id")} AS arm, x FROM u),
       |m AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS DOUBLE) AS s, CAST(sum(x * x) AS DOUBLE) AS ss
       |  FROM a2 GROUP BY 1),
       |v AS (SELECT arm, n, s / n AS mean,
       |    (ss - s * s / n) / (n - 1) AS v FROM m),
       |w AS (SELECT a.n AS n_a, a.mean AS m_a, a.v AS v_a,
       |    b.n AS n_b, b.mean AS m_b, b.v AS v_b,
       |    a.v / a.n + b.v / b.n AS se2
       |  FROM v a, v b WHERE a.arm = 0 AND b.arm = 1)
       |SELECT n_a, n_b, ${oTrunc4("m_b - m_a")} AS mean_diff,
       |  ${oTrunc4("(m_b - m_a) / sqrt(se2)")} AS t_stat,
       |  ${oTrunc4("se2 * se2 / ((v_a / n_a) * (v_a / n_a) / (n_a - 1) + (v_b / n_b) * (v_b / n_b) / (n_b - 1))")} AS df,
       |  CASE WHEN abs(${oTrunc4("(m_b - m_a) / sqrt(se2)")}) > 196e-2
       |    THEN 1 ELSE 0 END AS significant
       |FROM w""".stripMargin

  // ---- mm_image_mirror_symmetry ----

  /** Horizontal mirror symmetry through the real P6 parse: the exact
    * asymmetry mass Σ |p(x,y,c) − p(w−1−x,y,c)| over the left half,
    * normalized by the half-plane byte capacity into a [0,1] symmetry
    * score (1 = perfect mirror). The oracle replays the synthesis
    * formula with explicit (x,y,c) indexing, so any interleave or
    * mirror-index bug breaks the hash.
    *
    * Scale shape: per-partition batch decode; one rollup row per
    * image. */
  private[graft] def mirrorSymmetry(media: org.apache.spark.sql.Dataset[
      Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    val dd = DoubleType
    media.mapPartitions(_.flatMap { r =>
      Multimodal.pixelPlane(r.payload).map { case (w, h, plane) =>
        var asym = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w / 2) {
            var c = 0
            while (c < 3) {
              val l = plane(3 * (y * w + x) + c) & 0xff
              val rr = plane(3 * (y * w + (w - 1 - x)) + c) & 0xff
              asym += math.abs(l - rr)
              c += 1
            }
            x += 1
          }
          y += 1
        }
        val norm = 3L * (w / 2) * h * 255L
        (r.media_id, w, h, asym, norm)
      }
    }).toDF("media_id", "width", "height", "asym", "norm")
      .select(col("media_id"), col("width"), col("height"), col("asym"),
        trunc4(lit(1.0) - col("asym").cast(dd) / col("norm").cast(dd))
          .as("symmetry"))
      .orderBy("media_id")
  }

  private def mmImageMirrorSymmetry(s: SparkSession, d: String): DataFrame =
    mirrorSymmetry(Multimodal.mediaFromPpm(s, d))

  private val oMmImageMirrorSymmetry =
    s"""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS BIGINT) AS w,
       |    CAST(3 + doc_id % 4 AS BIGINT) AS h FROM documents),
       |px AS (SELECT doc_id, w, h, y.y, x.x, c.c,
       |    abs((doc_id*31 + (3*(y.y*w + x.x) + c.c)*7) % 256
       |      - (doc_id*31 + (3*(y.y*w + (w-1-x.x)) + c.c)*7) % 256) AS a
       |  FROM d,
       |    LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y,
       |    LATERAL (SELECT unnest(generate_series(0, w // 2 - 1)) AS x) x,
       |    LATERAL (SELECT unnest(generate_series(0, 2)) AS c) c),
       |ag AS (SELECT doc_id, CAST(max(w) AS INT) AS width,
       |    CAST(max(h) AS INT) AS height,
       |    CAST(sum(a) AS BIGINT) AS asym,
       |    3 * (max(w) // 2) * max(h) * 255 AS norm
       |  FROM px GROUP BY doc_id)
       |SELECT doc_id AS media_id, width, height, asym,
       |  ${oTrunc4("1e0 - CAST(asym AS DOUBLE) / norm")} AS symmetry
       |FROM ag ORDER BY media_id""".stripMargin

  // ---- sql_lateral_alias ----

  /** Lateral column aliases: later SELECT items reference earlier ones
    * in the same list (n → pct → band) — the analyzer surface that
    * saves a subquery per derived metric; both engines resolve the
    * chain identically.
    *
    * Scale shape: one aggregate; the alias chain is pure projection. */
  private[graft] def lateralAlias(s: SparkSession, d: String): DataFrame =
    SqlText.on(s,
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  n * 1e2 / 6e4 AS raw_pct,
        |  floor(raw_pct) AS pct_floor,
        |  CASE WHEN pct_floor >= 40 THEN 'major' ELSE 'minor' END AS band
        |FROM g_lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)(
      "g_lineitem" -> t(s, d, "lineitem"))
      .select(col("l_returnflag"), col("n"),
        trunc4(col("raw_pct")).as("raw_pct"),
        col("pct_floor").cast(LongType).as("pct_floor"), col("band"))

  private val oSqlLateralAlias =
    """SELECT l_returnflag, n,
      |  floor(raw_pct0 * 10000) / 10000.0 AS raw_pct,
      |  CAST(floor(raw_pct0) AS BIGINT) AS pct_floor,
      |  CASE WHEN floor(raw_pct0) >= 40 THEN 'major' ELSE 'minor' END
      |    AS band
      |FROM (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  count(*) * 1e2 / 6e4 AS raw_pct0
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, QFn] = Map(
    "agg_welch_ttest"          -> aggWelchTtest _,
    "mm_image_mirror_symmetry" -> mmImageMirrorSymmetry _,
    "sql_lateral_alias"        -> ((s, d) => lateralAlias(s, d)))

  val oracles: Map[String, String] = Map(
    "agg_welch_ttest"          -> oAggWelchTtest,
    "mm_image_mirror_symmetry" -> oMmImageMirrorSymmetry,
    "sql_lateral_alias"        -> oSqlLateralAlias)
}
