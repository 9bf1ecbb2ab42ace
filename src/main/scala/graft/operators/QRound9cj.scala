package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 87 (SURVEY §2.28):
  *
  *  - `agg_anova_f`: one-way ANOVA F-test of order totals across the
  *    five order priorities — the classic "does the group mean differ"
  *    omnibus test, from exact integer moments.
  *  - `mm_image_bit_planes`: per-image bit-plane population counts off
  *    the REAL decoded pixel plane — the bit-slice complexity signature
  *    steganalysis and compressibility probes read.
  *  - `emb_silhouette_simplified`: simplified silhouette per k-means
  *    cell (centroid-distance variant) — the cluster-quality readout
  *    that needs no pairwise matrix.
  */
object QRound9cj extends QueryPack {

  private val dd = DoubleType

  // ---- agg_anova_f ----

  /** One-way ANOVA of whole-dollar order totals by priority. Group
    * moments (n, Σx, Σx²) are exact BIGINTs on the rounded-dollar
    * response; the between/within sums of squares are scale-to-long'd
    * at 1e2 from per-group doubles that both engines derive from the
    * same exact integers — so SSB/SSW are exact integers too, and
    * F = (SSB/(k−1))/(SSW/(N−k)) is one identical double division.
    * Verdict compares the trunc4'd F against the F(4,∞) 5% critical
    * value literal.
    *
    * Scale shape: one map-side-partial groupBy on a 5-value key, then
    * a 5-row rollup — nothing after the first aggregate is
    * corpus-sized. (At sf≫1 the Σx² dollar moments approach BIGINT
    * range; the deployment spelling offsets by a constant first.) */
  private[graft] def anovaF(orders: DataFrame): DataFrame = {
    val g = orders
      .select(col("o_orderpriority").as("pri"),
        expr("CAST(floor(o_totalprice + 5e-1) AS BIGINT)").as("dol"))
      .groupBy("pri")
      .agg(count(lit(1)).as("n_g"), sum("dol").as("s_g"),
        sum(col("dol") * col("dol")).as("q_g"))
      .withColumn("sb_term",
        expr("CAST(floor(CAST(s_g AS DOUBLE)*CAST(s_g AS DOUBLE)" +
          "/CAST(n_g AS DOUBLE)*1e2 + 5e-1) AS BIGINT)"))
    g.agg(count(lit(1)).as("k_groups"), sum("n_g").as("n_total"),
        sum("s_g").as("s_all"), sum("q_g").as("q_all"),
        sum("sb_term").as("sb_sum"))
      .select(col("k_groups"), col("n_total"),
        (col("sb_sum") - expr("CAST(floor(CAST(s_all AS DOUBLE)" +
          "*CAST(s_all AS DOUBLE)/CAST(n_total AS DOUBLE)*1e2 + 5e-1)" +
          " AS BIGINT)")).as("ssb_sc"),
        (col("q_all") * 100 - col("sb_sum")).as("ssw_sc"))
      .select(col("k_groups"), col("n_total"),
        trunc4((col("ssb_sc").cast(dd) / (col("k_groups") - 1).cast(dd)) /
          (col("ssw_sc").cast(dd) / (col("n_total") - col("k_groups"))
            .cast(dd))).as("f_stat"),
        trunc4(col("ssb_sc").cast(dd) /
          (col("ssb_sc") + col("ssw_sc")).cast(dd)).as("eta_sq"))
      .withColumn("reject_5pct",
        (col("f_stat") > lit(2.372)).cast(IntegerType))
  }

  private def aggAnovaF(s: SparkSession, d: String): DataFrame =
    anovaF(t(s, d, "orders"))

  private val oAggAnovaF =
    s"""WITH g AS (SELECT o_orderpriority AS pri,
       |    CAST(count(*) AS BIGINT) AS n_g,
       |    CAST(sum(CAST(floor(o_totalprice + 5e-1) AS BIGINT)) AS BIGINT)
       |      AS s_g,
       |    CAST(sum(CAST(floor(o_totalprice + 5e-1) AS BIGINT)
       |      * CAST(floor(o_totalprice + 5e-1) AS BIGINT)) AS BIGINT)
       |      AS q_g
       |  FROM orders GROUP BY 1),
       |g2 AS (SELECT *, CAST(floor(CAST(s_g AS DOUBLE)*CAST(s_g AS DOUBLE)
       |    /CAST(n_g AS DOUBLE)*1e2 + 5e-1) AS BIGINT) AS sb_term FROM g),
       |mo AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
       |    CAST(sum(n_g) AS BIGINT) AS n_total,
       |    CAST(sum(s_g) AS BIGINT) AS s_all,
       |    CAST(sum(q_g) AS BIGINT) AS q_all,
       |    CAST(sum(sb_term) AS BIGINT) AS sb_sum
       |  FROM g2),
       |ss AS (SELECT k_groups, n_total,
       |    sb_sum - CAST(floor(CAST(s_all AS DOUBLE)*CAST(s_all AS DOUBLE)
       |      /CAST(n_total AS DOUBLE)*1e2 + 5e-1) AS BIGINT) AS ssb_sc,
       |    q_all * 100 - sb_sum AS ssw_sc
       |  FROM mo)
       |SELECT k_groups, n_total,
       |  ${oTrunc4("(CAST(ssb_sc AS DOUBLE)/CAST(k_groups - 1 AS DOUBLE))" +
         "/(CAST(ssw_sc AS DOUBLE)/CAST(n_total - k_groups AS DOUBLE))")}
       |    AS f_stat,
       |  ${oTrunc4("CAST(ssb_sc AS DOUBLE)/CAST(ssb_sc + ssw_sc AS DOUBLE)")}
       |    AS eta_sq,
       |  CAST(CASE WHEN ${oTrunc4("(CAST(ssb_sc AS DOUBLE)" +
         "/CAST(k_groups - 1 AS DOUBLE))/(CAST(ssw_sc AS DOUBLE)" +
         "/CAST(n_total - k_groups AS DOUBLE))")} > 2.372e0 THEN 1 ELSE 0 END
       |    AS INT) AS reject_5pct
       |FROM ss""".stripMargin

  // ---- mm_image_bit_planes ----

  /** Bit-plane population counts per image: for each bit b ∈ [0,7],
    * how many bytes of the REAL decoded P6 plane have bit b set —
    * exact integers off the same bytes `mm_image_hog_lite` reads; the
    * oracle replays the synthesis formula with SQL bit ops, so a
    * decode off-by-one breaks every plane.
    *
    * Scale shape: per-partition batch decode, one bounded rollup. */
  private[graft] def bitPlanes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Multimodal.mediaFromPpm(s, d)
    val rows = media.mapPartitions(_.flatMap { m =>
      val p = m.payload
      Multimodal.decodePpm(p).map { case (wI, hI, _) =>
        val n = 3 * wI * hI
        val start = p.length - n
        val c = new Array[Long](8)
        var i = 0
        while (i < n) {
          val v = p(start + i) & 0xff
          var b = 0
          while (b < 8) {
            c(b) += (v >> b) & 1
            b += 1
          }
          i += 1
        }
        (m.media_id, wI * hI * 3L, c(0), c(1), c(2), c(3), c(4), c(5),
          c(6), c(7))
      }
    }).toDF("media_id", "n_bytes", "p0", "p1", "p2", "p3", "p4", "p5",
      "p6", "p7")
    rows.orderBy("media_id")
  }

  private val oMmBitPlanes =
    """WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
      |    CAST(3 + doc_id % 4 AS INT) AS h FROM documents),
      |px AS (SELECT doc_id, w, h, (doc_id*31 + i*7) % 256 AS v
      |  FROM d, LATERAL (SELECT unnest(generate_series(0, w*h*3 - 1))
      |    AS i))
      |SELECT doc_id AS media_id, CAST(w*h*3 AS BIGINT) AS n_bytes,
      |  CAST(sum((v >> 0) & 1) AS BIGINT) AS p0,
      |  CAST(sum((v >> 1) & 1) AS BIGINT) AS p1,
      |  CAST(sum((v >> 2) & 1) AS BIGINT) AS p2,
      |  CAST(sum((v >> 3) & 1) AS BIGINT) AS p3,
      |  CAST(sum((v >> 4) & 1) AS BIGINT) AS p4,
      |  CAST(sum((v >> 5) & 1) AS BIGINT) AS p5,
      |  CAST(sum((v >> 6) & 1) AS BIGINT) AS p6,
      |  CAST(sum((v >> 7) & 1) AS BIGINT) AS p7
      |FROM px GROUP BY 1, w, h ORDER BY media_id""".stripMargin

  // ---- emb_silhouette_simplified ----

  private val silCells = 16
  private val silIters = 3

  /** Simplified silhouette per k-means cell on cosine distance: for
    * each vector, a = 1 − (best trunc4'd centroid similarity),
    * b = 1 − (second best); s = (b − a)/b (a ≤ b by construction; 0
    * when b = 0). Every s derives from two trunc4 doubles, so both
    * engines compute identical doubles; the per-cell mean goes through
    * scale-to-long at 1e12 (exact order-independent sum). Reuses the
    * memoized 16-cell Lloyd fit the whole ANN family shares.
    *
    * Scale shape: centroids broadcast; top-2 scores fold map-side (the
    * assignProbes shuffle shape); one bounded (cell) rollup. */
  private[graft] def silhouette(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val cent = AnnKMeans.centroidsMemo(s, d, "emb", silCells, silIters)(e)
    val top2 = e.join(broadcast(cent))
      .select(col("vec_id"),
        struct(trunc4(CosineSim.of(col("v"), col("cv"))).as("score"),
          col("cell").as("cell")).as("sc"))
      .groupBy("vec_id")
      .agg(collect_list(col("sc")).as("scs"))
      .select(col("vec_id"),
        slice(expr("array_sort(transform(scs, z -> " +
          "struct(-z.score AS ns, z.cell AS cell, z.score AS score)))"),
          1, 2).as("t2"))
      .select(col("vec_id"), col("t2")(0)("cell").as("cell"),
        col("t2")(0)("score").as("ca"), col("t2")(1)("score").as("cb"))
    val sil = top2.select(col("cell"),
      expr("CAST(floor((CASE WHEN (1e0 - cb) > 0e0 THEN " +
        "((1e0 - cb) - (1e0 - ca))/(1e0 - cb) ELSE 0e0 END)*1e12 + 5e-1)" +
        " AS BIGINT)").as("s_sc"))
    sil.groupBy("cell")
      .agg(count(lit(1)).as("n_vec"), sum("s_sc").as("ss"))
      .select(col("cell"), col("n_vec"),
        trunc4(col("ss").cast(dd) / col("n_vec").cast(dd) / lit(1e12))
          .as("mean_sil"))
      .orderBy("cell")
  }

  private val oEmbSilhouette =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${AnnKMeans.oCentroidChain(silCells, silIters, 64)}
       |sc AS (SELECT e.vec_id, c.cell,
       |    ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} AS score
       |  FROM e, c$silIters c),
       |rk AS (SELECT vec_id, cell, score, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY score DESC, cell) AS r FROM sc),
       |t2 AS (SELECT a.vec_id, a.cell, a.score AS ca, b.score AS cb
       |  FROM rk a JOIN rk b ON b.vec_id = a.vec_id
       |  WHERE a.r = 1 AND b.r = 2),
       |sil AS (SELECT cell, CAST(floor((CASE WHEN (1e0 - cb) > 0e0 THEN
       |    ((1e0 - cb) - (1e0 - ca))/(1e0 - cb) ELSE 0e0 END)*1e12
       |    + 5e-1) AS BIGINT) AS s_sc FROM t2)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vec,
       |  ${oTrunc4("CAST(CAST(sum(s_sc) AS BIGINT) AS DOUBLE)" +
         "/CAST(count(*) AS DOUBLE)/1e12")} AS mean_sil
       |FROM sil GROUP BY 1 ORDER BY cell""".stripMargin

  val queries: Map[String, QFn] = Map(
    "agg_anova_f"               -> aggAnovaF _,
    "mm_image_bit_planes"       -> ((s, d) => bitPlanes(s, d)),
    "emb_silhouette_simplified" -> ((s, d) => silhouette(s, d)))

  val oracles: Map[String, String] = Map(
    "agg_anova_f"               -> oAggAnovaF,
    "mm_image_bit_planes"       -> oMmBitPlanes,
    "emb_silhouette_simplified" -> oEmbSilhouette)
}
