package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 72 (SURVEY §2.28):
  *
  *  - `stream_rate_alert`: daily per-user rate-limit alerting — the
  *    streaming-native twin of `serve_rate_limit_audit`; batch form
  *    oracle-checked here, streaming semantics in StreamingSpec.
  *  - `agg_cohens_kappa`: Cohen's kappa agreement between two
  *    deterministic document-quality raters — the chance-corrected
  *    label-agreement statistic.
  *  - `emb_ari_nmi`: Adjusted Rand Index + Normalized Mutual
  *    Information between the PCA-grid coarse clustering and the true
  *    labels — the two standard clustering-eval scores.
  */
object QRound9bu extends QueryPack {

  private val dd = DoubleType

  // ---- stream_rate_alert ----

  /** Batch form of the rate-alert transform (watermark is a no-op in
    * batch). Scale shape: one (day, user) windowed aggregate; streaming
    * state bounded by active users per day × watermark. */
  private def streamRateAlert(s: SparkSession, d: String): DataFrame =
    StreamOps.rateAlert(t(s, d, "events")).orderBy("day_start", "user_id")

  private val oStreamRateAlert =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
      |  user_id, count(*) AS n
      |FROM events GROUP BY 1, 2 HAVING count(*) > 5
      |ORDER BY day_start, user_id""".stripMargin

  // ---- agg_cohens_kappa ----

  // shared kappa tower off exact confusion counts
  private val kPo = "CAST(yy + nn AS DOUBLE)/CAST(n AS DOUBLE)"
  private val kPe = "(CAST(yy + yn AS DOUBLE)*CAST(yy + ny AS DOUBLE)" +
    " + CAST(nn + ny AS DOUBLE)*CAST(nn + yn AS DOUBLE))" +
    "/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))"
  private val kKappa = "(po - pe)/nullif(1e0 - pe, 0e0)"

  /** Cohen's kappa between two deterministic quality raters over the
    * document corpus: rater A keeps docs with n_chars ≥ 275, rater B
    * keeps docs with type-token ratio ≥ 1/2 (2·types ≥ tokens — an
    * exact integer cut). Exact 2×2 confusion, then the chance-corrected
    * agreement through a shared tower. The judge of whether two cheap
    * heuristics are interchangeable.
    *
    * Scale shape: one tokenize + one doc rollup + one 4-cell
    * aggregate. */
  private[graft] def cohensKappa(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val rated = docs.select(col("doc_id"), col("n_chars"),
        tokens(col("text")).as("toks"))
      .select(
        (col("n_chars") >= 275).cast(LongType).as("ra"),
        (size(array_distinct(col("toks"))) * 2 >= size(col("toks")))
          .cast(LongType).as("rb"))
    val conf = rated.agg(count(lit(1)).as("n"),
      sum(col("ra") * col("rb")).as("yy"),
      sum(col("ra") * (lit(1L) - col("rb"))).as("yn"),
      sum((lit(1L) - col("ra")) * col("rb")).as("ny"),
      sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("nn"))
    conf.withColumn("po", expr(kPo)).withColumn("pe", expr(kPe))
      .select(col("n"), col("yy"), col("yn"), col("ny"), col("nn"),
        trunc4(col("po")).as("observed_agreement"),
        trunc4(expr(kKappa)).as("cohens_kappa"))
  }

  private val oAggCohensKappa =
    s"""WITH rated AS (SELECT
       |    CASE WHEN n_chars >= 275 THEN 1 ELSE 0 END AS ra,
       |    CASE WHEN 2*len(list_distinct(list_filter(string_split(text, ' '),
       |      x -> x <> ''))) >= len(list_filter(string_split(text, ' '),
       |      x -> x <> '')) THEN 1 ELSE 0 END AS rb
       |  FROM documents),
       |conf AS (SELECT count(*) AS n,
       |    CAST(sum(ra*rb) AS BIGINT) AS yy,
       |    CAST(sum(ra*(1 - rb)) AS BIGINT) AS yn,
       |    CAST(sum((1 - ra)*rb) AS BIGINT) AS ny,
       |    CAST(sum((1 - ra)*(1 - rb)) AS BIGINT) AS nn
       |  FROM rated),
       |t1 AS (SELECT *, ($kPo) AS po, ($kPe) AS pe FROM conf)
       |SELECT n, yy, yn, ny, nn,
       |  ${oTrunc4("po")} AS observed_agreement,
       |  ${oTrunc4(kKappa)} AS cohens_kappa
       |FROM t1""".stripMargin

  // ---- emb_ari_nmi ----

  /** ARI + NMI of the PCA-grid coarse clustering (the
    * `emb_grid_density` cell key — floor(pc·10) over the memoized
    * 2-component projection) against the true labels: contingency and
    * all C(x,2) pair counts are exact BIGINTs; ARI's one division and
    * NMI's per-term (n_ij/n)·ln(n·n_ij/(a_i·b_j)) are scale-to-long'd
    * so sums stay order-independent. The standard answer to "is this
    * cheap clustering actually aligned with the labels".
    *
    * Scale shape: contingency is one bounded groupBy; marginals
    * broadcast; the score tower runs on one scalar row. */
  private[graft] def ariNmi(s: SparkSession, d: String): DataFrame = {
    val p = QRound7b.queries("emb_pca_project2")(s, d)
    val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
    val pts = p.join(lab, "vec_id").select(
      concat_ws("_", floor(col("pc1") * lit(10.0)).cast(LongType),
        floor(col("pc2") * lit(10.0)).cast(LongType)).as("cell"),
      col("label"))
    // the contingency table is bounded (grid cells × labels) and feeds
    // FIVE downstream aggregates (rows/cols/tot/sums/mi) — eager
    // localCheckpoint so the join+groupBy runs once per call instead of
    // five times (VERDICT r12 #1c, ~4.4× the oracle un-persisted)
    val cont = pts.groupBy("cell", "label").agg(count(lit(1)).as("nij"))
      .localCheckpoint(true)
    val rows = cont.groupBy("cell").agg(sum("nij").as("ai"))
    val cols = cont.groupBy("label").agg(sum("nij").as("bj"))
    val tot = cont.agg(sum("nij").as("n"), countDistinct("cell").as("nc"),
      countDistinct("label").as("nl"))
    val sums = cont.agg(expr("sum(nij * (nij - 1) div 2)").as("sidx"))
      .crossJoin(rows.agg(expr("sum(ai * (ai - 1) div 2)").as("sa")))
      .crossJoin(cols.agg(expr("sum(bj * (bj - 1) div 2)").as("sb")))
      .crossJoin(tot)
    // NMI pieces: per-cell/per-label entropy terms and the MI terms,
    // each scale-to-long'd at 1e12 against the SAME n
    val hu = rows.crossJoin(broadcast(tot)).agg(sum(floor(
      col("ai").cast(dd) / col("n").cast(dd)
        * log(col("n").cast(dd) / col("ai").cast(dd)) * lit(1e12)
        + lit(0.5)).cast(LongType)).as("hu_sc"))
    val hv = cols.crossJoin(broadcast(tot)).agg(sum(floor(
      col("bj").cast(dd) / col("n").cast(dd)
        * log(col("n").cast(dd) / col("bj").cast(dd)) * lit(1e12)
        + lit(0.5)).cast(LongType)).as("hv_sc"))
    val mi = cont.join(broadcast(rows), "cell").join(broadcast(cols), "label")
      .crossJoin(broadcast(tot))
      .agg(sum(floor(
        col("nij").cast(dd) / col("n").cast(dd)
          * log(col("n").cast(dd) * col("nij").cast(dd)
            / (col("ai").cast(dd) * col("bj").cast(dd))) * lit(1e12)
          + lit(0.5)).cast(LongType)).as("mi_sc"))
    sums.crossJoin(hu).crossJoin(hv).crossJoin(mi)
      .withColumn("expd", expr(
        "CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n - 1 AS DOUBLE)/2e0)"))
      .select(col("n"), col("nc").as("n_cells"), col("nl").as("n_labels"),
        trunc4(expr(
          "(CAST(sidx AS DOUBLE) - expd)/nullif((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))/2e0 - expd, 0e0)"))
          .as("ari"),
        trunc4(expr(
          "CAST(mi_sc AS DOUBLE)/nullif(sqrt(CAST(hu_sc AS DOUBLE)*CAST(hv_sc AS DOUBLE)), 0e0)"))
          .as("nmi"))
  }

  private val oEmbAriNmi =
    s"""WITH p AS MATERIALIZED (SELECT * FROM
       |  (${QRound7b.oracles("emb_pca_project2")})),
       |pts AS (SELECT concat(CAST(CAST(floor(pc1 * 1e1) AS BIGINT) AS VARCHAR),
       |    '_', CAST(CAST(floor(pc2 * 1e1) AS BIGINT) AS VARCHAR)) AS cell,
       |    label
       |  FROM p JOIN embeddings USING (vec_id)),
       |cont AS (SELECT cell, label, count(*) AS nij FROM pts GROUP BY 1, 2),
       |rws AS (SELECT cell, CAST(sum(nij) AS BIGINT) AS ai FROM cont
       |  GROUP BY 1),
       |cls AS (SELECT label, CAST(sum(nij) AS BIGINT) AS bj FROM cont
       |  GROUP BY 1),
       |tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
       |    count(DISTINCT cell) AS nc, count(DISTINCT label) AS nl
       |  FROM cont),
       |sums AS (SELECT
       |    (SELECT CAST(sum(nij*(nij-1)//2) AS BIGINT) FROM cont) AS sidx,
       |    (SELECT CAST(sum(ai*(ai-1)//2) AS BIGINT) FROM rws) AS sa,
       |    (SELECT CAST(sum(bj*(bj-1)//2) AS BIGINT) FROM cls) AS sb),
       |hu AS (SELECT CAST(sum(CAST(floor(CAST(ai AS DOUBLE)/CAST(n AS DOUBLE)
       |    * ln(CAST(n AS DOUBLE)/CAST(ai AS DOUBLE)) * 1e12 + 5e-1)
       |    AS BIGINT)) AS BIGINT) AS hu_sc FROM rws, tot),
       |hv AS (SELECT CAST(sum(CAST(floor(CAST(bj AS DOUBLE)/CAST(n AS DOUBLE)
       |    * ln(CAST(n AS DOUBLE)/CAST(bj AS DOUBLE)) * 1e12 + 5e-1)
       |    AS BIGINT)) AS BIGINT) AS hv_sc FROM cls, tot),
       |mi AS (SELECT CAST(sum(CAST(floor(CAST(nij AS DOUBLE)/CAST(n AS DOUBLE)
       |    * ln(CAST(n AS DOUBLE)*CAST(nij AS DOUBLE)
       |      /(CAST(ai AS DOUBLE)*CAST(bj AS DOUBLE))) * 1e12 + 5e-1)
       |    AS BIGINT)) AS BIGINT) AS mi_sc
       |  FROM cont JOIN rws USING (cell) JOIN cls USING (label), tot),
       |fin AS (SELECT n, nc, nl, sidx, sa, sb, hu_sc, hv_sc, mi_sc,
       |    CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE)
       |      /(CAST(n AS DOUBLE)*CAST(n - 1 AS DOUBLE)/2e0) AS expd
       |  FROM sums, tot, hu, hv, mi)
       |SELECT n, CAST(nc AS BIGINT) AS n_cells, CAST(nl AS BIGINT) AS n_labels,
       |  ${oTrunc4("(CAST(sidx AS DOUBLE) - expd)/nullif((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))/2e0 - expd, 0e0)")}
       |    AS ari,
       |  ${oTrunc4("CAST(mi_sc AS DOUBLE)/nullif(sqrt(CAST(hu_sc AS DOUBLE)*CAST(hv_sc AS DOUBLE)), 0e0)")}
       |    AS nmi
       |FROM fin""".stripMargin

  val queries: Map[String, QFn] = Map(
    "stream_rate_alert" -> streamRateAlert _,
    "agg_cohens_kappa"  -> ((s, d) => cohensKappa(s, d)),
    "emb_ari_nmi"       -> ((s, d) => ariNmi(s, d)))

  val oracles: Map[String, String] = Map(
    "stream_rate_alert" -> oStreamRateAlert,
    "agg_cohens_kappa"  -> oAggCohensKappa,
    "emb_ari_nmi"       -> oEmbAriNmi)
}
