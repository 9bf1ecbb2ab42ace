package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 68 (SURVEY §2.28):
  *
  *  - `ts_granger_lag1`: lag-1 Granger causality F-test between every
  *    ordered pair of event-type daily series — does yesterday's X help
  *    predict today's Y beyond Y's own history.
  *  - `graph_reciprocity`: directed-graph reciprocity + dyad census
  *    over the within-order part-sequence graph — how often an a→b
  *    link is answered by b→a.
  *  - `text_burstiness`: Church–Gale burstiness (variance-to-mean ratio
  *    of per-doc token counts) per vocabulary token — separates bursty
  *    content words from evenly-spread function words.
  */
object QRound9bq extends QueryPack {

  private val dd = DoubleType

  // ---- ts_granger_lag1 ----

  // shared OLS tower: restricted (y on lag-y) vs unrestricted
  // (y on lag-y + lag-x), both from exact centered BIGINT moments
  private val gRssR =
    "CAST(szz AS DOUBLE) - CAST(szu AS DOUBLE)*CAST(szu AS DOUBLE)" +
      "/nullif(CAST(suu AS DOUBLE), 0e0)"
  private val gDet =
    "CAST(suu AS DOUBLE)*CAST(sww AS DOUBLE)" +
      " - CAST(suw AS DOUBLE)*CAST(suw AS DOUBLE)"
  private val gB =
    "(CAST(szu AS DOUBLE)*CAST(sww AS DOUBLE)" +
      " - CAST(szw AS DOUBLE)*CAST(suw AS DOUBLE))/nullif(det, 0e0)"
  private val gC =
    "(CAST(szw AS DOUBLE)*CAST(suu AS DOUBLE)" +
      " - CAST(szu AS DOUBLE)*CAST(suw AS DOUBLE))/nullif(det, 0e0)"
  private val gRssU =
    "CAST(szz AS DOUBLE) - (bcoef*CAST(szu AS DOUBLE)" +
      " + ccoef*CAST(szw AS DOUBLE))"
  private val gF =
    "(rssr - rssu)/nullif(rssu/CAST(np - 3 AS DOUBLE), 0e0)"

  /** Granger test at lag 1 for all 20 ordered (x, y) type pairs: the
    * two daily series inner-join on day, z = y_t regressed on
    * u = y_{t-1} alone vs u plus w = x_{t-1}. Moments are exact
    * BIGINTs (centered via n·Σab − Σa·Σb); the 2-predictor normal
    * equations, RSS'es, and F((RSS_r−RSS_u)/(RSS_u/(n−3))) run through
    * a formula tower shared verbatim with the oracle; the verdict cut
    * compares the trunc4'd F against 4e0 (≈ the 5% critical value of
    * F(1, n−3)) so it lands identically in both engines.
    *
    * Scale shape: the pair join fans each daily row out 5×, windows
    * partition per pair, one rollup — all bounded by types² × days. */
  private[graft] def grangerLag1(s: SparkSession, d: String): DataFrame = {
    val daily = QRound9b.evDaily(s, d)
    val a = daily.select(col("event_type").as("x_type"), col("day_num"),
      col("cnt").as("xc"))
    val b = daily.select(col("event_type").as("y_type"), col("day_num"),
      col("cnt").as("yc"))
    val j = a.join(b, "day_num").filter(col("x_type") =!= col("y_type"))
    val w = Window.partitionBy("x_type", "y_type").orderBy("day_num")
    val l = j.select(col("x_type"), col("y_type"), col("yc").as("z"),
        lag("yc", 1).over(w).as("yl"), lag("xc", 1).over(w).as("xl"))
      .filter(col("yl").isNotNull && col("xl").isNotNull)
    val m = l.groupBy("x_type", "y_type").agg(
      count(lit(1)).as("np"),
      sum("z").as("sz"), sum("yl").as("su"), sum("xl").as("sw"),
      sum(col("z") * col("z")).as("rzz"),
      sum(col("z") * col("yl")).as("rzu"),
      sum(col("z") * col("xl")).as("rzw"),
      sum(col("yl") * col("yl")).as("ruu"),
      sum(col("yl") * col("xl")).as("ruw"),
      sum(col("xl") * col("xl")).as("rww"))
    m.withColumn("szz", col("np") * col("rzz") - col("sz") * col("sz"))
      .withColumn("szu", col("np") * col("rzu") - col("sz") * col("su"))
      .withColumn("szw", col("np") * col("rzw") - col("sz") * col("sw"))
      .withColumn("suu", col("np") * col("ruu") - col("su") * col("su"))
      .withColumn("suw", col("np") * col("ruw") - col("su") * col("sw"))
      .withColumn("sww", col("np") * col("rww") - col("sw") * col("sw"))
      .withColumn("rssr", expr(gRssR))
      .withColumn("det", expr(gDet))
      .withColumn("bcoef", expr(gB)).withColumn("ccoef", expr(gC))
      .withColumn("rssu", expr(gRssU))
      .withColumn("f", expr(gF))
      .select(col("x_type"), col("y_type"), col("np").as("n_obs"),
        trunc4(col("f")).as("f_stat"),
        (trunc4(col("f")) > lit(4.0)).cast(IntegerType).as("causal"))
      .orderBy("x_type", "y_type")
  }

  private val oTsGranger =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |j AS (SELECT a.event_type AS x_type, b.event_type AS y_type,
       |    a.day_num, a.cnt AS xc, b.cnt AS yc
       |  FROM daily a JOIN daily b USING (day_num)
       |  WHERE a.event_type <> b.event_type),
       |l AS (SELECT x_type, y_type, yc AS z,
       |    lag(yc) OVER w AS yl, lag(xc) OVER w AS xl
       |  FROM j WINDOW w AS (PARTITION BY x_type, y_type ORDER BY day_num)),
       |m AS (SELECT x_type, y_type, count(*) AS np,
       |    CAST(sum(z) AS BIGINT) AS sz, CAST(sum(yl) AS BIGINT) AS su,
       |    CAST(sum(xl) AS BIGINT) AS sw,
       |    CAST(sum(z*z) AS BIGINT) AS rzz, CAST(sum(z*yl) AS BIGINT) AS rzu,
       |    CAST(sum(z*xl) AS BIGINT) AS rzw, CAST(sum(yl*yl) AS BIGINT) AS ruu,
       |    CAST(sum(yl*xl) AS BIGINT) AS ruw, CAST(sum(xl*xl) AS BIGINT) AS rww
       |  FROM l WHERE yl IS NOT NULL AND xl IS NOT NULL
       |  GROUP BY 1, 2),
       |s1 AS (SELECT *, np*rzz - sz*sz AS szz, np*rzu - sz*su AS szu,
       |    np*rzw - sz*sw AS szw, np*ruu - su*su AS suu,
       |    np*ruw - su*sw AS suw, np*rww - sw*sw AS sww FROM m),
       |s2 AS (SELECT *, ($gRssR) AS rssr, ($gDet) AS det FROM s1),
       |s3 AS (SELECT *, ($gB) AS bcoef, ($gC) AS ccoef FROM s2),
       |s4 AS (SELECT *, ($gRssU) AS rssu FROM s3),
       |s5 AS (SELECT *, ($gF) AS f FROM s4)
       |SELECT x_type, y_type, np AS n_obs,
       |  ${oTrunc4("f")} AS f_stat,
       |  CAST(${oTrunc4("f")} > 4e0 AS INT) AS causal
       |FROM s5 ORDER BY x_type, y_type""".stripMargin

  // ---- graph_reciprocity ----

  /** Directed-graph reciprocity over the within-order part-sequence
    * graph (edge a→b when part b directly follows part a by line
    * number in some order; distinct, self-loops dropped): the share of
    * directed edges whose reverse also exists, plus the dyad census
    * (mutual pairs vs asymmetric edges) — Newman's reciprocity
    * diagnostic for any directed network.
    *
    * Scale shape: per-order lag window (orders partition cleanly), one
    * distinct, one self-equi-join on the reversed key — all
    * shuffle-on-uniform-keys; output is one row. */
  /** Memoized + lineage-truncated within-order part-sequence edge set
    * (a→b when part b directly follows a by line number; distinct,
    * self-loops dropped; (orderkey, linenumber) is NOT unique in the
    * fixtures, so the sequence tiebreaks on partkey to stay
    * deterministic). Shared by `graph_reciprocity` and `graph_scc_hubs`
    * (r11 — the coedges/tricounts discipline: the two keys were each
    * re-paying the full lag-window + distinct over lineitem). Edge
    * count is bounded by lineitem rows; O(E) skinny longs. */
  private[graft] def seqEdges(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "seqedges", d) {
      val li = t(s, d, "lineitem")
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_linenumber"), col("b"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("b"))
        .withColumn("a", lag("b", 1).over(w))
        .filter(col("a").isNotNull && col("a") =!= col("b"))
        .select("a", "b").distinct()
        .localCheckpoint(true)
    }

  private[graft] def reciprocity(s: SparkSession, d: String): DataFrame = {
    val e = seqEdges(s, d)
    val rev = e.select(col("b").as("a"), col("a").as("b"))
    val mutual = e.join(rev, Seq("a", "b"), "left_semi")
    val nodes = e.select(col("a").as("v"))
      .union(e.select(col("b").as("v"))).distinct()
    val stats = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(mutual.agg(count(lit(1)).as("n_reciprocal")))
      .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
    stats.select(col("n_nodes"), col("n_edges"), col("n_reciprocal"),
      (col("n_reciprocal") / lit(2)).cast(LongType).as("n_mutual_pairs"),
      (col("n_edges") - col("n_reciprocal")).as("n_asymmetric"),
      trunc4(col("n_reciprocal").cast(dd) / col("n_edges").cast(dd))
        .as("reciprocity"))
  }

  private val oGraphReciprocity =
    s"""WITH seq AS (SELECT l_orderkey, l_partkey AS b,
       |    lag(l_partkey) OVER (PARTITION BY l_orderkey
       |      ORDER BY l_linenumber, l_partkey) AS a
       |  FROM lineitem),
       |e AS (SELECT DISTINCT a, b FROM seq
       |  WHERE a IS NOT NULL AND a <> b),
       |mu AS (SELECT count(*) AS n_reciprocal FROM e
       |  WHERE EXISTS (SELECT 1 FROM e r WHERE r.a = e.b AND r.b = e.a)),
       |nd AS (SELECT count(*) AS n_nodes FROM
       |  (SELECT a AS v FROM e UNION SELECT b FROM e)),
       |st AS (SELECT count(*) AS n_edges FROM e)
       |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(n_edges AS BIGINT) AS n_edges,
       |  CAST(n_reciprocal AS BIGINT) AS n_reciprocal,
       |  CAST(n_reciprocal // 2 AS BIGINT) AS n_mutual_pairs,
       |  CAST(n_edges - n_reciprocal AS BIGINT) AS n_asymmetric,
       |  ${oTrunc4("CAST(n_reciprocal AS DOUBLE)/CAST(n_edges AS DOUBLE)")}
       |    AS reciprocity
       |FROM st, mu, nd""".stripMargin

  // ---- text_burstiness ----

  /** Church–Gale burstiness per vocabulary token: over ALL documents
    * (zero-count docs included via the moment identities — never
    * materialized), the variance-to-mean ratio of per-doc counts.
    * VMR = (n·Σx² − S²)/((n−1)·S) from exact integer moments; VMR ≈ 1
    * is Poisson (evenly spread), VMR ≫ 1 is bursty. Rows order by the
    * 1e12-scaled VMR (exact in both engines), then token.
    *
    * Scale shape: one tokenize + (token, doc) rollup, one per-token
    * rollup; the doc total is a broadcast scalar. */
  private[graft] def burstiness(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val tok = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("tk"))
      .groupBy("tk", "doc_id").agg(count(lit(1)).as("x"))
    val m = tok.groupBy("tk").agg(count(lit(1)).as("df"),
      sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))
    val nd = docs.agg(count(lit(1)).as("n"))
    m.crossJoin(broadcast(nd))
      .withColumn("vmr",
        (col("n") * col("sxx") - col("sx") * col("sx")).cast(dd)
          / ((col("n") - 1) * col("sx")).cast(dd))
      .withColumn("vmr_sc",
        floor(col("vmr") * lit(1e12) + lit(0.5)).cast(LongType))
      .select(col("tk").as("token"), col("df"), col("sx").as("total_count"),
        trunc4(col("vmr")).as("vmr"), col("vmr_sc"))
      .orderBy(col("vmr_sc").desc, col("token"))
  }

  private val oTextBurstiness =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
       |  FROM documents),
       |pc AS (SELECT tk, doc_id, count(*) AS x FROM tok GROUP BY 1, 2),
       |m AS (SELECT tk, count(*) AS df, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x*x) AS BIGINT) AS sxx FROM pc GROUP BY 1),
       |nd AS (SELECT count(*) AS n FROM documents),
       |v AS (SELECT tk, df, sx,
       |    CAST(n*sxx - sx*sx AS DOUBLE)/CAST((n-1)*sx AS DOUBLE) AS vmr
       |  FROM m, nd)
       |SELECT tk AS token, CAST(df AS BIGINT) AS df, sx AS total_count,
       |  ${oTrunc4("vmr")} AS vmr,
       |  CAST(floor(vmr*1e12 + 5e-1) AS BIGINT) AS vmr_sc
       |FROM v ORDER BY vmr_sc DESC, token""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_granger_lag1"    -> ((s, d) => grangerLag1(s, d)),
    "graph_reciprocity"  -> ((s, d) => reciprocity(s, d)),
    "text_burstiness"    -> ((s, d) => burstiness(s, d)))

  val oracles: Map[String, String] = Map(
    "ts_granger_lag1"    -> oTsGranger,
    "graph_reciprocity"  -> oGraphReciprocity,
    "text_burstiness"    -> oTextBurstiness)
}
