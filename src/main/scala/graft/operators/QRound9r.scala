package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 17 (SURVEY §2.28):
  *
  *  - `chp_uplift_segments`: per-segment treatment uplift (heterogeneous
  *    treatment effects) — `chp_ab_lift_test`'s single pooled contrast
  *    broken out by customer segment, the table a growth team actually
  *    reads.
  *  - `text_url_canon_dedup`: URL canonicalization dedup (lowercase
  *    host, strip default ports and trailing slashes, drop utm_*
  *    tracking params) — the crawl-frontier dedup every web-corpus
  *    pipeline runs before fetch/near-dup.
  *  - `ts_haar_energy`: two-level Haar wavelet energy per event-type
  *    daily series — multiresolution burstiness (day-to-day vs
  *    two-day-scale variation) in exact integers.
  */
object QRound9r extends QueryPack {

  // ---- chp_uplift_segments ----

  /** Heterogeneous uplift: the hash-assigned experiment arms
    * (md5(user_id) % 2, the `chp_ab_lift_test` assignment) contrasted
    * per customer market segment — does the treatment help everyone or
    * one segment. Conversion = any high-value purchase (value > 9e1,
    * the probed non-degenerate cut). Segments with an empty arm are
    * excluded (their contrast is undefined; ANSI division would throw).
    * Rates and uplift are trunc6'd exact count ratios.
    *
    * Scale shape: one events pass → per-user conversion flags; the
    * customer dim joins broadcast; the rollup is segments×2 cells. */
  private[graft] def upliftSegments(events: DataFrame, dim: DataFrame)
      : DataFrame = {
    val u = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > lit(9e1), 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", abArm(col("user_id")))
    val seg = u.join(broadcast(dim.select(col("c_custkey"),
        col("c_mktsegment").as("segment"))),
      col("user_id") === col("c_custkey"))
    seg.groupBy("segment")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("segment"), col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"),
        trunc6(col("conv_a").cast(DoubleType) / col("n_a")).as("rate_a"),
        trunc6(col("conv_b").cast(DoubleType) / col("n_b")).as("rate_b"),
        trunc6(col("conv_b").cast(DoubleType) / col("n_b") -
          col("conv_a").cast(DoubleType) / col("n_a")).as("uplift"))
      .orderBy("segment")
  }

  private def chpUpliftSegments(s: SparkSession, d: String): DataFrame =
    upliftSegments(t(s, d, "events"), t(s, d, "customer"))

  private val oChpUpliftSegments =
    s"""WITH u AS (SELECT user_id,
       |    CAST(max(CASE WHEN event_type = 'purchase' AND value > 9e1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS conv,
       |    ${oAbArm("user_id")} AS arm
       |  FROM events GROUP BY user_id),
       |s AS (SELECT c.c_mktsegment AS segment, u.arm, u.conv
       |  FROM u JOIN customer c ON c.c_custkey = u.user_id),
       |g AS (SELECT segment,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
       |      AS conv_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
       |      AS conv_b
       |  FROM s GROUP BY segment)
       |SELECT segment, n_a, conv_a, n_b, conv_b,
       |  ${oTrunc6("CAST(conv_a AS DOUBLE) / n_a")} AS rate_a,
       |  ${oTrunc6("CAST(conv_b AS DOUBLE) / n_b")} AS rate_b,
       |  ${oTrunc6("CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a")}
       |    AS uplift
       |FROM g WHERE n_a > 0 AND n_b > 0 ORDER BY segment""".stripMargin

  // ---- text_url_canon_dedup ----

  /** URL canonicalization dedup: a deterministic messy-URL lake (four
    * variant spellings per logical URL, synthesized from doc_id — the
    * `text_url_extract` synthesis discipline) normalized by the
    * standard canon rules: lowercase scheme+host, strip the default
    * port (:80/:443), drop utm_* tracking parameters, strip the
    * trailing slash. Canonical groups then report variant/doc counts
    * and the canonical keeper. Every rule is a portable regex — the
    * same transforms in both engines, so a missed rule splits a group
    * and breaks the hash.
    *
    * Scale shape: canonicalization is map-side string work; one shuffle
    * on the canonical-url key (cardinality scales with the corpus). */
  private[graft] def urlCanonDedup(docs: DataFrame): DataFrame = {
    // four deterministic variants of the same logical URL per doc
    val variant = col("doc_id") % 4
    val host = concat(
      when(variant % 2 === 0, lit("Site")).otherwise(lit("site")),
      (col("doc_id") % 7).cast(StringType), lit(".Example.com"))
    val port = when(variant === 1, lit(":443")).otherwise(lit(""))
    val path = concat(lit("/p/"), (col("doc_id") % 50).cast(StringType))
    val slash = when(variant === 2, lit("/")).otherwise(lit(""))
    val query = when(variant === 3, lit("?utm_source=mail&utm_c=x"))
      .otherwise(lit(""))
    val raw = concat(lit("https://"), host, port, path, slash, query)
    val canon =
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(raw), ":(443|80)/", "/"),
          "\\?utm_[^ ]*$", ""),
        "/$", "")
    docs.select(col("doc_id"), raw.as("raw_url"), canon.as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_variants"),
        min(col("doc_id")).as("keep_doc"))
      .orderBy("canon_url")
  }

  private def textUrlCanonDedup(s: SparkSession, d: String): DataFrame =
    urlCanonDedup(t(s, d, "documents"))

  private val oTextUrlCanonDedup =
    """WITH v AS (SELECT doc_id,
      |    'https://' ||
      |    CASE WHEN (doc_id % 4) % 2 = 0 THEN 'Site' ELSE 'site' END ||
      |    CAST(doc_id % 7 AS VARCHAR) || '.Example.com' ||
      |    CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END ||
      |    '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 3 THEN '?utm_source=mail&utm_c=x'
      |      ELSE '' END AS raw_url
      |  FROM documents),
      |c AS (SELECT doc_id, raw_url,
      |    regexp_replace(regexp_replace(regexp_replace(lower(raw_url),
      |      ':(443|80)/', '/'), '\?utm_[^ ]*$', ''), '/$', '')
      |      AS canon_url
      |  FROM v)
      |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT raw_url) AS BIGINT) AS n_variants,
      |  min(doc_id) AS keep_doc
      |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin

  // ---- ts_haar_energy ----

  /** Two-level Haar wavelet energy per event-type daily series: pair
    * consecutive days on a dense per-type index; level-1 details
    * d = x_even − x_odd (day-to-day variation), level-1 approximations
    * a = x_even + x_odd feed level 2 the same way (two-day-scale
    * variation). Energies Σd² are exact BIGINTs — the multiresolution
    * burstiness decomposition with zero floating point. Incomplete tail
    * pairs are dropped and counted.
    *
    * Scale shape: shares the memoized `evdaily`; the dense index is a
    * per-type window; each level is one bounded (type, pair) aggregate. */
  private[graft] def haarEnergy(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day_num")
    val idx = daily.withColumn("i", row_number().over(w) - 1)
    def level(src: DataFrame): DataFrame =
      src.groupBy(col("event_type"), (col("i") / 2).cast(LongType).as("p"))
        .agg(count(lit(1)).as("np"),
          sum(when(col("i") % 2 === 0, col("x")).otherwise(0L)).as("xe"),
          sum(when(col("i") % 2 === 1, col("x")).otherwise(0L)).as("xo"))
        .filter(col("np") === 2)
        .select(col("event_type"), col("p").as("i"),
          (col("xe") - col("xo")).as("d"), (col("xe") + col("xo")).as("x"))
    val l1 = level(idx.select(col("event_type"), col("i"),
      col("cnt").as("x")))
    val l2 = level(l1)
    val e1 = l1.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs1"), sum(col("d") * col("d"))
        .as("energy1"))
    val e2 = l2.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs2"), sum(col("d") * col("d"))
        .as("energy2"))
    val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    nd.join(e1, Seq("event_type"), "left").join(e2, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("n_pairs1"), lit(0L)).as("n_pairs1"),
        coalesce(col("energy1"), lit(0L)).as("energy1"),
        coalesce(col("n_pairs2"), lit(0L)).as("n_pairs2"),
        coalesce(col("energy2"), lit(0L)).as("energy2"))
      .orderBy("event_type")
  }

  private def tsHaarEnergy(s: SparkSession, d: String): DataFrame =
    haarEnergy(QRound9b.evDaily(s, d))

  private val oTsHaarEnergy =
    """WITH daily AS (SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
      |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
      |ix AS (SELECT event_type, cnt AS x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day_num) - 1
      |      AS i FROM daily),
      |l1 AS (SELECT event_type, i // 2 AS i,
      |    CAST(sum(CASE WHEN i % 2 = 0 THEN x ELSE 0 END) -
      |         sum(CASE WHEN i % 2 = 1 THEN x ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(x) AS BIGINT) AS x
      |  FROM ix GROUP BY 1, 2 HAVING count(*) = 2),
      |l2 AS (SELECT event_type, i // 2 AS i,
      |    CAST(sum(CASE WHEN i % 2 = 0 THEN x ELSE 0 END) -
      |         sum(CASE WHEN i % 2 = 1 THEN x ELSE 0 END) AS BIGINT) AS d
      |  FROM l1 GROUP BY 1, 2 HAVING count(*) = 2),
      |e1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs1,
      |    CAST(sum(d * d) AS BIGINT) AS energy1 FROM l1 GROUP BY 1),
      |e2 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs2,
      |    CAST(sum(d * d) AS BIGINT) AS energy2 FROM l2 GROUP BY 1),
      |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY 1)
      |SELECT nd.event_type, nd.n_days,
      |  coalesce(e1.n_pairs1, 0) AS n_pairs1,
      |  coalesce(e1.energy1, 0) AS energy1,
      |  coalesce(e2.n_pairs2, 0) AS n_pairs2,
      |  coalesce(e2.energy2, 0) AS energy2
      |FROM nd LEFT JOIN e1 USING (event_type) LEFT JOIN e2 USING (event_type)
      |ORDER BY nd.event_type""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_uplift_segments"  -> chpUpliftSegments _,
    "text_url_canon_dedup" -> textUrlCanonDedup _,
    "ts_haar_energy"       -> tsHaarEnergy _)

  val oracles: Map[String, String] = Map(
    "chp_uplift_segments"  -> oChpUpliftSegments,
    "text_url_canon_dedup" -> oTextUrlCanonDedup,
    "ts_haar_energy"       -> oTsHaarEnergy)
}
