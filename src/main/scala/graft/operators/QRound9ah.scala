package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 33 (SURVEY §2.28):
  *
  *  - `sql_distinct_on`: DISTINCT ON (latest order per customer) — the
  *    PostgreSQL/DuckDB idiom Spark lacks, spelled Spark-first as a
  *    max_by aggregate (partial-aggregable; no window, no sort).
  *  - `emb_cluster_purity`: k-means cell purity vs the stored labels —
  *    the clustering-quality audit run after every embedding refresh.
  *  - `ts_winsorize`: per-series winsorization at exact P5/P95 with
  *    before/after means — the robust-stats clamp feeding anomaly-free
  *    training features.
  */
object QRound9ah extends QueryPack {

  // ---- sql_distinct_on ----

  /** Latest order per customer (DISTINCT ON (o_custkey) ... ORDER BY
    * o_orderdate DESC, o_orderkey DESC). Spark has no DISTINCT ON; the
    * Spark-first spelling is ONE max_by aggregate keyed by the
    * lexicographic (o_orderdate, o_orderkey) struct — partial-aggregable
    * map-side, so each executor keeps one candidate per local customer
    * and only those shuffle. A row_number window would sort every
    * customer's whole history instead.
    *
    * Scale shape: single hash aggregate on the uniform customer key;
    * no window, no global sort (the final orderBy is presentation
    * only). */
  private[graft] def distinctOn(orders: DataFrame): DataFrame =
    orders
      .groupBy("o_custkey")
      .agg(max_by(
        struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
        struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
      .select(col("o_custkey"), col("m.o_orderkey").as("o_orderkey"),
        col("m.o_orderdate").as("o_orderdate"),
        money(col("m.o_totalprice")).cast(DoubleType).as("o_totalprice"))
      .orderBy("o_custkey")

  private def sqlDistinctOn(s: SparkSession, d: String): DataFrame =
    distinctOn(t(s, d, "orders"))

  private val oSqlDistinctOn =
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
      |FROM orders
      |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""".stripMargin

  // ---- emb_cluster_purity ----

  private val purityCells = 16
  private val purityIters = 3

  /** Per-cell purity of the shared 16-cell k-means fit vs the stored
    * labels: majority label (count desc, label asc), purity =
    * trunc4(majority / cell size). Reuses the memoized centroid fit the
    * whole dedup/ANN family shares, so the Lloyd iterations are paid
    * once per session.
    *
    * Scale shape: centroids are broadcast model state; assignment is a
    * map pass over the corpus; label counts aggregate on the bounded
    * (cell × label) key domain. */
  private[graft] def clusterPurity(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val cent = AnnKMeans.centroidsMemo(s, d, "emb", purityCells, purityIters)(e)
    val assigned = AnnKMeans.assign(e, cent).select("vec_id", "cell")
    val labeled = assigned.join(
      broadcast(t(s, d, "embeddings").select("vec_id", "label")), "vec_id")
    val counts = labeled.groupBy("cell", "label")
      .agg(count(lit(1)).as("cnt"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cell")
      .orderBy(col("cnt").desc, col("label"))
    counts
      .withColumn("r", row_number().over(w))
      .withColumn("n_cell",
        sum("cnt").over(Window.partitionBy("cell")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("r") === 1)
      .select(col("cell"), col("n_cell"),
        col("label").as("maj_label"), col("cnt").as("maj_cnt"),
        trunc4(col("cnt").cast(DoubleType) / col("n_cell").cast(DoubleType))
          .as("purity"))
      .orderBy("cell")
  }

  private val oEmbClusterPurity =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${AnnKMeans.oCentroidChain(purityCells, purityIters, 64)}
       |asn AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
       |  FROM e, c$purityIters c) WHERE r = 1),
       |lbl AS (SELECT a.cell, emb.label, CAST(count(*) AS BIGINT) AS cnt
       |  FROM asn a JOIN embeddings emb ON emb.vec_id = a.vec_id
       |  GROUP BY 1, 2),
       |rk AS (SELECT cell, label, cnt,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY cnt DESC, label) AS r,
       |    sum(cnt) OVER (PARTITION BY cell) AS n_cell
       |  FROM lbl)
       |SELECT cell, CAST(n_cell AS BIGINT) AS n_cell, label AS maj_label,
       |  cnt AS maj_cnt,
       |  ${oTrunc4("CAST(cnt AS DOUBLE) / CAST(n_cell AS DOUBLE)")} AS purity
       |FROM rk WHERE r = 1 ORDER BY cell""".stripMargin

  // ---- ts_winsorize ----

  /** Per-type winsorization of event values at exact interpolated P5/P95
    * (bounds trunc4'd BEFORE the clamp compare so the cut lands
    * identically in both engines), with clamp counts and before/after
    * means. Means use the scale-to-long spelling (floor(x·1e12 + 0.5) as
    * integer, summed exactly) because clamped values mix raw data with
    * interpolated bounds — an arbitrary double that must never meet a
    * DECIMAL cast (engines round those differently).
    *
    * Scale shape: percentile bounds are one per-type aggregate broadcast
    * back on the tiny type key; the clamp is a map pass; the rollup
    * partial-aggregates. At deployment exact percentile becomes the
    * approx-sketch bound with the same plumbing. */
  private[graft] def winsorize(events: DataFrame): DataFrame = {
    // one array-percentile call — see ts_gap_percentiles (r16)
    val bounds = events.groupBy("event_type")
      .agg(expr("percentile(value, array(0.05, 0.95))").as("ps"))
      .select(col("event_type"),
        trunc4(element_at(col("ps"), 1)).as("lo"),
        trunc4(element_at(col("ps"), 2)).as("hi"))
    def scaled(c: Column): Column =
      floor(c * lit(1e12) + lit(0.5)).cast(DecimalType(38, 0))
    events.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"), col("value"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("value"))).as("wz"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value") < col("lo")).cast(LongType)).as("n_lo"),
        sum((col("value") > col("hi")).cast(LongType)).as("n_hi"),
        sum(scaled(col("value"))).as("sraw"),
        sum(scaled(col("wz"))).as("swz"))
      .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
        trunc4(col("sraw").cast(DoubleType) / lit(1e12) /
          col("n").cast(DoubleType)).as("mean_raw"),
        trunc4(col("swz").cast(DoubleType) / lit(1e12) /
          col("n").cast(DoubleType)).as("mean_winsor"))
      .orderBy("event_type")
  }

  private def tsWinsorize(s: SparkSession, d: String): DataFrame =
    winsorize(t(s, d, "events"))

  private val oTsWinsorize =
    s"""WITH b AS (SELECT event_type,
       |    ${oTrunc4("quantile_cont(value, 5e-2)")} AS lo,
       |    ${oTrunc4("quantile_cont(value, 95e-2)")} AS hi
       |  FROM events GROUP BY 1),
       |cl AS (SELECT e.event_type, e.value, b.lo, b.hi,
       |    greatest(b.lo, least(b.hi, e.value)) AS wz
       |  FROM events e JOIN b ON e.event_type = b.event_type)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
       |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
       |  ${oTrunc4("CAST(sum(CAST(floor(value * 1e12 + 5e-1) AS HUGEINT)) AS DOUBLE) / 1e12 / count(*)")} AS mean_raw,
       |  ${oTrunc4("CAST(sum(CAST(floor(wz * 1e12 + 5e-1) AS HUGEINT)) AS DOUBLE) / 1e12 / count(*)")} AS mean_winsor
       |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sql_distinct_on"    -> sqlDistinctOn _,
    "emb_cluster_purity" -> clusterPurity _,
    "ts_winsorize"       -> tsWinsorize _)

  val oracles: Map[String, String] = Map(
    "sql_distinct_on"    -> oSqlDistinctOn,
    "emb_cluster_purity" -> oEmbClusterPurity,
    "ts_winsorize"       -> oTsWinsorize)
}
