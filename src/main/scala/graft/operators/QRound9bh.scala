package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 59 (SURVEY §2.28):
  *
  *  - `scan_nested_prune`: nested-field schema pruning — a staged
  *    struct-typed parquet read back touching ONE leaf; the scan must
  *    read `meta.k` alone, not the sibling fields (Round9bhSpec asserts
  *    the ReadSchema).
  *  - `graph_attr_assortativity`: categorical (language) assortativity
  *    of the kNN graph — do same-language documents link preferentially;
  *    the Newman mixing-matrix coefficient, exact counts.
  *  - `agg_hdi_interval`: narrowest 90% interval (highest-density
  *    interval) of purchase values per event type — the robust-stats
  *    summary an outlier-heavy metric needs, exact via sorted windows.
  */
object QRound9bh extends QueryPack {

  // ---- scan_nested_prune ----

  private val nestedStage = new java.util.concurrent.ConcurrentHashMap[
    String, String]()

  /** Stage events as a struct-typed parquet (meta = {k, etype, val}),
    * read it back touching only meta.k and meta.val, and aggregate per
    * k-bucket. Column pruning must reach INSIDE the struct: the scan's
    * ReadSchema carries the two touched leaves and never sibling
    * `etype` (the spec asserts it). The oracle computes the identical
    * result from the raw events table — the round-trip is semantics-
    * preserving.
    *
    * Scale shape: nested pruning is the difference between reading 2
    * leaf columns and decoding the whole struct at 100 TB. */
  private[graft] def nestedFrame(s: SparkSession, d: String): DataFrame = {
    val path = nestedStage.computeIfAbsent(s"${s.hashCode}|$d", _ => {
      val p = graft.Staging.trackedTempDir("nested_prune")
      t(s, d, "events")
        .select(col("event_id"),
          struct(
            get_json_object(col("props"), "$.k").cast(LongType).as("k"),
            col("event_type").as("etype"),
            col("value").as("val")).as("meta"))
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  private[graft] def nestedPrune(s: SparkSession, d: String): DataFrame =
    nestedFrame(s, d)
      .groupBy((col("meta.k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum4(col("meta.val")).as("sum_val"))
      .orderBy("k_bucket")

  private val oScanNestedPrune =
    s"""SELECT CAST(json_extract(props, '$$.k') AS BIGINT) % 10
       |    AS k_bucket,
       |  CAST(count(*) AS BIGINT) AS n, ${oSum4("value")} AS sum_val
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- graph_attr_assortativity ----

  /** Categorical assortativity by language over the kNN embedding graph
    * (vectors inherit their document's lang): with the mixing matrix
    * e_ij = directed-edge share between langs, r = (Σe_ii − Σa_i·b_i) /
    * (1 − Σa_i·b_i). Counts are exact; the two share sums run through
    * scale-to-long. r > 0 = homophily, 0 = random mixing.
    *
    * Scale shape: lang labels broadcast onto the memoized edge table;
    * the mixing matrix is |langs|² bounded. */
  private[graft] def attrAssortativity(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val lang = t(s, d, "documents").select(col("doc_id"), col("lang"))
    val edges = QSim.knnEdgesMemo(s, d)
    val labeled = edges
      .join(broadcast(lang.select(col("doc_id").as("src"),
        col("lang").as("la"))), "src")
      .join(broadcast(lang.select(col("doc_id").as("dst"),
        col("lang").as("lb"))), "dst")
      .localCheckpoint(true)
    val m = labeled.count().toDouble
    val mix = labeled.groupBy("la", "lb").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val diag = mix.filter(col("la") === col("lb"))
      .agg(coalesce(sum("c"), lit(0L)).as("dg")).select(
        (col("dg").cast(dd) / lit(m)).as("tr"))
    val margins = mix.groupBy("la").agg(sum("c").as("ra"))
      .join(mix.groupBy("lb").agg(sum("c").as("cb"))
        .withColumnRenamed("lb", "la"), "la")
      .agg(sum(floor((col("ra").cast(dd) / lit(m)) *
          (col("cb").cast(dd) / lit(m)) * lit(1e12) + lit(0.5))
          .cast(LongType)).as("ab_s"))
      .select((col("ab_s").cast(dd) / lit(1e12)).as("ab"))
    diag.crossJoin(broadcast(margins))
      .select(lit(m.toLong).as("n_directed_edges"),
        trunc4(col("tr")).as("same_lang_share"),
        trunc4(col("ab")).as("expected_share"),
        trunc4((col("tr") - col("ab")) / (lit(1.0) - col("ab")))
          .as("assortativity"))
  }

  private val oGraphAttrAssortativity =
    s"""WITH ${QSim.oKnnEdges},
       |lg AS (SELECT doc_id, lang FROM documents),
       |lab AS MATERIALIZED (SELECT la.lang AS la, lb.lang AS lb
       |  FROM edges e JOIN lg la ON la.doc_id = e.src
       |  JOIN lg lb ON lb.doc_id = e.dst),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS md FROM lab),
       |mix AS MATERIALIZED (SELECT la, lb, CAST(count(*) AS BIGINT) AS c
       |  FROM lab GROUP BY 1, 2),
       |tr AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE)
       |    / max(m.md) AS tr FROM mix, m WHERE la = lb),
       |mg AS (SELECT CAST(sum(CAST(floor(
       |    (CAST(ra.r AS DOUBLE) / m.md) * (CAST(cb.c2 AS DOUBLE) / m.md)
       |      * 1e12 + 5e-1) AS BIGINT)) AS BIGINT) AS ab_s
       |  FROM (SELECT la, CAST(sum(c) AS BIGINT) AS r FROM mix GROUP BY 1)
       |    ra
       |  JOIN (SELECT lb, CAST(sum(c) AS BIGINT) AS c2 FROM mix
       |    GROUP BY 1) cb ON ra.la = cb.lb, m)
       |SELECT (SELECT max(md) FROM m) AS n_directed_edges,
       |  ${oTrunc4("t.tr")} AS same_lang_share,
       |  ${oTrunc4("CAST(g.ab_s AS DOUBLE) / 1e12")} AS expected_share,
       |  ${oTrunc4("(t.tr - CAST(g.ab_s AS DOUBLE) / 1e12) / (1e0 - CAST(g.ab_s AS DOUBLE) / 1e12)")} AS assortativity
       |FROM tr t, mg g""".stripMargin

  // ---- agg_hdi_interval ----

  /** Narrowest 90% interval of purchase values per event type: values
    * sort within each type (partitioned window), and for each start
    * position the window companion lead(v, k−1) closes a k-point span;
    * the minimal span is the highest-density interval — where the
    * distribution piles up, unlike the symmetric quantile band. Width
    * comparisons are on exact 2-dp money doubles; tie-break earliest
    * start.
    *
    * Scale shape: per-type sorted windows (partitioned); one bounded
    * argmin per type. */
  private[graft] def hdiInterval(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val w = Window.partitionBy("event_type").orderBy("v", "event_id")
    val vals = events
      .select(col("event_type"), col("event_id"),
        col("value").cast(dd).as("v"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("k", ceil(col("n") * lit(9e-1)).cast(LongType))
    // lead with a dynamic offset is not expressible; join rn -> rn+k-1
    val lo = vals.withColumn("rn", row_number().over(w).cast(LongType))
      .select(col("event_type"), col("rn"), col("v").as("v_lo"),
        col("n"), col("k"))
    val hi = vals.withColumn("rn", row_number().over(w).cast(LongType))
      .select(col("event_type"), col("rn").as("rn_hi"),
        col("v").as("v_hi2"))
    val joined = lo.join(hi,
        lo("event_type") === hi("event_type") &&
          col("rn_hi") === col("rn") + col("k") - 1)
      .select(lo("event_type").as("event_type"), col("rn"), col("v_lo"),
        col("v_hi2").as("v_hi"), col("n"), col("k"))
    val wPick = Window.partitionBy("event_type")
      .orderBy(col("v_hi") - col("v_lo"), col("rn"))
    joined.withColumn("pick", row_number().over(wPick))
      .filter(col("pick") === 1)
      .select(col("event_type"), col("n").as("n_values"),
        col("k").as("k_points"),
        trunc4(col("v_lo")).as("hdi_lo"), trunc4(col("v_hi")).as("hdi_hi"),
        trunc4(col("v_hi") - col("v_lo")).as("width"))
      .orderBy("event_type")
  }

  private def aggHdiInterval(s: SparkSession, d: String): DataFrame =
    hdiInterval(t(s, d, "events"))

  private val oAggHdiInterval =
    s"""WITH vals AS (SELECT event_type, event_id,
       |    CAST(value AS DOUBLE) AS v,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM events),
       |k2 AS (SELECT *, CAST(ceil(n * 9e-1) AS BIGINT) AS k,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY v, event_id) AS BIGINT) AS rn
       |  FROM vals),
       |j AS (SELECT lo.event_type, lo.rn, lo.v AS v_lo, hi.v AS v_hi,
       |    lo.n, lo.k
       |  FROM k2 lo JOIN k2 hi ON lo.event_type = hi.event_type
       |    AND hi.rn = lo.rn + lo.k - 1),
       |p AS (SELECT *, row_number() OVER (PARTITION BY event_type
       |    ORDER BY v_hi - v_lo, rn) AS pick FROM j)
       |SELECT event_type, n AS n_values, k AS k_points,
       |  ${oTrunc4("v_lo")} AS hdi_lo, ${oTrunc4("v_hi")} AS hdi_hi,
       |  ${oTrunc4("v_hi - v_lo")} AS width
       |FROM p WHERE pick = 1 ORDER BY event_type""".stripMargin

  val queries: Map[String, QFn] = Map(
    "scan_nested_prune"        -> ((s, d) => nestedPrune(s, d)),
    "graph_attr_assortativity" -> ((s, d) => attrAssortativity(s, d)),
    "agg_hdi_interval"         -> aggHdiInterval _)

  val oracles: Map[String, String] = Map(
    "scan_nested_prune"        -> oScanNestedPrune,
    "graph_attr_assortativity" -> oGraphAttrAssortativity,
    "agg_hdi_interval"         -> oAggHdiInterval)
}
