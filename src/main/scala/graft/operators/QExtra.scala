package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-2 coverage widening — reshaping (pivot/unpivot/lateral), ordered
  * and statistical aggregates (percentiles, median, string_agg, bool/bit),
  * deterministic hash sampling, generated date spines, and the window
  * rewrite of the theta-range aggregate.
  *
  * Scale notes follow each operator; everything here is shuffle-minimal
  * (single groupBy or window pass) and avoids any driver-side loop.
  */
object QExtra extends QueryPack {

  // ---- pivot / unpivot ----

  private val prios =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** PIVOT surface: order counts status × priority. Explicit value list so
    * the plan is a single partial-aggregable pass (an implicit pivot first
    * runs a distinct scan to discover values — a second job at 100 TB). */
  private def aggPivot(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
      .toDF("o_orderstatus" +: (1 to 5).map(i => s"p$i"): _*)
      .select(col("o_orderstatus") +:
        (1 to 5).map(i => coalesce(col(s"p$i"), lit(0L)).as(s"p$i")): _*)
      .orderBy("o_orderstatus")

  private val oAggPivot = {
    val cols = prios.zipWithIndex.map { case (p, i) =>
      s"count(*) FILTER (o_orderpriority = '$p') AS p${i + 1}"
    }.mkString(",\n  ")
    s"""SELECT o_orderstatus,
       |  $cols
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  /** UNPIVOT/melt surface: three lineitem measures to long form, then a
    * per-metric mean — the wide→long reshape is map-side only. */
  private def aggUnpivot(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "v")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), avg4(col("v")).as("avg_v"))
      .orderBy("metric")

  private val oAggUnpivot =
    s"""SELECT metric, count(*) AS n, ${oAvg4("v")} AS avg_v
       |FROM (
       |  SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
       |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
       |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
       |GROUP BY metric ORDER BY metric""".stripMargin

  // ---- percentiles / median ----

  /** Exact interpolated percentiles + median per group (single pass;
    * exact percentiles sort within each group — at 100 TB swap in
    * approx_percentile, covered by agg_pctl_approx below). */
  private def aggPercentile(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      // ONE array-percentile aggregate (OPTIMIZATION r16): three scalar
      // percentile() calls each built their own per-group counts map
      // and sorted it; the array form computes all quantiles from one
      // map/sort with identical interpolation.
      .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("qs"),
        trunc4(expr("median(l_quantity)")).as("med"))
      .select(col("l_returnflag"),
        trunc4(element_at(col("qs"), 1)).as("q25"),
        trunc4(element_at(col("qs"), 2)).as("q50"),
        trunc4(element_at(col("qs"), 3)).as("q75"),
        col("med"))
      .orderBy("l_returnflag")

  private val oAggPercentile =
    s"""SELECT l_returnflag,
       |  ${oTrunc4("quantile_cont(l_quantity, 0.25)")} AS q25,
       |  ${oTrunc4("quantile_cont(l_quantity, 0.5)")} AS q50,
       |  ${oTrunc4("quantile_cont(l_quantity, 0.75)")} AS q75,
       |  ${oTrunc4("median(l_quantity)")} AS med
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Sketch percentile (no oracle — t-digest internals differ between
    * engines); OperatorSpec gates it against the exact percentiles. */
  private def aggPctlApprox(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_percentile(col("l_quantity"), lit(0.5), lit(10000)).as("p50"))
      .orderBy("l_returnflag")

  // ---- ordered string aggregation ----

  /** LISTAGG shape: deterministic ordered concat per group. The full
    * string is emitted as an md5 digest + length (hash-comparable across
    * engines without a multi-MB output column). */
  private def aggStringConcat(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .groupBy("c_mktsegment")
      .agg(array_join(array_sort(collect_list(col("c_name"))), ",").as("cat"))
      .select(col("c_mktsegment"),
        length(col("cat")).as("cat_len"),
        md5(col("cat").cast(BinaryType)).as("cat_md5"))
      .orderBy("c_mktsegment")

  private val oAggStringConcat =
    """SELECT c_mktsegment,
      |  CAST(length(cat) AS INT) AS cat_len, md5(cat) AS cat_md5
      |FROM (SELECT c_mktsegment, string_agg(c_name, ',' ORDER BY c_name) AS cat
      |      FROM customer GROUP BY c_mktsegment)
      |ORDER BY c_mktsegment""".stripMargin

  // ---- distribution window functions ----

  private def winPercentRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, d, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        trunc4(percent_rank().over(w)).as("pr"),
        trunc4(cume_dist().over(w)).as("cd"))
      .orderBy("c_nationkey", "c_custkey")
  }

  private val oWinPercentRank =
    s"""SELECT c_nationkey, c_custkey,
       |  ${oTrunc4("percent_rank() OVER w")} AS pr,
       |  ${oTrunc4("cume_dist() OVER w")} AS cd
       |FROM customer
       |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
       |ORDER BY c_nationkey, c_custkey""".stripMargin

  // ---- lateral explode with outer semantics ----

  /** explode_outer: docs with no long token keep one null row (probed:
    * 106 of 500 docs at sf0.01) — the LEFT JOIN LATERAL shape. */
  private def fnExplodeOuter(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        explode_outer(filter(split(col("text"), " "),
          tk => length(tk) >= 8)).as("tok"))
      .orderBy(col("doc_id"), col("tok").asc_nulls_first)

  private val oFnExplodeOuter =
    """WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(text,' '),
      |    t -> length(t) >= 8)) AS tok FROM documents)
      |SELECT d.doc_id, tk.tok FROM documents d LEFT JOIN tk ON d.doc_id = tk.doc_id
      |ORDER BY d.doc_id, tk.tok NULLS FIRST""".stripMargin

  // ---- theta-range aggregate as a window rewrite (no join at all) ----

  /** Same declared semantics as join_theta_range, computed without
    * enumerating pairs: per brand, sort by size and take prefix
    * counts/sums over the strict range frame — O(N log N) total versus
    * O(Σ G²) joined rows. At 100 TB this is the plan an optimizer should
    * pick whenever the pair join feeds straight into an aggregate. The
    * oracle is the pair-join SQL itself: same result, different plan. */
  private def winThetaRewrite(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy("p_size")
      .rangeBetween(Window.unboundedPreceding, -1)
    t(s, d, "part")
      .select(col("p_brand"), col("p_size").cast(LongType).as("p_size"))
      .withColumn("cnt_lt", count(lit(1)).over(w))
      .withColumn("sum_lt", coalesce(sum(col("p_size")).over(w), lit(0L)))
      .groupBy("p_brand")
      .agg(sum(col("cnt_lt")).as("n_pairs"),
        sum(col("p_size") * col("cnt_lt") - col("sum_lt")).as("sum_gap"))
      .filter(col("n_pairs") > 0)
      .orderBy("p_brand")

  }

  private val oWinThetaRewrite =
    """SELECT a.p_brand, count(*) AS n_pairs,
      |  CAST(SUM(CAST(b.p_size AS BIGINT) - CAST(a.p_size AS BIGINT)) AS BIGINT) AS sum_gap
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_size < b.p_size
      |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin

  // ---- boolean / bitwise aggregates ----

  private def aggBool(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .groupBy("p_brand")
      .agg(bool_and(col("p_size") > 1).as("all_gt1"),
        bool_or(col("p_size") > 45).as("any_gt45"),
        count_if(col("p_size") > 25).as("n_gt25"))
      .orderBy("p_brand")

  private val oAggBool =
    """SELECT p_brand, bool_and(p_size > 1) AS all_gt1,
      |  bool_or(p_size > 45) AS any_gt45,
      |  count(*) FILTER (p_size > 25) AS n_gt25
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  private def aggBitwise(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .groupBy("p_brand")
      .agg(bit_and(col("p_size")).as("band"),
        bit_or(col("p_size")).as("bor"),
        bit_xor(col("p_size")).as("bxor"))
      .orderBy("p_brand")

  private val oAggBitwise =
    """SELECT p_brand, bit_and(p_size) AS band, bit_or(p_size) AS bor,
      |  bit_xor(p_size) AS bxor
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---- deterministic hash sampling ----

  /** Portable deterministic ~10% sample: md5-bucket the key and keep one
    * bucket. TABLESAMPLE/rand() are engine- and partitioning-dependent;
    * hash-gating is the idiom that yields the SAME sample on any engine,
    * any cluster size, any run — which is what makes sampled pipelines
    * debuggable at 100 TB. */
  private def scanSampleHash(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(md5Prefix(col("l_orderkey").cast(StringType).cast(BinaryType), 4)
        .cast(IntegerType) % 10 === 0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum4(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")

  private val oScanSampleHash =
    s"""SELECT l_returnflag, count(*) AS n, ${oSum4("l_extendedprice")} AS sum_price
       |FROM lineitem
       |WHERE CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 4)) AS INT) % 10 = 0
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- generated date spine ----

  /** Day spine from min to max orderdate with zero-filled counts — the
    * gap-free calendar join every reporting pipeline needs. The spine is
    * generated from one aggregated row (never collected to the driver)
    * and explodes to |days| rows, then left-joins the per-day counts. */
  private def genDateSpine(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
    val bounds = o.agg(
      date_trunc("day", min(col("o_orderdate"))).as("lo"),
      date_trunc("day", max(col("o_orderdate"))).as("hi"))
    val spine = bounds.select(explode(expr(
      "sequence(lo, hi, interval 1 day)")).as("day"))
    val perDay = o.groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    spine.join(perDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .orderBy("day")
  }

  private val oGenDateSpine =
    """WITH b AS (SELECT date_trunc('day', min(o_orderdate)) AS lo,
      |             date_trunc('day', max(o_orderdate)) AS hi FROM orders),
      |  s AS (SELECT unnest(generate_series((SELECT lo FROM b),
      |          (SELECT hi FROM b), INTERVAL 1 DAY)) AS day),
      |  c AS (SELECT date_trunc('day', o_orderdate) AS day, count(*) AS cnt
      |        FROM orders GROUP BY 1)
      |SELECT CAST(s.day AS TIMESTAMP) AS day, coalesce(c.cnt, 0) AS n_orders
      |FROM s LEFT JOIN c ON s.day = c.day ORDER BY day""".stripMargin

  /** Re-aggregatable sketch lifecycle — the 100 TB rollup pattern: build
    * one HLL sketch per (event_type, day) partition, then MERGE sketches
    * (hll_union_agg) instead of rescanning raw data for the coarser
    * grouping. Sketch building and union are order-independent (register
    * maxima), so the result is partitioning-deterministic. No DuckDB
    * oracle (sketch internals differ across engines); Round3Spec gates the
    * estimate within 2% of exact and HarnessSpec gates determinism. */
  private def aggSketchUnion(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
        count(lit(1)).as("n_days"))
      .orderBy("event_type")

  val queries: Map[String, QFn] = Map(
    "agg_sketch_union"  -> aggSketchUnion _,
    "agg_pivot"         -> aggPivot _,
    "agg_unpivot"       -> aggUnpivot _,
    "agg_percentile"    -> aggPercentile _,
    "agg_pctl_approx"   -> aggPctlApprox _,
    "agg_string_concat" -> aggStringConcat _,
    "win_percent_rank"  -> winPercentRank _,
    "fn_explode_outer"  -> fnExplodeOuter _,
    "win_theta_rewrite" -> winThetaRewrite _,
    "agg_bool"          -> aggBool _,
    "agg_bitwise"       -> aggBitwise _,
    "scan_sample_hash"  -> scanSampleHash _,
    "gen_date_spine"    -> genDateSpine _)

  val oracles: Map[String, String] = Map(
    "agg_pivot"         -> oAggPivot,
    "agg_unpivot"       -> oAggUnpivot,
    "agg_percentile"    -> oAggPercentile,
    "agg_string_concat" -> oAggStringConcat,
    "win_percent_rank"  -> oWinPercentRank,
    "fn_explode_outer"  -> oFnExplodeOuter,
    "win_theta_rewrite" -> oWinThetaRewrite,
    "agg_bool"          -> oAggBool,
    "agg_bitwise"       -> oAggBitwise,
    "scan_sample_hash"  -> oScanSampleHash,
    "gen_date_spine"    -> oGenDateSpine)
}
