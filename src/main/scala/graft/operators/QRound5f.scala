package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-5 sixth wave (SURVEY §2.19) — four surfaces nothing else covers:
  *
  *  - `sql_recursive_cte`: WITH RECURSIVE (new in Spark 4) — the
  *    transitive-closure SQL surface: walk a 10-ary customer hierarchy
  *    (parent = key div 10) from the root and profile each level.
  *  - `join_star_flake`: the canonical star-flake showcase — fact
  *    (lineitem) joined through two dimension chains
  *    (part; supplier→nation→region) plus the orders→customer branch,
  *    every dimension broadcast, ONE fact shuffle total (gated in
  *    Round5fSpec by counting exchanges in the physical plan).
  *  - `chp_ltv_decay`: recency-decayed engagement value per user — the
  *    LTV-style churn feature: each event's value is halved for every
  *    week of age at the observation point. Decay factors are exact
  *    powers of two applied by integer division on scaled longs, so the
  *    sum is exact and engine-independent.
  *  - `text_boilerplate_strip`: per-source boilerplate removal — the
  *    web-corpus cleaning pass: find each source's dominant 3-token
  *    prefix; docs carrying it get it stripped; per-source report of
  *    docs stripped and exact bytes saved.
  */
object QRound5f extends QueryPack {

  // ---- WITH RECURSIVE (transitive closure) ----

  /** Per-level profile of the implicit customer hierarchy (parent =
    * custkey div 10 — a 10-ary tree rooted at 0, depth ≈ log₁₀ N).
    * Scale shape: Spark executes the recursion as an iterative driver
    * loop — one distributed join per level, ~5 levels at ANY corpus
    * size (depth grows with log of the key space, not row count); each
    * iteration joins the full table against the (small) frontier, which
    * Spark can broadcast. The same spelling runs in DuckDB verbatim. */
  private def sqlRecursiveCte(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """WITH RECURSIVE walk(c_custkey, depth) AS (
        |  SELECT CAST(0 AS BIGINT) AS c_custkey, 0 AS depth
        |  UNION ALL
        |  SELECT c.c_custkey, w.depth + 1
        |  FROM g_customer c JOIN walk w ON c.c_custkey DIV 10 = w.c_custkey
        |  WHERE c.c_custkey > 0)
        |SELECT depth, count(*) AS n_nodes,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_keys,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM walk GROUP BY depth ORDER BY depth""".stripMargin)(
      "g_customer" -> t(s, d, "customer"))
  }

  private val oSqlRecursiveCte =
    """WITH RECURSIVE walk(c_custkey, depth) AS (
      |  SELECT CAST(0 AS BIGINT) AS c_custkey, 0 AS depth
      |  UNION ALL
      |  SELECT c.c_custkey, w.depth + 1
      |  FROM customer c JOIN walk w ON c.c_custkey // 10 = w.c_custkey
      |  WHERE c.c_custkey > 0)
      |SELECT depth, count(*) AS n_nodes,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_keys,
      |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
      |FROM walk GROUP BY depth ORDER BY depth""".stripMargin

  // ---- star-flake join (one fact shuffle, all dims broadcast) ----

  /** Revenue by region × ship-year through the full star-flake: fact
    * lineitem joins the part dim, the supplier→nation→region snowflake
    * chain, and the orders→customer branch. Scale shape: THE shape that
    * decides 100 TB viability. The five true dimensions (part, supplier,
    * nation, region, customer) are explicitly broadcast and contribute
    * ZERO shuffles; orders is fact-sized in principle, so its join is
    * left to Catalyst — under the 10 MB threshold at test scale it
    * broadcasts too, and at 100 TB it degrades to a sort-merge join on
    * l_orderkey automatically. Round5fSpec counts physical-plan
    * exchanges to pin exactly that shape. The dimension filters
    * (p_size, c_mktsegment) land on the scans as pushed predicates. */
  private def joinStarFlake(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val ord = t(s, d, "orders")
    val out = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")
        .filter(col("c_mktsegment") =!= "MACHINERY")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "part").filter(col("p_size") <= 40)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("l_shipdate")).as("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        sum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("r_name", "ship_year")
    out
  }

  private val oJoinStarFlake =
    """SELECT r_name, CAST(year(l_shipdate) AS INT) AS ship_year,
      |  count(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey AND c_mktsegment <> 'MACHINERY'
      |JOIN part     ON l_partkey = p_partkey AND p_size <= 40
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, ship_year ORDER BY r_name, ship_year""".stripMargin

  // ---- recency-decayed engagement (LTV-style feature) ----

  /** Half-life–decayed engagement per user: each event's 4-dp-scaled
    * value is integer-divided by 2^(whole weeks of age at the corpus
    * observation point). Determinism: the decayed contribution is
    * v_scaled div 2^k — exact integer arithmetic end to end (no pow(),
    * whose last-ulp behavior differs across libm builds); the per-user
    * sum is an integer sum. Scale shape: the observation point is one
    * broadcast scalar (global max ts); everything else is a per-row map
    * + one groupBy on the uniform user key. */
  private def chpLtvDecay(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("us"),
        (col("value").cast(D184) * 10000).cast(LongType).as("v_s"))
    val obs = ev.agg(max("us").as("obs_us"))
    ev.crossJoin(broadcast(obs))
      // clamp the shift at 62: beyond that the contribution is 0 anyway
      // (v_s div 2^62 == 0 for any realistic value), Java shiftleft wraps
      // mod 64 (a 64-week age would UN-decay), and DuckDB 1<<63 overflows
      .withColumn("age_weeks", expr("(obs_us - us) div 604800000000L"))
      .withColumn("decayed_s",
        expr("v_s div shiftleft(1L, cast(least(age_weeks, 62L) as int))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (sum("v_s") / 10000.0).as("raw_value"),
        (sum("decayed_s") / 10000.0).as("ltv_decayed"),
        max("age_weeks").as("oldest_weeks"))
      .select(col("user_id"), col("n_events"),
        trunc4(col("raw_value")).as("raw_value"),
        trunc4(col("ltv_decayed")).as("ltv_decayed"), col("oldest_weeks"))
      .orderBy("user_id")
  }

  private val oChpLtvDecay =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v_s
      |  FROM events),
      | obs AS (SELECT max(us) AS obs_us FROM ev),
      | dk AS (SELECT user_id, v_s,
      |    (obs_us - us) // 604800000000 AS age_weeks,
      |    v_s // (1::BIGINT << CAST(least((obs_us - us) // 604800000000, 62) AS INT)) AS decayed_s
      |  FROM ev, obs)
      |SELECT user_id, count(*) AS n_events,
      |  floor(CAST(sum(v_s) AS DOUBLE) / 10000.0 * 10000)/10000.0 AS raw_value,
      |  floor(CAST(sum(decayed_s) AS DOUBLE) / 10000.0 * 10000)/10000.0 AS ltv_decayed,
      |  max(age_weeks) AS oldest_weeks
      |FROM dk GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- per-source boilerplate stripping ----

  /** Web-corpus boilerplate removal: each source's dominant 3-token
    * prefix (ties: lexicographically smallest) is treated as boilerplate;
    * documents that start with it get it stripped (plus the following
    * space). The report proves byte-exact stripping: per source, docs
    * affected and total bytes saved. Scale shape: the prefix histogram
    * aggregates to (source, prefix) — bounded by source count × distinct
    * prefixes, tiny vs the corpus — and broadcasts back; the strip is a
    * per-row map. */
  private def textBoilerplateStrip(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .withColumn("prefix3",
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
    val top = docs.groupBy("source", "prefix3").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("cnt").desc, col("prefix3").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("prefix3").as("bp"), col("cnt").as("bp_docs"))
    docs.join(broadcast(top), Seq("source"))
      .withColumn("hit", (col("prefix3") === col("bp")).cast(IntegerType))
      .withColumn("stripped",
        when(col("hit") === 1,
          expr("substring(text, length(bp) + 2)")).otherwise(col("text")))
      .groupBy("source")
      .agg(first("bp").as("boilerplate"),
        count(lit(1)).as("n_docs"),
        sum("hit").as("n_stripped"),
        sum(length(col("text"))).as("bytes_before"),
        sum(length(col("stripped"))).as("bytes_after"))
      .orderBy("source")
  }

  private val oTextBoilerplateStrip =
    """WITH docs AS (SELECT *,
      |    array_to_string(string_split(text, ' ')[1:3], ' ') AS prefix3
      |  FROM documents),
      | top AS (SELECT source, prefix3 AS bp, cnt AS bp_docs FROM (
      |    SELECT source, prefix3, count(*) AS cnt,
      |      row_number() OVER (PARTITION BY source
      |        ORDER BY count(*) DESC, prefix3 ASC) AS rn
      |    FROM docs GROUP BY source, prefix3) WHERE rn = 1),
      | j AS (SELECT d.source, d.text, t.bp,
      |    CASE WHEN d.prefix3 = t.bp THEN 1 ELSE 0 END AS hit,
      |    CASE WHEN d.prefix3 = t.bp THEN substring(d.text, length(t.bp) + 2)
      |         ELSE d.text END AS stripped
      |  FROM docs d JOIN top t ON d.source = t.source)
      |SELECT source, min(bp) AS boilerplate, count(*) AS n_docs,
      |  CAST(sum(hit) AS BIGINT) AS n_stripped,
      |  CAST(sum(length(text)) AS BIGINT) AS bytes_before,
      |  CAST(sum(length(stripped)) AS BIGINT) AS bytes_after
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sql_recursive_cte"      -> sqlRecursiveCte _,
    "join_star_flake"        -> joinStarFlake _,
    "chp_ltv_decay"          -> chpLtvDecay _,
    "text_boilerplate_strip" -> textBoilerplateStrip _)

  val oracles: Map[String, String] = Map(
    "sql_recursive_cte"      -> oSqlRecursiveCte,
    "join_star_flake"        -> oJoinStarFlake,
    "chp_ltv_decay"          -> oChpLtvDecay,
    "text_boilerplate_strip" -> oTextBoilerplateStrip)
}
