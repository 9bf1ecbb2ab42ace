package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText

/** Round-5 eighth wave (SURVEY §2.21) — the Spark 4 SQL-surface triplet,
  * each feature checked against a classic-SQL DuckDB oracle:
  *
  *  - `fn_json_variant`: the VARIANT semi-structured type (new in
  *    Spark 4) — parse_json over the events JSON payload column,
  *    variant_get typed extraction, aggregated per type. VARIANT is the
  *    100 TB answer to schemaless payloads: a binary-encoded tree that
  *    skips per-row string re-parsing downstream.
  *  - `sql_pipe_syntax`: SQL pipe syntax (|>, new in Spark 4) — the
  *    same logical plan as a classic GROUP BY query, spelled as a
  *    pipeline; proves the surface parses AND plans identically (the
  *    oracle is the classic spelling).
  *  - `fn_collation_ci`: string collations (new in Spark 4) — grouping
  *    under UTF8_LCASE must merge case-variant keys; the corpus is
  *    uppercase-free in the grouped column, so both engines inject the
  *    same deterministic case perturbation first, and the oracle gets
  *    the same result via lower().
  */
object QRound5h extends QueryPack {

  // ---- VARIANT semi-structured payloads ----

  /** Parse the JSON props payload into a VARIANT once, extract `$.k` as
    * a typed int, and profile it per event type. Scale shape: parse +
    * extract are per-row codegen'd expressions feeding a partial
    * aggregate — the win of VARIANT at scale is parsing ONCE into a
    * binary tree instead of regex/string-walking the payload in every
    * downstream expression. */
  private def fnJsonVariant(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k").cast("long")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  private val oFnJsonVariant =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  count(DISTINCT CAST(json_extract(props, '$.k') AS INT)) AS n_distinct_k,
      |  min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
      |  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- SQL pipe syntax ----

  /** The TPC-H Q1 shape spelled in pipe syntax: FROM |> WHERE |> EXTEND
    * |> AGGREGATE … GROUP BY |> ORDER BY. The oracle is the classic
    * spelling — a hash match proves the pipe surface builds the same
    * plan. Scale shape: identical to agg_group_q1 (one partial-
    * aggregated scan), because pipe syntax is pure parser surface. */
  private def sqlPipeSyntax(s: SparkSession, d: String): DataFrame = {
    // g_sum4u/g_revrow4u: the 128-bit integer spellings of the decimal
    // sums (bit-identical values — Tables.sqlIntSums). Every pipe-syntax
    // parser surface of the original (WHERE / EXTEND / AGGREGATE..GROUP
    // BY / ORDER BY) is unchanged; EXTEND now carries the exact
    // 1e4-scaled BIGINT revenue term instead of the DECIMAL product —
    // same quantization casts, same summed value through
    // DECIMAL(38,4) -> DOUBLE.
    SqlText.on(s,
      """FROM g_lineitem
        ||> WHERE l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
        ||> EXTEND g_revrow4u(l_extendedprice, l_discount) AS disc_price_u
        ||> AGGREGATE count(*) AS n_rows,
        |     CAST(g_sum4u(l_quantity) AS DOUBLE) AS sum_qty,
        |     CAST(g_sumu4(disc_price_u) AS DOUBLE) AS sum_disc_price
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)(
      "g_lineitem" -> t(s, d, "lineitem"))
  }

  private val oSqlPipeSyntax =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- case-insensitive collation ----

  /** Group document sources under UTF8_LCASE collation after both
    * engines apply the same deterministic case perturbation — alternating
    * on (doc_id div 20) so every source gets BOTH case variants (source
    * cycles with doc_id % 20, so a plain doc_id parity would uppercase
    * odd-numbered sources wholesale and the "merge" would be vacuous). Spark groups on the COLLATED column —
    * the new first-class path; the oracle lower()s. The emitted key is
    * lower()ed on both sides because the collated group's representative
    * value is whichever case-variant the aggregate sees first (operand
    * order is partition-dependent — the same reason mode() needed a
    * tie-break). Scale shape: one partial-aggregated shuffle on the
    * collated key; collation-aware grouping keys hash normalized bytes,
    * so partial aggregation still works map-side. */
  private def fnCollationCi(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("src_cased",
        when(expr("(doc_id div 20) % 2") === 1, upper(col("source")))
          .otherwise(col("source")))
      .select(expr("CAST(src_cased AS STRING COLLATE UTF8_LCASE)").as("src_ci"),
        col("n_chars"))
      .groupBy("src_ci")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .select(lower(col("src_ci")).as("source_key"), col("n_docs"),
        col("sum_chars"))
      .orderBy("source_key")

  private val oFnCollationCi =
    """WITH c AS (SELECT
      |    CASE WHEN (doc_id // 20) % 2 = 1 THEN upper(source) ELSE source END AS src_cased,
      |    n_chars
      |  FROM documents)
      |SELECT lower(src_cased) AS source_key, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM c GROUP BY lower(src_cased) ORDER BY source_key""".stripMargin

  val queries: Map[String, QFn] = Map(
    "fn_json_variant" -> fnJsonVariant _,
    "sql_pipe_syntax" -> sqlPipeSyntax _,
    "fn_collation_ci" -> fnCollationCi _)

  val oracles: Map[String, String] = Map(
    "fn_json_variant" -> oFnJsonVariant,
    "sql_pipe_syntax" -> oSqlPipeSyntax,
    "fn_collation_ci" -> oFnCollationCi)
}
