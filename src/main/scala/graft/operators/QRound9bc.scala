package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 54 (SURVEY §2.28):
  *
  *  - `scan_agg_pushdown`: parquet aggregate pushdown — COUNT/MIN/MAX
  *    answered from footer statistics by the V2 reader without scanning
  *    rows; the metadata-only fast path a 100 TB `SELECT count(*)`
  *    must take.
  *  - `chp_permutation_test`: deterministic permutation test for the
  *    arm difference — 20 md5-seeded pseudo-relabelings give an exact,
  *    RNG-free p-value.
  *  - `text_gazetteer_tag`: dictionary-based entity tagging — a
  *    broadcast gazetteer joined against the token stream, the
  *    lexicon-tagging stage beside regex PII.
  */
object QRound9bc extends QueryPack {

  // ---- scan_agg_pushdown ----

  /** COUNT/MIN/MAX over lineitem answered by the parquet V2 reader's
    * aggregate pushdown (spark.sql.parquet.aggregatePushdown + empty
    * useV1SourceList): row groups contribute footer stats, no pixel of
    * row data is decoded. Both confs are set on a clone of the caller's
    * session ([[pushdownSession]]), never on the caller's own;
    * ExtensionsSpec-style plan proof lives in Round9bcSpec, which
    * asserts `PushedAggregation` in the executed plan.
    *
    * Scale shape: metadata-only — cost scales with file count, not
    * bytes; exactly what a lake-wide count should plan. */
  private[graft] def aggPushdown(s: SparkSession, d: String): DataFrame =
    pushdownFrame(pushdownSession(s), d)

  /** A clone of `s` with the V2 reader's aggregate pushdown on and every
    * file source on the V2 path. */
  private[graft] def pushdownSession(s: SparkSession): SparkSession =
    SqlText.cloned(s, "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")

  /** The pushdown-eligible frame (no filter, plain columns). */
  private[graft] def pushdownFrame(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/lineitem.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))

  private val oScanAggPushdown =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
      |  min(l_extendedprice) AS min_price,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem""".stripMargin

  // ---- chp_permutation_test ----

  private val nPerms = 20

  /** Permutation test, deterministically: the observed split is the
    * md5(uid) arm; pseudo-relabelings s = 1..20 re-split by
    * md5('s|uid'). Per labeling the conversion-rate difference
    * p_t − p_c; the add-one p-value counts relabelings at least as
    * extreme as the observed |diff|. Both engines compute identical
    * doubles from identical integer counts, so the comparison — and the
    * p-value — is exact.
    *
    * Scale shape: one per-user aggregate, then a 21-row-per-user seed
    * explode that partial-aggregates map-side into 21 cells. */
  private[graft] def permutationTest(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val user = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase"
        && col("value") > lit(9e1), 1L).otherwise(0L)).as("conv"))
    val seeds = events.sparkSession.createDataFrame(
      (0 to nPerms).map(Tuple1(_))).toDF("seed")
    val cells = user.crossJoin(broadcast(seeds))
      .withColumn("arm",
        when(col("seed") === 0, abArm(col("user_id")))
          .otherwise(abArm(concat(col("seed").cast(StringType), lit("|"),
            col("user_id").cast(StringType)))))
      .groupBy("seed")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c_t"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c_c"))
      .withColumn("diff", col("c_t").cast(dd) / col("n_t").cast(dd) -
        col("c_c").cast(dd) / col("n_c").cast(dd))
      .localCheckpoint(true)
    val obs = cells.filter(col("seed") === 0)
      .select(col("diff").as("diff_obs"))
    cells.filter(col("seed") =!= 0).crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        sum((abs(col("diff")) >= abs(col("diff_obs"))).cast(LongType))
          .as("n_extreme"),
        max("diff_obs").as("dobs"))
      .select(trunc4(col("dobs")).as("diff_obs"), col("n_perms"),
        col("n_extreme"),
        trunc4((col("n_extreme") + 1).cast(dd) /
          (col("n_perms") + 1).cast(dd)).as("p_value"))
  }

  private def chpPermutationTest(s: SparkSession, d: String): DataFrame =
    permutationTest(t(s, d, "events"))

  private val oChpPermutationTest =
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND value > 9e1
       |      THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1),
       |seeds AS (SELECT unnest(generate_series(0, $nPerms)) AS seed),
       |cells AS MATERIALIZED (SELECT seed,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
       |      AS c_t,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
       |      AS c_c
       |  FROM (SELECT u.*, s.seed,
       |    CASE WHEN s.seed = 0 THEN
       |      ${oAbArm("user_id")}
       |    ELSE
       |      ${oMd5Prefix("CAST(s.seed AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)", 4)} % 2
       |    END AS arm
       |    FROM u, seeds s) GROUP BY seed),
       |d AS (SELECT seed, CAST(c_t AS DOUBLE) / n_t
       |    - CAST(c_c AS DOUBLE) / n_c AS diff FROM cells),
       |obs AS (SELECT diff AS diff_obs FROM d WHERE seed = 0)
       |SELECT ${oTrunc4("max(o.diff_obs)")} AS diff_obs,
       |  CAST(count(*) AS BIGINT) AS n_perms,
       |  CAST(sum(CASE WHEN abs(d.diff) >= abs(o.diff_obs) THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_extreme,
       |  ${oTrunc4("CAST(sum(CASE WHEN abs(d.diff) >= abs(o.diff_obs) THEN 1 ELSE 0 END) + 1 AS DOUBLE) / (count(*) + 1)")} AS p_value
       |FROM d, obs o WHERE d.seed <> 0""".stripMargin

  // ---- text_gazetteer_tag ----

  private val gazetteer = Seq("spark", "window", "hash", "join",
    "stream", "batch", "sort", "merge")

  /** Dictionary entity tagging: the 8-term gazetteer broadcasts against
    * the token stream; per term the documents containing it, total
    * mentions, and corpus coverage share. The lexicon stage beside the
    * regex PII redactor — exact counts end to end.
    *
    * Scale shape: tokenize map-side; the gazetteer join broadcasts the
    * 8-row dictionary; per-term rollups are bounded. */
  private[graft] def gazetteerTag(docs: DataFrame): DataFrame = {
    val dd = DoubleType
    val nDocs = docs.agg(count(lit(1)).as("n_docs_total"))
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val gaz = docs.sparkSession.createDataFrame(
      gazetteer.map(Tuple1(_))).toDF("term")
    toks.join(broadcast(gaz), "term")
      .groupBy("term")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_mentions"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("n_docs"), col("n_mentions"),
        trunc4(col("n_docs").cast(dd) / col("n_docs_total").cast(dd))
          .as("doc_share"))
      .orderBy("term")
  }

  private def textGazetteerTag(s: SparkSession, d: String): DataFrame =
    gazetteerTag(t(s, d, "documents"))

  private val oTextGazetteerTag =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
       |    AS term FROM documents),
       |gaz AS (SELECT unnest([${gazetteer.map(t => s"'$t'").mkString(", ")}])
       |  AS term),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total
       |  FROM documents)
       |SELECT t.term, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_mentions,
       |  ${oTrunc4("CAST(count(DISTINCT t.doc_id) AS DOUBLE) / max(n.n_docs_total)")} AS doc_share
       |FROM toks t JOIN gaz g ON t.term = g.term, n
       |GROUP BY t.term ORDER BY t.term""".stripMargin

  val queries: Map[String, QFn] = Map(
    "scan_agg_pushdown"    -> aggPushdown _,
    "chp_permutation_test" -> chpPermutationTest _,
    "text_gazetteer_tag"   -> textGazetteerTag _)

  val oracles: Map[String, String] = Map(
    "scan_agg_pushdown"    -> oScanAggPushdown,
    "chp_permutation_test" -> oChpPermutationTest,
    "text_gazetteer_tag"   -> oTextGazetteerTag)
}
