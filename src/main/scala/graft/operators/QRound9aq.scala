package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Round-9 extension wave 42 (SURVEY §2.28):
  *
  *  - `serve_prefix_complete`: autocomplete read path — top-3 corpus
  *    completions per probe prefix by frequency.
  *  - `chp_ab_srm_check`: sample-ratio-mismatch chi-square on the
  *    hash-split arms — the experimentation guardrail that invalidates
  *    an A/B readout before anyone trusts the lift.
  *  - `chp_did_estimate`: difference-in-differences over the
  *    mid-month boundary (purchase vs view event values) — the
  *    pre/post causal readout with parallel-trends context.
  */
object QRound9aq extends QueryPack {

  // ---- serve_prefix_complete ----

  // probed against the corpus vocabulary: each prefix matches >=3 tokens
  private val prefixes = Seq("s", "c", "ba", "f", "m")

  /** Autocomplete: top-3 corpus tokens per probe prefix (count desc,
    * token asc). The vocab aggregates ONCE; the 5-prefix probe set
    * broadcasts against it (the serving-index discipline: the index
    * side never shuffles per request).
    *
    * Scale shape: one tokenize-explode pass with map-side combine into
    * the vocab; prefix match is a broadcast join on a startswith
    * predicate over the bounded probe set; ranking partitions per
    * prefix. */
  private[graft] def prefixComplete(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val probe = prefixes.toDF("prefix")
    val w = Window.partitionBy("prefix")
      .orderBy(col("freq").desc, col("token"))
    vocab.join(broadcast(probe), col("token").startsWith(col("prefix")))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 3)
      .select(col("prefix"), col("rnk"), col("token"), col("freq"))
      .orderBy("prefix", "rnk")
  }

  private def servePrefixComplete(s: SparkSession, d: String): DataFrame =
    prefixComplete(t(s, d, "documents"))

  private val oServePrefixComplete =
    s"""WITH vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token
       |        FROM documents) GROUP BY token),
       |pr AS (SELECT unnest([${prefixes.map("'" + _ + "'").mkString(", ")}])
       |  AS prefix),
       |m AS (SELECT pr.prefix, v.token, v.freq,
       |    row_number() OVER (PARTITION BY pr.prefix
       |      ORDER BY v.freq DESC, v.token) AS rnk
       |  FROM vocab v JOIN pr ON v.token LIKE pr.prefix || '%')
       |SELECT prefix, CAST(rnk AS BIGINT) AS rnk, token, freq
       |FROM m WHERE rnk <= 3 ORDER BY prefix, rnk""".stripMargin

  // ---- chp_ab_srm_check ----

  /** Sample-ratio mismatch: the md5-bit arm split SHOULD be 50/50;
    * chi-square with 1 dof against that design ratio, flagged at the
    * 0.05 critical value (3.841). All inputs exact longs; one trunc4'd
    * statistic. A failed SRM check invalidates the experiment readout
    * regardless of the lift.
    *
    * Scale shape: one per-user aggregate then a 2-cell rollup. */
  private[graft] def srmCheck(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val arms = events.select(col("user_id")).distinct()
      .withColumn("arm", abArm(col("user_id")))
      .groupBy("arm").agg(count(lit(1)).as("n"))
    val a = arms.filter(col("arm") === 0).select(col("n").as("n_a"))
    val b = arms.filter(col("arm") === 1).select(col("n").as("n_b"))
    val e = (col("n_a") + col("n_b")).cast(dd) / lit(2.0)
    val chi2 = (((col("n_a").cast(dd) - e) * (col("n_a").cast(dd) - e)) / e) +
      (((col("n_b").cast(dd) - e) * (col("n_b").cast(dd) - e)) / e)
    a.join(broadcast(b))
      .select(col("n_a"), col("n_b"), trunc4(chi2).as("chi2"),
        (trunc4(chi2) > lit(3841e-3)).cast(IntegerType).as("srm_flag"))
  }

  private def chpAbSrmCheck(s: SparkSession, d: String): DataFrame =
    srmCheck(t(s, d, "events"))

  private val oChpAbSrmCheck =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |arms AS (SELECT ${oAbArm("user_id")} AS arm,
       |    user_id FROM u),
       |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM arms GROUP BY 1),
       |f AS (SELECT (SELECT n FROM g WHERE arm = 0) AS n_a,
       |    (SELECT n FROM g WHERE arm = 1) AS n_b),
       |c AS (SELECT n_a, n_b,
       |    ${oTrunc4("(((CAST(n_a AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE) / 2e0)) * (CAST(n_a AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE) / 2e0))) / (CAST(n_a + n_b AS DOUBLE) / 2e0)) + (((CAST(n_b AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE) / 2e0)) * (CAST(n_b AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE) / 2e0))) / (CAST(n_a + n_b AS DOUBLE) / 2e0))")} AS chi2
       |  FROM f)
       |SELECT n_a, n_b, chi2,
       |  CASE WHEN chi2 > 3841e-3 THEN 1 ELSE 0 END AS srm_flag
       |FROM c""".stripMargin

  // ---- chp_did_estimate ----

  /** Difference-in-differences: treatment series = purchase values,
    * control = view values; "intervention" = the month's midpoint
    * (day 16). DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre)
    * on per-event means from exact decimal sums — the causal template
    * (here a null experiment: the synthetic corpus has no intervention,
    * so the estimate should sit near zero; the spec gates |DiD| small
    * relative to the means).
    *
    * Scale shape: one events pass into a 4-cell aggregate. */
  private[graft] def didEstimate(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val cells = events
      .filter(col("event_type").isin("purchase", "view"))
      .select(
        (col("event_type") === "purchase").cast(IntegerType).as("treated"),
        (dayofmonth(col("ts")) >= 16).cast(IntegerType).as("post"),
        col("value"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), sum4(col("value")).as("mass"))
      .select(col("treated"), col("post"),
        (col("mass") / col("n").cast(dd)).as("mean"))
    def cell(tr: Int, po: Int, as: String) =
      cells.filter(col("treated") === tr && col("post") === po)
        .select(col("mean").as(as))
    cell(1, 0, "treat_pre").join(broadcast(cell(1, 1, "treat_post")))
      .join(broadcast(cell(0, 0, "ctrl_pre")))
      .join(broadcast(cell(0, 1, "ctrl_post")))
      .select(
        trunc4(col("treat_pre")).as("treat_pre"),
        trunc4(col("treat_post")).as("treat_post"),
        trunc4(col("ctrl_pre")).as("ctrl_pre"),
        trunc4(col("ctrl_post")).as("ctrl_post"),
        trunc4((col("treat_post") - col("treat_pre")) -
          (col("ctrl_post") - col("ctrl_pre"))).as("did"))
  }

  private def chpDidEstimate(s: SparkSession, d: String): DataFrame =
    didEstimate(t(s, d, "events"))

  private val oChpDidEstimate =
    s"""WITH cells AS (SELECT
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS treated,
       |    CASE WHEN dayofmonth(ts) >= 16 THEN 1 ELSE 0 END AS post,
       |    count(*) AS n, ${oSum4("value")} AS mass
       |  FROM events WHERE event_type IN ('purchase', 'view')
       |  GROUP BY 1, 2),
       |m AS (SELECT treated, post, mass / n AS mean FROM cells),
       |f AS (SELECT
       |    (SELECT mean FROM m WHERE treated = 1 AND post = 0) AS treat_pre,
       |    (SELECT mean FROM m WHERE treated = 1 AND post = 1) AS treat_post,
       |    (SELECT mean FROM m WHERE treated = 0 AND post = 0) AS ctrl_pre,
       |    (SELECT mean FROM m WHERE treated = 0 AND post = 1) AS ctrl_post)
       |SELECT ${oTrunc4("treat_pre")} AS treat_pre,
       |  ${oTrunc4("treat_post")} AS treat_post,
       |  ${oTrunc4("ctrl_pre")} AS ctrl_pre,
       |  ${oTrunc4("ctrl_post")} AS ctrl_post,
       |  ${oTrunc4("(treat_post - treat_pre) - (ctrl_post - ctrl_pre)")} AS did
       |FROM f""".stripMargin

  val queries: Map[String, QFn] = Map(
    "serve_prefix_complete" -> servePrefixComplete _,
    "chp_ab_srm_check"      -> chpAbSrmCheck _,
    "chp_did_estimate"      -> chpDidEstimate _)

  val oracles: Map[String, String] = Map(
    "serve_prefix_complete" -> oServePrefixComplete,
    "chp_ab_srm_check"      -> oChpAbSrmCheck,
    "chp_did_estimate"      -> oChpDidEstimate)
}
