package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 13 (SURVEY §2.27):
  *
  *  - `text_hashing_tf`: the feature-hashing trick (hashed term
  *    frequencies into a fixed bucket space) — the vocabulary-free
  *    featurizer every large-corpus text model pipeline starts from.
  *  - `sample_bootstrap_hash`: deterministic Poisson(1) bootstrap
  *    replicates via hashed inverse-CDF draws — uncertainty
  *    quantification for corpus statistics with zero RNG.
  *  - `sql_group_by_all`: the GROUP BY ALL parser surface (Spark 4 /
  *    DuckDB agree on the resolution rule: every non-aggregate select
  *    item groups).
  *  - `chp_calibration_ece`: expected calibration error — the 1-row
  *    model-monitoring summary composed from the reliability table
  *    (`chp_calibration_bins`), exact-integer until the final division.
  */
object QRound9n extends QueryPack {

  // ---- text_hashing_tf ----

  private val tfBuckets = 16

  /** Feature hashing: every ≥3-letter lowercased token routed to one of
    * `tfBuckets` buckets by portable md5 (the engine's seeded-hash
    * discipline — reproducible across engines, partitionings and reruns,
    * unlike murmur-based hashingTF), emitting per-(doc, bucket) term
    * counts — the sparse feature rows a hashed linear model consumes.
    *
    * Scale shape: tokenize + hash are map-side; one shuffle on the
    * uniform (doc_id, bucket) key; output is corpus×buckets-sparse. */
  private[graft] def hashingTf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "" && length(col("term")) >= 3)
      .withColumn("bucket",
        (md5Prefix(col("term").cast(BinaryType), 15)
          .cast(LongType) % tfBuckets).cast(IntegerType))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "bucket")

  private def textHashingTf(s: SparkSession, d: String): DataFrame =
    hashingTf(t(s, d, "documents"))

  private val oTextHashingTf =
    s"""WITH toks AS (SELECT doc_id, tok AS term FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text),
       |      '[^a-z]+')) AS tok FROM documents)
       |  WHERE tok <> '' AND length(tok) >= 3)
       |SELECT doc_id,
       |  CAST(${oMd5Prefix("term", 15)}
       |    % $tfBuckets AS INT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS tf
       |FROM toks GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin

  // ---- sample_bootstrap_hash ----

  private val bootReps = 3

  /** Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams"): each document's multiplicity in replicate r
    * is a Poisson(1) draw taken by inverse CDF over a hashed uniform
    * u = md5(r|doc_id)/2^60 — deterministic, partition-independent, and
    * single-pass, which is exactly why the Poisson spelling (not the
    * classic resample-n) is THE bootstrap for distributed corpora. Draws
    * are capped at 4 (P(k>4) < 0.4%; the cap keeps the CASE ladder
    * finite and both engines identical). Emits per replicate: total
    * draws, distinct docs in-replicate, exact token mass, and the
    * resampled share of the corpus mass (trunc6).
    *
    * Scale shape: draws are map-side; one `bootReps`-key aggregate;
    * the corpus total broadcasts back. */
  private[graft] def bootstrapHash(docs: DataFrame): DataFrame = {
    val reps = docs.sparkSession.range(0, bootReps)
      .select(col("id").cast(IntegerType).as("rep"))
    val u = md5Prefix(concat(col("rep").cast(StringType), lit("|"),
        col("doc_id").cast(StringType)).cast(BinaryType), 15)
      .cast(LongType).cast(DoubleType) / lit(1152921504606846976.0) // 2^60
    val k = when(u < exp(lit(-1.0)), 0L)
      .when(u < lit(2.0) * exp(lit(-1.0)), 1L)
      .when(u < lit(25e-1) * exp(lit(-1.0)), 2L)
      .when(u < (lit(8e0) / lit(3e0)) * exp(lit(-1.0)), 3L)
      .otherwise(4L)
    val tot = docs.agg(sum(col("n_chars")).as("corpus_mass"))
    docs.crossJoin(broadcast(reps))
      .withColumn("k", k)
      .groupBy("rep")
      .agg(sum(col("k")).as("n_draws"),
        sum(when(col("k") > 0, 1L).otherwise(0L)).as("n_docs_in"),
        sum(col("k") * col("n_chars")).as("rep_mass"))
      .crossJoin(broadcast(tot))
      .select(col("rep"), col("n_draws"), col("n_docs_in"),
        col("rep_mass"),
        trunc6(col("rep_mass").cast(DoubleType) / col("corpus_mass"))
          .as("mass_ratio"))
      .orderBy("rep")
  }

  private def sampleBootstrapHash(s: SparkSession, d: String): DataFrame =
    bootstrapHash(t(s, d, "documents"))

  private val oSampleBootstrapHash =
    s"""WITH reps AS (SELECT unnest(generate_series(0, ${bootReps - 1}))
       |    AS rep),
       |draws AS (SELECT r.rep, r.n_chars,
       |    CASE
       |      WHEN u < exp(-1) THEN 0
       |      WHEN u < 2 * exp(-1) THEN 1
       |      WHEN u < 25e-1 * exp(-1) THEN 2
       |      WHEN u < (8e0 / 3e0) * exp(-1) THEN 3
       |      ELSE 4 END AS k
       |  FROM (SELECT rep, n_chars,
       |      CAST(${oMd5Prefix("rep || '|' || doc_id", 15)} AS DOUBLE) / 1152921504606846976.0 AS u
       |    FROM documents, reps) AS r(rep, n_chars, u)),
       |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS corpus_mass
       |  FROM documents)
       |SELECT CAST(rep AS INT) AS rep, CAST(sum(k) AS BIGINT) AS n_draws,
       |  CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_in,
       |  CAST(sum(k * n_chars) AS BIGINT) AS rep_mass,
       |  ${oTrunc6("CAST(sum(k * n_chars) AS DOUBLE) / corpus_mass")}
       |    AS mass_ratio
       |FROM draws, tot GROUP BY rep, corpus_mass ORDER BY rep""".stripMargin

  // ---- sql_group_by_all ----

  /** GROUP BY ALL: the parser resolves the grouping set from the select
    * list (every non-aggregate item groups) — the analyst-ergonomics
    * surface Spark 4 and DuckDB implement with the same rule. Must plan
    * identically to the explicit GROUP BY (one partial+final pass). */
  private def sqlGroupByAll(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM g_orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)(
      "g_orders" -> t(s, d, "orders"))
  }

  private val oSqlGroupByAll =
    s"""SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       |  ${oSum4("o_totalprice")} AS sum_price
       |FROM orders GROUP BY ALL
       |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---- chp_calibration_ece ----

  /** Expected calibration error: ECE = Σ_b (n_b/N)·|acc_b − conf_b| over
    * the reliability table's deciles — the single number model
    * monitoring alarms on (the reliability table is the diagnostic, ECE
    * the pager threshold). The raw engagement score is a clamped linear
    * value in [−10, 10], so per-bin confidence maps through the logistic
    * link σ(avg_score) onto the probability scale the observed churn
    * rate lives on. Both per-bin values are then re-scaled to exact
    * integers (floor(x·1e4+0.5)), the weighted sum is pure BIGINT, and
    * the ONE division at the end is trunc6'd.
    *
    * Scale shape: composes the 10-row memoized reliability table — the
    * entire computation after the shared scored-table build is model
    * state. */
  private def chpCalibrationEce(s: SparkSession, d: String): DataFrame = {
    val bins = QRound7d.queries("chp_calibration_bins")(s, d)
    val conf = lit(1.0) / (lit(1.0) + exp(-col("avg_score")))
    val gap = abs(floor(conf * lit(1e4) + lit(5e-1)) -
      floor(col("churn_rate") * lit(1e4) + lit(5e-1))).cast(LongType)
    bins.select(col("decile"), col("n_users"), gap.as("gap4"))
      .agg(sum(col("n_users")).as("n_total"),
        count(lit(1)).as("n_bins"),
        sum(col("n_users") * col("gap4")).as("w_gap"),
        max(col("gap4")).as("max_gap4"))
      .select(col("n_total"), col("n_bins"),
        trunc6(col("w_gap").cast(DoubleType) /
          (col("n_total").cast(DoubleType) * lit(1e4))).as("ece"),
        trunc4(col("max_gap4").cast(DoubleType) / lit(1e4)).as("max_gap"))
  }

  private val oChpCalibrationEce =
    s"""WITH bins AS (${QRound7d.oracles("chp_calibration_bins")}),
       |g AS (SELECT n_users,
       |    CAST(abs(floor(1e0 / (1e0 + exp(-avg_score)) * 1e4 + 5e-1) -
       |      floor(churn_rate * 1e4 + 5e-1)) AS BIGINT) AS gap4
       |  FROM bins)
       |SELECT CAST(sum(n_users) AS BIGINT) AS n_total,
       |  CAST(count(*) AS BIGINT) AS n_bins,
       |  ${oTrunc6("CAST(sum(n_users * gap4) AS DOUBLE) / " +
         "(CAST(sum(n_users) AS DOUBLE) * 1e4)")} AS ece,
       |  ${oTrunc4("CAST(max(gap4) AS DOUBLE) / 1e4")} AS max_gap
       |FROM g""".stripMargin

  val queries: Map[String, QFn] = Map(
    "text_hashing_tf"       -> textHashingTf _,
    "sample_bootstrap_hash" -> sampleBootstrapHash _,
    "sql_group_by_all"      -> sqlGroupByAll _,
    "chp_calibration_ece"   -> chpCalibrationEce _)

  val oracles: Map[String, String] = Map(
    "text_hashing_tf"       -> oTextHashingTf,
    "sample_bootstrap_hash" -> oSampleBootstrapHash,
    "sql_group_by_all"      -> oSqlGroupByAll,
    "chp_calibration_ece"   -> oChpCalibrationEce)
}
