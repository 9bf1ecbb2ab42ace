package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 53 (SURVEY §2.28):
  *
  *  - `dedup_lsh_tuning`: the MinHash band/row tuning table — the same
  *    32 signature mins re-banded as (b,r) ∈ {(4,8),(8,4),(16,2),(32,1)}
  *    with candidate-pair counts and the (1/b)^(1/r) threshold estimate,
  *    the sweep a dedup rollout runs before fixing its operating point.
  *  - `pipeline_run_manifest`: per-stage execution manifest (rows in/out
  *    + order-free content hash) for a 3-stage curation pipeline — the
  *    reproducibility record a lakehouse run commits beside its data.
  *  - `chp_qini_curve`: cumulative uplift (Qini) curve over engagement
  *    buckets against the hashed A/B arms — the standard targeting-model
  *    evaluation, exact counts end to end.
  */
object QRound9bb extends QueryPack {

  // ---- dedup_lsh_tuning ----

  private val tuneConfigs = Seq((4, 8), (8, 4), (16, 2), (32, 1))

  /** Band/row sweep over the shared shingle table: the 32 per-doc
    * signature mins (seed k = j·4+c, the production spelling) regroup
    * into b bands of r rows per config; a candidate is a distinct a<b
    * pair sharing ≥1 band key. Reports the pair count and the standard
    * S-curve threshold estimate (1/b)^(1/r) per config — more bands of
    * fewer rows catch lower-similarity pairs (more candidates).
    *
    * Scale shape: one per-row signature projection over the memoized
    * shingle table (QText.signature); per config the bucket-local pair
    * enumeration of dedup_lsh_pairs — uniform md5 keys, never all-pairs. */
  private[graft] def lshTuning(s: SparkSession, d: String): DataFrame = {
    val sig = graft.Memo.memo(s, "lshtunesig", d)(
      QText.signature(QText.shingledPersisted(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val perConfig = tuneConfigs.map { case (b, r) =>
      QText.bucketPairs(QText.bandKeys(sig, b, r))
        .agg(count(lit(1)).as("n_candidates"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          trunc4(pow(lit(1.0) / b, lit(1.0) / r)).as("est_threshold"),
          col("n_candidates"))
    }
    perConfig.reduce(_ unionAll _).orderBy("bands")
  }

  private val oDedupLshTuning = {
    val k = (i: Int) => s"k$i"
    val configs = tuneConfigs.map { case (b, r) =>
      val bands = QText.oBandKeys(b, r, k)
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT)
         |    AS rows_per_band,
         |  ${oTrunc4(s"pow(1e0 / $b, 1e0 / $r)")} AS est_threshold,
         |  (SELECT CAST(count(*) AS BIGINT) FROM (
         |    SELECT DISTINCT a.doc_id, b.doc_id AS b_id
         |    FROM ($bands) a JOIN ($bands) b
         |      ON a.band = b.band AND a.bkey = b.bkey
         |      AND a.doc_id < b.doc_id)) AS n_candidates""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${QText.oMinhashSig(k, materialized = true)}
       |$configs
       |ORDER BY bands""".stripMargin
  }

  // ---- pipeline_run_manifest ----

  /** Execution manifest for a 3-stage curation run: raw → clean
    * (n_chars ≥ 200) → dedup (min doc_id per exact md5(text) group).
    * Each stage records rows out and an order-free content fingerprint
    * (sum of per-doc md5-longs mod 1e12 — associative, partition-proof).
    * Re-running the pipeline must reproduce the manifest bit for bit;
    * that is the reproducibility contract.
    *
    * Scale shape: each stage is one pass; fingerprints are map-side
    * sums; the manifest is 3 rows. */
  private[graft] def runManifest(docs: DataFrame): DataFrame = {
    def fp(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        sum(md5Prefix(col("doc_id").cast(StringType).cast(BinaryType), 15)
          .cast(LongType) % lit(1000000000000L))
          .as("content_fp"))
    val raw = docs
    val clean = raw.filter(col("n_chars") >= 200)
    val dedup = clean.groupBy(md5(col("text").cast(BinaryType)).as("h"))
      .agg(min("doc_id").as("doc_id"))
    def stage(name: String, ord: Int, df: DataFrame) =
      fp(df).select(lit(ord.toLong).as("stage_no"), lit(name).as("stage"),
        col("n_rows"), col("content_fp"))
    stage("1_raw", 1, raw)
      .unionAll(stage("2_clean", 2, clean))
      .unionAll(stage("3_dedup", 3, dedup))
      .orderBy("stage_no")
  }

  private def pipelineRunManifest(s: SparkSession, d: String): DataFrame =
    runManifest(t(s, d, "documents"))

  private val oPipelineRunManifest =
    s"""WITH raw AS (SELECT doc_id, text, n_chars FROM documents),
       |clean AS (SELECT * FROM raw WHERE n_chars >= 200),
       |ded AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text))
       |SELECT CAST(1 AS BIGINT) AS stage_no, '1_raw' AS stage,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(${oMd5Prefix("CAST(doc_id AS VARCHAR)", 15)} % 1000000000000) AS BIGINT) AS content_fp
       |FROM raw
       |UNION ALL SELECT 2, '2_clean', CAST(count(*) AS BIGINT),
       |  CAST(sum(${oMd5Prefix("CAST(doc_id AS VARCHAR)", 15)} % 1000000000000) AS BIGINT)
       |FROM clean
       |UNION ALL SELECT 3, '3_dedup', CAST(count(*) AS BIGINT),
       |  CAST(sum(${oMd5Prefix("CAST(doc_id AS VARCHAR)", 15)} % 1000000000000) AS BIGINT)
       |FROM ded
       |ORDER BY stage_no""".stripMargin

  // ---- chp_qini_curve ----

  /** Qini (cumulative uplift) curve: users split into md5 A/B arms (the
    * SRM key's spelling), outcome = high-value purchase, targeting score
    * = relative engagement bucket b = (n_events·10) div (max+1) ∈ 0..9
    * (scale-free), consumed best-first
    * (descending). Per point the cumulative incremental conversions
    * qini = conv_t − conv_c·(n_t/n_c); on a null experiment the curve
    * hugs zero, which the spec gates. Cumulation over the ≤10 bucket
    * rows is a broadcast-hinted triangular join (the KM pattern — never
    * a global window).
    *
    * Scale shape: one per-user aggregate; bucket cells are a ≤10-row
    * model table; the triangular join is bounded. */
  private[graft] def qiniCurve(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val user = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase"
          && col("value") > lit(9e1), 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", abArm(col("user_id")))
    val mx = user.agg(max("n_ev").as("mx"))
    val bucketed = user.crossJoin(broadcast(mx))
      .withColumn("bucket", expr("(n_ev * 10) div (mx + 1)"))
    val cells = bucketed.groupBy("bucket")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c_t"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c_c"))
      .localCheckpoint(true)
    val cum = cells.join(
        broadcast(cells.select(col("bucket").as("b2"),
          col("n_t").as("n_t2"), col("c_t").as("c_t2"),
          col("n_c").as("n_c2"), col("c_c").as("c_c2"))),
        col("b2") >= col("bucket"))
      .groupBy("bucket")
      .agg(sum("n_t2").as("cum_n_t"), sum("c_t2").as("cum_c_t"),
        sum("n_c2").as("cum_n_c"), sum("c_c2").as("cum_c_c"))
    // a top bucket can hold no control users at tiny SF: with no
    // control estimate the incremental count is just the treated one
    cum.select(col("bucket"), col("cum_n_t"), col("cum_n_c"),
        when(col("cum_n_c") > 0,
          trunc4(col("cum_c_t").cast(dd) -
            col("cum_c_c").cast(dd) * col("cum_n_t").cast(dd) /
              col("cum_n_c").cast(dd)))
          .otherwise(col("cum_c_t").cast(dd)).as("qini"))
      .orderBy(col("bucket").desc)
  }

  private def chpQiniCurve(s: SparkSession, d: String): DataFrame =
    qiniCurve(t(s, d, "events"))

  private val oChpQiniCurve =
    s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
       |    max(CASE WHEN event_type = 'purchase' AND value > 9e1
       |      THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1),
       |mxv AS (SELECT max(n_ev) AS mx FROM u),
       |a AS (SELECT u.*,
       |    ${oAbArm("user_id")} AS arm,
       |    (n_ev * 10) // (m.mx + 1) AS bucket FROM u, mxv m),
       |cells AS MATERIALIZED (SELECT bucket,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_t,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_c
       |  FROM a GROUP BY 1),
       |cum AS (SELECT c1.bucket,
       |    CAST(sum(c2.n_t) AS BIGINT) AS cum_n_t,
       |    CAST(sum(c2.c_t) AS BIGINT) AS cum_c_t,
       |    CAST(sum(c2.n_c) AS BIGINT) AS cum_n_c,
       |    CAST(sum(c2.c_c) AS BIGINT) AS cum_c_c
       |  FROM cells c1 JOIN cells c2 ON c2.bucket >= c1.bucket
       |  GROUP BY c1.bucket)
       |SELECT bucket, cum_n_t, cum_n_c,
       |  CASE WHEN cum_n_c > 0 THEN
       |    ${oTrunc4("CAST(cum_c_t AS DOUBLE) - CAST(cum_c_c AS DOUBLE) * cum_n_t / cum_n_c")}
       |  ELSE CAST(cum_c_t AS DOUBLE) END AS qini
       |FROM cum ORDER BY bucket DESC""".stripMargin

  val queries: Map[String, QFn] = Map(
    "dedup_lsh_tuning"      -> lshTuning _,
    "pipeline_run_manifest" -> pipelineRunManifest _,
    "chp_qini_curve"        -> chpQiniCurve _)

  val oracles: Map[String, String] = Map(
    "dedup_lsh_tuning"      -> oDedupLshTuning,
    "pipeline_run_manifest" -> oPipelineRunManifest,
    "chp_qini_curve"        -> oChpQiniCurve)
}
