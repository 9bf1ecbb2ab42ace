package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.LocalRows
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end pipeline operators: the reference's headline churn
  * feature/label computation (MorphL's entire reason to exist — per-user
  * behavioral features + an inactivity churn label, SURVEY §2 legend (chp)
  * and Appendix B), plus the text/vector feature-engineering steps a
  * training-data pipeline runs at scale (TF-IDF, embedding quantization).
  */
object QPipeline extends QueryPack {

  /** The per-user activity table of one input, memoized: user_id,
    * n_events, n_clicks, n_purchases, total_value (exact `sum4`) and
    * last_us, the micros of the user's last event, from ONE read of
    * events. The corpus clock every churn label is relative to is the max
    * of last_us: exact, since the max over all events is the max of the
    * per-user maxima, so no key reads events a second time for it. Under
    * the state gate the table is collected once and kept as a driver-built
    * local relation (no blocks to lose); over it, it is localCheckpointed.
    * `chp_features_label`, `chp_churn_windows` and everything that reads
    * the feature memo start here. */
  private[graft] def activity(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "chpactivity", d) {
      val agg = t(s, d, "events").groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("event_type") === "click", 1)).as("n_clicks"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
          sum4(col("value")).as("total_value"),
          max(expr("unix_micros(cast(ts as timestamp))")).as("last_us"))
      StateGate.onDriver(agg, StateGate.maxRows(s)).getOrElse(agg.localCheckpoint(true))
    }

  /** The non-null last_us values of the activity table's driver-side
    * rows (last_us is its sixth column); their max is the corpus clock. */
  private[operators] def lastUs(rows: Seq[InternalRow]): Seq[Long] =
    rows.filterNot(_.isNullAt(5)).map(_.getLong(5))

  /** MorphL-style churn features + label per user: activity counts, spend,
    * recency, and `churned = inactive > 7 days` relative to the corpus
    * clock, all a projection of the [[activity]] table. Distributed, the
    * clock is its one-row max joined by broadcast, and the result is
    * range-sorted. Under the state gate the activity table is on the
    * driver: the clock is read from it, the projection folds into a local
    * relation and the rows are sorted there ([[LocalRows.sortedAs]]), with
    * the distributed plan's schema; no Spark job runs. The label threshold
    * mirrors MorphL's days-since-last-session rule. Day arithmetic is
    * integer micros division, so both engines agree exactly. */
  private[graft] def chpFeaturesLabel(s: SparkSession, d: String): DataFrame = {
    val act = activity(s, d)
    // integer micros division (`div`, not `/` — Column `/` is double)
    def features(withNow: DataFrame) =
      withNow.select(col("user_id"), col("n_events"), col("n_clicks"),
        col("n_purchases"), col("total_value"),
        expr("(now_us - last_us) div 86400000000").as("days_inactive"),
        expr("cast((now_us - last_us) div 86400000000 > 7 as int)")
          .as("churn_label"))
    val dist = features(act.crossJoin(broadcast(act.agg(max("last_us").as("now_us")))))
      .orderBy("user_id")
    LocalRows.of(act).flatMap { rows =>
      val last = lastUs(rows)
      val now = lit(if (last.isEmpty) null else last.max).cast(LongType)
      LocalRows.of(features(act.withColumn("now_us", now))).map(LocalRows.sortedAs(dist, _))
    }.getOrElse(dist)
  }

  private[operators] val oChpFeaturesLabel =
    s"""WITH now AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
       |  f AS (SELECT user_id, count(*) AS n_events,
       |      count(*) FILTER (event_type = 'click') AS n_clicks,
       |      count(*) FILTER (event_type = 'purchase') AS n_purchases,
       |      ${oSum4("value")} AS total_value,
       |      max(epoch_us(ts)) AS last_us
       |    FROM events GROUP BY user_id)
       |SELECT user_id, n_events, n_clicks, n_purchases, total_value,
       |  (now_us - last_us) // 86400000000 AS days_inactive,
       |  CAST((now_us - last_us) // 86400000000 > 7 AS INT) AS churn_label
       |FROM f, now ORDER BY user_id""".stripMargin

  /** Session-memoized per-document term stats (doc_id, w, n_w, doc_len)
    * — the tokenize-explode-aggregate pass every TF-IDF-family consumer
    * needs, materialized once per corpus snapshot (the docwords /
    * lmscores discipline; one row per distinct (doc, term)). Note df
    * derives from THIS table for free: its rows are already distinct
    * (doc, term), so document frequency is a vocab-sized re-aggregate of
    * the cached table, not a second corpus tokenize. */
  private def tfStatsPersisted(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "tfstats", d)(
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n_w"))
        .withColumn("doc_len",
          sum(col("n_w")).over(Window.partitionBy("doc_id")))
        .localCheckpoint(true))

  /** TF-IDF with top-3 terms per document: tf = in-doc frequency over doc
    * length, idf = ln(N/df). Term stats come from the memoized
    * [[tfStatsPersisted]] (was: a fresh tokenize+shuffle per call,
    * 0.87 s warm vs the 0.10 s oracle); N stays a metadata-cheap count
    * over documents (empty docs must count toward N but have no term
    * rows). The ln() is the only libm call — both engines compute it on
    * identical doubles and the result is truncated, the same exposure
    * udaf_geomean already carries. */
  private def textTfidf(s: SparkSession, d: String): DataFrame = {
    val tf = tfStatsPersisted(s, d)
    val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "w").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("w"),
        trunc6((col("n_w").cast(DoubleType) / col("doc_len")) *
          log(col("n_docs").cast(DoubleType) / col("df"))).as("tfidf"))
    val rk = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("w"))
    scored.withColumn("rnk", row_number().over(rk)).filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "w", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  private val oTextTfidf =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |  n AS (SELECT count(*) AS n_docs FROM documents),
       |  tf AS (SELECT doc_id, w, count(*) AS n_w FROM toks GROUP BY doc_id, w),
       |  dl AS (SELECT doc_id, w, n_w, sum(n_w) OVER (PARTITION BY doc_id) AS doc_len FROM tf),
       |  df AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w),
       |  sc AS (SELECT doc_id, dl.w,
       |      ${oTrunc6("(CAST(n_w AS DOUBLE) / doc_len) * ln(CAST(n_docs AS DOUBLE) / df)")} AS tfidf
       |    FROM dl JOIN df ON dl.w = df.w, n),
       |  rk AS (SELECT doc_id, w, tfidf, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rnk FROM sc)
       |SELECT doc_id, CAST(rnk AS INT) AS rnk, w, tfidf
       |FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** Embedding normalize + int8 quantization (the storage/compute shrink
    * step before ANN indexing): per-vector L2 norm and max-|x| scale, each
    * component floor(x/scale·127 + 0.5). Emitted as summary stats (sum /
    * min / max of the quantized codes) — fully sensitive to any
    * quantization bug, small enough to hash. Embarrassingly parallel,
    * no shuffle before the final sort. */
  private def embQuantize(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast(DoubleType)).as("v"))
      .select(col("vec_id"),
        trunc4(sqrt(aggregate(col("v"), lit(0.0d), (a, x) => a + x * x)))
          .as("l2norm"),
        // clamped: an all-zero embedding would give scale=0 -> x/0 = NaN,
        // which Spark casts to 0L while DuckDB errors on CAST(floor(nan))
        greatest(aggregate(col("v"), lit(0.0d),
          (a, x) => greatest(a, abs(x))), lit(1e-300)).as("scale"))
      .join(t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"),
          x => x.cast(DoubleType)).as("v")), "vec_id")
      .select(col("vec_id"), col("l2norm"),
        aggregate(transform(col("v"),
            x => floor(x / col("scale") * 127 + 0.5).cast(LongType)),
          lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(transform(col("v"),
          x => floor(x / col("scale") * 127 + 0.5).cast(LongType))).as("q_min"),
        array_max(transform(col("v"),
          x => floor(x / col("scale") * 127 + 0.5).cast(LongType))).as("q_max"))
      .orderBy("vec_id")

  private val oEmbQuantize =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |  s AS (SELECT vec_id, v,
       |      ${oTrunc4("sqrt(list_aggregate(list_transform(v, x -> x*x), 'sum'))")} AS l2norm,
       |      greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-300) AS scale
       |    FROM e)
       |SELECT vec_id, l2norm,
       |  CAST(list_aggregate(list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS q_sum,
       |  CAST(list_aggregate(list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)), 'min') AS BIGINT) AS q_min,
       |  CAST(list_aggregate(list_transform(v, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)), 'max') AS BIGINT) AS q_max
       |FROM s ORDER BY vec_id""".stripMargin

  /** The churn feature table, memoized per corpus: user-bounded model
    * state. It is what the `chp_features_label` key emits, and every other
    * feature consumer reads it too (the scored table, segments,
    * frozen-model confusion, calibration, the RFM and reason-code keys,
    * and the churn model's fold table). Under the state gate it is the
    * driver-built local relation of [[chpFeaturesLabel]]; over it, the
    * distributed table, localCheckpointed. */
  private[operators] def chpFeaturesPersisted(s: SparkSession, d: String)
      : DataFrame =
    graft.Memo.memo(s, "chpfeat", d) {
      val f = chpFeaturesLabel(s, d)
      if (LocalRows.of(f).isDefined) f else f.localCheckpoint(true)
    }

  /** Scored feature rows (user_id, n_purchases, total_value, score):
    * a fixed linear engagement model over the declared feature set,
    * clamped to [-10, 10]. Pure arithmetic — no transcendentals, so both
    * engines compute bit-identical doubles (the expression tree is
    * mirrored exactly); scoring is per-row over the feature aggregate.
    * Weights sized so the score spreads over the corpus (probed: 1.0–3.5
    * at sf0.01, clamp never binds on this data — it guards outliers). */
  private def chpScored(s: SparkSession, d: String): DataFrame =
    // memoized + persisted: every decile consumer reads it twice (the
    // bounded histogram pass and the final join), and both scoring keys
    // plus the serving stage share it — one row per user, cache-friendly
    graft.Memo.memo(s, "chpscored", d) {
      val f = chpFeaturesPersisted(s, d)
      val raw = ((lit(0.02) * col("n_clicks") + lit(0.1) * col("n_purchases"))
        + lit(0.0002) * col("total_value")) - lit(0.2) * col("days_inactive")
      f.select(col("user_id"), col("n_purchases"), col("total_value"),
          trunc4(greatest(least(raw, lit(10.0)), lit(-10.0))).as("score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Exact global decile WITHOUT a global window (VERDICT r4: the previous
    * `ntile(10) OVER (ORDER BY score...)` spelling moves EVERY row to one
    * task — the last scale-killer in the repo). The score domain is
    * trunc4-clamped to [-10, 10], so the per-score histogram has at most
    * 200,001 rows regardless of corpus size — bounded model state, the
    * same class as k-means centroids. Exact two-pass quantiles:
    *   pass 1: groupBy(score).count() — a bounded aggregate — collected;
    *           cumulative counts per score computed driver-side and
    *           broadcast back as a lookup;
    *   pass 2: row_number() PARTITIONED by score (uniform bounded key)
    *           ranks within each tie group; the global rank is
    *           r = cum_before(score) + within_rank, and ntile(10)'s
    *           bucket arithmetic over (r, n) is closed-form.
    * Output is hash-identical to ntile(10) OVER (ORDER BY score DESC,
    * user_id) — the oracle keeps the window spelling, so the driver's
    * hash compare proves the equivalence every round. */
  private[graft] def withDecile(s: SparkSession, scored: DataFrame): DataFrame = {
    import s.implicits._
    val hist = scored.groupBy("score").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(-_._1) // score desc — the ntile ordering
    // the driver-side collect is sound ONLY because the trunc4-clamped
    // score domain bounds the histogram at 200,001 rows; fail loudly if a
    // future score domain breaks that invariant instead of OOMing silently
    require(hist.length <= 200001,
      s"score histogram has ${hist.length} rows > 200001 — the decile " +
        "collect assumes a trunc4-clamped score domain; re-bound the domain")
    val n = hist.map(_._2).sum
    val cumBefore = hist.map(_._2).scanLeft(0L)(_ + _).init
    val lookup = hist.map(_._1).zip(cumBefore).toSeq
      .toDF("score", "cum_before")
    val q = n / 10
    val m = n % 10
    val rg = row_number().over(Window.partitionBy("score").orderBy("user_id"))
    scored.join(broadcast(lookup), "score")
      .withColumn("r", col("cum_before") + rg)
      // ntile(10): first (n mod 10) buckets hold ceil(n/10) rows, the rest
      // floor(n/10); `div` keeps the arithmetic integral end to end
      .withColumn("decile", expr(
        s"cast(if(r <= ${(q + 1) * m}, (r - 1) div ${q + 1} + 1, " +
          s"$m + (r - ${(q + 1) * m} - 1) div ${math.max(q, 1L)} + 1) as int)"))
      .drop("r", "cum_before")
  }

  /** Batch model scoring as a query (the serving side of MorphL's churn
    * pipeline): linear score + exact distributed decile. */
  private def chpScoreLinear(s: SparkSession, d: String): DataFrame =
    withDecile(s, chpScored(s, d))
      .select("user_id", "score", "decile")
      .orderBy("user_id")

  // literals written 2e-2 etc so DuckDB binds them as DOUBLE — a bare
  // `0.02` parses as DECIMAL there, and mixed decimal/double arithmetic
  // drifts one ulp from Spark's pure-double chain (caught at sf0.1: one
  // row sat exactly on a trunc4 boundary)
  private[operators] val oChpScoreChain =
    s"""WITH f AS ($oChpFeaturesLabel),
       |  sc AS (SELECT user_id, n_purchases, total_value,
       |    ${oTrunc4("greatest(least(((2e-2 * n_clicks + 1e-1 * n_purchases) " +
                      "+ 2e-4 * total_value) - 2e-1 * days_inactive, 1e1), -1e1)")} AS score
       |  FROM f),
       |  dc AS (SELECT user_id, n_purchases, total_value, score,
       |    CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS INT) AS decile
       |  FROM sc)""".stripMargin

  private val oChpScoreLinear =
    s"""$oChpScoreChain
       |SELECT user_id, score, decile FROM dc ORDER BY user_id""".stripMargin

  /** Model evaluation as a query: the decile lift/gains table — per score
    * decile, user count and mean purchase/value (the standard churn-model
    * evaluation artifact; a good model concentrates value in the top
    * deciles). Composes the scoring query; one tiny aggregate. */
  private def chpEvalLift(s: SparkSession, d: String): DataFrame = {
    withDecile(s, chpScored(s, d))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        avg4(col("n_purchases")).as("avg_purchases"),
        avg4(col("total_value")).as("avg_value"))
      .orderBy("decile")
  }

  private val oChpEvalLift =
    s"""$oChpScoreChain
       |SELECT decile, count(*) AS n_users,
       |  ${oAvg4("n_purchases")} AS avg_purchases,
       |  ${oAvg4("total_value")} AS avg_value
       |FROM dc GROUP BY decile ORDER BY decile""".stripMargin

  val queries: Map[String, QFn] = Map(
    "chp_features_label" -> chpFeaturesPersisted _,
    "chp_score_linear"   -> chpScoreLinear _,
    "chp_eval_lift"      -> chpEvalLift _,
    "text_tfidf"         -> textTfidf _,
    "emb_quantize"       -> embQuantize _)

  val oracles: Map[String, String] = Map(
    "chp_features_label" -> oChpFeaturesLabel,
    "chp_score_linear"   -> oChpScoreLinear,
    "chp_eval_lift"      -> oChpEvalLift,
    "text_tfidf"         -> oTextTfidf,
    "emb_quantize"       -> oEmbQuantize)
}
