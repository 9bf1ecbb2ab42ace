package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 4 (SURVEY §2.27):
  *
  *  - `ts_forecast_drift`: one-step-ahead drift-method forecast backtest
  *    (MAE per series) — the forecasting-evaluation analytic beside the
  *    smoothing/anomaly keys.
  *  - `stream_topk_windows`: trending items per tumbling window (top-3
  *    event types per 6-hour bucket); batch twin declared + the
  *    stream==batch count equivalence proven in Round9eSpec.
  *  - `dedup_cluster_rep`: content-aware representative selection per
  *    near-dup cluster (keep the LONGEST doc, not the lowest id) — the
  *    final doc-mapping a dedup rewrite actually ships.
  *  - `sample_split_train_eval`: deterministic hash 80/10/10
  *    train/val/test split with a per-language stratification report.
  */
object QRound9e extends QueryPack {

  // ---- ts_forecast_drift ----

  /** One-step-ahead backtest of the drift forecast
    * x̂_t = x_{t-1} + (x_{t-1} − x_1)/(t − 2) (the classic drift method:
    * last value plus average historical slope) over each event-type daily
    * series, scored from the 3rd point on. Per-row |err| is scaled to a
    * long and summed EXACTLY (partition-order independence), one descale
    * + trunc4 MAE at the end. One partitioned window pass over the shared
    * memoized daily series. */
  private[graft] def forecastDrift(daily: DataFrame): DataFrame = {
    val dd = DoubleType
    val w = Window.partitionBy("event_type").orderBy("day_num")
    val p = daily
      .withColumn("i", row_number().over(w))
      .withColumn("x1", first(col("cnt")).over(w))
      .withColumn("xprev", lag(col("cnt"), 1).over(w))
      .filter(col("i") >= 3)
      .withColumn("fc", col("xprev").cast(dd)
        + (col("xprev") - col("x1")).cast(dd) / (col("i") - 2).cast(dd))
      .withColumn("errs",
        floor(abs(col("cnt").cast(dd) - col("fc")) * lit(1e12) + lit(0.5))
          .cast(LongType))
    p.groupBy("event_type")
      .agg(count(lit(1)).as("n_backtests"), sum(col("errs")).as("s"))
      .select(col("event_type"), col("n_backtests"),
        trunc4(col("s").cast(dd) / lit(1e12) / col("n_backtests").cast(dd))
          .as("mae"))
      .orderBy("event_type")
  }

  private def tsForecastDrift(s: SparkSession, d: String): DataFrame =
    forecastDrift(QRound9b.evDaily(s, d))

  private val oDaily =
    """SELECT event_type, epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
      |    count(*) AS cnt FROM events GROUP BY 1, 2""".stripMargin

  private val oTsForecastDrift =
    s"""WITH daily AS ($oDaily),
       |p AS (SELECT event_type, cnt,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day_num) AS i,
       |    first_value(cnt) OVER (PARTITION BY event_type ORDER BY day_num) AS x1,
       |    lag(cnt) OVER (PARTITION BY event_type ORDER BY day_num) AS xprev
       |  FROM daily),
       |e AS (SELECT event_type,
       |    CAST(floor(abs(CAST(cnt AS DOUBLE) - (CAST(xprev AS DOUBLE)
       |      + CAST(xprev - x1 AS DOUBLE) / (i - 2))) * 1e12 + 0.5) AS BIGINT) AS errs
       |  FROM p WHERE i >= 3),
       |m AS (SELECT event_type, count(*) AS n_backtests,
       |    CAST(sum(errs) AS BIGINT) AS s FROM e GROUP BY 1)
       |SELECT event_type, n_backtests,
       |  ${oTrunc4("CAST(s AS DOUBLE) / 1e12 / n_backtests")} AS mae
       |FROM m ORDER BY event_type""".stripMargin

  // ---- stream_topk_windows ----

  /** Trending items: top-3 event types per 6-hour tumbling window by
    * count (ties broken by type name). Declared as the batch twin —
    * identical `window()` aggregation to the streaming path (Round9eSpec
    * proves stream counts == batch counts via MemoryStream; the rank is a
    * per-window ranking downstream of the windowed state, the
    * foreachBatch half of a streaming trending pipeline). Window key
    * emitted as an epoch bucket index (BIGINT), never a timestamp, so
    * both engines bucket by pure integer division. Ranking windows are
    * partitioned per bucket. */
  private[graft] def windowCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        expr("unix_micros(cast(w.start as timestamp)) div 21600000000")
          .as("bucket"),
        col("event_type"), col("n"))

  private[graft] def topkWindows(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy(col("n").desc, col("event_type"))
    windowCounts(events)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("bucket"), col("rnk").cast(IntegerType).as("rnk"),
        col("event_type"), col("n"))
      .orderBy("bucket", "rnk")
  }

  private def streamTopkWindows(s: SparkSession, d: String): DataFrame =
    topkWindows(t(s, d, "events"))

  private val oStreamTopkWindows =
    """WITH c AS (SELECT epoch_us(ts) // 21600000000 AS bucket, event_type,
      |    count(*) AS n FROM events GROUP BY 1, 2),
      |r AS (SELECT bucket, event_type, n, row_number() OVER (
      |    PARTITION BY bucket ORDER BY n DESC, event_type) AS rnk FROM c)
      |SELECT bucket, CAST(rnk AS INT) AS rnk, event_type, n
      |FROM r WHERE rnk <= 3 ORDER BY bucket, rnk""".stripMargin

  // ---- dedup_cluster_rep ----

  /** Content-aware representative per near-dup cluster: the LONGEST doc
    * (n_chars, tiebreak min doc_id) — the doc a rewrite actually keeps,
    * vs `dedup_cc_cluster`'s min-id canonical label. Emits the full
    * doc → representative mapping. Composes the declared CC clustering
    * (memoized pair graph + propagation) with one cluster-partitioned
    * ranking window and an equi-join back — singleton clusters map to
    * themselves. */
  private def dedupClusterRep(s: SparkSession, d: String): DataFrame = {
    val cl = QRound4.queries("dedup_cc_cluster")(s, d)
      .select("doc_id", "cluster_id")
    val wc = cl.join(t(s, d, "documents").select("doc_id", "n_chars"), "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val rep = wc.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_id"))
    wc.join(rep, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("is_rep"))
      .orderBy("doc_id")
  }

  private val oDedupClusterRep =
    s"""WITH cl AS MATERIALIZED (SELECT doc_id, cluster_id
       |  FROM (${QRound4.oracles("dedup_cc_cluster")})),
       |wc AS (SELECT cl.doc_id, cl.cluster_id, d.n_chars
       |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
       |rep AS (SELECT cluster_id, doc_id AS rep_id FROM (
       |  SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY n_chars DESC, doc_id) AS rn FROM wc) WHERE rn = 1)
       |SELECT wc.doc_id, wc.cluster_id, rep.rep_id,
       |  wc.doc_id = rep.rep_id AS is_rep
       |FROM wc JOIN rep USING (cluster_id)
       |ORDER BY wc.doc_id""".stripMargin

  // ---- sample_split_train_eval ----

  /** Deterministic 80/10/10 train/val/test split (md5(doc_id) mod 100 —
    * reproducible, partitioning-independent, the seeded-hash sampling
    * discipline) with the per-language stratification report (docs,
    * token mass, share of the language's docs) an experiment tracker
    * records before training. Map-side assignment + one bounded-key
    * aggregate; per-language totals broadcast back. */
  private[graft] def splitTrainEval(docs: DataFrame): DataFrame = {
    val b = md5Prefix(col("doc_id").cast(StringType), 4).cast(LongType) % 100
    val assigned = docs.select(col("lang"),
      when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"),
      size(split(col("text"), " ")).cast(LongType).as("n_toks"))
    val g = assigned.groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val per = g.groupBy("lang").agg(sum(col("n_docs")).as("lang_docs"))
    g.join(broadcast(per), "lang")
      .select(col("lang"), col("split"), col("n_docs"), col("n_tokens"),
        trunc4(col("n_docs").cast(DoubleType) / col("lang_docs").cast(DoubleType))
          .as("share"))
      .orderBy("lang", "split")
  }

  private def sampleSplitTrainEval(s: SparkSession, d: String): DataFrame =
    splitTrainEval(t(s, d, "documents"))

  private val oSampleSplitTrainEval =
    s"""WITH a AS (SELECT lang,
       |    CASE WHEN ${oMd5Prefix("CAST(doc_id AS VARCHAR)", 4)} % 100 < 80 THEN 'train'
       |         WHEN ${oMd5Prefix("CAST(doc_id AS VARCHAR)", 4)} % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |g AS (SELECT lang, split, count(*) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM a GROUP BY 1, 2),
       |per AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs
       |  FROM g GROUP BY 1)
       |SELECT g.lang, g.split, g.n_docs, g.n_tokens,
       |  ${oTrunc4("CAST(g.n_docs AS DOUBLE) / p.lang_docs")} AS share
       |FROM g JOIN per p USING (lang)
       |ORDER BY g.lang, g.split""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_forecast_drift"       -> tsForecastDrift _,
    "stream_topk_windows"     -> streamTopkWindows _,
    "dedup_cluster_rep"       -> dedupClusterRep _,
    "sample_split_train_eval" -> sampleSplitTrainEval _)

  val oracles: Map[String, String] = Map(
    "ts_forecast_drift"       -> oTsForecastDrift,
    "stream_topk_windows"     -> oStreamTopkWindows,
    "dedup_cluster_rep"       -> oDedupClusterRep,
    "sample_split_train_eval" -> oSampleSplitTrainEval)
}
