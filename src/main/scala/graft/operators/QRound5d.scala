package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-5 fourth wave (SURVEY §2.17) — six surfaces nothing else covers:
  *
  *  - `fn_lambda_hof`: the higher-order array-function surface
  *    (transform / filter / aggregate / exists / zip_with with lambda
  *    arguments) — Catalyst's codegen'd lambda path, distinct from the
  *    scalar array builtins `fn_array` covers.
  *  - `scan_text_lines`: the raw line-oriented text source — how every
  *    web-corpus dump enters a pipeline before it has a schema; written
  *    as id\ttext lines, read back with `spark.read.text`, parsed with
  *    a bounded split, and aggregate-verified against the parquet truth.
  *  - `ts_anomaly_zscore`: rolling 7-day z-score anomaly flags over the
  *    per-type daily series — the standard streaming-ops data-quality
  *    monitor, computed from EXACT integer moments so both engines
  *    derive bit-identical statistics.
  *  - `sim_ann_hyperplane`: random-hyperplane (sign) LSH for cosine —
  *    the third ANN family next to IVF/k-means (`sim_ann_ivf`,
  *    `sim_ann_kmeans`) and MinHash (set-based): deterministic md5-parity
  *    hyperplanes, scaled-long dot products (order-independent), 8-bit
  *    sign buckets. Round5dSpec gates the LSH property that matters:
  *    known near-dup pairs land in the same bucket.
  *  - `chp_markov_prob`: Laplace-smoothed next-action transition matrix
  *    P(to|from) over the full action grid (unseen transitions get the
  *    smoothing floor) — the Markov upgrade of `chp_action_bigrams`'
  *    raw counts, a churn-model behavioral feature `[R-med]`.
  *  - `sql_filter_agg`: the SQL FILTER (WHERE …) aggregate-modifier
  *    surface, pinned as SQL text in both engines — conditional
  *    aggregation without CASE-NULL scaffolding.
  */
object QRound5d extends QueryPack {

  // ---- higher-order array functions ----

  /** One pass of the lambda HOF family over the embedding vectors. All
    * numeric results go through scaled-long arithmetic (floor(x*1e6+0.5)
    * per element BEFORE any sum/product) so every output is an exact
    * integer — immune to float summation order on both engines. Scale
    * shape: pure per-row map over the array column, no shuffle before
    * the final sort; lambdas stay inside whole-stage codegen. */
  private def fnLambdaHof(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"),
        expr("cast(size(filter(embedding, x -> x > float(0))) as int)")
          .as("n_pos"),
        expr("aggregate(embedding, 0L, (acc, x) -> " +
          "acc + cast(floor(cast(x as double)*1000000 + 5e-1) as bigint))")
          .as("scaled_sum"),
        expr("cast(exists(embedding, x -> abs(cast(x as double)) > 5e-1) as int)")
          .as("has_big"),
        expr("""aggregate(
                 zip_with(
                   transform(embedding,
                     x -> cast(floor(cast(x as double)*1000000 + 5e-1) as bigint)),
                   transform(reverse(embedding),
                     x -> cast(floor(cast(x as double)*1000000 + 5e-1) as bigint)),
                   (a, b) -> a * b),
                 0L, (acc, p) -> acc + p)""").as("dot_rev_scaled"))
      .orderBy("vec_id")

  private val oFnLambdaHof =
    """WITH s AS (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 5e-1) AS BIGINT)) AS sl,
      |    embedding FROM embeddings)
      |SELECT vec_id,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
      |  CAST(list_sum(sl) AS BIGINT) AS scaled_sum,
      |  CAST(len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 5e-1)) > 0 AS INT) AS has_big,
      |  CAST(list_sum(list_transform(list_zip(sl, list_reverse(sl)),
      |    p -> p[1] * p[2])) AS BIGINT) AS dot_rev_scaled
      |FROM s ORDER BY vec_id""".stripMargin

  // ---- raw text-line source ----

  /** Corpus ingestion from raw lines: documents staged as one
    * `doc_id\ttext` line each (the text is tab/newline-free word soup —
    * asserted at write), read back through `spark.read.text`, parsed
    * with a bounded 2-way split, and rolled up per lang joined from the
    * parquet truth; the oracle aggregates the original table, so any
    * line lost, truncated, or mis-split breaks count/len/md5-grade
    * checks. Scale shape: text is the one source with no footer/stats —
    * a full scan every time; the parse is a codegen'd split; at 100 TB
    * you'd convert to parquet once (the compaction key) and never
    * re-read the raw lines. */
  private def scanTextLines(s: SparkSession, d: String): DataFrame = {
    val dir = QRound3.staged(s, d, "textlines") { dir =>
      val docs = t(s, d, "documents")
      // fail fast at write: a tab would split the id field, a newline
      // would tear a doc across lines — either corrupts the staged copy
      // into a confusing downstream hash mismatch
      val unsafe = docs
        .filter(col("text").contains("\t") || col("text").contains("\n"))
        .count()
      require(unsafe == 0,
        s"$unsafe documents contain tab/newline — unsafe to stage as lines")
      docs.select(concat(col("doc_id"), lit("\t"), col("text")).as("value"))
        .write.mode("overwrite").text(s"$dir/lines")
    }
    val parsed = s.read.text(s"$dir/lines")
      .select(split(col("value"), "\t", 2).as("kv"))
      .select(element_at(col("kv"), 1).cast(LongType).as("doc_id"),
        element_at(col("kv"), 2).as("text"))
    parsed.join(t(s, d, "documents").select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_len"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("lang")
  }

  private val oScanTextLines =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- rolling z-score anomaly detection ----

  /** 7-day rolling z-score over the per-type daily value series, flags at
    * |z| > 2. Determinism: the daily total is an exact DECIMAL(18,4) sum
    * emitted as a scaled long (×10⁴), and the rolling mean/variance are
    * derived from integer window sums of that scaled value and its exact
    * integer square — both engines then run the identical double-precision
    * closed form (var = E[x²]−E[x]², Bessel-corrected) on identical
    * integers, so mean/std/z are bit-identical before trunc4. Scale
    * shape: the heavy shuffle is the daily-grain groupBy; the rolling
    * windows run per event_type over the tiny daily spine. */
  private def tsAnomalyZscore(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day_num"),
        col("value"))
      .groupBy("event_type", "day_num")
      .agg((sum(dec4(col("value"))) * 10000).cast(LongType).as("v_s"))
    val w = Window.partitionBy("event_type").orderBy("day_num")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sum_s", sum("v_s").over(w))
      // square in DECIMAL(38,0): v_s past ~3.04e9 (one ~10x scale step
      // above sf0.1's max daily total) would overflow BIGINT — silently
      // in Spark, as a hard error in DuckDB
      .withColumn("sumsq_s",
        sum(col("v_s").cast(DecimalType(38, 0)) * col("v_s")).over(w)
          .cast(DoubleType))
      .select(col("event_type"), col("day_num"),
        trunc4(col("v_s") / 10000.0).as("val"), col("n").cast(IntegerType).as("n"),
        trunc4(
          when(col("n") >= 2,
            (col("v_s") / 10000.0 - (col("sum_s") / col("n")) / 10000.0) /
              sqrt(greatest(
                (col("sumsq_s") / 1e8 -
                  (col("sum_s") / 10000.0) * (col("sum_s") / 10000.0) / col("n")) /
                  (col("n") - 1),
                lit(1e-12))))
            .otherwise(lit(0.0))).as("z"))
      .withColumn("is_anom", (abs(col("z")) > 2).cast(IntegerType))
      .orderBy("event_type", "day_num")
  }

  private val oTsAnomalyZscore =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_num,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS v_s
      |  FROM events GROUP BY 1, 2),
      | w AS (SELECT *,
      |    count(*) OVER win AS n,
      |    sum(v_s) OVER win AS sum_s,
      |    CAST(sum(CAST(v_s AS DECIMAL(38,0)) * v_s) OVER win AS DOUBLE) AS sumsq_s
      |  FROM daily
      |  WINDOW win AS (PARTITION BY event_type ORDER BY day_num
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      | z AS (SELECT event_type, day_num,
      |    floor(v_s / 10000.0 * 10000)/10000.0 AS val,
      |    CAST(n AS INT) AS n,
      |    floor(CASE WHEN n >= 2 THEN
      |      (v_s / 10000.0 - (CAST(sum_s AS DOUBLE) / n) / 10000.0) /
      |        sqrt(greatest(
      |          (CAST(sumsq_s AS DOUBLE) / 1e8 -
      |            (sum_s / 10000.0) * (sum_s / 10000.0) / n) / (n - 1),
      |          1e-12))
      |      ELSE 0.0 END * 10000)/10000.0 AS z
      |  FROM w)
      |SELECT event_type, day_num, val, n, z,
      |  CAST(abs(z) > 2 AS INT) AS is_anom
      |FROM z ORDER BY event_type, day_num""".stripMargin

  // ---- random-hyperplane (sign) LSH for cosine ----

  /** 8 deterministic ±1 hyperplanes: w(plane, dim) = +1 when the last
    * hex digit of md5("plane_dim") is even (identical hex in both
    * engines). Takes any (vec_id, embedding) frame — Round5dSpec feeds
    * it synthetic perturbed near-dups for the collision gate. */
  private[graft] def hyperplaneBuckets(s: SparkSession, vecs: DataFrame): DataFrame = {
    val weights = s.range(8).select(col("id").as("plane"))
      .crossJoin(s.range(64).select(col("id").as("dim")))
      .select(col("plane"), col("dim"),
        when(expr("substr(md5(concat(plane, '_', dim)), 32, 1)")
          .isin("0", "2", "4", "6", "8", "a", "c", "e"), 1L).otherwise(-1L)
          .as("w"))
    vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        expr("cast(floor(cast(x as double)*1000000 + 5e-1) as bigint)").as("xs"))
      .join(broadcast(weights), Seq("dim"))
      .groupBy("vec_id", "plane")
      .agg(sum(col("w") * col("xs")).as("dot_s"))
      .groupBy("vec_id")
      .agg(sum(when(col("dot_s") >= 0, expr("shiftleft(1L, cast(plane as int))"))
        .otherwise(0L)).as("bucket"))
  }

  /** Bucket-occupancy profile of the sign-LSH index: bucket id, vectors
    * per bucket, candidate pairs per bucket (the work a probe would do).
    * Scale shape: the dot products are one shuffle on (vec_id, plane)
    * after a broadcast of the 512-row weight table; the profile groupBy
    * shuffles ≤256 bucket keys. At corpus scale the same spelling holds —
    * the weight table stays tiny no matter how many vectors. The ANN
    * quality property (near-dup pairs collide) is gated in Round5dSpec;
    * this query pins the index build bit-exactly cross-engine. */
  private def simAnnHyperplane(s: SparkSession, d: String): DataFrame =
    hyperplaneBuckets(s, t(s, d, "embeddings").select("vec_id", "embedding"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("bucket"), col("n_vecs"),
        (col("n_vecs") * (col("n_vecs") - 1) / 2).cast(LongType).as("n_pairs"))
      .orderBy("bucket")

  private val oSimAnnHyperplane =
    """WITH wts AS (
      |  SELECT p.plane, d.dim,
      |    CASE WHEN substr(md5(concat(p.plane, '_', d.dim)), 32, 1)
      |              IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS w
      |  FROM (SELECT unnest(generate_series(0, 7)) AS plane) p,
      |       (SELECT unnest(generate_series(0, 63)) AS dim) d),
      | xs AS (SELECT vec_id, g.dim,
      |    CAST(floor(CAST(embedding[g.dim + 1] AS DOUBLE)*1000000 + 5e-1) AS BIGINT) AS xs
      |  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS dim) g),
      | dots AS (SELECT x.vec_id, w.plane, CAST(sum(w.w * x.xs) AS BIGINT) AS dot_s
      |  FROM xs x JOIN wts w ON x.dim = w.dim GROUP BY 1, 2),
      | b AS (SELECT vec_id,
      |    CAST(sum(CASE WHEN dot_s >= 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id)
      |SELECT bucket, count(*) AS n_vecs,
      |  CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- Laplace-smoothed Markov transition matrix ----

  /** P(next action | action) over the FULL action grid with add-one
    * smoothing — unseen transitions get the floor 1/(total+V) instead of
    * silently vanishing (the `chp_action_bigrams` raw counts can't feed
    * a Markov model directly for exactly that reason). Scale shape: the
    * transition counts aggregate to V² rows (V = action vocabulary,
    * tiny) before the grid join, so the cross join and left join both
    * broadcast; the only heavy shuffle is the per-user lead() window,
    * shared shape with sessionization. */
  private def chpMarkovProb(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val types = t(s, d, "events").select(col("event_type")).distinct()
    val v = types.count() // action vocabulary: tiny by construction
    val grid = types.select(col("event_type").as("from_type"))
      .crossJoin(types.select(col("event_type").as("to_type")))
    val totals = trans.groupBy("from_type").agg(sum("cnt").as("tot"))
    // totals joins LEFT too: a from_type with zero outgoing transitions
    // (e.g. a terminal action) must keep its grid rows at the smoothing
    // floor 1/(0+V), not vanish through an inner join
    grid.join(trans, Seq("from_type", "to_type"), "left")
      .na.fill(0L, Seq("cnt"))
      .join(totals, Seq("from_type"), "left")
      .na.fill(0L, Seq("tot"))
      .select(col("from_type"), col("to_type"), col("cnt"),
        trunc4((col("cnt") + 1) / (col("tot") + lit(v)).cast(DoubleType))
          .as("p_smooth"))
      .orderBy("from_type", "to_type")
  }

  private val oChpMarkovProb =
    """WITH e AS (SELECT user_id, ts, event_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      | tr AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS cnt
      |  FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2),
      | ty AS (SELECT DISTINCT event_type FROM events),
      | grid AS (SELECT a.event_type AS from_type, b.event_type AS to_type FROM ty a, ty b),
      | tot AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot FROM tr GROUP BY 1),
      | v AS (SELECT count(*) AS v FROM ty)
      |SELECT g.from_type, g.to_type,
      |  CAST(coalesce(tr.cnt, 0) AS BIGINT) AS cnt,
      |  floor((coalesce(tr.cnt, 0) + 1) / CAST(coalesce(tot.tot, 0) + v.v AS DOUBLE) * 10000)/10000.0 AS p_smooth
      |FROM grid g LEFT JOIN tr ON g.from_type = tr.from_type AND g.to_type = tr.to_type
      |LEFT JOIN tot ON g.from_type = tot.from_type CROSS JOIN v
      |ORDER BY g.from_type, g.to_type""".stripMargin

  // ---- SQL FILTER (WHERE) aggregate modifier ----

  /** Conditional aggregation via the ANSI FILTER clause, pinned as SQL
    * text — the modifier both engines parse natively, without CASE-NULL
    * scaffolding. Scale shape: all four filtered aggregates fuse into
    * ONE partial-aggregated scan pass (no per-branch scans), grouped on
    * the 3-value flag key. */
  private def sqlFilterAgg(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    FILTER (WHERE l_discount > 5e-2) AS DOUBLE) AS rev_discounted,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    FILTER (WHERE l_tax = 0) AS DOUBLE) AS rev_taxfree
        |FROM g_lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)(
      "g_lineitem" -> t(s, d, "lineitem"))
  }

  private val oSqlFilterAgg =
    """SELECT l_returnflag,
      |  count(*) AS n_all,
      |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
      |    FILTER (WHERE l_discount > 5e-2) AS DOUBLE) AS rev_discounted,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
      |    FILTER (WHERE l_tax = 0) AS DOUBLE) AS rev_taxfree
      |FROM lineitem
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, QFn] = Map(
    "fn_lambda_hof"       -> fnLambdaHof _,
    "scan_text_lines"     -> scanTextLines _,
    "ts_anomaly_zscore"   -> tsAnomalyZscore _,
    "sim_ann_hyperplane"  -> simAnnHyperplane _,
    "chp_markov_prob"     -> chpMarkovProb _,
    "sql_filter_agg"      -> sqlFilterAgg _)

  val oracles: Map[String, String] = Map(
    "fn_lambda_hof"       -> oFnLambdaHof,
    "scan_text_lines"     -> oScanTextLines,
    "ts_anomaly_zscore"   -> oTsAnomalyZscore,
    "sim_ann_hyperplane"  -> oSimAnnHyperplane,
    "chp_markov_prob"     -> oChpMarkovProb,
    "sql_filter_agg"      -> oSqlFilterAgg)
}
