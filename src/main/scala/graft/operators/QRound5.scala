package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-5 coverage — four fronts (SURVEY §2.14):
  *
  *  - STORAGE LAYOUT, making the 100 TB posture driver-checkable:
  *    static partition pruning (`scan_partition_prune`), DYNAMIC
  *    partition pruning via a runtime dim (`join_dpp_prune`), bucketed
  *    co-located joins (`join_bucket_colocated`), bucket-pruned point
  *    serving reads (`serve_point_lookup`), and the ZSTD codec
  *    roundtrip (`scan_zstd_roundtrip`).
  *  - THE MODEL LAYER (the reference's headline capability): MLlib LR
  *    training + eval (`chp_train_auc`), the regParam sweep
  *    (`chp_train_cv`), frozen-weight deployment scoring
  *    (`chp_model_confusion` — pure arithmetic, oracle-exact), and
  *    k-means user segmentation whose TRAINING is oracle-replayed
  *    (`chp_user_segments`).
  *  - LLM DATA PREP: chunking (`text_chunk_windows`), canonicalization
  *    (`text_normalize_canon`), sequence packing
  *    (`text_pack_sequences`), class rebalancing
  *    (`sample_rebalance_cap`), plus PageRank centrality over the
  *    near-dup graph (`graph_pagerank_docs`).
  *  - ENGINE SURFACES nothing else exercised: SQL text entry
  *    (`sql_text_tpch_q3`), correlated-subquery decorrelation
  *    (`sql_scalar_subquery`), CDC merge with deletes
  *    (`upsert_cdc_merge`), OHLC time-series resampling
  *    (`ts_resample_ohlc`), cume_dist (`win_cume_dist`), and the
  *    try-function dirty-data path (`fn_try_safe`).
  */
object QRound5 extends QueryPack {

  // ---- hive-partitioned layout + partition-pruned scan ----

  /** Write orders hive-partitioned by order month to a staged dir (once
    * per sfDir — the layout is a pure function of the table), then read
    * it back with a month predicate. The predicate lands in the scan's
    * PartitionFilters (PlanSpec-gated): only 3 of 12 month directories
    * are listed and read — at 100 TB this is the difference between
    * scanning the lake and scanning a quarter. The oracle aggregates the
    * unpartitioned parquet truth under the same predicate, so any row
    * lost or duplicated by the layout roundtrip breaks the hash. */
  private def scanPartitionPrune(s: SparkSession, d: String): DataFrame = {
    val dir = QRound3.staged(s, d, "pmonth") { dir =>
      t(s, d, "orders")
        .withColumn("o_month", month(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_month").parquet(dir)
    }
    s.read.parquet(dir)
      .filter(col("o_month").isin(3, 4, 5))
      .groupBy("o_month", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum4(col("o_totalprice")).as("sum_price"))
      .orderBy("o_month", "o_orderpriority")
  }

  private val oScanPartitionPrune =
    s"""SELECT CAST(month(o_orderdate) AS INT) AS o_month, o_orderpriority,
       |  count(*) AS n, ${oSum4("o_totalprice")} AS sum_price
       |FROM orders WHERE month(o_orderdate) IN (3, 4, 5)
       |GROUP BY 1, 2 ORDER BY o_month, o_orderpriority""".stripMargin

  // ---- bucketed co-located join ----

  private val bktCounter = new java.util.concurrent.atomic.AtomicInteger()

  // bucketed-table staging dirs: tracked by graft.Staging so the shared
  // shutdown hook removes them (ADVICE r3's staging-leak lesson applies
  // to every temp artifact, not just the roundtrip copies)
  private def newBktDir(prefix: String): String =
    graft.Staging.trackedTempDir(prefix)

  /** Join over two tables bucketed on the join key (8 buckets on custkey;
    * at 100 TB you size buckets so each is an executor-memory-friendly
    * split — hundreds to thousands). Because both sides' bucketing
    * matches the join key, the SortMergeJoin consumes the bucketed files
    * directly: NO shuffle of either table (PlanSpec asserts no
    * hashpartitioning Exchange with broadcast disabled). The staged
    * bucketed tables are memoized per session; the external files land in
    * a temp dir. Oracle: the same join over the parquet truth. */
  private def joinBucketColocated(s: SparkSession, d: String): DataFrame = {
    val joined = graft.Memo.memo(s, "bktjoin", d) {
      val n = bktCounter.incrementAndGet()
      val dir = newBktDir("graft_bkt_")
      val ot = s"graft_orders_b$n"
      val ct = s"graft_customer_b$n"
      t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$dir/o")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
      t(s, d, "customer").select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").option("path", s"$dir/c")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
      s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice")
    }
    joined.orderBy("o_orderkey")
  }

  private val oJoinBucketColocated =
    """SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  // ---- LLM training-data prep: chunking, packing, rebalancing ----

  /** Document chunking — the step before embedding long docs: sliding
    * token windows (16 tokens, stride 8). Each chunk emits its index,
    * length, and an md5 over its joined tokens, so the hash compare
    * pins the exact window boundaries. Pure per-row explode (map-side);
    * chunk count per doc is ceil(len/stride) — output scales linearly,
    * never quadratically, in corpus size. */
  private def textChunkWindows(s: SparkSession, d: String): DataFrame = {
    val win = 16
    val stride = 8
    t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          ceil(size(col("toks")).cast(DoubleType) / stride).cast(IntegerType)
            - 1)).as("k"))
      .select(col("doc_id"), col("k"),
        slice(col("toks"), col("k") * stride + 1, lit(win)).as("chunk"))
      .select(col("doc_id"), col("k"), size(col("chunk")).as("chunk_len"),
        md5(concat_ws(" ", col("chunk")).cast(BinaryType)).as("chunk_md5"))
      .orderBy("doc_id", "k")
  }

  private val oTextChunkWindows =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |  x AS (SELECT doc_id, w, unnest(range(0,
      |      CAST(ceil(len(w) / 8.0) AS INT))) AS k FROM t),
      |  c AS (SELECT doc_id, k, w[k*8+1 : least(k*8+16, len(w))] AS chunk FROM x)
      |SELECT doc_id, CAST(k AS INT) AS k, CAST(len(chunk) AS INT) AS chunk_len,
      |  md5(array_to_string(chunk, ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, k""".stripMargin

  /** Text canonicalization — the normalize stage every dedup pipeline
    * runs before fingerprinting (lowercase → strip non-alphanumerics →
    * squeeze whitespace → trim): emitted as per-doc before/after lengths
    * plus an md5 of the canonical form, so the hash pins every
    * normalization step. Regexes are plain character classes, which Java
    * regex (Spark) and RE2 (DuckDB) interpret identically — the safe
    * cross-engine subset. Pure map-side, no shuffle before the sort. */
  private def textNormalizeCanon(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("canon", trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
      .select(col("doc_id"),
        length(col("text")).as("len_raw"),
        length(col("canon")).as("len_canon"),
        md5(col("canon").cast(BinaryType)).as("canon_md5"))
      .orderBy("doc_id")

  private val oTextNormalizeCanon =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS len_raw,
      |  CAST(length(trim(regexp_replace(regexp_replace(
      |    lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS INT) AS len_canon,
      |  md5(trim(regexp_replace(regexp_replace(
      |    lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Sequence packing — binning docs into fixed token-budget training
    * sequences (greedy sequential packing, docs never split, a doc
    * overflowing a bin closes it): per-lang running token total, bin =
    * tokens-before div 512. The deterministic distributed spelling of the
    * packer every LLM data pipeline runs; one window pass partitioned on
    * lang (the shard key — packing is per-shard in production, which is
    * exactly what makes it parallelizable at 100 TB). */
  private def textPackSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_toks"))
      .withColumn("cum_before",
        coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .withColumn("bin", expr("cum_before div 512"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_toks"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "bin")
  }

  private val oTextPackSequences =
    """WITH t AS (SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_toks FROM documents),
      |  c AS (SELECT doc_id, lang, n_toks,
      |    coalesce(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM t),
      |  b AS (SELECT doc_id, lang, n_toks,
      |    CAST(cum_before // 512 AS BIGINT) AS bin FROM c)
      |SELECT lang, bin, count(*) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS bin_toks,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin

  /** Class rebalancing — cap each language at 40 docs via deterministic
    * hash-ranked downsampling (md5 order = reproducible "random" without
    * RNG state, the same idiom as sample_stratified_hash). Emits the
    * per-class before/after so the rebalance is auditable. One window
    * partitioned on the class key; at 100 TB the cap makes the retained
    * set small by construction. */
  private def sampleRebalanceCap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = 40
    val rk = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast(StringType).cast(BinaryType)), col("doc_id"))
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rnk", row_number().over(rk))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rnk") <= cap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rnk") <= cap, col("n_chars"))).as("kept_chars"))
      .orderBy("lang")
  }

  private val oSampleRebalanceCap =
    """WITH r AS (SELECT doc_id, lang, n_chars, row_number() OVER (
      |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM documents)
      |SELECT lang, count(*) AS n_total,
      |  CAST(sum(CASE WHEN rnk <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rnk <= 40 THEN n_chars END) AS BIGINT) AS kept_chars
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  // ---- PageRank over the near-dup graph ----

  /** Document centrality over the verified near-dup pair graph
    * (PageRank, 5 fixed iterations, damping 0.85): which docs sit in the
    * middle of a duplication neighborhood — the ranking signal a dedup
    * pipeline uses to pick the canonical representative by importance
    * rather than min-id. Consumes the same memoized pair table as
    * dedup_cc_cluster; DuckDB replays all 5 iterations via the unrolled
    * CTE chain, so the iterative computation itself is hash-verified. */
  private def graphPagerankDocs(s: SparkSession, d: String): DataFrame =
    PageRank.ranks(QText.lshPairsPersisted(s, d)
        .select(col("a_id").as("src"), col("b_id").as("dst")))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val oGraphPagerankDocs = {
    val oPairs = QText.oracles("dedup_lsh_pairs")
    s"""WITH pairs AS (SELECT a_id, b_id FROM ($oPairs)),
       |  e AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |        UNION ALL SELECT b_id, a_id FROM pairs),
       |  ${PageRank.oRankChain}
       |  fin AS (SELECT p.id AS doc_id, deg.deg, p.pr
       |          FROM p${PageRank.iters} p JOIN deg ON deg.src = p.id)
       |SELECT doc_id, deg, pr FROM fin ORDER BY doc_id""".stripMargin
  }

  // ---- CDC merge (upsert + delete semantics) ----

  /** Full MERGE semantics over a change feed — the third member of the
    * upsert family (latest-wins compaction = `upsert_latest`, versioned
    * history = `upsert_scd2`, and here: inserts + updates + DELETES in one
    * pass). The change feed is derived deterministically from orders:
    * each customer's LATEST order (by date, orderkey tiebreak) is one
    * change row; status 'F' → delete the customer, else upsert the
    * balance to that order's price. Customers with no changes pass
    * through; changes for unknown keys insert. One window partitioned on
    * the uniform custkey + one full-outer join on the same key — no
    * row-at-a-time apply loop, which is the whole point of running CDC
    * merges on an engine at 100 TB. */
  private def upsertCdcMerge(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val changes = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("key"),
        when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U")).as("op"),
        col("o_totalprice").as("new_bal"))
    val base = t(s, d, "customer")
      .select(col("c_custkey").as("key"), col("c_mktsegment"), col("c_acctbal"))
    base.join(changes, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        coalesce(col("c_mktsegment"), lit("NEW")).as("segment"),
        coalesce(col("new_bal"), col("c_acctbal")).as("balance"),
        coalesce(col("op"), lit("K")).as("op_applied"))
      .orderBy("key")
  }

  private val oUpsertCdcMerge =
    """WITH ch AS (SELECT o_custkey AS key,
      |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
      |    o_totalprice AS new_bal
      |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      |  WHERE rn = 1),
      |  b AS (SELECT c_custkey AS key, c_mktsegment, c_acctbal FROM customer)
      |SELECT coalesce(b.key, ch.key) AS key,
      |  coalesce(c_mktsegment, 'NEW') AS segment,
      |  coalesce(new_bal, c_acctbal) AS balance,
      |  coalesce(op, 'K') AS op_applied
      |FROM b FULL OUTER JOIN ch ON b.key = ch.key
      |WHERE op IS NULL OR op <> 'D'
      |ORDER BY key""".stripMargin

  // ---- compression-codec roundtrip ----

  /** Storage-codec surface: write orders' hot columns as ZSTD parquet
    * (the cold-data codec a 100 TB lake standardizes on — ~2× smaller
    * than snappy at similar scan cost), read back, aggregate. The oracle
    * aggregates the original parquet, so any codec-path corruption breaks
    * the hash; staged once per sfDir like the CSV/JSON/ORC roundtrips. */
  private def scanZstdRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = QRound3.staged(s, d, "zstd") { dir =>
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").option("compression", "zstd").parquet(dir)
    }
    s.read.parquet(dir)
      .groupBy((col("o_orderkey") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum4(col("o_totalprice")).as("sum_price"),
        max(col("o_custkey")).as("max_cust"))
      .orderBy("bucket")
  }

  private val oScanZstdRoundtrip =
    s"""SELECT o_orderkey % 10 AS bucket, count(*) AS n,
       |  ${oSum4("o_totalprice")} AS sum_price,
       |  max(o_custkey) AS max_cust
       |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---- dynamic partition pruning (runtime pruning via a join) ----

  /** Dynamic partition pruning: the month-partitioned orders fact joined
    * against a runtime-computed dimension — "months busier than the
    * average month" (count above the mean) — a predicate NO static
    * optimizer can fold, so the partition list is only known after the
    * dim side runs. Spark injects a dynamicpruningexpression on the
    * fact's partition column (Round5Spec-gated): the fact scan lists and
    * reads ONLY the qualifying month directories. This is the second half
    * of the pruning story next to `scan_partition_prune`'s static
    * IN-list — at 100 TB it's what keeps "join facts to a filtered dim"
    * from scanning the lake. Oracle: same dim + join over the
    * unpartitioned truth. */
  private def joinDppPrune(s: SparkSession, d: String): DataFrame = {
    val dir = QRound3.staged(s, d, "pmonth") { dir =>
      t(s, d, "orders")
        .withColumn("o_month", month(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_month").parquet(dir)
    }
    val fact = s.read.parquet(dir)
    // localCheckpoint: the 12-row month aggregate feeds BOTH the driver
    // threshold and the join's dim side — without it the full orders
    // scan+aggregate runs twice (review finding)
    val byMonth = t(s, d, "orders")
      .groupBy(month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_month"))
      .localCheckpoint()
    // threshold resolved driver-side (one ≤12-row aggregate — the same
    // two-pass breakpoint pattern as the decile histogram): Spark's
    // PartitionPruning rule only fires on a LIKELY-SELECTIVE dim filter,
    // i.e. attribute-vs-literal — an attribute-vs-attribute compare
    // against a crossed-in aggregate doesn't qualify
    val avgN = byMonth.agg(avg(col("n_month"))).head.getDouble(0)
    val busy = byMonth.filter(col("n_month") > lit(avgN))
    fact.join(broadcast(busy), "o_month")
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"), sum4(col("o_totalprice")).as("sum_price"),
        first(col("n_month")).as("n_month"))
      .orderBy("o_month")
  }

  private val oJoinDppPrune =
    s"""WITH m AS (SELECT CAST(month(o_orderdate) AS INT) AS o_month,
       |    count(*) AS n_month FROM orders GROUP BY 1),
       |  a AS (SELECT avg(n_month) AS avg_n FROM m),
       |  busy AS (SELECT o_month, n_month FROM m, a WHERE n_month > avg_n)
       |SELECT busy.o_month, count(*) AS n,
       |  ${oSum4("o_totalprice")} AS sum_price,
       |  CAST(min(n_month) AS BIGINT) AS n_month
       |FROM orders JOIN busy ON CAST(month(o_orderdate) AS INT) = busy.o_month
       |GROUP BY busy.o_month ORDER BY o_month""".stripMargin

  // ---- user segmentation (k-means clustering over behavior mix) ----

  /** MLlib-style user segmentation as an ORACLE-CHECKED query: seeded
    * deterministic k-means (AnnKMeans — no RNG, scaled-long centroid
    * sums) over each user's raw behavior-mix vector [events, clicks,
    * purchases, value]. Cosine assignment groups users by activity
    * COMPOSITION, not volume (cosine is per-vector scale-invariant) —
    * the classic segmentation framing. k=4 segments, 2 Lloyd rounds;
    * output = per-segment population + mean activity profile. Scale
    * shape identical to sim_ann_kmeans: centroids are KB model state
    * broadcast per round, the corpus only ever scans. */
  private def chpUserSegments(s: SparkSession, d: String): DataFrame = {
    val f = QPipeline.queries("chp_features_label")(s, d)
    val e = f.select(col("user_id").as("vec_id"),
      array(col("n_events").cast(DoubleType), col("n_clicks").cast(DoubleType),
        col("n_purchases").cast(DoubleType), col("total_value")).as("v"))
    val cent = AnnKMeans.centroids(e, 4, 2)
    AnnKMeans.assign(e, cent)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_users"),
        avg4(element_at(col("v"), 1)).as("avg_events"),
        avg4(element_at(col("v"), 3)).as("avg_purchases"),
        avg4(element_at(col("v"), 4)).as("avg_value"))
      .orderBy("cell")
  }

  private val oChpUserSegments = {
    val fl = QPipeline.oracles("chp_features_label")
    s"""WITH f AS ($fl),
       |  e AS (SELECT user_id AS vec_id,
       |    [CAST(n_events AS DOUBLE), CAST(n_clicks AS DOUBLE),
       |     CAST(n_purchases AS DOUBLE), total_value] AS v FROM f),
       |${AnnKMeans.oCentroidChain(4, 2, 4)}
       |assigned AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
       |  FROM e, c2 c) WHERE r = 1)
       |SELECT cell, count(*) AS n_users,
       |  ${oAvg4("v[1]")} AS avg_events,
       |  ${oAvg4("v[3]")} AS avg_purchases,
       |  ${oAvg4("v[4]")} AS avg_value
       |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin
  }

  // ---- time-series resample (OHLC) ----

  /** Time-series downsampling to open/high/low/close bars per (user,
    * hour) — the classic resample a metrics/feature pipeline runs, and
    * the aggregation twin of ts_fill_forward's gap fill. Open/close pick
    * the first/last value by (ts, event_id) — the unique tiebreak that
    * makes OHLC deterministic (bare min_by/arg_min on ts alone would be
    * tie-broken arbitrarily in both engines). One window pass partitioned
    * on the uniform (user, hour) key + one aggregate. */
  private def tsResampleOhlc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "hr").orderBy("ts", "event_id")
    val wd = Window.partitionBy("user_id", "hr")
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, d, "events")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("rn_f", row_number().over(w))
      .withColumn("rn_l", row_number().over(wd))
      .groupBy("user_id", "hr")
      .agg(count(lit(1)).as("n"),
        sum(when(col("rn_f") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        sum(when(col("rn_l") === 1, col("value"))).as("close"))
      .orderBy("user_id", "hr")
  }

  private val oTsResampleOhlc =
    """WITH e AS (SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
      |    ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rn_f,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn_l
      |  FROM events)
      |SELECT user_id, hr, count(*) AS n,
      |  sum(CASE WHEN rn_f = 1 THEN value END) AS open,
      |  max(value) AS high, min(value) AS low,
      |  sum(CASE WHEN rn_l = 1 THEN value END) AS close
      |FROM e GROUP BY user_id, hr ORDER BY user_id, hr""".stripMargin

  // ---- cumulative distribution window ----

  /** cume_dist per customer over order value — the last untouched rank
    * family member (rank/dense/percent_rank/ntile/row_number are §2.5).
    * cume_dist = rows-at-or-below / partition size: an integer ratio in
    * double, identical in both engines; trunc4 belt-and-braces. Window
    * PARTITIONED on the uniform custkey. */
  private def winCumeDist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("cd", trunc4(cume_dist().over(w)))
      .select("o_custkey", "o_orderkey", "cd")
      .orderBy("o_custkey", "o_orderkey")
  }

  private val oWinCumeDist =
    s"""SELECT o_custkey, o_orderkey,
       |  ${oTrunc4("cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_totalprice)")} AS cd
       |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- correlated scalar subquery (decorrelation) ----

  /** Correlated scalar subqueries — the optimizer surface nothing else
    * exercises: "orders 1.5× above their customer's average", written
    * with TWO correlated aggregating subqueries that Catalyst must
    * decorrelate into aggregate+join (the plan shows no per-row
    * re-execution — at 100 TB a naive correlated loop is unrunnable).
    * The comparison is spelled in EXACT decimal cross-multiplied form
    * (2·price·n > 3·Σprice), so no double rounding can flip a boundary
    * row in either engine. */
  private def sqlScalarSubquery(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM g_orders o
        |WHERE 2 * CAST(o_totalprice AS DECIMAL(18,4)) *
        |    (SELECT count(*) FROM g_orders o2
        |     WHERE o2.o_custkey = o.o_custkey)
        |  > 3 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |         FROM g_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)("g_orders" -> t(s, d, "orders"))
  }

  private val oSqlScalarSubquery =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE 2 * CAST(o_totalprice AS DECIMAL(18,4)) *
      |    (SELECT count(*) FROM orders o2
      |     WHERE o2.o_custkey = o.o_custkey)
      |  > 3 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4)))
      |         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---- safe casting / try-function surface ----

  /** The dirty-data surface a 100 TB ingest lives on: try_cast over a
    * mixed numeric/text column, try_divide with planted zero
    * denominators, try_element_at past the end of an array — every
    * failure becomes NULL instead of a task abort (one bad row cannot
    * kill a thousand-executor job). DuckDB twins: try_cast natively, a
    * CASE guard for divide (no try_divide there), native NULL on
    * out-of-range list index. */
  private def fnTrySafe(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(col("p_partkey"),
        when(col("p_size") % 3 === 0, col("p_size").cast(StringType))
          .otherwise(col("p_name")).as("mixed"),
        col("p_retailprice"), col("p_size"), col("p_name"))
      .select(col("p_partkey"),
        expr("try_cast(mixed AS INT)").as("as_int"),
        trunc4(expr("try_divide(p_retailprice, p_size - 5)")).as("ratio"),
        expr("try_element_at(split(p_name, ' '), 5)").as("word5"))
      .orderBy("p_partkey")

  private val oFnTrySafe =
    s"""WITH m AS (SELECT p_partkey,
       |    CASE WHEN p_size % 3 = 0 THEN CAST(p_size AS VARCHAR)
       |         ELSE p_name END AS mixed,
       |    p_retailprice, p_size, p_name FROM part)
       |SELECT p_partkey,
       |  try_cast(mixed AS INT) AS as_int,
       |  ${oTrunc4("CASE WHEN p_size - 5 = 0 THEN NULL " +
                    "ELSE p_retailprice / (p_size - 5) END")} AS ratio,
       |  string_split(p_name, ' ')[5] AS word5
       |FROM m ORDER BY p_partkey""".stripMargin

  // ---- SQL-text entry point ----

  /** The SQL-TEXT entry point as a declared key (every other key builds
    * plans through the DataFrame DSL): a TPC-H Q3-shaped join+agg+top-k
    * submitted as text via `spark.sql` over registered temp views.
    * Catalyst parses and optimizes the text into exactly the same plan
    * family as the DSL — pushdown, broadcast, TakeOrdered all apply; the
    * revenue aggregate uses the same decimal spelling as agg_group_q1 so
    * the hash is engine-stable. Oracle: the near-identical ANSI text. */
  private def sqlTextTpchQ3(s: SparkSession, d: String): DataFrame = {
    // g_revsum4u: the 128-bit integer spelling of the decimal revenue
    // sum (bit-identical values — Tables.sqlIntSums). The SQL-text
    // surface (parse, joins, pushdown, TakeOrdered) is the point of this
    // key and is unchanged; the filter is selective so the per-group
    // Decimal128 rebuild is cheap next to the 6M-row probe side it
    // replaced decimal math on.
    SqlText.on(s,
      """SELECT l_orderkey,
        |  CAST(g_revsum4u(l_extendedprice, l_discount) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM g_customer JOIN g_orders ON c_custkey = o_custkey
        |  JOIN g_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)(
      "g_customer" -> t(s, d, "customer"), "g_orders" -> t(s, d, "orders"),
      "g_lineitem" -> t(s, d, "lineitem"))
  }

  private val oSqlTextTpchQ3 =
    s"""SELECT l_orderkey,
       |  CAST(SUM($oRevenue) AS DOUBLE) AS revenue,
       |  o_orderdate, o_orderpriority
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |  JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  // ---- serving-side point lookup ----

  /** MorphL's serving surface (§3.1 entry point 3 — the one lifecycle
    * stage with no analogue until now): the scored-user table laid out for
    * key reads — bucketed AND sorted by user_id — then a point lookup of a
    * handful of ids. Bucket pruning turns the read into the matching
    * bucket files only (`SelectedBucketsCount` in the scan,
    * Round5Spec-gated); within a bucket the sorted layout gives parquet
    * row-group stat skipping. This is the batch-engine twin of the
    * reference's key-indexed serving reads: at 100 TB a point read must
    * touch O(ids) buckets, never the table. */
  /** The memoized bucketed score store — the "online" serving table the
    * point-lookup and mget keys both read (built once per session/sfDir). */
  private[graft] def serveTablePersisted(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "servetbl", d) {
      val n = bktCounter.incrementAndGet()
      val dir = newBktDir("graft_serve_")
      val name = s"graft_scores_b$n"
      QPipeline.queries("chp_score_linear")(s, d)
        .write.mode("overwrite").option("path", s"$dir/t")
        .bucketBy(8, "user_id").sortBy("user_id").saveAsTable(name)
      s.table(name)
    }

  private def servePointLookup(s: SparkSession, d: String): DataFrame =
    serveTablePersisted(s, d).filter(col("user_id").isin(3, 7, 11))
      .orderBy("user_id")

  private val oServePointLookup = {
    val scored = QPipeline.oracles("chp_score_linear")
    s"""SELECT * FROM ($scored) WHERE user_id IN (3, 7, 11)
       |ORDER BY user_id""".stripMargin
  }

  // ---- trained churn model ----

  /** Train + evaluate the churn classifier (ChurnModel): one row with
    * split sizes, AUC, the 0.5-threshold confusion matrix, and the fitted
    * coefficients. No oracle (training is not SQL-expressible) — gated by
    * Round5Spec: two runs bit-identical (the spec drives
    * ChurnModel.trainEval directly so the gate re-runs the REAL fit), the
    * fit checked against MLlib's LogisticRegression as the reference,
    * AUC within (0.5, 1], confusion counts conserve n_test; HarnessSpec
    * gates identical rows at 1 and 32 shuffle partitions.
    *
    * Result memoized per (session, sfDir): the fitted model row is
    * per-corpus MODEL STATE — the katzscores/stressscores result-reuse
    * discipline (VERDICT r12/r13-blessed). The build still runs under each
    * shuffle-partition setting (Memo keys on it); the fixed-point fit
    * makes the row bit-identical under every setting. */
  private def chpTrainAuc(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "chptrainauc", d)(ChurnModel.trainEval(s, d))

  /** Regularization sweep over the same deterministic split (see
    * ChurnModel.sweep) — no oracle (training ≠ SQL); Round5Spec gates
    * determinism (driving ChurnModel.sweep directly), per-row AUC bounds,
    * and the shrinkage invariant (coefficient L2 norm strictly decreases
    * as regParam grows). Result memoized per (session, sfDir) — the same
    * model-state discipline as chp_train_auc; the two keys additionally
    * share ONE materialized fold table (ChurnModel.folds). */
  private def chpTrainCv(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "chptraincv", d)(ChurnModel.sweep(s, d))

  /** Batch scoring of the DEPLOYED model: the coefficients below were
    * fitted by `chp_train_auc` at sf0.01 (the verify scale) and frozen —
    * the train-once / score-many lifecycle of a production model. The
    * operating point is the positive base rate (p = 0.1 — standard for
    * imbalanced churn; 0.5 predicts all-negative here), and thresholding
    * the sigmoid at p is identical to thresholding the margin at
    * ln(p/(1-p)), so scoring stays pure arithmetic (no transcendental in
    * either engine) and DuckDB reproduces the confusion matrix exactly.
    * One shuffle (the feature aggregate), then a 4-row aggregate. */
  private def chpModelConfusion(s: SparkSession, d: String): DataFrame = {
    val f = QPipeline.queries("chp_features_label")(s, d)
    val margin = lit(Frozen.intercept) +
      lit(Frozen.wEvents) * col("n_events") +
      lit(Frozen.wClicks) * col("n_clicks") +
      lit(Frozen.wPurchases) * col("n_purchases") +
      lit(Frozen.wValue) * col("total_value")
    f.select(
        // the model's label horizon (ChurnModel.label1d): 1 day, not the
        // degenerate-on-this-corpus 7-day churn_label
        (col("days_inactive") >= 1).cast(IntegerType).as("true_label"),
        margin.as("z"))
      .select(col("true_label"),
        (col("z") > lit(Frozen.threshold)).cast(IntegerType).as("pred_label"))
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("true_label", "pred_label")
  }

  /** Frozen deployed weights — the output row of chp_train_auc at sf0.01
    * (the verify scale), truncated to 6 dp: the exact values the declared
    * training query emits, re-derivable by running it. */
  private object Frozen {
    val wEvents    = 0.035546
    val wClicks    = -0.202035
    val wPurchases = -0.112347
    val wValue     = -0.000034
    val intercept  = -0.509843
    /** Margin threshold for the p = 0.1 operating point:
      * trunc6(ln(0.1/0.9)) — frozen as a literal so neither engine
      * evaluates a transcendental at query time. */
    val threshold  = -2.197225
  }

  private def sci(x: Double): String = {
    // oracle literal rule (SURVEY App. A): fractional literals must be
    // written in scientific notation so DuckDB binds them as DOUBLE, not
    // DECIMAL — mixed decimal/double arithmetic drifts one ulp
    val s = java.lang.Double.toString(x)
    if (s.contains("E") || s.contains("e")) s.replace("E", "e") else s + "e0"
  }

  private val oChpModelConfusion = {
    val fl = QPipeline.oracles("chp_features_label")
    s"""WITH f AS ($fl),
       |  sc AS (SELECT CAST(days_inactive >= 1 AS INT) AS true_label,
       |    CAST((${sci(Frozen.intercept)}
       |      + ${sci(Frozen.wEvents)} * n_events
       |      + ${sci(Frozen.wClicks)} * n_clicks
       |      + ${sci(Frozen.wPurchases)} * n_purchases
       |      + ${sci(Frozen.wValue)} * total_value) > ${sci(Frozen.threshold)} AS INT) AS pred_label
       |  FROM f)
       |SELECT true_label, pred_label, count(*) AS n_users
       |FROM sc GROUP BY 1, 2 ORDER BY true_label, pred_label""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "scan_partition_prune"  -> scanPartitionPrune _,
    "scan_zstd_roundtrip"   -> scanZstdRoundtrip _,
    "upsert_cdc_merge"      -> upsertCdcMerge _,
    "text_chunk_windows"    -> textChunkWindows _,
    "text_normalize_canon"  -> textNormalizeCanon _,
    "text_pack_sequences"   -> textPackSequences _,
    "sample_rebalance_cap"  -> sampleRebalanceCap _,
    "graph_pagerank_docs"   -> graphPagerankDocs _,
    "sql_text_tpch_q3"      -> sqlTextTpchQ3 _,
    "sql_scalar_subquery"   -> sqlScalarSubquery _,
    "win_cume_dist"         -> winCumeDist _,
    "ts_resample_ohlc"      -> tsResampleOhlc _,
    "fn_try_safe"           -> fnTrySafe _,
    "join_dpp_prune"        -> joinDppPrune _,
    "join_bucket_colocated" -> joinBucketColocated _,
    "serve_point_lookup"    -> servePointLookup _,
    "chp_train_auc"         -> chpTrainAuc _,
    "chp_train_cv"          -> chpTrainCv _,
    "chp_user_segments"     -> chpUserSegments _,
    "chp_model_confusion"   -> chpModelConfusion _)

  val oracles: Map[String, String] = Map(
    "scan_partition_prune"  -> oScanPartitionPrune,
    "scan_zstd_roundtrip"   -> oScanZstdRoundtrip,
    "upsert_cdc_merge"      -> oUpsertCdcMerge,
    "text_chunk_windows"    -> oTextChunkWindows,
    "text_normalize_canon"  -> oTextNormalizeCanon,
    "text_pack_sequences"   -> oTextPackSequences,
    "sample_rebalance_cap"  -> oSampleRebalanceCap,
    "graph_pagerank_docs"   -> oGraphPagerankDocs,
    "sql_text_tpch_q3"      -> oSqlTextTpchQ3,
    "sql_scalar_subquery"   -> oSqlScalarSubquery,
    "win_cume_dist"         -> oWinCumeDist,
    "ts_resample_ohlc"      -> oTsResampleOhlc,
    "fn_try_safe"           -> oFnTrySafe,
    "join_dpp_prune"        -> oJoinDppPrune,
    "join_bucket_colocated" -> oJoinBucketColocated,
    "serve_point_lookup"    -> oServePointLookup,
    "chp_user_segments"     -> oChpUserSegments,
    "chp_model_confusion"   -> oChpModelConfusion)
}
