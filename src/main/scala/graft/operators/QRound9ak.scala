package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 36 (SURVEY §2.28):
  *
  *  - `maint_skip_effectiveness`: quantify min/max file-skipping under a
  *    round-robin ingest layout vs the z-ordered layout for a probe
  *    predicate set — the number a lake engine's OPTIMIZE report prints.
  *  - `chp_feature_cross_ctr`: hashed feature crosses (hour×weekday)
  *    with per-cross conversion rates — the feature-engineering staple
  *    behind every wide-and-deep CTR model.
  *  - `sql_inline_values`: a VALUES inline table joined as a dimension
  *    (event-type weights) — the parser surface both dialects share.
  */
object QRound9ak extends QueryPack {

  // ---- maint_skip_effectiveness ----

  private val skipFiles = 32
  private val skipProbes = Seq(10L, 50L, 100L, 150L, 199L)

  /** File-skipping effectiveness: simulate 32 files under (a) round-robin
    * ingest (l_orderkey % 32 — every file spans the full key range) and
    * (b) z-order layout (files split at zval quantile breakpoints taken
    * over a deterministic 1/64 orderkey sample — EXACTLY how production range
    * partitioning picks boundaries: repartitionByRange samples, it never
    * sorts the table to find exact quantiles; never a global
    * row_number); per probe point on l_partkey, count files whose
    * [min,max] bbox survives pruning. The z layout should prune ~an
    * order of magnitude harder — this key PROVES it cross-engine.
    * (First spelling used exact `percentile` over the full table: 5.8 s
    * of the key's 6.9 s warm was that one sort-based aggregate. The
    * ~1/64 sample is the production discipline AND 10× cheaper.)
    *
    * Scale shape: breakpoints come from a bounded sampled percentile
    * aggregate broadcast back; per-file bboxes are two partial-
    * aggregable passes on bounded (≤32-value) file keys; the probe
    * join is 5×32 broadcast. */
  private[graft] def skipEffectiveness(lineitem: DataFrame): DataFrame = {
    val withZ = lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        QRound5c.zval(col("l_partkey"), col("l_suppkey")).as("zval"))
    val pcts = (1 until skipFiles).map(i => i.toDouble / skipFiles)
    val bp = withZ
      .filter(col("l_orderkey") % 64 === 0)
      .agg(expr(s"percentile(zval, array(${pcts.mkString(", ")}))").as("bp"))
    // 31 doubles of bounded model state: COLLECT and bake into the plan
    // as a codegen'd CASE chain (the graph_hits collect-as-model-state
    // discipline). The first spelling evaluated an interpreted
    // `aggregate` HOF per row — 4.3 s of the key's warm time; the CASE
    // chain is pure whole-stage codegen.
    val bpVals = bp.collect()(0).getSeq[Double](0)
    val fzCase = bpVals.tail.zipWithIndex.foldLeft(
      when(col("zval") <= bpVals.head, 0L)) { case (acc, (b, i)) =>
      acc.when(col("zval") <= b, (i + 1).toLong)
    }.otherwise(bpVals.length.toLong)
    val filed = withZ
      .select(col("l_partkey"),
        (col("l_orderkey") % skipFiles).as("f_nat"),
        fzCase.as("f_z"))
    // ONE scan builds both layouts' bboxes (stack-unpivot then a 64-key
    // aggregate); the 64-row result is checkpointed so the probe joins
    // don't re-run the scan+HOF per branch (first spelling re-evaluated
    // the full pass 4x — 6.6 s warm; this one is one pass, ~1 s).
    val boxes = filed
      .selectExpr("stack(2, 'nat', f_nat, 'z', f_z) AS (layout, f)",
        "l_partkey")
      .groupBy("layout", "f")
      .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"))
      .localCheckpoint()
    val natB = boxes.filter(col("layout") === "nat")
      .select(col("f"), col("lo").as("lo_nat"), col("hi").as("hi_nat"))
    val zB = boxes.filter(col("layout") === "z")
      .select(col("f"), col("lo").as("lo_z"), col("hi").as("hi_z"))
    import natB.sparkSession.implicits._
    val probeDf = skipProbes.toDF("probe")
    val natHits = probeDf.join(broadcast(natB),
        col("probe") >= col("lo_nat") && col("probe") <= col("hi_nat"))
      .groupBy("probe").agg(count(lit(1)).as("files_nat"))
    val zHits = probeDf.join(broadcast(zB),
        col("probe") >= col("lo_z") && col("probe") <= col("hi_z"))
      .groupBy("probe").agg(count(lit(1)).as("files_z"))
    probeDf.join(natHits, Seq("probe"), "left_outer")
      .join(zHits, Seq("probe"), "left_outer")
      .select(col("probe"),
        coalesce(col("files_nat"), lit(0L)).as("files_nat"),
        coalesce(col("files_z"), lit(0L)).as("files_z"),
        trunc4(lit(1.0) - coalesce(col("files_nat"), lit(0L))
          .cast(DoubleType) / lit(skipFiles.toDouble)).as("skip_nat"),
        trunc4(lit(1.0) - coalesce(col("files_z"), lit(0L))
          .cast(DoubleType) / lit(skipFiles.toDouble)).as("skip_z"))
      .orderBy("probe")
  }

  private def maintSkipEffectiveness(s: SparkSession, d: String): DataFrame =
    skipEffectiveness(t(s, d, "lineitem"))

  private val oMaintSkipEffectiveness = {
    val z = QRound5c.zvalSql("l_partkey", "l_suppkey")
    val pcts = (1 until skipFiles).map(i =>
      s"${i}e0 / $skipFiles").mkString(", ")
    s"""WITH wz AS (SELECT l_orderkey, l_partkey, $z AS zval FROM lineitem),
       |bp AS (SELECT quantile_cont(zval, [$pcts]) AS bp FROM wz
       |  WHERE l_orderkey % 64 = 0),
       |filed AS (SELECT l_partkey, l_orderkey % $skipFiles AS f_nat,
       |    list_sum(list_transform(bp, b -> CASE WHEN zval > b
       |      THEN 1 ELSE 0 END)) AS f_z
       |  FROM wz, bp),
       |natb AS (SELECT f_nat AS f, min(l_partkey) AS lo, max(l_partkey) AS hi
       |  FROM filed GROUP BY 1),
       |zb AS (SELECT f_z AS f, min(l_partkey) AS lo, max(l_partkey) AS hi
       |  FROM filed GROUP BY 1),
       |pr AS (SELECT CAST(unnest([${skipProbes.mkString(", ")}]) AS BIGINT) AS probe),
       |nh AS (SELECT probe, CAST(count(*) AS BIGINT) AS files_nat
       |  FROM pr JOIN natb ON probe >= lo AND probe <= hi GROUP BY 1),
       |zh AS (SELECT probe, CAST(count(*) AS BIGINT) AS files_z
       |  FROM pr JOIN zb ON probe >= lo AND probe <= hi GROUP BY 1)
       |SELECT pr.probe, coalesce(nh.files_nat, CAST(0 AS BIGINT)) AS files_nat,
       |  coalesce(zh.files_z, CAST(0 AS BIGINT)) AS files_z,
       |  ${oTrunc4(s"1e0 - CAST(coalesce(nh.files_nat, 0) AS DOUBLE) / $skipFiles")} AS skip_nat,
       |  ${oTrunc4(s"1e0 - CAST(coalesce(zh.files_z, 0) AS DOUBLE) / $skipFiles")} AS skip_z
       |FROM pr LEFT JOIN nh ON pr.probe = nh.probe
       |  LEFT JOIN zh ON pr.probe = zh.probe
       |ORDER BY pr.probe""".stripMargin
  }

  // ---- chp_feature_cross_ctr ----

  /** Hashed feature crosses: (hour-of-day × weekday) cells with event
    * volume, purchase conversion rate, and the hashed 64-bucket feature
    * id the downstream model actually consumes (md5-hash of the cross
    * key — the portable hashing-trick spelling).
    *
    * Scale shape: one events pass into a ≤168-cell aggregate;
    * everything partial-aggregates map-side. */
  private[graft] def featureCrossCtr(events: DataFrame): DataFrame =
    events
      .select(hour(col("ts")).cast(LongType).as("hod"),
        dayofweek(col("ts")).cast(LongType).as("dow"),
        (col("event_type") === "purchase").cast(LongType).as("is_p"))
      .groupBy("hod", "dow")
      .agg(count(lit(1)).as("n"), sum("is_p").as("n_purchase"))
      .select(col("hod"), col("dow"),
        (md5Prefix(concat_ws("x", col("hod"), col("dow")), 13)
          .cast(LongType) % 64).as("bucket"),
        col("n"), col("n_purchase"),
        trunc4(col("n_purchase").cast(DoubleType) / col("n").cast(DoubleType))
          .as("cvr"))
      .orderBy("hod", "dow")

  private def chpFeatureCrossCtr(s: SparkSession, d: String): DataFrame =
    featureCrossCtr(t(s, d, "events"))

  private val oChpFeatureCrossCtr =
    s"""WITH e AS (SELECT CAST(hour(ts) AS BIGINT) AS hod,
       |    CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
       |  FROM events),
       |g AS (SELECT hod, dow, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(is_p) AS BIGINT) AS n_purchase
       |  FROM e GROUP BY 1, 2)
       |SELECT hod, dow,
       |  ${oMd5Prefix("CAST(hod AS VARCHAR) || 'x' || CAST(dow AS VARCHAR)", 13)} % 64 AS bucket,
       |  n, n_purchase,
       |  ${oTrunc4("CAST(n_purchase AS DOUBLE) / n")} AS cvr
       |FROM g ORDER BY hod, dow""".stripMargin

  // ---- sql_inline_values ----

  /** A VALUES inline table as a dimension: event-type weights declared
    * in-query (the enum-mapping idiom), weighted event mass per type —
    * literal SQL through both parsers.
    *
    * Scale shape: the VALUES relation is a 5-row local table — Catalyst
    * folds it into a broadcast; the fact side aggregates first (the
    * weight join happens on the 5-row rollup, not the raw events). */
  private[graft] def inlineValues(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s, """
      WITH w(event_type, wt) AS (VALUES
        ('view', 1L), ('click', 3L), ('signup', 10L),
        ('purchase', 25L), ('error', 0L)),
      g AS (SELECT event_type, count(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS mass
        FROM events_iv GROUP BY event_type)
      SELECT g.event_type, g.n, w.wt, g.n * w.wt AS weighted_n,
        floor(g.mass * w.wt * 1e4) / 1e4 AS weighted_mass
      FROM g JOIN w ON g.event_type = w.event_type
      ORDER BY g.event_type""")("events_iv" -> t(s, d, "events"))
  }

  private val oSqlInlineValues =
    """WITH w(event_type, wt) AS (VALUES
      |  ('view', CAST(1 AS BIGINT)), ('click', 3), ('signup', 10),
      |  ('purchase', 25), ('error', 0)),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS mass
      |  FROM events GROUP BY event_type)
      |SELECT g.event_type, g.n, w.wt, g.n * w.wt AS weighted_n,
      |  floor(g.mass * w.wt * 1e4) / 1e4 AS weighted_mass
      |FROM g JOIN w ON g.event_type = w.event_type
      |ORDER BY g.event_type""".stripMargin

  val queries: Map[String, QFn] = Map(
    "maint_skip_effectiveness" -> maintSkipEffectiveness _,
    "chp_feature_cross_ctr"    -> chpFeatureCrossCtr _,
    "sql_inline_values"        -> (inlineValues _))

  val oracles: Map[String, String] = Map(
    "maint_skip_effectiveness" -> oMaintSkipEffectiveness,
    "chp_feature_cross_ctr"    -> oChpFeatureCrossCtr,
    "sql_inline_values"        -> oSqlInlineValues)
}
