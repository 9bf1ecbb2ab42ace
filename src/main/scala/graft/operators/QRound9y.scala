package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 24 (SURVEY §2.28):
  *
  *  - `ts_holt_linear`: Holt double-exponential (level+trend) smoothing
  *    per event-type daily series, as an EXACT integer recursion — the
  *    one-step-ahead forecaster beside the EWMA smoother.
  *  - `ts_bollinger_bands`: trailing-7 rolling mean ± 2σ envelope with
  *    an EXACT integer outside-band test — the volatility-envelope
  *    anomaly flag beside the z-score detector.
  *  - `graph_walk_corpus`: deterministic hash-driven random-walk corpus
  *    over the kNN graph (the DeepWalk/node2vec sampling stage) — walk
  *    sequences ARE training data for graph embeddings.
  */
object QRound9y extends QueryPack {

  // ---- ts_holt_linear ----

  /** Holt's linear-trend smoothing with α = β = 1/2 over each
    * event-type's daily-count series (observation-indexed), carried as
    * 1e6-scaled BIGINTs with truncating integer division at every step
    * (Scala `/` and DuckDB `//` agree on trunc-toward-zero), so the
    * whole recursion is engine-exact:
    *   l_t = (x_t·1e6 + l_{t−1} + b_{t−1}) / 2
    *   b_t = ((l_t − l_{t−1}) + b_{t−1}) / 2,  l_0 = x_0·1e6, b_0 = 0.
    * Emits the final level/trend and the one-step forecast l + b.
    *
    * Scale shape: the per-type daily series is the memoized `evdaily`
    * aggregate — a #types×#days BOUNDED table (the observation window is
    * fixed), so it collects as model state (the HITS/Markov discipline)
    * and the sequential recursion — which no partitioning can
    * parallelize anyway — runs driver-side in exact longs. The
    * recursive-CTE oracle replays it row by row. */
  private[graft] def holtLinear(daily: DataFrame): DataFrame = {
    val series = daily.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day_num"),
        r.getAs[Long]("cnt")))
      .groupBy(_._1)
    val out = series.toSeq.map { case (tpe, rows) =>
      val xs = rows.sortBy(_._2).map(_._3)
      var l = xs.head * 1000000L
      var b = 0L
      xs.tail.foreach { x =>
        val lNew = (x * 1000000L + l + b) / 2
        b = ((lNew - l) + b) / 2
        l = lNew
      }
      (tpe, xs.length.toLong, l, b, l + b)
    }.sortBy(_._1)
    val spark = daily.sparkSession
    import spark.implicits._
    out.toDF("event_type", "n_days", "level6", "trend6", "forecast6")
      .withColumn("forecast", trunc6(col("forecast6") / lit(1e6)))
  }

  private def tsHoltLinear(s: SparkSession, d: String): DataFrame =
    holtLinear(QRound9b.evDaily(s, d))

  /** The Holt-linear integer recursion as CTE text (`idx`/`n`/`rec`) over
    * a preceding `daily(event_type, day_num, cnt)` CTE — factored so the
    * `ts_holt_linear` and `ts_forecast_reconcile` oracles share ONE
    * spelling of the recursion instead of duplicating the 12-line block
    * (VERDICT r15 clone-sweep nit). */
  private[operators] val oHoltRecCtes: String =
    """idx AS MATERIALIZED (SELECT event_type, cnt, row_number() OVER (
      |    PARTITION BY event_type ORDER BY day_num) AS i FROM daily),
      |n AS (SELECT event_type, CAST(max(i) AS BIGINT) AS n_days
      |  FROM idx GROUP BY 1),
      |rec AS (
      |  SELECT event_type, i, cnt * 1000000 AS l, CAST(0 AS BIGINT) AS b
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT x.event_type, x.i,
      |    (x.cnt * 1000000 + r.l + r.b) // 2 AS l,
      |    (((x.cnt * 1000000 + r.l + r.b) // 2) - r.l + r.b) // 2 AS b
      |  FROM rec r JOIN idx x
      |    ON x.event_type = r.event_type AND x.i = r.i + 1)""".stripMargin

  private val oTsHoltLinear =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |$oHoltRecCtes,
       |fin AS (SELECT r.event_type, r.l, r.b FROM rec r
       |  JOIN n ON n.event_type = r.event_type AND r.i = n.n_days)
       |SELECT f.event_type, n.n_days, CAST(f.l AS BIGINT) AS level6,
       |  CAST(f.b AS BIGINT) AS trend6,
       |  CAST(f.l + f.b AS BIGINT) AS forecast6,
       |  ${oTrunc6("CAST(f.l + f.b AS DOUBLE) / 1e6")} AS forecast
       |FROM fin f JOIN n ON n.event_type = f.event_type
       |ORDER BY f.event_type""".stripMargin

  // ---- ts_bollinger_bands ----

  private val bbWin = 7

  /** Bollinger envelope per event-type daily series: trailing-7 rolling
    * mean ± 2σ (population), emitted only where the window is full. The
    * outside-band flag is the EXACT integer test
    * (n·x − Σx)² > 4·(n·Σx² − (Σx)²) — squaring both sides of
    * |x − m| > 2σ clears every division and root, so the flag can never
    * drift across engines; mean and σ are display-only trunc4 doubles
    * (sqrt is IEEE-correctly-rounded, identical both engines).
    *
    * Scale shape: shares the memoized `evdaily`; one per-type window
    * (never global) computes the three rolling sums in a single pass. */
  private[graft] def bollingerBands(daily: DataFrame): DataFrame = {
    val dd = DoubleType
    val w = Window.partitionBy("event_type").orderBy("day_num")
      .rowsBetween(-(bbWin - 1), 0)
    val n = lit(bbWin.toLong)
    daily
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sx", sum(col("cnt")).over(w))
      .withColumn("sxx", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("k") === n)
      .select(col("event_type"), col("day_num"), col("cnt"),
        trunc4(col("sx").cast(dd) / n.cast(dd)).as("mid"),
        trunc4(sqrt((n * col("sxx") - col("sx") * col("sx")).cast(dd)) /
          n.cast(dd)).as("sd"),
        when((n * col("cnt") - col("sx")) * (n * col("cnt") - col("sx")) >
          lit(4L) * (n * col("sxx") - col("sx") * col("sx")), 1L)
          .otherwise(0L).as("outside"))
      .orderBy("event_type", "day_num")
  }

  private def tsBollingerBands(s: SparkSession, d: String): DataFrame =
    bollingerBands(QRound9b.evDaily(s, d))

  private val oTsBollingerBands =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, day_num, cnt,
       |    CAST(count(*) OVER wtr AS BIGINT) AS k,
       |    CAST(sum(cnt) OVER wtr AS BIGINT) AS sx,
       |    CAST(sum(cnt * cnt) OVER wtr AS BIGINT) AS sxx
       |  FROM daily
       |  WINDOW wtr AS (PARTITION BY event_type ORDER BY day_num
       |    ROWS BETWEEN ${bbWin - 1} PRECEDING AND CURRENT ROW))
       |SELECT event_type, day_num, cnt,
       |  ${oTrunc4(s"CAST(sx AS DOUBLE) / $bbWin")} AS mid,
       |  ${oTrunc4(s"sqrt(CAST($bbWin * sxx - sx * sx AS DOUBLE)) / $bbWin")}
       |    AS sd,
       |  CAST(CASE WHEN ($bbWin * cnt - sx) * ($bbWin * cnt - sx) >
       |    4 * ($bbWin * sxx - sx * sx) THEN 1 ELSE 0 END AS BIGINT) AS outside
       |FROM r WHERE k = $bbWin
       |ORDER BY event_type, day_num""".stripMargin

  // ---- graph_walk_corpus ----

  private val walkSteps = 4

  /** Deterministic random-walk corpus over the symmetrized kNN graph
    * (the DeepWalk/node2vec sampling stage — walk sequences are the
    * training corpus for graph embeddings): from each seed (vec_id
    * < 20), 4 steps where the next hop is the neighbor minimizing
    * md5(step|cur|nbr) — hash-ranked selection, zero RNG, identical
    * hex-string ordering in both engines.
    *
    * Scale shape: walker state is 20 rows and BROADCASTS to the edge
    * table each round (the big side never shuffles); per-walker argmin
    * is a min(struct(hash, dst)) aggregate; fixed steps → unrolled-CTE
    * oracle. At real scale state is walks×N rows and the same plan
    * becomes a vertex-keyed equi-join per step. */
  private[graft] def walkCorpus(seeds: DataFrame, edges: DataFrame): DataFrame = {
    var state = seeds.select(col("vec_id").as("walk_id"),
      col("vec_id").as("cur"))
    var rows = state.select(col("walk_id"), lit(0L).as("step"),
      col("cur").as("node"))
    for (r <- 1 to walkSteps) {
      val nxt = edges.join(broadcast(state), col("src") === col("cur"))
        .select(col("walk_id"),
          md5(concat_ws("|", lit(r), col("cur"), col("dst"))).as("h"),
          col("dst"))
      // lazily checkpointed (r17): `state` is referenced twice per round
      // (next-step join + trace union), so an un-truncated lineage
      // doubles the analyzed plan every round — the CC/BPE 2^r failure
      // mode (924-line plan with 33 exchanges before; linear after)
      state = nxt.groupBy("walk_id")
        .agg(min(struct(col("h"), col("dst"))).as("m"))
        .select(col("walk_id"), col("m.dst").as("cur"))
        .localCheckpoint(false)
      rows = rows.unionByName(state.select(col("walk_id"),
        lit(r.toLong).as("step"), col("cur").as("node")))
    }
    rows.orderBy("walk_id", "step")
  }

  private def graphWalkCorpus(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    walkCorpus(QSim.embPersisted(s, d).select("vec_id")
      .filter(col("vec_id") < 20), edges)
  }

  private val oGraphWalkCorpus = {
    val rounds = (1 to walkSteps).map { r =>
      s"""s$r AS MATERIALIZED (SELECT walk_id, dst AS cur FROM (
         |  SELECT s.walk_id, e.dst, row_number() OVER (
         |    PARTITION BY s.walk_id
         |    ORDER BY md5(concat($r, '|', s.cur, '|', e.dst)), e.dst) AS rn
         |  FROM s${r - 1} s JOIN edges e ON e.src = s.cur) WHERE rn = 1),"""
        .stripMargin
    }.mkString("\n")
    val unioned = (0 to walkSteps)
      .map(r => s"SELECT walk_id, CAST($r AS BIGINT) AS step, cur AS node FROM s$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${QSim.oKnnEdges},
       |s0 AS (SELECT vec_id AS walk_id, vec_id AS cur FROM embeddings
       |  WHERE vec_id < 20),
       |$rounds
       |u AS ($unioned)
       |SELECT walk_id, step, node FROM u ORDER BY walk_id, step""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "ts_holt_linear"     -> tsHoltLinear _,
    "ts_bollinger_bands" -> tsBollingerBands _,
    "graph_walk_corpus"  -> graphWalkCorpus _)

  val oracles: Map[String, String] = Map(
    "ts_holt_linear"     -> oTsHoltLinear,
    "ts_bollinger_bands" -> oTsBollingerBands,
    "graph_walk_corpus"  -> oGraphWalkCorpus)
}
