package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 55 (SURVEY §2.28):
  *
  *  - `ts_holt_winters`: additive Holt-Winters (level+trend+weekly
  *    season, α=β=γ=½) over the daily series — the triple-exponential
  *    forecast, engine-exact in 1e6-scaled integer recursion.
  *  - `graph_modularity`: Newman modularity Q of the LPA partition over
  *    the near-dup pair graph — the quality score a community detection
  *    ships with.
  *  - `join_asof_interp`: time-interpolated as-of join — cumulative
  *    spend estimated at checkpoint instants by linear interpolation
  *    between the bracketing purchases (the sensor-reading estimate a
  *    nearest-as-of cannot give).
  */
object QRound9bd extends QueryPack {

  // ---- ts_holt_winters ----

  private val hwPeriod = 7

  /** Additive Holt-Winters with α=β=γ=½, weekly season, over each
    * type's daily counts (observation-indexed, 1e6-scaled BIGINTs,
    * truncating division — Scala `/` and DuckDB `//` agree):
    * seed l = (Σ first-7 x·1e6)/7, b = 0, s_i = x_i·1e6 − l; then per
    * step  l' = (x·1e6 − s_head + l + b)/2,  b' = (l' − l + b)/2,
    * s' = (x·1e6 − l' + s_head)/2, window rotates. The 7-slot seasonal
    * window rides the recursion as columns, so the oracle's recursive
    * CTE replays the identical integer sequence. Forecast for t+1 =
    * l + b + s_head (post-rotation).
    *
    * Scale shape: the per-type daily series is the memoized bounded
    * `evdaily` table; the inherently sequential recursion runs
    * driver-side as model state (the Holt/HITS discipline). */
  private[graft] def holtWinters(daily: DataFrame): DataFrame = {
    val series = daily.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day_num"),
        r.getAs[Long]("cnt")))
      .groupBy(_._1)
    val out = series.toSeq
      .filter(_._2.size > hwPeriod)
      .map { case (tpe, rows) =>
        val xs = rows.sortBy(_._2).map(_._3 * 1000000L)
        var l = xs.take(hwPeriod).sum / hwPeriod
        var b = 0L
        val win = xs.take(hwPeriod).map(_ - l).toArray
        xs.drop(hwPeriod).foreach { x =>
          val sHead = win(0)
          val lNew = (x - sHead + l + b) / 2
          val bNew = (lNew - l + b) / 2
          val sNew = (x - lNew + sHead) / 2
          System.arraycopy(win, 1, win, 0, hwPeriod - 1)
          win(hwPeriod - 1) = sNew
          l = lNew; b = bNew
        }
        (tpe, xs.length.toLong, l, b, win(0), l + b + win(0))
      }.sortBy(_._1)
    val spark = daily.sparkSession
    import spark.implicits._
    out.toDF("event_type", "n_days", "level6", "trend6", "season6",
        "forecast6")
      .withColumn("forecast", trunc6(col("forecast6") / lit(1e6)))
  }

  private def tsHoltWinters(s: SparkSession, d: String): DataFrame =
    holtWinters(QRound9b.evDaily(s, d))

  private val oTsHoltWinters = {
    val winCols = (1 to hwPeriod).map(i => s"s$i").mkString(", ")
    val rotate = (2 to hwPeriod).map(i => s"r.s$i").mkString(", ")
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |idx AS MATERIALIZED (SELECT event_type, cnt * 1000000 AS x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day_num)
       |      AS i FROM daily),
       |n AS (SELECT event_type, CAST(max(i) AS BIGINT) AS n_days
       |  FROM idx GROUP BY 1),
       |seed AS (SELECT event_type,
       |    CAST(sum(x) // $hwPeriod AS BIGINT) AS l
       |  FROM idx WHERE i <= $hwPeriod GROUP BY 1),
       |seedw AS (SELECT s.event_type, s.l, CAST(0 AS BIGINT) AS b,
       |    ${(1 to hwPeriod).map(i =>
              s"(SELECT x - s.l FROM idx WHERE idx.event_type = s.event_type AND i = $i) AS s$i")
              .mkString(",\n       |    ")}
       |  FROM seed s),
       |rec AS (
       |  SELECT event_type, CAST($hwPeriod AS BIGINT) AS i, l, b, $winCols
       |  FROM seedw
       |  UNION ALL
       |  SELECT r.event_type, r.i + 1,
       |    (x.x - r.s1 + r.l + r.b) // 2 AS l,
       |    (((x.x - r.s1 + r.l + r.b) // 2) - r.l + r.b) // 2 AS b,
       |    $rotate,
       |    (x.x - ((x.x - r.s1 + r.l + r.b) // 2) + r.s1) // 2 AS s$hwPeriod
       |  FROM rec r JOIN idx x
       |    ON x.event_type = r.event_type AND x.i = r.i + 1),
       |fin AS (SELECT r.* FROM rec r JOIN n
       |  ON n.event_type = r.event_type AND r.i = n.n_days
       |  WHERE n.n_days > $hwPeriod)
       |SELECT f.event_type, n.n_days, CAST(f.l AS BIGINT) AS level6,
       |  CAST(f.b AS BIGINT) AS trend6, CAST(f.s1 AS BIGINT) AS season6,
       |  CAST(f.l + f.b + f.s1 AS BIGINT) AS forecast6,
       |  ${oTrunc6("CAST(f.l + f.b + f.s1 AS DOUBLE) / 1e6")} AS forecast
       |FROM fin f JOIN n ON n.event_type = f.event_type
       |ORDER BY f.event_type""".stripMargin
  }

  // ---- graph_modularity ----

  /** Newman modularity of the LPA communities over the near-dup pair
    * graph: with the directed edge table (both directions, m_dir rows),
    * Q = Σ_c [ e_c/m_dir − (d_c/m_dir)² ] — e_c directed edges inside c,
    * d_c the community degree mass. Per-community contributions run
    * through the scale-to-long sum. Also reports the community and edge
    * counts the score contextualizes.
    *
    * Scale shape: labels join onto the bounded memoized pair table;
    * per-community rollups; one scalar rollup. */
  private[graft] def modularity(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val lab = QRound7b.queries("graph_lpa_community")(s, d)
      .select(col("doc_id"), col("community"))
    val pairs = QText.lshPairsPersisted(s, d)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val withLab = edges
      .join(lab.select(col("doc_id").as("src"), col("community").as("ca")),
        "src")
      .join(lab.select(col("doc_id").as("dst"), col("community").as("cb")),
        "dst")
      .localCheckpoint(true)
    val m = withLab.count()
    val perC = withLab.groupBy("ca")
      .agg(count(lit(1)).as("d_c"),
        sum((col("ca") === col("cb")).cast(LongType)).as("e_c"))
    perC.agg(count(lit(1)).as("n_communities"),
        sum(floor((col("e_c").cast(dd) / lit(m.toDouble) -
          (col("d_c").cast(dd) / lit(m.toDouble)) *
            (col("d_c").cast(dd) / lit(m.toDouble))) * lit(1e12)
          + lit(0.5)).cast(LongType)).as("q_s"))
      .select(col("n_communities"), lit(m / 2).as("n_edges"),
        trunc4(col("q_s").cast(dd) / lit(1e12)).as("modularity"))
  }

  private val oGraphModularity =
    s"""WITH lpa AS MATERIALIZED (SELECT doc_id, community FROM (
       |  ${QRound7b.oracles("graph_lpa_community")})),
       |pr AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM (
       |  ${QText.oracles("dedup_lsh_pairs")})),
       |edges AS (SELECT src, dst FROM pr
       |  UNION ALL SELECT dst, src FROM pr),
       |wl AS MATERIALIZED (SELECT e.src, e.dst, la.community AS ca,
       |    lb.community AS cb
       |  FROM edges e JOIN lpa la ON la.doc_id = e.src
       |  JOIN lpa lb ON lb.doc_id = e.dst),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS md FROM wl),
       |perc AS (SELECT ca, CAST(count(*) AS BIGINT) AS d_c,
       |    CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS e_c
       |  FROM wl GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |  CAST(max(m.md) // 2 AS BIGINT) AS n_edges,
       |  ${oTrunc4("CAST(sum(CAST(floor((CAST(e_c AS DOUBLE) / m.md - (CAST(d_c AS DOUBLE) / m.md) * (CAST(d_c AS DOUBLE) / m.md)) * 1e12 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e12")} AS modularity
       |FROM perc, m""".stripMargin

  // ---- join_asof_interp ----

  private val interpDays = Seq(10L, 18L, 26L)

  /** Time-interpolated as-of join: each user's purchases trace a
    * cumulative-spend step curve; at checkpoint instants (day 10/18/26
    * boundaries) the estimate interpolates linearly between the
    * bracketing purchases — v0 + (v1−v0)·(q−t0)/(t1−t0). Before the
    * first purchase the estimate is 0; after the last it holds v0 (the
    * as-of fallback). Cumulative sums are DECIMAL-exact; the time
    * fraction is one shared double expression (trunc4).
    *
    * Scale shape: per-user windows build the curve; the checkpoint grid
    * broadcasts; one (user, checkpoint) conditional aggregate — never a
    * theta join against the curve. */
  private[graft] def asofInterp(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val d4 = DecimalType(18, 4)
    val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
    val curve = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("us"),
        col("value").cast(d4).as("v"))
      .withColumn("cum", sum("v").over(wU).cast(d4))
    val base = events.agg(
      expr("unix_micros(cast(date_trunc('DAY', min(ts)) as timestamp))")
        .as("t0_us"))
    val qs = events.sparkSession.createDataFrame(
      interpDays.map(Tuple1(_))).toDF("q_day")
    val grid = qs.crossJoin(broadcast(base))
      .select(col("q_day"),
        (col("t0_us") + col("q_day") * lit(86400000000L)).as("q_us"))
    val cells = curve.crossJoin(broadcast(grid))
      .groupBy("user_id", "q_day", "q_us")
      .agg(
        max(when(col("us") <= col("q_us"),
          struct(col("us").as("us"), col("cum").cast(dd).as("cum"))))
          .as("lo"),
        min(when(col("us") > col("q_us"),
          struct(col("us").as("us"), col("cum").cast(dd).as("cum"))))
          .as("hi"))
    cells.select(col("user_id"), col("q_day"),
        when(col("lo").isNull, lit(0.0))
          .when(col("hi").isNull, trunc4(col("lo.cum")))
          .otherwise(trunc4(col("lo.cum") +
            (col("hi.cum") - col("lo.cum")) *
              (col("q_us") - col("lo.us")).cast(dd) /
              (col("hi.us") - col("lo.us")).cast(dd)))
          .as("est_spend"))
      .orderBy("user_id", "q_day")
  }

  private def joinAsofInterp(s: SparkSession, d: String): DataFrame =
    asofInterp(t(s, d, "events"))

  private val oJoinAsofInterp =
    s"""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS us,
       |    CAST(value AS DECIMAL(18,4)) AS v
       |  FROM events WHERE event_type = 'purchase'),
       |curve AS (SELECT user_id, us,
       |    CAST(sum(v) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS DECIMAL(18,4)) AS cum
       |  FROM p),
       |base AS (SELECT epoch_us(date_trunc('day', min(ts))) AS t0_us
       |  FROM events),
       |grid AS (SELECT q.q_day, b.t0_us + q.q_day * 86400000000 AS q_us
       |  FROM (SELECT CAST(unnest([${interpDays.mkString(", ")}])
       |    AS BIGINT) AS q_day) q, base b),
       |cells AS (SELECT c.user_id, g.q_day, g.q_us,
       |    max(CASE WHEN c.us <= g.q_us THEN struct_pack(
       |      us := c.us, cum := CAST(c.cum AS DOUBLE)) END) AS lo,
       |    min(CASE WHEN c.us > g.q_us THEN struct_pack(
       |      us := c.us, cum := CAST(c.cum AS DOUBLE)) END) AS hi
       |  FROM curve c, grid g GROUP BY 1, 2, 3)
       |SELECT user_id, q_day,
       |  CASE WHEN lo IS NULL THEN 0e0
       |    WHEN hi IS NULL THEN ${oTrunc4("lo.cum")}
       |    ELSE ${oTrunc4("lo.cum + (hi.cum - lo.cum) * CAST(q_us - lo.us AS DOUBLE) / CAST(hi.us - lo.us AS DOUBLE)")}
       |  END AS est_spend
       |FROM cells ORDER BY user_id, q_day""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_holt_winters"  -> tsHoltWinters _,
    "graph_modularity" -> ((s, d) => modularity(s, d)),
    "join_asof_interp" -> joinAsofInterp _)

  val oracles: Map[String, String] = Map(
    "ts_holt_winters"  -> oTsHoltWinters,
    "graph_modularity" -> oGraphModularity,
    "join_asof_interp" -> oJoinAsofInterp)
}
