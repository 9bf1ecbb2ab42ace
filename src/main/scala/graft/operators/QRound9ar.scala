package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 43 (SURVEY §2.28):
  *
  *  - `sim_coverage_eval`: representativeness of a 16-rep summary (one
  *    per k-means cell): share of the corpus within cosine 0.2 of any
  *    rep + mean max-similarity — the coverage score a coreset /
  *    dataset-summary ships with.
  *  - `ts_dispersion_fano`: Fano factor (variance/mean of hourly event
  *    counts) per type — the burstiness index that separates Poisson
  *    traffic from bursty traffic.
  *  - `chp_power_mde`: A/B pre-experiment power analysis — required
  *    users per arm at 80% power / 5% α for a grid of minimum
  *    detectable effects, from the observed base conversion rate.
  */
object QRound9ar extends QueryPack {

  // ---- sim_coverage_eval ----

  private val covCells = 16
  private val covIters = 3
  private val covTau = 2e-1 // probed: median max-sim ≈ 0.22 → ~55% covered

  /** Coverage of the cell-representative summary: reps = min vec_id per
    * k-means cell (deterministic election over the shared memoized fit);
    * per corpus vector the max trunc4 cosine to any rep; emits corpus
    * size, covered count at τ=0.2 (trunc'd-threshold compare) and the
    * scale-to-long exact mean of max-sim.
    *
    * Scale shape: reps are 16 rows of broadcast model state; ONE corpus
    * scan computes all rep similarities (fused kernel) and the per-vector
    * max folds in the aggregate; the final rollup is one row. */
  private[graft] def coverageEval(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val cent = AnnKMeans.centroidsMemo(s, d, "emb", covCells, covIters)(e)
    val reps = AnnKMeans.assign(e, cent)
      .groupBy("cell").agg(min("vec_id").as("rep_id"))
      .join(e.select(col("vec_id").as("rep_id"), col("v").as("rep_v")),
        "rep_id")
      .select("rep_id", "rep_v")
    val maxSim = e.join(broadcast(reps), col("vec_id") =!= col("rep_id"))
      .select(col("vec_id"),
        trunc4(CosineSim.of(col("v"), col("rep_v"))).as("sim"))
      .groupBy("vec_id").agg(max("sim").as("max_sim"))
    maxSim.agg(
        count(lit(1)).as("n_total"),
        sum((col("max_sim") >= lit(covTau)).cast(LongType)).as("n_covered"),
        sum(floor(col("max_sim") * lit(1e12) + lit(0.5))
          .cast(DecimalType(38, 0))).as("s"))
      .select(col("n_total"), col("n_covered"),
        trunc4(col("n_covered").cast(DoubleType) /
          col("n_total").cast(DoubleType)).as("coverage"),
        trunc4(col("s").cast(DoubleType) / lit(1e12) /
          col("n_total").cast(DoubleType)).as("mean_max_sim"))
  }

  private val oSimCoverageEval =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${AnnKMeans.oCentroidChain(covCells, covIters, 64)}
       |asn AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
       |  FROM e, c$covIters c) WHERE r = 1),
       |reps AS (SELECT min(a.vec_id) AS rep_id FROM asn a GROUP BY a.cell),
       |rv AS (SELECT r.rep_id, e.v AS rep_v FROM reps r
       |  JOIN e ON e.vec_id = r.rep_id),
       |mx AS (SELECT e.vec_id,
       |    max(${oTrunc4("list_cosine_similarity(e.v, rv.rep_v)")}) AS max_sim
       |  FROM e JOIN rv ON e.vec_id <> rv.rep_id
       |  GROUP BY e.vec_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(sum(CASE WHEN max_sim >= 2e-1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_covered,
       |  ${oTrunc4(s"CAST(sum(CASE WHEN max_sim >= 2e-1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS coverage,
       |  ${oTrunc4("CAST(sum(CAST(floor(max_sim * 1e12 + 5e-1) AS HUGEINT)) AS DOUBLE) / 1e12 / count(*)")} AS mean_max_sim
       |FROM mx""".stripMargin

  // ---- ts_dispersion_fano ----

  /** Fano factor of hourly event counts per type: variance/mean of the
    * per-hour arrival counts (1 = Poisson, >1 bursty, <1 regular). All
    * moments are exact integer sums; one identical double expression,
    * trunc4.
    *
    * Scale shape: hour rollup partial-aggregates; the dispersion is a
    * bounded per-type aggregate over ~720 hourly cells. */
  private[graft] def dispersionFano(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("c").as("s1"), sum(col("c") * col("c")).as("s2"))
      .select(col("event_type"), col("n_hours"),
        trunc4(col("s1").cast(dd) / col("n_hours").cast(dd)).as("mean_rate"),
        trunc4(((col("s2").cast(dd) / col("n_hours").cast(dd)) -
          ((col("s1").cast(dd) / col("n_hours").cast(dd)) *
            (col("s1").cast(dd) / col("n_hours").cast(dd)))) /
          (col("s1").cast(dd) / col("n_hours").cast(dd))).as("fano"))
      .orderBy("event_type")
  }

  private def tsDispersionFano(s: SparkSession, d: String): DataFrame =
    dispersionFano(t(s, d, "events"))

  private val oTsDispersionFano =
    s"""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
       |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
       |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
       |    CAST(sum(c) AS DOUBLE) AS s1, CAST(sum(c * c) AS DOUBLE) AS s2
       |  FROM hourly GROUP BY 1)
       |SELECT event_type, n_hours,
       |  ${oTrunc4("s1 / n_hours")} AS mean_rate,
       |  ${oTrunc4("((s2 / n_hours) - ((s1 / n_hours) * (s1 / n_hours))) / (s1 / n_hours)")} AS fano
       |FROM a ORDER BY event_type""".stripMargin

  // ---- chp_power_mde ----

  private val mdeGrid = Seq(1, 2, 5) // percentage points

  /** Pre-experiment power analysis: n per arm =
    * ⌈2·(z_{α/2}+z_β)²·p̄(1−p̄)/mde²⌉ at α=0.05 (z=1.96), power=0.8
    * (z=0.8416), p̄ = observed high-value-purchase conversion (the
    * chp_ab_lift_test label). Constants hardcoded to 4 dp so both
    * engines square the identical literal. Emits the MDE grid with
    * required n and feasibility vs the actual user count.
    *
    * Scale shape: one per-user aggregate for the base rate; the grid is
    * a 3-row broadcast. */
  private[graft] def powerMde(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val dd = DoubleType
    val base = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase"
        && col("value") > lit(9e1), 1L).otherwise(0L)).as("conv"))
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      .select(col("n_users"),
        (col("n_conv").cast(dd) / col("n_users").cast(dd)).as("p"))
    val grid = mdeGrid.map(m => m.toLong).toDF("mde_pp")
    val zsum2 = lit((1.96 + 0.8416) * (1.96 + 0.8416))
    val mde = col("mde_pp").cast(dd) / lit(1e2)
    grid.crossJoin(broadcast(base))
      .select(col("mde_pp"),
        trunc4(col("p")).as("base_rate"),
        ceil(lit(2.0) * zsum2 * col("p") * (lit(1.0) - col("p")) /
          (mde * mde)).cast(LongType).as("n_per_arm"),
        col("n_users"))
      .withColumn("feasible",
        (col("n_per_arm") * 2 <= col("n_users")).cast(IntegerType))
      .orderBy("mde_pp")
  }

  private def chpPowerMde(s: SparkSession, d: String): DataFrame =
    powerMde(t(s, d, "events"))

  private val oChpPowerMde =
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND value > 9e1
       |      THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id),
       |b AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(conv) AS DOUBLE) / count(*) AS p FROM u),
       |g AS (SELECT CAST(unnest([${mdeGrid.mkString(", ")}]) AS BIGINT)
       |  AS mde_pp)
       |SELECT g.mde_pp, ${oTrunc4("b.p")} AS base_rate,
       |  CAST(ceil(2e0 * ((196e-2 + 8416e-4) * (196e-2 + 8416e-4)) * b.p
       |    * (1e0 - b.p) / ((CAST(g.mde_pp AS DOUBLE) / 1e2)
       |    * (CAST(g.mde_pp AS DOUBLE) / 1e2))) AS BIGINT) AS n_per_arm,
       |  b.n_users,
       |  CASE WHEN CAST(ceil(2e0 * ((196e-2 + 8416e-4) * (196e-2 + 8416e-4))
       |    * b.p * (1e0 - b.p) / ((CAST(g.mde_pp AS DOUBLE) / 1e2)
       |    * (CAST(g.mde_pp AS DOUBLE) / 1e2))) AS BIGINT) * 2 <= b.n_users
       |    THEN 1 ELSE 0 END AS feasible
       |FROM g, b ORDER BY g.mde_pp""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sim_coverage_eval"  -> coverageEval _,
    "ts_dispersion_fano" -> tsDispersionFano _,
    "chp_power_mde"      -> chpPowerMde _)

  val oracles: Map[String, String] = Map(
    "sim_coverage_eval"  -> oSimCoverageEval,
    "ts_dispersion_fano" -> oTsDispersionFano,
    "chp_power_mde"      -> oChpPowerMde)
}
