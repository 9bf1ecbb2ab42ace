package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic fixed-iteration PageRank — the second iterative graph
  * primitive next to ConnectedComponents (centrality over the similarity
  * graph: which documents sit in the middle of a near-dup neighborhood).
  *
  * Determinism (what makes this oracle-verifiable cross-engine):
  *  - per-edge contributions are scaled to longs before summation
  *    (floor(pr/deg · 1e12 + 0.5) — the VecCentroid trick), so the
  *    per-node sum is EXACT integer arithmetic, independent of partition
  *    count and reduce order. A DECIMAL cast of the raw double would NOT
  *    be engine-stable: Spark rounds the shortest decimal repr while
  *    DuckDB rounds the binary value — they disagree at digit 18.
  *  - each iteration's rank is trunc8'd (floor on identical doubles —
  *    identical in both engines), so error cannot accumulate into
  *    divergence across 5 iterations.
  *
  * Scale shape (100 TB): per iteration one equi-join (edges ⋈ ranks on
  * src — uniform ids) + one combining groupBy with map-side partial sums;
  * ranks are localCheckpoint'd per iteration (same lineage-truncation
  * lesson as ConnectedComponents — the loop otherwise re-analyzes a
  * growing plan every round). No driver-side graph state; N (node count)
  * is one scalar of model state.
  */
object PageRank {

  /** Size-GATED broadcast hint for V-row iterative loop state
    * (OPTIMIZATION r17 / VERDICT r16 #3): the pagerank/katz/percolation
    * loops broadcast their per-round rank/active-set state into the
    * cached edge join — a clear win while V is small, but an explicit
    * `broadcast()` of an unbounded V-row table is a driver/executor OOM
    * at 100 TB (guide §3: broadcast only when the small side fits — the
    * hard cap is 8 GB / 512M rows). `rowBound` is a KNOWN upper bound on
    * the state's rows (node count, or 2E for an active set); past
    * `graft.graph.broadcastStateMaxRows` (default 10M rows ≈ a few
    * hundred MB framed) the hint is dropped and the join degrades to a
    * plain equi-join — values bit-identical (Round17OptSpec gates both
    * paths), only the join strategy changes. */
  def stateHint(df: DataFrame, rowBound: Long): DataFrame = {
    if (rowBound <= StateGate.maxRows(df.sparkSession)) broadcast(df) else df
  }

  val damping = 0.85
  /** Teleport numerator, DERIVED from damping (1 − d = 0.15000…02 in
    * IEEE — not the decimal literal 0.15). Both the Spark side and the
    * oracle chain embed THIS double via shortest-repr formatting, so the
    * two engines always agree by construction and retuning `damping`
    * cannot desynchronize them (review finding: the pair used to be
    * independently hardcoded). */
  val teleportNum: Double = 1.0 - damping
  val iters = 5

  private def sci(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E") || s.contains("e")) s.replace("E", "e") else s + "e0"
  }

  /** Ranks over the undirected graph given by `pairsIn` (cols (src, dst),
    * one row per undirected edge). Returns (id, deg, pr). */
  def ranks(pairsIn: DataFrame): DataFrame = {
    val half = pairsIn.select(col("src"), col("dst")).localCheckpoint()
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val n = deg.count()
    val teleport = teleportNum / n.toDouble
    // loop-INVARIANT edge⋈degree join hoisted and checkpointed ONCE
    // (OPTIMIZATION r16): the old loop re-ran edges⋈deg every
    // iteration before attaching the rank state — only the rank join
    // actually changes per round. Same per-edge values, same exact
    // long contributions.
    val edgesDeg = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg")).localCheckpoint()
    var pr = deg.select(col("src").as("id"), lit(1.0 / n.toDouble).as("pr"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      // size-gated broadcast of the V-row rank state (guide §2.4: a
      // broadcast join replaces the per-round shuffle of the E-row edge
      // side — the old sort-merge join shuffled edges EVERY iteration);
      // n is the exact row bound, so past the gate the hint drops and
      // only the V-row side shuffles per round. Lazy per-round
      // checkpoints keep lineage truncated without a second
      // materialization pass per round (the katz/percolation shape).
      val contrib = edgesDeg
        .join(stateHint(pr.withColumnRenamed("id", "src"), n), "src")
        .select(col("dst").as("id"),
          floor(col("pr") / col("deg") * 1e12 + 0.5).cast(LongType).as("c"))
      pr = contrib.groupBy("id")
        .agg((floor((lit(teleport) + lit(damping) *
          (sum(col("c")).cast(DoubleType) / 1e12)) * 1e8) / 1e8).as("pr"))
        .localCheckpoint(false)
    }
    pr.join(deg.withColumnRenamed("src", "id"), "id")
      .select(col("id"), col("deg"), col("pr"))
  }

  /** Oracle twin: unrolled CTE chain over an `e(src, dst)` CTE (both
    * directions) — caller supplies `e`; emits deg, n, p0..p{iters}. */
  def oRankChain: String = {
    val sb = new StringBuilder
    // AS MATERIALIZED throughout: DuckDB inlines plain CTEs, so the
    // unrolled chain re-evaluates `e` (and everything `e` is built from)
    // ~2× per round — harmless when `e` is a base-table scan, a blow-up
    // when it is itself a derived pipeline (text_textrank_sentences'
    // sentence-pair graph at sf0.1: >30 min inlined vs ~5 s materialized
    // — the oTextBpeMerges rule; VERDICT r11 #5)
    sb.append(
      """deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |  nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
        |  p0 AS MATERIALIZED (SELECT src AS id, 1e0 / n AS pr FROM deg, nn),
        |""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(
        s"""p$i AS MATERIALIZED (SELECT e.dst AS id,
           |    floor((${sci(teleportNum)} / n + ${sci(damping)} *
           |      (CAST(SUM(CAST(floor(p.pr / deg.deg * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12)) * 1e8) / 1e8 AS pr
           |  FROM e JOIN deg ON e.src = deg.src
           |    JOIN p${i - 1} p ON e.src = p.id, nn
           |  GROUP BY e.dst, n),
           |""".stripMargin)
    }
    sb.toString
  }
}
