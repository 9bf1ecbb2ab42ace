package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 15 (SURVEY §2.27):
  *
  *  - `graph_stress_sampled`: stress centrality (number of shortest
  *    paths THROUGH each node) from the fixed 20-source sample within a
  *    4-hop horizon — the path-load centrality beside harmonic/HITS,
  *    in EXACT integers (unlike betweenness, whose σ-ratio fractions
  *    have no engine-stable spelling).
  *  - `dedup_eval_prf`: precision/recall of the MinHash-LSH candidate
  *    generator against exact-Jaccard ground truth on the bounded
  *    evaluation window — the dedup-quality audit a pipeline runs
  *    before trusting its near-dup filter.
  *  - `ts_autocorr_multi`: the ACF table (lags 1..7) per event-type
  *    daily series — completes the single-lag `ts_autocorr_lag` into
  *    the full correlogram the Box–Jenkins workflow reads.
  */
object QRound9p extends QueryPack {

  // ---- graph_stress_sampled ----

  private val stressRounds = 4
  private val stressSources = 20

  /** Sampled stress centrality: for each of the 20 fixed sources, a
    * 4-round BFS computes per-node shortest-path counts σ_s(v) (level by
    * level: σ of a newly-reached node is the σ-sum of its predecessors);
    * the shortest-path DAG (edges that advance the BFS level) then
    * yields suffix counts sfx_s(v) = Σ_{w∈succ}(1 + sfx_s(w)) — the
    * number of shortest-path continuations from v. The number of
    * shortest s→t paths through interior v is σ_s(v)·sfx_s(v), so
    * stress(v) = Σ_s σ_s(v)·sfx_s(v) over dist>0 nodes. Every quantity
    * is an exact BIGINT — zero floating point end to end.
    *
    * Scale shape: state is (source × reached) ≤ 20·N rows keyed
    * (src, node); each forward round is one equi-join + σ-sum + anti
    * join against the finalized set; the DAG and the 4 backward rounds
    * are vertex-keyed equi-joins (the BFS/k-core shuffle shape);
    * per-round lazy localCheckpoint truncates lineage; fixed rounds →
    * MATERIALIZED-CTE oracle unroll. */
  private[graft] def stressSampled(sources: DataFrame, nodes: DataFrame,
      edges: DataFrame): DataFrame = {
    // forward: finalized (src, node, dist, sigma)
    var fin = sources.select(col("vec_id").as("src"),
      col("vec_id").as("node"), lit(0).as("dist"), lit(1L).as("sigma"))
    for (r <- 1 to stressRounds) {
      val frontier = fin.filter(col("dist") === r - 1)
      val next = frontier
        .join(edges.select(col("src").as("es"), col("dst")),
          col("node") === col("es"))
        .groupBy(col("src"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(fin.select(col("src").as("fs"), col("node").as("fn")),
          col("src") === col("fs") && col("dst") === col("fn"), "left_anti")
        .select(col("src"), col("dst").as("node"), lit(r).as("dist"),
          col("sigma"))
      fin = fin.unionByName(next).localCheckpoint(false)
    }
    // shortest-path DAG: edges that advance the level, per source
    val dag = fin.select(col("src"), col("node").as("v"), col("dist"))
      .join(edges.select(col("src").as("es"), col("dst")),
        col("v") === col("es"))
      .join(fin.select(col("src").as("s2"), col("node").as("w"),
        col("dist").as("dw")),
        col("src") === col("s2") && col("dst") === col("w") &&
          col("dw") === col("dist") + 1)
      .select(col("src"), col("v"), col("w"))
      .localCheckpoint(false)
    // backward: suffix counts over the DAG (depth <= rounds)
    var sfx = dag.groupBy("src", "v").agg(count(lit(1)).as("sfx"))
      .localCheckpoint(false)
    for (_ <- 2 to stressRounds) {
      sfx = dag
        .join(sfx.select(col("src").as("s3"), col("v").as("w2"),
          col("sfx").as("sw")),
          col("src") === col("s3") && col("w") === col("w2"), "left")
        .groupBy("src", "v")
        .agg(sum(lit(1L) + coalesce(col("sw"), lit(0L))).as("sfx"))
        .localCheckpoint(false)
    }
    val stress = fin.filter(col("dist") > 0)
      .join(sfx.select(col("src").as("s4"), col("v"), col("sfx")),
        col("src") === col("s4") && col("node") === col("v"))
      .groupBy("node").agg(sum(col("sigma") * col("sfx")).as("stress"))
    nodes.select(col("vec_id"))
      .join(stress, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("stress"), lit(0L)).as("stress"))
      .orderBy("vec_id")
  }

  /** Result memoized per (session, sfDir): the per-node stress table is
    * per-corpus MODEL STATE (V rows) and the 4-forward + 3-backward
    * checkpointed BFS rounds are the whole cost of the key — the
    * katzscores/hitsscores/percolation result-reuse discipline
    * (OPTIMIZATION r16; the loop itself is unchanged and still runs
    * under each shuffle-partition setting, so the 1-vs-32 determinism
    * gate re-executes it). */
  private def graphStressSampled(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "stressscores", d)(
      graphStressSampledBuild(s, d).localCheckpoint(true))

  private[graft] def graphStressSampledBuild(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    val nodes = QSim.embPersisted(s, d).select("vec_id")
    stressSampled(nodes.filter(col("vec_id") < stressSources), nodes, edges)
  }

  private val oGraphStressSampled = {
    val fwd = (1 to stressRounds).map { r =>
      s"""l$r AS MATERIALIZED (SELECT d.src, e.dst AS node,
         |    CAST(sum(d.sigma) AS BIGINT) AS sigma
         |  FROM d${r - 1} d JOIN edges e ON e.src = d.node
         |  WHERE d.dist = ${r - 1} AND NOT EXISTS (SELECT 1 FROM d${r - 1} x
         |    WHERE x.src = d.src AND x.node = e.dst)
         |  GROUP BY 1, 2),
         |d$r AS MATERIALIZED (SELECT * FROM d${r - 1} UNION ALL
         |  SELECT src, node, $r AS dist, sigma FROM l$r),""".stripMargin
    }.mkString("\n")
    val back = (2 to stressRounds).map { r =>
      s"""s$r AS MATERIALIZED (SELECT g.src, g.v,
         |    CAST(sum(1 + coalesce(p.sfx, 0)) AS BIGINT) AS sfx
         |  FROM dag g LEFT JOIN s${r - 1} p
         |    ON p.src = g.src AND p.v = g.w
         |  GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    s"""WITH ${QSim.oKnnEdges},
       |d0 AS MATERIALIZED (SELECT vec_id AS src, vec_id AS node,
       |    0 AS dist, CAST(1 AS BIGINT) AS sigma
       |  FROM embeddings WHERE vec_id < $stressSources),
       |$fwd
       |dag AS MATERIALIZED (SELECT a.src, a.node AS v, b.node AS w
       |  FROM d$stressRounds a JOIN edges e ON e.src = a.node
       |  JOIN d$stressRounds b ON b.src = a.src AND b.node = e.dst
       |    AND b.dist = a.dist + 1),
       |s1 AS MATERIALIZED (SELECT src, v, CAST(count(*) AS BIGINT) AS sfx
       |  FROM dag GROUP BY 1, 2),
       |$back
       |st AS (SELECT d.node, CAST(sum(d.sigma * s.sfx) AS BIGINT) AS stress
       |  FROM d$stressRounds d JOIN s$stressRounds s
       |    ON s.src = d.src AND s.v = d.node
       |  WHERE d.dist > 0 GROUP BY 1)
       |SELECT n.vec_id, coalesce(st.stress, 0) AS stress
       |FROM embeddings n LEFT JOIN st ON st.node = n.vec_id
       |ORDER BY n.vec_id""".stripMargin
  }

  // ---- dedup_eval_prf ----

  /** Candidate-generator evaluation: the MinHash-LSH pair list
    * (`dedup_lsh_pairs`) scored against exact-Jaccard ground truth
    * (pairs with trunc4 Jaccard ≥ 0.5) on the bounded doc_id < 40
    * evaluation window (`dedup_jaccard_pairs`' window — exact truth is
    * only computable on a bounded window; that is the point of the
    * audit). Emits candidate/truth/hit counts and precision/recall as
    * trunc4'd exact count ratios — the measurement a pipeline needs
    * before trusting banded LSH at full scale.
    *
    * Scale shape: composes two memoized pair tables; the window keeps
    * the truth side tiny; one broadcast-size join + a 1-row rollup. */
  private def dedupEvalPrf(s: SparkSession, d: String): DataFrame = {
    val pred = QText.queries("dedup_lsh_pairs")(s, d)
      .select("a_id", "b_id")
      .filter(col("a_id") < 40 && col("b_id") < 40)
    val truth = QText.queries("dedup_jaccard_pairs")(s, d)
      .filter(col("jaccard") >= lit(5e-1))
      .select("a_id", "b_id")
    val hit = pred.join(truth, Seq("a_id", "b_id"))
    val np = pred.agg(count(lit(1)).as("n_pred"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nh = hit.agg(count(lit(1)).as("n_hit"))
    np.crossJoin(nt).crossJoin(nh)
      .select(col("n_pred"), col("n_truth"), col("n_hit"),
        when(col("n_pred") > 0, trunc4(col("n_hit").cast(DoubleType) /
          col("n_pred").cast(DoubleType))).otherwise(lit(0.0))
          .as("prec"),
        when(col("n_truth") > 0, trunc4(col("n_hit").cast(DoubleType) /
          col("n_truth").cast(DoubleType))).otherwise(lit(0.0))
          .as("recall"))
  }

  private val oDedupEvalPrf =
    s"""WITH pred AS (SELECT a_id, b_id
       |  FROM (${QText.oracles("dedup_lsh_pairs")})
       |  WHERE a_id < 40 AND b_id < 40),
       |truth AS (SELECT a_id, b_id
       |  FROM (${QText.oracles("dedup_jaccard_pairs")})
       |  WHERE jaccard >= 5e-1),
       |hit AS (SELECT a_id FROM pred JOIN truth USING (a_id, b_id)),
       |m AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_pred,
       |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
       |SELECT n_pred, n_truth, n_hit,
       |  CASE WHEN n_pred > 0 THEN
       |    ${oTrunc4("CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE)")}
       |    ELSE 0.0 END AS prec,
       |  CASE WHEN n_truth > 0 THEN
       |    ${oTrunc4("CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)")}
       |    ELSE 0.0 END AS recall
       |FROM m""".stripMargin

  // ---- ts_autocorr_multi ----

  private val acfMaxLag = 7

  /** The correlogram: autocorrelation of each event-type daily series at
    * lags 1..`acfMaxLag` — `ts_autocorr_lag` (lag 1 only) widened to the
    * table the Box–Jenkins identification step reads. Moments are exact
    * BIGINT sums over the lag-aligned pairs (the `ts_crosscorr_lag`
    * spelling with x and y the SAME series); one trunc6 division;
    * degenerate-variance rows excluded.
    *
    * Scale shape: shares the memoized `evdaily` series; the lag table
    * broadcasts; output bounded by types×lags. */
  private[graft] def autocorrMulti(daily: DataFrame): DataFrame = {
    val lags = daily.sparkSession.range(1, acfMaxLag + 1)
      .select(col("id").as("lag"))
    val a = daily.select(col("event_type"), col("day_num"),
      col("cnt").as("x"))
    val b = daily.select(col("event_type").as("tb"),
      col("day_num").as("day_y"), col("cnt").as("y"))
    a.crossJoin(broadcast(lags))
      .join(b, col("tb") === col("event_type") &&
        col("day_y") === col("day_num") + col("lag"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("varx", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("n_days") * col("syy") - col("sy") * col("sy"))
      .filter(col("varx") > 0 && col("vary") > 0)
      .select(col("event_type"), col("lag"), col("n_days"),
        trunc6((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) /
          sqrt(col("varx").cast(DoubleType) * col("vary").cast(DoubleType)))
          .as("acf"))
      .orderBy("event_type", "lag")
  }

  private def tsAutocorrMulti(s: SparkSession, d: String): DataFrame =
    autocorrMulti(QRound9b.evDaily(s, d))

  private val oTsAutocorrMulti =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
       |lags AS (SELECT unnest(generate_series(1, $acfMaxLag)) AS lag),
       |m AS (SELECT a.event_type, l.lag,
       |    CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(a.cnt) AS BIGINT) AS sx, CAST(sum(b.cnt) AS BIGINT) AS sy,
       |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS sxy,
       |    CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx,
       |    CAST(sum(b.cnt * b.cnt) AS BIGINT) AS syy
       |  FROM daily a CROSS JOIN lags l
       |  JOIN daily b ON b.event_type = a.event_type
       |    AND b.day_num = a.day_num + l.lag
       |  GROUP BY 1, 2)
       |SELECT event_type, lag, n_days,
       |  ${oTrunc6("CAST(n_days * sxy - sx * sy AS DOUBLE) / " +
         "sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) * " +
         "CAST(n_days * syy - sy * sy AS DOUBLE))")} AS acf
       |FROM m WHERE n_days * sxx - sx * sx > 0
       |  AND n_days * syy - sy * sy > 0
       |ORDER BY event_type, lag""".stripMargin

  val queries: Map[String, QFn] = Map(
    "graph_stress_sampled" -> graphStressSampled _,
    "dedup_eval_prf"       -> dedupEvalPrf _,
    "ts_autocorr_multi"    -> tsAutocorrMulti _)

  val oracles: Map[String, String] = Map(
    "graph_stress_sampled" -> oGraphStressSampled,
    "dedup_eval_prf"       -> oDedupEvalPrf,
    "ts_autocorr_multi"    -> oTsAutocorrMulti)
}
