package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 47 (SURVEY §2.28):
  *
  *  - `sample_pps_systematic`: systematic probability-proportional-to-
  *    size sampling per language stratum — the classic survey/shard
  *    sampling design, exact in integer arithmetic.
  *  - `agg_hist_quantile`: P50/P90 from a 1024-bin fixed histogram with
  *    linear interpolation — the mergeable one-pass quantile a 100 TB
  *    scan actually runs (exact percentile sorts; sketches don't
  *    cross-check; the fixed grid does both).
  *  - `graph_powerlaw_fit`: continuous-MLE power-law exponent of the
  *    kNN-graph degree distribution (Clauset et al. 2009) — the
  *    scale-free test over the shared memoized edge table.
  */
object QRound9av extends QueryPack {

  // ---- sample_pps_systematic ----

  private val ppsPerStratum = 10L

  /** Systematic PPS: within each language stratum, walk documents in
    * doc_id order accumulating size weight w = n_chars; a document is
    * selected when its weight span crosses one of the n=10 equally
    * spaced skip boundaries — pick index k = (cum·n) div W changes
    * across the span. n_hits = k − k_prev counts boundary crossings
    * (>1 = certainty item larger than the skip). Deterministic start at
    * offset 0; everything is BIGINT, no division rounding anywhere.
    *
    * Scale shape: the running sum partitions by stratum (never global);
    * stratum totals are a window aggregate over the same partition key;
    * the output is n rows per stratum. At 100 TB the stratum cumsum is
    * the standard two-pass partition-offset pattern. */
  private[graft] def ppsSystematic(docs: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("lang")
    val cums = docs.select(col("lang"), col("doc_id"),
        col("n_chars").cast(LongType).as("w"))
      .withColumn("cum", sum("w").over(wCum))
      .withColumn("wt", sum("w").over(wTot))
    cums
      .withColumn("k", expr(s"(cum * $ppsPerStratum) div wt"))
      .withColumn("k_prev", expr(s"((cum - w) * $ppsPerStratum) div wt"))
      .filter(col("k") > col("k_prev"))
      .select(col("lang"), col("doc_id"), col("w"),
        col("k").as("pick_k"), (col("k") - col("k_prev")).as("n_hits"))
      .orderBy("lang", "doc_id")
  }

  private def samplePpsSystematic(s: SparkSession, d: String): DataFrame =
    ppsSystematic(t(s, d, "documents"))

  private val oSamplePpsSystematic =
    s"""WITH c AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
       |    CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS wt
       |  FROM documents),
       |k AS (SELECT lang, doc_id, w,
       |    (cum * $ppsPerStratum) // wt AS k,
       |    ((cum - w) * $ppsPerStratum) // wt AS k_prev
       |  FROM c)
       |SELECT lang, doc_id, w, k AS pick_k, k - k_prev AS n_hits
       |FROM k WHERE k > k_prev ORDER BY lang, doc_id""".stripMargin

  // ---- agg_hist_quantile ----

  private val histBins = 1024L

  /** Histogram quantiles: per l_returnflag a 1024-bin fixed grid over
    * [min, max] of l_extendedprice; P50/P90 are read off the cumulative
    * bin counts with linear interpolation inside the crossing bin —
    * the mergeable sketch-free approximation whose error is bounded by
    * one bin width. Bin indices floor identical doubles in both
    * engines; counts and cumulatives are exact BIGINTs; the final
    * estimate is one shared double formula (trunc4). The spec gates the
    * estimate against the exact sorted percentile.
    *
    * Scale shape: one scan builds all histograms (map-side combine on
    * (flag, bin)); the quantile read is a per-flag window over ≤1024
    * rows. Histograms merge associatively — the plan a 1000-executor
    * scan wants. */
  private[graft] def histQuantile(lineitem: DataFrame): DataFrame = {
    val dd = DoubleType
    val ext = lineitem.select(col("l_returnflag").as("flag"),
      col("l_extendedprice").cast(dd).as("v"))
    val rng = ext.groupBy("flag")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n"))
    val bins = ext.join(broadcast(rng), "flag")
      .withColumn("bin", least(
        floor((col("v") - col("mn")) * lit(histBins.toDouble) /
          (col("mx") - col("mn"))).cast(LongType), lit(histBins - 1)))
      .groupBy("flag", "bin").agg(count(lit(1)).as("nb"))
    val wCum = Window.partitionBy("flag").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.withColumn("cum", sum("nb").over(wCum))
      .join(broadcast(rng), "flag")
    val quants = ext.sparkSession.createDataFrame(
      Seq(0.5, 0.9).map(Tuple1(_))).toDF("q")
    val wPick = Window.partitionBy("flag", "q").orderBy("bin")
    cum.join(broadcast(quants),
        col("cum").cast(dd) >= col("q") * col("n").cast(dd))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("flag"), col("q"), col("n"),
        trunc4(col("mn") + (col("bin").cast(dd) +
          (col("q") * col("n").cast(dd) -
            (col("cum") - col("nb")).cast(dd)) / col("nb").cast(dd)) *
          (col("mx") - col("mn")) / lit(histBins.toDouble)).as("est"))
      .orderBy("flag", "q")
  }

  private def aggHistQuantile(s: SparkSession, d: String): DataFrame =
    histQuantile(t(s, d, "lineitem"))

  private val oAggHistQuantile =
    s"""WITH ext AS (SELECT l_returnflag AS flag,
       |    CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
       |rng AS (SELECT flag, min(v) AS mn, max(v) AS mx,
       |    CAST(count(*) AS BIGINT) AS n FROM ext GROUP BY 1),
       |bins AS (SELECT e.flag,
       |    least(CAST(floor((e.v - r.mn) * ${histBins}e0 / (r.mx - r.mn))
       |      AS BIGINT), ${histBins - 1}) AS bin,
       |    CAST(count(*) AS BIGINT) AS nb
       |  FROM ext e JOIN rng r ON e.flag = r.flag GROUP BY 1, 2),
       |cum AS (SELECT b.*, r.mn, r.mx, r.n,
       |    CAST(sum(nb) OVER (PARTITION BY b.flag ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM bins b JOIN rng r ON b.flag = r.flag),
       |q AS (SELECT unnest([5e-1, 9e-1]) AS q),
       |hit AS (SELECT c.flag, q.q, c.n, c.bin, c.nb, c.cum, c.mn, c.mx,
       |    row_number() OVER (PARTITION BY c.flag, q.q ORDER BY c.bin)
       |      AS rn
       |  FROM cum c JOIN q ON CAST(c.cum AS DOUBLE) >= q.q * c.n)
       |SELECT flag, q, n,
       |  ${oTrunc4("mn + (CAST(bin AS DOUBLE) + (q * n - CAST(cum - nb AS DOUBLE)) / nb) * (mx - mn) / " + histBins + "e0")} AS est
       |FROM hit WHERE rn = 1 ORDER BY flag, q""".stripMargin

  // ---- graph_powerlaw_fit ----

  /** Power-law exponent of the kNN-graph degree distribution by the
    * continuous MLE (Clauset, Shalizi & Newman 2009): with kmin = 1,
    * α = 1 + n / Σ ln(k_i / (kmin − ½)) = 1 + n / Σ ln(2·k_i). The log
    * sum runs through scale-to-long; degrees are exact counts over the
    * shared memoized undirected edge table (the same source PageRank,
    * BFS and assortativity fit against).
    *
    * Scale shape: one degree aggregate + one bounded rollup. */
  private[graft] def powerlawFit(edges: DataFrame): DataFrame = {
    val dd = DoubleType
    val deg = edges.groupBy("src").agg(count(lit(1)).as("k"))
    deg.agg(count(lit(1)).as("n_nodes"),
        min("k").as("min_deg"), max("k").as("max_deg"),
        sum(floor(log(col("k").cast(dd) * lit(2.0)) * lit(1e12)
          + lit(0.5)).cast(LongType)).as("sl"))
      .select(col("n_nodes"), col("min_deg"), col("max_deg"),
        trunc4(lit(1.0) + col("n_nodes").cast(dd) /
          (col("sl").cast(dd) / lit(1e12))).as("alpha"))
  }

  private def graphPowerlawFit(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    powerlawFit(edges)
  }

  private val oGraphPowerlawFit =
    s"""WITH ${QSim.oKnnEdges},
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS k
       |  FROM edges GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    min(k) AS min_deg, max(k) AS max_deg,
       |    CAST(sum(CAST(floor(ln(CAST(k AS DOUBLE) * 2e0) * 1e12 + 5e-1)
       |      AS BIGINT)) AS BIGINT) AS sl
       |  FROM deg)
       |SELECT n_nodes, min_deg, max_deg,
       |  ${oTrunc4("1e0 + CAST(n_nodes AS DOUBLE) / (CAST(sl AS DOUBLE) / 1e12)")} AS alpha
       |FROM m""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sample_pps_systematic" -> samplePpsSystematic _,
    "agg_hist_quantile"     -> aggHistQuantile _,
    "graph_powerlaw_fit"    -> graphPowerlawFit _)

  val oracles: Map[String, String] = Map(
    "sample_pps_systematic" -> oSamplePpsSystematic,
    "agg_hist_quantile"     -> oAggHistQuantile,
    "graph_powerlaw_fit"    -> oGraphPowerlawFit)
}
