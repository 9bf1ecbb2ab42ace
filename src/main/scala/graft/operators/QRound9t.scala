package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 19 (SURVEY §2.28):
  *
  *  - `emb_hubness_stats`: k-occurrence (in-degree) distribution of the
  *    kNN graph — the hubness audit (Radovanović et al.) that tells you
  *    whether high-dimensional neighbor lists are trustworthy.
  *  - `maint_partition_overwrite`: dynamic partition overwrite — rewrite
  *    ONE partition of a partitioned lake table in place, leave the
  *    rest untouched (the incremental-restatement maintenance op beside
  *    compaction/vacuum/Z-order).
  *  - `serve_keyset_page`: keyset (cursor) pagination over the bucketed
  *    score store — the serving-layer scan pattern that stays O(page)
  *    where OFFSET pagination re-scans everything before the cursor.
  */
object QRound9t extends QueryPack {

  // ---- emb_hubness_stats ----

  /** Hubness audit: N_k(x) = how many other points' kNN lists contain x
    * (the in-degree of the directed kNN graph; nodes in no list score
    * 0). A heavy-tailed N_k distribution — a few hub points appearing
    * in hundreds of lists — is the classic high-dimensional pathology
    * that silently corrupts kNN classifiers and ANN recall; the
    * histogram emitted here is the audit a pipeline checks before
    * trusting `emb_knn_classifier` or the ANN keys.
    *
    * Scale shape: one uniform-key count over the bounded kNN edge list
    * + a left join back to the corpus for the zeros; the histogram
    * cardinality is bounded by the max in-degree. */
  private[graft] def hubnessStats(nodes: DataFrame, knn: DataFrame)
      : DataFrame = {
    val indeg = knn.groupBy(col("nbr_id")).agg(count(lit(1)).as("d"))
    nodes.select(col("vec_id"))
      .join(indeg, col("vec_id") === col("nbr_id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("in_deg"))
      .groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("in_deg")
  }

  private def embHubnessStats(s: SparkSession, d: String): DataFrame =
    hubnessStats(
      QSim.embPersisted(s, d).select("vec_id"),
      QSim.knnJoinPersisted(s, d).select("vec_id", "nbr_id"))

  private val oEmbHubnessStats =
    s"""WITH knn AS MATERIALIZED (SELECT vec_id, nbr_id
       |  FROM (${QSim.oracles("sim_knn_join")})),
       |indeg AS (SELECT nbr_id, CAST(count(*) AS BIGINT) AS d
       |  FROM knn GROUP BY 1)
       |SELECT coalesce(i.d, 0) AS in_deg,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM embeddings e LEFT JOIN indeg i ON i.nbr_id = e.vec_id
       |GROUP BY 1 ORDER BY in_deg""".stripMargin

  // ---- maint_partition_overwrite ----

  /** Dynamic partition overwrite: the events table lands partitioned by
    * event_type; a restatement job then rewrites ONLY the `click`
    * partition (keeping just high-value clicks, value > 50) under
    * `partitionOverwriteMode=dynamic` — the other partitions' files are
    * untouched, which is the entire point (a static overwrite would
    * truncate the table). The key reads the final table and audits per
    * type; the oracle replays the restatement rule analytically, so an
    * overwrite that clobbers a sibling partition or duplicates the
    * rewritten one breaks the hash.
    *
    * Scale shape: the overwrite touches one partition's files; the audit
    * is one partition-pruned scan + a 5-key aggregate. */
  private[graft] def stagedOverwriteDir(s: SparkSession, d: String): String =
    QRound3.staged(s, d, "evpartover") { dir =>
      val src = t(s, d, "events").select(col("event_id"), col("user_id"),
        floor(col("value") * lit(1e2) + lit(5e-1)).cast(LongType)
          .as("cents"),
        col("event_type"))
      src.write.mode("overwrite").partitionBy("event_type").parquet(dir)
      src.filter(col("event_type") === "click" && col("cents") > 5000)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(dir)
    }

  private def maintPartitionOverwrite(s: SparkSession, d: String): DataFrame =
    s.read.parquet(stagedOverwriteDir(s, d))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_total"))
      .orderBy("event_type")

  private val oMaintPartitionOverwrite =
    """WITH e AS (SELECT event_type,
      |    CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS cents_total
      |FROM e WHERE event_type <> 'click' OR cents > 5000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- serve_keyset_page ----

  private val pageSize = 20
  private val nPages = 3

  /** Keyset pagination: three pages of the score leaderboard, each page
    * fetched with a CURSOR predicate ((score < c) OR (score = c AND
    * user_id > u)) + LIMIT — never OFFSET, which re-scans and discards
    * everything before the cursor (O(N·pages) at scale; keyset stays
    * O(page) against the sorted bucketed store). Cursors are 1-row
    * collected model state (the serving layer holds them between
    * requests). The oracle replays the same pages as row_number ranges —
    * identical rows by construction iff the cursor predicates are
    * exactly right at tied scores.
    *
    * Scale shape: each page is a TakeOrderedAndProject over the
    * memoized bucketed store with a sargable cursor predicate. */
  private def serveKeysetPage(s: SparkSession, d: String): DataFrame = {
    val store = QRound5.serveTablePersisted(s, d)
      .select(col("user_id"), col("score"))
    var pages: DataFrame = null
    var cursor: Option[(Double, Long)] = None
    for (p <- 0 until nPages) {
      val base = cursor match {
        case None => store
        case Some((cs, cu)) =>
          store.filter(col("score") < cs ||
            (col("score") === cs && col("user_id") > cu))
      }
      val page = base.orderBy(col("score").desc, col("user_id").asc)
        .limit(pageSize)
        .withColumn("page", lit(p))
      val rows = page.collect()
      if (rows.nonEmpty) {
        val last = rows.last
        cursor = Some((last.getAs[Double]("score"),
          last.getAs[Long]("user_id")))
      }
      pages = if (pages == null) page else pages.unionByName(page)
    }
    pages.orderBy(col("page"), col("score").desc, col("user_id"))
  }

  private val oServeKeysetPage = {
    val scored = QPipeline.oracles("chp_score_linear")
    s"""WITH st AS (SELECT user_id, score FROM ($scored)),
       |rk AS (SELECT user_id, score, row_number() OVER (
       |    ORDER BY score DESC, user_id) AS rn FROM st)
       |SELECT user_id, score,
       |  CAST((rn - 1) // $pageSize AS INT) AS page
       |FROM rk WHERE rn <= ${nPages * pageSize}
       |ORDER BY page, score DESC, user_id""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "emb_hubness_stats"         -> embHubnessStats _,
    "maint_partition_overwrite" -> maintPartitionOverwrite _,
    "serve_keyset_page"         -> serveKeysetPage _)

  val oracles: Map[String, String] = Map(
    "emb_hubness_stats"         -> oEmbHubnessStats,
    "maint_partition_overwrite" -> oMaintPartitionOverwrite,
    "serve_keyset_page"         -> oServeKeysetPage)
}
