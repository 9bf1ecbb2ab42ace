package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 65 (SURVEY §2.28):
  *
  *  - `emb_pq_audit`: product-quantization health audit — codebook
  *    utilization and quantization-quality distribution over the shared
  *    PQ key; the go/no-go check before shipping a compressed index.
  *  - `sql_grouping_id`: GROUPING()/GROUPING_ID() over a CUBE — the
  *    super-aggregate provenance functions both engines must agree on,
  *    null-free via sentinel labels.
  *  - `scan_glob_paths`: recursive multi-directory ingestion — a staged
  *    two-subdir layout read back through recursiveFileLookup must
  *    reproduce the source exactly.
  */
object QRound9bn extends QueryPack {

  // ---- emb_pq_audit ----

  /** PQ audit over the shared codebook key: code-space utilization
    * (distinct 12-bit codes used / 4096) and the quantization-quality
    * distribution (mean via scale-to-long, min, share below 0.9 —
    * trunc'd-vs-literal). Low utilization = wasted codebook bits;
    * low q = lossy subspaces.
    *
    * Scale shape: one pass over the bounded per-vector code table. */
  private[graft] def pqAudit(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val pq = QRound5e.queries("emb_pq_codebook")(s, d)
    pq.agg(count(lit(1)).as("n_vectors"),
        countDistinct("pq_code").as("n_codes_used"),
        sum(floor(col("q_score") * lit(1e12) + lit(0.5)).cast(LongType))
          .as("sq"),
        min("q_score").as("min_q"),
        sum((col("q_score") < lit(9e-1)).cast(LongType)).as("n_low_q"))
      .select(col("n_vectors"), col("n_codes_used"),
        lit(4096L).as("code_space"),
        trunc4(col("n_codes_used").cast(dd) / lit(4096.0))
          .as("utilization"),
        trunc4(col("sq").cast(dd) / lit(1e12) / col("n_vectors").cast(dd))
          .as("mean_q"),
        trunc4(col("min_q")).as("min_q"), col("n_low_q"))
  }

  private val oEmbPqAudit =
    s"""WITH pq AS MATERIALIZED (SELECT * FROM
       |  (${QRound5e.oracles("emb_pq_codebook")}))
       |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(count(DISTINCT pq_code) AS BIGINT) AS n_codes_used,
       |  CAST(4096 AS BIGINT) AS code_space,
       |  ${oTrunc4("CAST(count(DISTINCT pq_code) AS DOUBLE) / 4096e0")}
       |    AS utilization,
       |  ${oTrunc4("CAST(sum(CAST(floor(q_score * 1e12 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e12 / count(*)")} AS mean_q,
       |  ${oTrunc4("min(q_score)")} AS min_q,
       |  CAST(sum(CASE WHEN q_score < 9e-1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_low_q
       |FROM pq""".stripMargin

  // ---- sql_grouping_id ----

  /** CUBE with GROUPING()/GROUPING_ID(): every super-aggregate row
    * carries its provenance bits; rolled-up dimensions display the
    * '_ALL' sentinel so the output is null-free (sidestepping the
    * engines' opposite NULL sort defaults).
    *
    * Scale shape: one cube aggregate (4 grouping sets), map-side
    * partials. */
  private[graft] def groupingId(s: SparkSession, d: String): DataFrame = {
    SqlText.on(s,
      """SELECT coalesce(l_returnflag, '_ALL') AS rf,
         |  coalesce(l_linestatus, '_ALL') AS ls,
         |  grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
         |  grouping_id(l_returnflag, l_linestatus) AS gid,
         |  count(*) AS n
         |FROM g_lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY gid, rf, ls""".stripMargin)(
      "g_lineitem" -> t(s, d, "lineitem"))
      .select(col("rf"), col("ls"),
        col("g_rf").cast(IntegerType).as("g_rf"),
        col("g_ls").cast(IntegerType).as("g_ls"),
        col("gid").cast(LongType).as("gid"), col("n"))
  }

  private val oSqlGroupingId =
    """SELECT coalesce(l_returnflag, '_ALL') AS rf,
      |  coalesce(l_linestatus, '_ALL') AS ls,
      |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
      |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, rf, ls""".stripMargin

  // ---- scan_glob_paths ----

  private val globStage = new java.util.concurrent.ConcurrentHashMap[
    String, String]()

  /** Recursive multi-directory ingestion: events split by user parity
    * into two nested subdirectories; reading the ROOT with
    * recursiveFileLookup must see both halves — the per-type counts
    * reproduce the source table exactly (the oracle computes them from
    * the raw events).
    *
    * Scale shape: directory discovery is a driver-side listing; the
    * scan itself parallelizes per file exactly like a flat layout. */
  private[graft] def globPaths(s: SparkSession, d: String): DataFrame = {
    val root = globStage.computeIfAbsent(s"${s.hashCode}|$d", _ => {
      val p = graft.Staging.trackedTempDir("glob_paths")
      val ev = t(s, d, "events")
      ev.filter(col("user_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$p/shard_even/daily")
      ev.filter(col("user_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$p/shard_odd/daily")
      p
    })
    s.read.option("recursiveFileLookup", "true").parquet(root)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"))
      .orderBy("event_type")
  }

  private val oScanGlobPaths =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "emb_pq_audit"     -> ((s, d) => pqAudit(s, d)),
    "sql_grouping_id"  -> ((s, d) => groupingId(s, d)),
    "scan_glob_paths"  -> ((s, d) => globPaths(s, d)))

  val oracles: Map[String, String] = Map(
    "emb_pq_audit"     -> oEmbPqAudit,
    "sql_grouping_id"  -> oSqlGroupingId,
    "scan_glob_paths"  -> oScanGlobPaths)
}
