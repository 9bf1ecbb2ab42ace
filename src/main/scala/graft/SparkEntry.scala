package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.functions.QFunctions
import graft.streaming.QStreaming

/** Driver contract — SURVEY.md §2 is the key inventory; each pack below
  * implements one §2 block and carries its own oracle SQL. */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    QRelational, QJoins, QWindows, QFunctions, QText, QSim, QAdvanced,
    QExtra, QPipeline, QRound3, QRound4, QRound5, QRound5b, QRound5c,
    QRound5d, QRound5e, QRound5f, QRound5g, QRound5h, QRound5i, QRound7,
    QRound7b, QRound7c, QRound7d, QRound8, QRound9, QRound9b, QRound9c,
    QRound9d, QRound9e, QRound9f, QRound9g, QRound9h, QRound9i, QRound9j,
    QRound9k, QRound9l, QRound9m, QRound9n, QRound9o, QRound9p, QRound9q,
    QRound9r, QRound9s, QRound9t, QRound9u, QRound9v, QRound9w, QRound9x,
    QRound9y, QRound9z, QRound9aa, QRound9ab, QRound9ac, QRound9ad,
    QRound9ae, QRound9af, QRound9ag, QRound9ah, QRound9ai, QRound9aj,
    QRound9ak, QRound9al, QRound9am, QRound9an, QRound9ao, QRound9ap,
    QRound9aq, QRound9ar, QRound9as, QRound9at, QRound9au, QRound9av, QRound9aw,
    QRound9ax, QRound9ay, QRound9az, QRound9ba, QRound9bb, QRound9bc,
    QRound9bd, QRound9be, QRound9bf, QRound9bg, QRound9bh, QRound9bi,
    QRound9bj, QRound9bk, QRound9bl, QRound9bm, QRound9bn, QRound9bo,
    QRound9bp, QRound9bq, QRound9br, QRound9bs, QRound9bt, QRound9bu, QRound9bv, QRound9bw, QRound9bx, QRound9by, QRound9bz, QRound9ca, QRound9cb, QRound9cc, QRound9cd, QRound9ce, QRound9cf, QRound9cg, QRound9ch,
    QRound9ci, QRound9cj, QRound9ck, QRound9cl, QRound9cm, QRound9cn,
    QRound11, QRound12, QRound14, QRound15, QRound16, QStreaming)

  /** A local session builder with the confs the engine needs: UTC session
    * time, TIMESTAMP(NANOS) parquet read as raw longs (normalized by
    * `Tables.t`), the RocksDB state store for the streaming keys, no UI. */
  def localBuilder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_group_q1")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(packs.map(_.queries))

  /** DuckDB-runnable ANSI SQL per key; keys absent here (HLL sketch,
    * watermark semantics) are covered by scalatest instead. */
  val oracleSql: Map[String, String] =
    merged(packs.map(_.oracles))

  /** The packs' maps as one, failing on a key that two packs declare
    * (a plain `toMap` would silently keep the last pack's entry). */
  private[graft] def merged[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k
    }
    require(dups.isEmpty,
      s"keys declared by more than one pack: ${dups.toSeq.sorted.mkString(", ")}")
    maps.flatten.toMap
  }
}
