package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 82 (SURVEY §2.28):
  *
  *  - `serve_consistent_hash`: consistent-hash ring assignment (4
  *    servers × 32 vnodes) of the user keyspace, plus the rebalance
  *    delta when a 5th server joins — the classic "only 1/n keys move"
  *    demonstration, fully deterministic via md5.
  *  - `ts_vwap_daily`: daily volume-weighted average price over the
  *    lineitem flow — the finance-style weighted rollup, cent-exact.
  *  - `profile_hill_diversity`: Hill-number diversity profile (q=0
  *    richness, q=1 exp-Shannon, q=2 inverse-Simpson) of the source mix
  *    per language — the corpus-composition report.
  */
object QRound9ce extends QueryPack {

  private val dd = DoubleType

  // ---- serve_consistent_hash ----

  private val chServers = 4
  private val chVnodes = 32

  /** Consistent hashing: ring positions are the md5-derived longs of
    * "s<i>_v<j>" (exact conv-BIGINT parse); each user key hashes the
    * same way and lands on its clockwise successor vnode (min position
    * ≥ key, wrapping to the ring minimum). Emits per-server key share
    * under 4 servers and the fraction of keys that MOVE when server 4
    * joins — the 1/(n+1) guarantee made measurable.
    *
    * Scale shape: the ring is a broadcast (servers×vnodes)-row table;
    * assignment is a broadcast min-over-candidates aggregate per key —
    * no shuffle of the keyspace. */
  private[graft] def consistentHash(s: SparkSession, d: String): DataFrame = {
    def ring(nSrv: Int): DataFrame =
      s.range(nSrv).select(col("id").cast(IntegerType).as("srv"))
        .crossJoin(s.range(chVnodes).select(col("id").cast(IntegerType)
          .as("vn")))
        .select(col("srv"), md5Prefix(concat(lit("s"), col("srv").cast(StringType),
          lit("_v"), col("vn").cast(StringType)), 15).cast(LongType).as("pos"))
    val keys = t(s, d, "events").select(col("user_id")).distinct()
      .select(col("user_id"), md5Prefix(concat(lit("u"),
        col("user_id").cast(StringType)), 15).cast(LongType).as("kpos"))
    def assign(r: DataFrame, tag: String): DataFrame = {
      val cand = keys.crossJoin(broadcast(r))
      // clockwise successor: min pos >= kpos, else global min (wrap)
      val succ = cand.groupBy("user_id", "kpos").agg(
        min(when(col("pos") >= col("kpos"), col("pos"))).as("succ_pos"),
        min("pos").as("wrap_pos"))
      val tagged = succ.withColumn("apos",
        coalesce(col("succ_pos"), col("wrap_pos")))
      tagged.join(broadcast(r), col("apos") === col("pos"))
        .select(col("user_id"), col("srv").as(s"srv_$tag"))
    }
    val a4 = assign(ring(chServers), "old")
    val a5 = assign(ring(chServers + 1), "new")
    val j = a4.join(a5, "user_id")
    val nKeys = keys.count()
    val perSrv = j.groupBy("srv_old").agg(count(lit(1)).as("n_keys"),
      sum((col("srv_old") =!= col("srv_new")).cast(LongType)).as("n_moved"))
    perSrv.select(col("srv_old").as("server"), col("n_keys"),
        trunc4(col("n_keys").cast(dd) / lit(nKeys.toDouble)).as("share"),
        col("n_moved"),
        trunc4(col("n_moved").cast(dd) / col("n_keys").cast(dd))
          .as("moved_share"))
      .orderBy("server")
  }

  private val oServeConsistentHash = {
    def ringSql(n: Int) =
      s"""SELECT srv, ${oMd5Prefix("concat('s', CAST(srv AS VARCHAR), '_v', CAST(vn AS VARCHAR))", 15)} AS pos
         |  FROM (SELECT unnest(range($n)) AS srv),
         |       (SELECT unnest(range($chVnodes)) AS vn)""".stripMargin
    def assignSql(ringCte: String, out: String) =
      s"""$out AS (SELECT user_id, srv FROM (
         |  SELECT k.user_id, r.srv, r.pos,
         |    row_number() OVER (PARTITION BY k.user_id ORDER BY
         |      CASE WHEN r.pos >= k.kpos THEN 0 ELSE 1 END, r.pos) AS rk
         |  FROM keys k, $ringCte r) WHERE rk = 1)""".stripMargin
    s"""WITH keys AS MATERIALIZED (SELECT DISTINCT user_id,
       |    ${oMd5Prefix("concat('u', CAST(user_id AS VARCHAR))", 15)} AS kpos
       |  FROM events),
       |ring4 AS MATERIALIZED (${ringSql(chServers)}),
       |ring5 AS MATERIALIZED (${ringSql(chServers + 1)}),
       |${assignSql("ring4", "a4")},
       |${assignSql("ring5", "a5")},
       |nk AS (SELECT count(*) AS n FROM keys),
       |j AS (SELECT a4.user_id, a4.srv AS so, a5.srv AS sn
       |  FROM a4 JOIN a5 ON a4.user_id = a5.user_id)
       |SELECT CAST(so AS INT) AS server, count(*) AS n_keys,
       |  ${oTrunc4("CAST(count(*) AS DOUBLE)/(SELECT CAST(n AS DOUBLE) FROM nk)")}
       |    AS share,
       |  CAST(sum(CASE WHEN so <> sn THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_moved,
       |  ${oTrunc4("CAST(sum(CASE WHEN so <> sn THEN 1 ELSE 0 END) AS DOUBLE)/count(*)")}
       |    AS moved_share
       |FROM j GROUP BY so ORDER BY server""".stripMargin
  }

  // ---- ts_vwap_daily ----

  /** Daily VWAP over the lineitem flow: Σ(price_cents·qty)/Σ qty per
    * ship day — both sums exact BIGINTs (2-dp money × integral
    * quantity), one division. The canonical weighted-price rollup.
    *
    * Scale shape: one map-side-partial aggregate keyed by day. */
  private[graft] def vwapDaily(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    li.select(expr(
        "unix_micros(cast(date_trunc('DAY', l_shipdate) as timestamp)) div 86400000000")
        .as("day_num"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5))
          .cast(LongType).as("cents"),
        col("l_quantity").cast(LongType).as("qty"))
      .groupBy("day_num")
      .agg(count(lit(1)).as("n_lines"), sum("qty").as("volume"),
        sum(col("cents") * col("qty")).as("notional_cents"))
      .select(col("day_num"), col("n_lines"), col("volume"),
        trunc4(col("notional_cents").cast(dd) / lit(1e2)
          / col("volume").cast(dd)).as("vwap"))
      .orderBy("day_num")
  }

  private val oTsVwapDaily =
    s"""SELECT epoch_us(date_trunc('day', l_shipdate)) // 86400000000
       |    AS day_num,
       |  count(*) AS n_lines,
       |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS volume,
       |  ${oTrunc4("CAST(sum(CAST(floor(l_extendedprice*100 + 5e-1) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)/1e2/CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)")}
       |    AS vwap
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- profile_hill_diversity ----

  /** Hill-number diversity of the source mix per language: q=0 (source
    * richness), q=1 (exp Shannon — 1e12 scale-to-long terms), q=2
    * (inverse Simpson — exact integer Σn², one division). The three
    * numbers diverge exactly when the mix is skewed; the
    * corpus-composition line a dataset card prints.
    *
    * Scale shape: one (lang, source) rollup + one lang rollup. */
  private[graft] def hillDiversity(s: SparkSession, d: String): DataFrame = {
    val cells = t(s, d, "documents").groupBy("lang", "source")
      .agg(count(lit(1)).as("c"))
    val tot = cells.groupBy("lang").agg(sum("c").as("n"),
      count(lit(1)).as("q0"), sum(col("c") * col("c")).as("s2"))
    cells.join(broadcast(tot), "lang")
      .withColumn("term_sc", floor(
        col("c").cast(dd) / col("n").cast(dd)
          * log(col("n").cast(dd) / col("c").cast(dd)) * lit(1e12)
          + lit(0.5)).cast(LongType))
      .groupBy("lang", "n", "q0", "s2").agg(sum("term_sc").as("h_sc"))
      .select(col("lang"), col("n").as("n_docs"),
        col("q0").as("hill_q0"),
        trunc4(exp(col("h_sc").cast(dd) / lit(1e12))).as("hill_q1"),
        trunc4(col("n").cast(dd) * col("n").cast(dd)
          / col("s2").cast(dd)).as("hill_q2"))
      .orderBy("lang")
  }

  private val oProfileHill =
    s"""WITH cells AS (SELECT lang, source, count(*) AS c FROM documents
       |  GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n, count(*) AS q0,
       |    CAST(sum(c*c) AS BIGINT) AS s2 FROM cells GROUP BY 1),
       |h AS (SELECT cells.lang, n, q0, s2,
       |    CAST(sum(CAST(floor(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)
       |      * ln(CAST(n AS DOUBLE)/CAST(c AS DOUBLE)) * 1e12 + 5e-1)
       |      AS BIGINT)) AS BIGINT) AS h_sc
       |  FROM cells JOIN tot USING (lang) GROUP BY 1, 2, 3, 4)
       |SELECT lang, n AS n_docs, CAST(q0 AS BIGINT) AS hill_q0,
       |  ${oTrunc4("exp(CAST(h_sc AS DOUBLE)/1e12)")} AS hill_q1,
       |  ${oTrunc4("CAST(n AS DOUBLE)*CAST(n AS DOUBLE)/CAST(s2 AS DOUBLE)")}
       |    AS hill_q2
       |FROM h ORDER BY lang""".stripMargin

  val queries: Map[String, QFn] = Map(
    "serve_consistent_hash"  -> ((s, d) => consistentHash(s, d)),
    "ts_vwap_daily"          -> ((s, d) => vwapDaily(s, d)),
    "profile_hill_diversity" -> ((s, d) => hillDiversity(s, d)))

  val oracles: Map[String, String] = Map(
    "serve_consistent_hash"  -> oServeConsistentHash,
    "ts_vwap_daily"          -> oTsVwapDaily,
    "profile_hill_diversity" -> oProfileHill)
}
