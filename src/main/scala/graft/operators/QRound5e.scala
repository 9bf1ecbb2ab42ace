package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-5 fifth wave (SURVEY §2.18) — three surfaces nothing else covers:
  *
  *  - `emb_pq_codebook`: product quantization — the vector-compression
    *  scheme behind every billion-scale ANN index (IVF-PQ): split each
    *  64-dim vector into 4 subspaces of 16 dims, run the deterministic
    *  seeded k-means (AnnKMeans — same machinery as `sim_ann_kmeans`)
    *  per subspace with k=8, and emit each vector's packed 12-bit code
    *  plus its quantization quality. 64 floats (256 B) compress to
    *  12 bits — a 170x index shrink.
  *  - `profile_key_skew`: join/agg-key skew diagnostics (distinct keys,
    *  min/median/p99/max per-key row counts, max/avg skew ratio) for the
    *  three hottest join keys — the profile that decides WHEN the
    *  `join_skew_salted` path is needed.
  *  - `gen_synthetic_sales`: distributed deterministic data generation
    *  from `spark.range` — no input files, columns derived by pure
    *  integer arithmetic (Knuth multiplicative hashing), so the oracle
    *  regenerates the identical table from `generate_series`. The
    *  pattern used to smoke-test a cluster at any scale before real
    *  data lands.
  */
object QRound5e extends QueryPack {

  // ---- product quantization ----

  private val pqSubspaces = 4
  private val pqDim = 16 // dims per subspace; 4 x 16 = the full 64
  private val pqK = 8    // centroids per subspace -> 3 bits each
  private val pqIters = 2

  /** One subspace's (vec_id, cell, score) assignment under its own
    * deterministic k-means codebook. */
  private def pqAssign(s: SparkSession, d: String, e: DataFrame,
      sub: Int): DataFrame = {
    val es = e.select(col("vec_id"),
      slice(col("v"), sub * pqDim + 1, pqDim).as("v"))
    val cent = AnnKMeans.centroidsMemo(s, d, s"pqsub$sub", pqK, pqIters)(es)
    AnnKMeans.assign(es, cent)
      .join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell").as(s"c$sub"),
        trunc4(CosineSim.of(col("v"), col("cv"))).as(s"s$sub"))
  }

  /** Packed PQ code (c0 + 8·c1 + 64·c2 + 512·c3) and mean per-subspace
    * quantization similarity for every vector. Scale shape: each
    * subspace's codebook is model state (8×16 doubles — broadcast), so
    * the corpus is scanned, never shuffled, by assignment; the 4
    * assignments join on vec_id (uniform key). At billion scale this is
    * exactly the IVF-PQ build: codebooks train on a sample, the full
    * corpus maps through broadcast codebooks in one pass. Determinism:
    * seeded init + trunc4(cosine) ranking + scaled-long centroid sums —
    * the oracle regenerates all 4 codebooks exactly (AnnKMeans chain,
    * prefixed per subspace). */
  private def embPqCodebook(s: SparkSession, d: String): DataFrame = {
    val e = QSim.embPersisted(s, d)
    e.count() // materialize the shared cache before the parallel fits race to build it
    // the four subspace codebooks are independent: train them as four
    // CONCURRENT Spark job chains (Lloyd iterations materialize model
    // state driver-side, so sequential training leaves the cluster idle
    // between collects — measured ~2x on the bench for this key)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val subs = Await.result(
      Future.sequence((0 until pqSubspaces).toList.map(sub =>
        Future(pqAssign(s, d, e, sub)))),
      Duration.Inf)
    val joined = subs.reduce(_.join(_, "vec_id"))
    joined
      .select(col("vec_id"),
        (col("c0") + col("c1") * pqK + col("c2") * (pqK * pqK)
          + col("c3") * (pqK * pqK * pqK)).cast(LongType).as("pq_code"),
        trunc4((col("s0") + col("s1") + col("s2") + col("s3")) / pqSubspaces)
          .as("q_score"))
      .orderBy("vec_id")
  }

  private val oEmbPqCodebook = {
    val subCtes = (0 until pqSubspaces).map { sub =>
      val lo = sub * pqDim + 1
      val hi = (sub + 1) * pqDim
      s"""s${sub}e AS (SELECT vec_id, fullv[$lo:$hi] AS v FROM e0),
         |${AnnKMeans.oCentroidChain(pqK, pqIters, pqDim, s"s$sub")}s${sub}x AS (
         |  SELECT vec_id, cell, score FROM (
         |    SELECT e.vec_id, c.cell,
         |      ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} AS score,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
         |    FROM s${sub}e e, s${sub}c$pqIters c) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fullv FROM embeddings),
       |$subCtes
       |SELECT e0.vec_id,
       |  CAST(s0x.cell + s1x.cell * $pqK + s2x.cell * ${pqK * pqK}
       |    + s3x.cell * ${pqK * pqK * pqK} AS BIGINT) AS pq_code,
       |  floor((s0x.score + s1x.score + s2x.score + s3x.score) / $pqSubspaces
       |    * 10000)/10000.0 AS q_score
       |FROM e0 JOIN s0x USING (vec_id) JOIN s1x USING (vec_id)
       |  JOIN s2x USING (vec_id) JOIN s3x USING (vec_id)
       |ORDER BY vec_id""".stripMargin
  }

  // ---- join-key skew profile ----

  /** Distribution of per-key row counts for the three hottest join keys.
    * Percentiles interpolate over exact integer counts, so both engines
    * derive identical doubles. Scale shape: one count-groupBy per key
    * (partial-aggregated map-side), then a tiny per-column aggregate —
    * the union has 3 rows; this is the diagnostic that decides when a
    * join needs the `join_skew_salted` treatment. */
  private def profileKeySkew(s: SparkSession, d: String): DataFrame = {
    def one(df: DataFrame, key: String, label: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"),
          min("cnt").as("min_cnt"),
          expr("percentile(cnt, 5e-1)").as("p50"),
          expr("percentile(cnt, 99e-2)").as("p99"),
          max("cnt").as("max_cnt"),
          sum("cnt").as("n_rows"))
        .select(lit(label).as("key_col"), col("n_keys"), col("min_cnt"),
          trunc4(col("p50")).as("p50_cnt"), trunc4(col("p99")).as("p99_cnt"),
          col("max_cnt"),
          trunc4(col("max_cnt") / (col("n_rows") / col("n_keys"))
            .cast(DoubleType)).as("skew_ratio"))
    one(t(s, d, "lineitem"), "l_suppkey", "lineitem.l_suppkey")
      .unionAll(one(t(s, d, "lineitem"), "l_partkey", "lineitem.l_partkey"))
      .unionAll(one(t(s, d, "orders"), "o_custkey", "orders.o_custkey"))
      .orderBy("key_col")
  }

  private val oProfileKeySkew = {
    def one(tbl: String, key: String, label: String) =
      s"""SELECT '$label' AS key_col, count(*) AS n_keys, min(cnt) AS min_cnt,
         |  ${oTrunc4("quantile_cont(cnt, 5e-1)")} AS p50_cnt,
         |  ${oTrunc4("quantile_cont(cnt, 99e-2)")} AS p99_cnt,
         |  max(cnt) AS max_cnt,
         |  ${oTrunc4("max(cnt) / (CAST(sum(cnt) AS DOUBLE) / count(*))")} AS skew_ratio
         |FROM (SELECT $key, count(*) AS cnt FROM $tbl GROUP BY 1)""".stripMargin
    s"""SELECT * FROM (
       |${one("lineitem", "l_suppkey", "lineitem.l_suppkey")}
       |UNION ALL
       |${one("lineitem", "l_partkey", "lineitem.l_partkey")}
       |UNION ALL
       |${one("orders", "o_custkey", "orders.o_custkey")}
       |) ORDER BY key_col""".stripMargin
  }

  // ---- deterministic distributed data generation ----

  /** One million synthetic sales rows from `spark.range` — store, day,
    * and amount all derived by Knuth multiplicative hashing (pure 64-bit
    * integer arithmetic, bit-identical in any engine), rolled up per
    * store. Scale shape: range() splits the id space evenly across every
    * executor with ZERO input I/O and no shuffle until the final 97-key
    * groupBy — the standard way to smoke-test a 1000-executor cluster's
    * compute path before real data lands; the same expression generates
    * a trillion rows by changing one literal. */
  private def genSyntheticSales(s: SparkSession, d: String): DataFrame =
    s.range(0, 1000000)
      .select(col("id"),
        (col("id") * 2654435761L % 97).as("store_id"),
        (col("id") * 40503L % 365).as("day_num"),
        (col("id") * 2654435761L % 10000).as("amount_c"))
      .groupBy("store_id")
      .agg(count(lit(1)).as("n_sales"),
        sum("amount_c").as("total_cents"),
        countDistinct("day_num").as("n_days"),
        max("amount_c").as("max_cents"))
      .orderBy("store_id")

  private val oGenSyntheticSales =
    """WITH g AS (SELECT unnest(generate_series(0, 999999)) AS id),
      | r AS (SELECT id, id * 2654435761 % 97 AS store_id,
      |   id * 40503 % 365 AS day_num,
      |   id * 2654435761 % 10000 AS amount_c FROM g)
      |SELECT store_id, count(*) AS n_sales,
      |  CAST(sum(amount_c) AS BIGINT) AS total_cents,
      |  count(DISTINCT day_num) AS n_days,
      |  max(amount_c) AS max_cents
      |FROM r GROUP BY store_id ORDER BY store_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "emb_pq_codebook"     -> embPqCodebook _,
    "profile_key_skew"    -> profileKeySkew _,
    "gen_synthetic_sales" -> genSyntheticSales _)

  val oracles: Map[String, String] = Map(
    "emb_pq_codebook"     -> oEmbPqCodebook,
    "profile_key_skew"    -> oProfileKeySkew,
    "gen_synthetic_sales" -> oGenSyntheticSales)
}
