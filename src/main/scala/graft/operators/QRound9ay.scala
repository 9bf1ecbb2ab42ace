package graft.operators

import graft.QueryPack
import graft.functions.VecCentroid
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 50 (SURVEY §2.28):
  *
  *  - `emb_centroid_drift`: embedding-space drift between the two corpus
  *    halves — centroid cosine, L2 shift and the worst-shifted dimension,
  *    the model-monitoring twin of tabular feature drift.
  *  - `mm_video_motion`: pixel-level motion profile per video through the
  *    real multi-frame decode — mean absolute per-pixel inter-frame
  *    difference plus the most dynamic transition (scene cuts see
  *    brightness jumps; this sees motion that preserves brightness).
  *  - `serve_cache_plan`: LFU cache capacity planning over the request
  *    key distribution — hit ratio at capacity 8/32/128 from exact
  *    frequency mass.
  */
object QRound9ay extends QueryPack {

  // ---- emb_centroid_drift ----

  /** Centroid drift between vec_id-parity halves: both centroids use the
    * engine-wide exact spelling (per-dim scale-to-long mean, VecCentroid),
    * so every component is an identical rational in both engines; the
    * cosine / L2 / per-dim comparison then runs dim-wise with
    * scale-to-long sums (order-free). Reports centroid cosine, L2 shift,
    * and the dimension with the largest absolute shift.
    *
    * Scale shape: one corpus pass builds both centroids (64-dim model
    * state); everything after is a 64-row computation. */
  private[graft] def centroidDrift(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(dd)).as("v"))
    val cents = e.groupBy((col("vec_id") % 2).as("side"))
      .agg(count(lit(1)).as("n"), VecCentroid.of(col("v")).as("c"))
    val a = cents.filter(col("side") === 0)
      .select(col("n").as("n_a"), col("c").as("ca"))
    val b = cents.filter(col("side") === 1)
      .select(col("n").as("n_b"), col("c").as("cb"))
    val dims = a.crossJoin(broadcast(b))
      .select(col("n_a"), col("n_b"),
        posexplode(zip_with(col("ca"), col("cb"),
          (x, y) => struct(x.as("x"), y.as("y")))))
      .select(col("n_a"), col("n_b"), col("pos"),
        col("col.x").as("x"), col("col.y").as("y"))
    dims.agg(
        max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum(floor(col("x") * col("y") * lit(1e12) + lit(0.5))
          .cast(LongType)).as("dot_s"),
        sum(floor(col("x") * col("x") * lit(1e12) + lit(0.5))
          .cast(LongType)).as("na_s"),
        sum(floor(col("y") * col("y") * lit(1e12) + lit(0.5))
          .cast(LongType)).as("nb_s"),
        sum(floor((col("x") - col("y")) * (col("x") - col("y")) * lit(1e12)
          + lit(0.5)).cast(LongType)).as("l2_s"),
        max(struct(floor(abs(col("x") - col("y")) * lit(1e12))
          .cast(LongType).as("sh"), (-col("pos")).as("np"))).as("mx"))
      .select(col("n_a"), col("n_b"),
        trunc4(col("dot_s").cast(dd) /
          (sqrt(col("na_s").cast(dd)) * sqrt(col("nb_s").cast(dd))))
          .as("centroid_cos"),
        trunc4(sqrt(col("l2_s").cast(dd) / lit(1e12))).as("l2_shift"),
        (-col("mx.np")).cast(LongType).as("worst_dim"),
        trunc4(col("mx.sh").cast(dd) / lit(1e12)).as("worst_shift"))
  }

  private val oEmbCentroidDrift =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |cd AS (SELECT vec_id % 2 AS side, i.i AS pos,
       |    CAST(SUM(CAST(floor(v[i.i] * 1000000 + 0.5) AS BIGINT))
       |      AS DOUBLE) / count(*) / 1000000 AS cx,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM e, (SELECT unnest(generate_series(1, 64)) AS i) i
       |  GROUP BY 1, 2),
       |ab AS (SELECT a.pos - 1 AS pos, a.cx AS x, b.cx AS y,
       |    a.n AS n_a, b.n AS n_b
       |  FROM cd a JOIN cd b ON a.pos = b.pos
       |  WHERE a.side = 0 AND b.side = 1),
       |m AS (SELECT max(n_a) AS n_a, max(n_b) AS n_b,
       |    CAST(sum(CAST(floor(x * y * 1e12 + 5e-1) AS BIGINT)) AS BIGINT)
       |      AS dot_s,
       |    CAST(sum(CAST(floor(x * x * 1e12 + 5e-1) AS BIGINT)) AS BIGINT)
       |      AS na_s,
       |    CAST(sum(CAST(floor(y * y * 1e12 + 5e-1) AS BIGINT)) AS BIGINT)
       |      AS nb_s,
       |    CAST(sum(CAST(floor((x - y) * (x - y) * 1e12 + 5e-1) AS BIGINT))
       |      AS BIGINT) AS l2_s,
       |    max(struct_pack(sh := CAST(floor(abs(x - y) * 1e12) AS BIGINT),
       |      np := -pos)) AS mx
       |  FROM ab)
       |SELECT n_a, n_b,
       |  ${oTrunc4("CAST(dot_s AS DOUBLE) / (sqrt(CAST(na_s AS DOUBLE)) * sqrt(CAST(nb_s AS DOUBLE)))")} AS centroid_cos,
       |  ${oTrunc4("sqrt(CAST(l2_s AS DOUBLE) / 1e12)")} AS l2_shift,
       |  CAST(-(mx.np) AS BIGINT) AS worst_dim,
       |  ${oTrunc4("CAST(mx.sh AS DOUBLE) / 1e12")} AS worst_shift
       |FROM m""".stripMargin

  // ---- mm_video_motion ----

  /** Pixel-level motion per video: Σ |frame_{f+1}(i) − frame_f(i)| over
    * every pixel byte of every consecutive frame pair — exact BIGINT —
    * normalized to mean motion per byte-step (trunc4) plus the most
    * dynamic transition (max pair sum, earliest f on ties). Scene cuts
    * threshold brightness-sum jumps; this integrates true per-pixel
    * change, catching motion that preserves total brightness. The oracle
    * replays the synthesis formula per (frame, byte).
    *
    * Scale shape: per-partition batch decode; one rollup row per video. */
  private[graft] def videoMotion(media: org.apache.spark.sql.Dataset[
      Multimodal.MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    val dd = DoubleType
    media.mapPartitions(_.flatMap { r =>
      val frames = Multimodal.decodeFramePlanes(r.payload)
      if (frames.length < 2) None
      else {
        var total = 0L
        var best = -1L
        var bestF = -1
        var f = 0
        while (f < frames.length - 1) {
          val (w, h, p0) = frames(f)
          val (_, _, p1) = frames(f + 1)
          var s = 0L
          var i = 0
          val n = 3 * w * h
          while (i < n) {
            s += math.abs((p1(i) & 0xff) - (p0(i) & 0xff))
            i += 1
          }
          total += s
          if (s > best) { best = s; bestF = f }
          f += 1
        }
        val (w, h, _) = frames.head
        Some((r.media_id, frames.length, w, h, total, best, bestF))
      }
    }).toDF("media_id", "n_frames", "w", "h", "total", "best", "best_f")
      .select(col("media_id"), col("n_frames"),
        col("total").as("motion_total"),
        trunc4(col("total").cast(dd) /
          ((col("n_frames") - 1) * col("w") * col("h") * 3).cast(dd) /
          lit(255.0)).as("mean_motion"),
        col("best_f").cast(LongType).as("peak_pair"),
        trunc4(col("best").cast(dd) /
          (col("w") * col("h") * 3).cast(dd) / lit(255.0))
          .as("peak_motion"))
      .orderBy("media_id")
  }

  private def mmVideoMotion(s: SparkSession, d: String): DataFrame =
    videoMotion(Multimodal.videosFromDocuments(s, d))

  private val oMmVideoMotion =
    s"""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS BIGINT) AS w,
       |    CAST(3 + doc_id % 4 AS BIGINT) AS h,
       |    CAST(2 + doc_id % 4 AS BIGINT) AS nf FROM documents),
       |pair AS (SELECT doc_id, w, h, nf, f.f,
       |    CAST(sum(abs((doc_id*31 + (f.f+1)*13 + i.i*7) % 256
       |      - (doc_id*31 + f.f*13 + i.i*7) % 256)) AS BIGINT) AS s
       |  FROM d,
       |    LATERAL (SELECT unnest(generate_series(0, nf - 2)) AS f) f,
       |    LATERAL (SELECT unnest(generate_series(0, w*h*3 - 1)) AS i) i
       |  GROUP BY 1, 2, 3, 4, 5),
       |ag AS (SELECT doc_id, w, h, nf,
       |    CAST(sum(s) AS BIGINT) AS total,
       |    max(struct_pack(s := s, nf2 := -f)) AS mx
       |  FROM pair GROUP BY 1, 2, 3, 4)
       |SELECT doc_id AS media_id, CAST(nf AS INT) AS n_frames,
       |  total AS motion_total,
       |  ${oTrunc4("CAST(total AS DOUBLE) / ((nf - 1) * w * h * 3) / 255e0")} AS mean_motion,
       |  CAST(-(mx.nf2) AS BIGINT) AS peak_pair,
       |  ${oTrunc4("CAST(mx.s AS DOUBLE) / (w * h * 3) / 255e0")} AS peak_motion
       |FROM ag ORDER BY media_id""".stripMargin

  // ---- serve_cache_plan ----

  private val cacheSizes = Seq(8, 32, 128)

  /** LFU cache planning over the request-key (user_id) frequency
    * distribution: hit ratio at capacity c = mass of the c most frequent
    * keys / total requests, for c ∈ {8, 32, 128}. The top-128 frequency
    * list is bounded model state (TakeOrdered, freq desc / key asc
    * tiebreak — collected like every other model-state table in the
    * engine); ratios are exact integer masses with one trunc4.
    *
    * Scale shape: one per-key aggregate with map-side combine; the
    * ranked head is a 128-row TakeOrdered, never a global window. */
  private[graft] def cachePlan(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    val dd = DoubleType
    val freq = events.groupBy("user_id").agg(count(lit(1)).as("f"))
    val top = freq.orderBy(col("f").desc, col("user_id"))
      .limit(cacheSizes.max).collect()
      .map(_.getAs[Long]("f"))
    val masses = cacheSizes.map(c => (c.toLong, top.take(c).sum))
    val plan = s.createDataFrame(masses).toDF("capacity", "hit_mass")
    val tot = freq.agg(sum("f").as("total"),
      count(lit(1)).as("n_keys"))
    plan.crossJoin(broadcast(tot))
      .select(col("capacity"), col("n_keys"), col("hit_mass"), col("total"),
        trunc4(col("hit_mass").cast(dd) / col("total").cast(dd))
          .as("hit_ratio"))
      .orderBy("capacity")
  }

  private def serveCachePlan(s: SparkSession, d: String): DataFrame =
    cachePlan(t(s, d, "events"))

  private val oServeCachePlan =
    s"""WITH freq AS (SELECT user_id, CAST(count(*) AS BIGINT) AS f
       |  FROM events GROUP BY 1),
       |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, user_id)
       |    AS rn FROM freq),
       |cap AS (SELECT CAST(unnest([${cacheSizes.mkString(", ")}])
       |  AS BIGINT) AS capacity),
       |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total,
       |    CAST(count(*) AS BIGINT) AS n_keys FROM freq),
       |mass AS (SELECT c.capacity, CAST(sum(r.f) AS BIGINT) AS hit_mass
       |  FROM cap c JOIN rk r ON r.rn <= c.capacity GROUP BY 1)
       |SELECT m.capacity, t.n_keys, m.hit_mass, t.total,
       |  ${oTrunc4("CAST(m.hit_mass AS DOUBLE) / t.total")} AS hit_ratio
       |FROM mass m, tot t ORDER BY m.capacity""".stripMargin

  val queries: Map[String, QFn] = Map(
    "emb_centroid_drift" -> centroidDrift _,
    "mm_video_motion"    -> mmVideoMotion _,
    "serve_cache_plan"   -> serveCachePlan _)

  val oracles: Map[String, String] = Map(
    "emb_centroid_drift" -> oEmbCentroidDrift,
    "mm_video_motion"    -> oMmVideoMotion,
    "serve_cache_plan"   -> oServeCachePlan)
}
