package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 85 (SURVEY §2.28):
  *
  *  - `mm_image_hog_lite`: 4-bucket gradient-orientation histogram per
  *    image (HOG-lite) — exact integer dx/dy from the REAL decoded
  *    pixel plane, orientation by sign/magnitude comparisons only
  *    (no atan), the edge-direction signature of each image.
  *  - `text_top_p_nucleus`: nucleus (top-p) vocabulary analysis — the
  *    smallest token set covering 90% of corpus mass, the LLM-sampling
  *    lens on the unigram distribution.
  *  - `chp_markov_reward_ltv`: expected discounted value per starting
  *    action state (Markov reward process, γ = 1/2 — exact dyadic
  *    iteration) — the state-level LTV companion to the absorbing and
  *    removal keys.
  */
object QRound9ch extends QueryPack {

  private val dd = DoubleType

  // ---- mm_image_hog_lite ----

  /** HOG-lite per image: horizontal gradients dx = p[i+3]−p[i] (next
    * pixel, RGB interleave) and vertical dy = p[i+3w]−p[i] over the
    * synthesized plane; orientation bucket from exact comparisons —
    * 0: |dx| ≥ |dy|, dx ≥ 0; 1: |dx| ≥ |dy|, dx < 0; 2: |dx| < |dy|,
    * dy ≥ 0; 3: else — and the exact bucket counts per image. The
    * engine decodes REAL bytes (the P6 parse); the oracle replays the
    * synthesis formula, so any off-by-one in the plane indexing breaks
    * counts.
    *
    * Scale shape: per-partition batch decode; one bounded rollup. */
  private[graft] def hogLite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Multimodal.mediaFromPpm(s, d)
    val rows = media.mapPartitions(_.flatMap { m =>
      val p = m.payload
      Multimodal.decodePpm(p).map { case (wI, hI, _) =>
        val n = 3 * wI * hI
        val start = p.length - n
        val counts = new Array[Long](4)
        var i = 0
        while (i < n) {
          val v = p(start + i) & 0xff
          val dx = if (i + 3 < n) (p(start + i + 3) & 0xff) - v else 0
          val dy = if (i + 3 * wI < n) (p(start + i + 3 * wI) & 0xff) - v
            else 0
          val b =
            if (math.abs(dx) >= math.abs(dy)) { if (dx >= 0) 0 else 1 }
            else { if (dy >= 0) 2 else 3 }
          counts(b) += 1
          i += 1
        }
        (m.media_id, wI, hI, counts(0), counts(1), counts(2), counts(3))
      }
    }).toDF("media_id", "w", "h", "b0", "b1", "b2", "b3")
    rows.select(col("media_id"), col("w").cast(IntegerType).as("w"),
        col("h").cast(IntegerType).as("h"),
        col("b0"), col("b1"), col("b2"), col("b3"))
      .orderBy("media_id")
  }

  private val oMmHogLite =
    """WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
      |    CAST(3 + doc_id % 4 AS INT) AS h FROM documents),
      |px AS (SELECT doc_id, w, h, i,
      |    (doc_id*31 + i*7) % 256 AS v,
      |    CASE WHEN i + 3 < w*h*3
      |      THEN (doc_id*31 + (i + 3)*7) % 256 - (doc_id*31 + i*7) % 256
      |      ELSE 0 END AS dx,
      |    CASE WHEN i + 3*w < w*h*3
      |      THEN (doc_id*31 + (i + 3*w)*7) % 256 - (doc_id*31 + i*7) % 256
      |      ELSE 0 END AS dy
      |  FROM d, LATERAL (SELECT unnest(generate_series(0, w*h*3 - 1))
      |    AS i)),
      |bk AS (SELECT doc_id, w, h,
      |    CASE WHEN abs(dx) >= abs(dy) THEN (CASE WHEN dx >= 0 THEN 0
      |      ELSE 1 END) ELSE (CASE WHEN dy >= 0 THEN 2 ELSE 3 END) END
      |      AS b
      |  FROM px)
      |SELECT doc_id AS media_id, w, h,
      |  CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
      |  CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
      |  CAST(sum(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
      |  CAST(sum(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3
      |FROM bk GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin

  // ---- text_top_p_nucleus ----

  /** Nucleus (top-p) analysis of the unigram distribution: tokens
    * sorted by count desc (id tie-break), the nucleus is the smallest
    * prefix whose cumulative mass reaches 90% of tokens — exact
    * integer comparison cum·10 ≥ total·9; emits the nucleus members
    * with their in-nucleus renormalized probability (scale-to-long)
    * and rank.
    *
    * Scale shape: one token rollup + one ordering window over the
    * vocabulary. */
  private[graft] def topPNucleus(s: SparkSession, d: String): DataFrame = {
    val tok = t(s, d, "documents").select(
        explode(tokens(col("text"))).as("tk"))
      .groupBy("tk").agg(count(lit(1)).as("c"))
    // bounded-vocab ranking + prefix sums via ONE aggregate (no global
    // window — the PlanSpec gate): sorted struct array, in-array
    // prefix via slice+aggregate
    val ranked = tok
      .agg(expr("array_sort(collect_list(struct(-c AS nc, tk, c)))")
        .as("a"), sum("c").as("total"))
      .select(col("a"), col("total"), posexplode(col("a")))
      .select(col("total"), (col("pos") + 1).cast(IntegerType).as("rnk"),
        col("col.tk").as("tk"), col("col.c").as("c"),
        expr("aggregate(transform(slice(a, 1, pos + 1), z -> z.c), 0L, (acc, x) -> acc + x)")
          .as("cum"))
      .withColumn("in_nucleus",
        ((col("cum") - col("c")) * 10 < col("total") * 9)
          .cast(IntegerType))
    val nucleus = ranked.filter(col("in_nucleus") === 1)
    val nTot = nucleus.agg(sum("c").as("nuc_total"))
    nucleus.crossJoin(broadcast(nTot))
      .select(col("rnk"), col("tk"), col("c").as("cnt"),
        trunc4(col("c").cast(dd) / col("nuc_total").cast(dd))
          .as("renorm_prob"))
      .orderBy("rnk")
  }

  private val oTextTopP =
    s"""WITH tok AS (SELECT tk, count(*) AS c FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '),
       |      x -> x <> '')) AS tk FROM documents) GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM tok),
       |rk AS (SELECT tk, c, total,
       |    row_number() OVER (ORDER BY c DESC, tk) AS rnk,
       |    CAST(sum(c) OVER (ORDER BY c DESC, tk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM tok, tot),
       |nuc AS (SELECT * FROM rk WHERE (cum - c) * 10 < total * 9),
       |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nuc_total FROM nuc)
       |SELECT CAST(rnk AS INT) AS rnk, tk, c AS cnt,
       |  ${oTrunc4("CAST(c AS DOUBLE)/CAST(nuc_total AS DOUBLE)")}
       |    AS renorm_prob
       |FROM nuc, nt ORDER BY rnk""".stripMargin

  // ---- chp_markov_reward_ltv ----

  private val mrlRounds = 4

  /** Markov reward process: states = event types, reward r(s) = mean
    * event value in cents (floored — exact integer), γ = 1/2 so the
    * value iteration v' = r + (P·v)/2 stays in exact integer
    * arithmetic (transition expectation by floor division, then halve);
    * 4 rounds from v₀ = r. The expected discounted "value flow" a user
    * in state s generates — the state-level LTV.
    *
    * Scale shape: the transition matrix and reward vector are
    * V-bounded collected model state (the absorbing-prob discipline);
    * the distributed work is two rollups. */
  private[graft] def markovRewardLtv(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val rew = events.groupBy("event_type")
      .agg(expr("sum(CAST(floor(value*100 + 5e-1) AS BIGINT)) div count(*)")
        .as("r_cents"))
    val cells = trans.collect().map(r => (r.getAs[String]("from_type"),
      r.getAs[String]("to_type"), r.getAs[Long]("cnt")))
    val tot = cells.groupBy(_._1).map { case (s0, xs) =>
      s0 -> xs.map(_._3).sum }
    val rMap = rew.collect().map(r => (r.getAs[String]("event_type"),
      r.getAs[Long]("r_cents"))).toMap
    val states = rMap.keys.toSeq.sorted
    var v = states.map(s0 => s0 -> rMap(s0)).toMap
    for (_ <- 1 to mrlRounds) {
      v = states.map { s0 =>
        val pv = tot.get(s0) match {
          case Some(tt) if tt > 0 =>
            cells.filter(_._1 == s0).map { case (_, t2, c) =>
              c * v.getOrElse(t2, 0L) }.sum / tt
          case _ => 0L
        }
        s0 -> (rMap(s0) + pv / 2)
      }.toMap
    }
    val spark = events.sparkSession
    import spark.implicits._
    states.map(s0 => (s0, rMap(s0), v(s0))).toDF("state", "r_cents",
        "v_cents")
      .select(col("state"),
        trunc4(col("r_cents").cast(dd) / lit(1e2)).as("reward_per_event"),
        trunc4(col("v_cents").cast(dd) / lit(1e2)).as("discounted_ltv"))
      .orderBy("state")
  }

  private def chpMarkovRewardLtv(s: SparkSession, d: String): DataFrame =
    markovRewardLtv(t(s, d, "events"))

  private val oChpMarkovRewardLtv = {
    val iters = (1 to mrlRounds).map { k =>
      s"""v$k AS MATERIALIZED (SELECT r.state,
         |    r.r_cents + coalesce(pv.pv, 0) // 2 AS v
         |  FROM rew r LEFT JOIN (
         |    SELECT t.from_type AS state,
         |      CAST(sum(t.cnt * v.v) AS BIGINT) // tt.tot AS pv
         |    FROM trans t JOIN v${k - 1} v ON v.state = t.to_type
         |    JOIN totals tt ON tt.from_type = t.from_type
         |    GROUP BY t.from_type, tt.tot) pv ON pv.state = r.state)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
       |    event_type, value FROM events),
       |seq AS (SELECT event_type AS from_type, lead(event_type) OVER
       |    (PARTITION BY user_id ORDER BY us, event_id) AS to_type FROM e),
       |trans AS MATERIALIZED (SELECT from_type, to_type, count(*) AS cnt
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |totals AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot
       |  FROM trans GROUP BY 1),
       |rew AS (SELECT event_type AS state,
       |    CAST(sum(CAST(floor(value*100 + 5e-1) AS BIGINT)) AS BIGINT)
       |      // count(*) AS r_cents
       |  FROM e GROUP BY 1),
       |v0 AS (SELECT state, r_cents AS v FROM rew),
       |$iters
       |SELECT r.state,
       |  floor(CAST(r.r_cents AS DOUBLE)/1e2*10000)/10000.0
       |    AS reward_per_event,
       |  floor(CAST(v$mrlRounds.v AS DOUBLE)/1e2*10000)/10000.0
       |    AS discounted_ltv
       |FROM rew r JOIN v$mrlRounds ON v$mrlRounds.state = r.state
       |ORDER BY r.state""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "mm_image_hog_lite"     -> ((s, d) => hogLite(s, d)),
    "text_top_p_nucleus"    -> ((s, d) => topPNucleus(s, d)),
    "chp_markov_reward_ltv" -> chpMarkovRewardLtv _)

  val oracles: Map[String, String] = Map(
    "mm_image_hog_lite"     -> oMmHogLite,
    "text_top_p_nucleus"    -> oTextTopP,
    "chp_markov_reward_ltv" -> oChpMarkovRewardLtv)
}
