package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 2 (SURVEY §2.27): distribution/structure
  * analytics over the same tables —
  *
  *  - `ts_seasonality_dow`: day-of-week multiplicative seasonality index
  *    per event-type series (exact integer cross-products, one division).
  *  - `agg_entropy_profile`: per-user Shannon entropy of the event-type
  *    mix, with the scale-to-long sum spelling for the Σ c·ln c term so
  *    the result is partition-order independent.
  *  - `text_ngram_novelty`: per-doc share of its distinct shingles that
  *    it OWNS (is the min-doc_id holder of) — the corpus-novelty signal
  *    dual to the containment/decontamination family.
  *  - `text_zipf_fit`: least-squares Zipf slope/intercept of
  *    ln(freq) ~ ln(rank) over the top-20 vocabulary terms, rank spelled
  *    as a bounded triangular join (never a global window).
  *  - `graph_kcore`: fixed-round k-core peel (k=4) over the symmetrized
  *    kNN graph — the density/cohesion analytic beside BFS reachability.
  *  - `text_readability_fk`: Flesch–Kincaid-style grade from word /
  *    sentence / vowel-group counts (regexp_count both engines).
  *  - `emb_grid_density`: 2-D cell-count density map over the memoized
  *    PCA projection — the corpus-visualization rollup.
  */
object QRound9c extends QueryPack {

  // ---- ts_seasonality_dow ----

  /** Multiplicative day-of-week index per event-type series:
    * index(dow) = mean(cnt | dow) / mean(cnt) spelled as one double
    * division of two EXACT long cross-products (sum_dow·days_all) /
    * (days_dow·total). A flat series indexes 1.0 everywhere; weekend
    * effects move it off 1. The series table is the shared memoized
    * `evDaily`; both aggregates are uniform-key; per-type totals are a
    * broadcast 5-row table. */
  private[graft] def seasonalityDow(daily: DataFrame): DataFrame = {
    val g = daily.withColumn("dow", col("day_num") % 7)
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("days_dow"), sum(col("cnt")).as("sum_dow"))
    val per = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total"))
    g.join(broadcast(per), "event_type")
      .select(col("event_type"), col("dow"), col("days_dow"), col("sum_dow"),
        trunc4((col("sum_dow") * col("n_days")).cast(DoubleType)
          / (col("days_dow") * col("total")).cast(DoubleType)).as("idx"))
      .orderBy("event_type", "dow")
  }

  private def tsSeasonalityDow(s: SparkSession, d: String): DataFrame =
    seasonalityDow(QRound9b.evDaily(s, d))

  private val oDaily =
    """SELECT event_type, epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
      |    count(*) AS cnt FROM events GROUP BY 1, 2""".stripMargin

  private val oTsSeasonalityDow =
    s"""WITH daily AS ($oDaily),
       |g AS (SELECT event_type, day_num % 7 AS dow, count(*) AS days_dow,
       |    CAST(sum(cnt) AS BIGINT) AS sum_dow FROM daily GROUP BY 1, 2),
       |per AS (SELECT event_type, count(*) AS n_days,
       |    CAST(sum(cnt) AS BIGINT) AS total FROM daily GROUP BY 1)
       |SELECT g.event_type, g.dow, g.days_dow, g.sum_dow,
       |  ${oTrunc4("CAST(g.sum_dow * p.n_days AS DOUBLE) / CAST(g.days_dow * p.total AS DOUBLE)")} AS idx
       |FROM g JOIN per p USING (event_type)
       |ORDER BY g.event_type, g.dow""".stripMargin

  // ---- agg_entropy_profile ----

  /** Per-user Shannon entropy of the event-type mix:
    * H = ln(n) − (Σ c·ln c)/n over exact per-(user,type) counts. The Σ of
    * doubles would be partition-order dependent, so each term is scaled
    * to a long (floor(c·ln c·1e12 + 0.5)) and summed EXACTLY — the
    * VecCentroid/PageRank engine-stable spelling — with one descale +
    * trunc6 at the end. Two uniform-key aggregates, nothing collects. */
  private[graft] def entropyProfile(events: DataFrame): DataFrame = {
    val dd = DoubleType
    val c = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    c.groupBy("user_id")
      .agg(sum(col("c")).as("n_events"), count(lit(1)).as("n_types"),
        sum(floor(col("c").cast(dd) * log(col("c").cast(dd)) * lit(1e12)
          + lit(0.5)).cast(LongType)).as("s"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        trunc6(log(col("n_events").cast(dd))
          - col("s").cast(dd) / lit(1e12) / col("n_events").cast(dd))
          .as("entropy"))
      .orderBy("user_id")
  }

  private def aggEntropyProfile(s: SparkSession, d: String): DataFrame =
    entropyProfile(t(s, d, "events"))

  private val oAggEntropyProfile =
    s"""WITH c AS (SELECT user_id, event_type, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |p AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
       |    count(*) AS n_types,
       |    CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS s
       |  FROM c GROUP BY 1)
       |SELECT user_id, n_events, n_types,
       |  ${oTrunc6("ln(CAST(n_events AS DOUBLE)) - CAST(s AS DOUBLE) / 1e12 / n_events")} AS entropy
       |FROM p ORDER BY user_id""".stripMargin

  // ---- text_ngram_novelty ----

  /** Per-doc novelty: the share of its distinct trigram shingles whose
    * min-doc_id holder it is. A doc whose content is entirely anticipated
    * by earlier docs scores 0; fully original content scores 1 — the
    * admission-order novelty signal dual to `text_decontaminate`'s
    * containment view. Shares the memoized persisted shingle table with
    * the whole LSH family; ownership is one uniform-shingle-key min
    * aggregate + one equi-join back — never a pair join. */
  private[graft] def ngramNovelty(docs: DataFrame, sets: DataFrame): DataFrame = {
    val ex = sets.select(col("doc_id"), explode(col("shs")).as("sh"))
    val own = ex.groupBy("sh").agg(min(col("doc_id")).as("owner"))
    val per = ex.join(own, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .as("n_owned"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_owned"), lit(0L)).as("n_owned"))
      .withColumn("novelty",
        when(col("n_shingles") > 0,
          trunc4(col("n_owned").cast(DoubleType)
            / col("n_shingles").cast(DoubleType))).otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  private def textNgramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNovelty(t(s, d, "documents"), QText.shingledPersisted(s, d))

  private val oTextNgramNovelty =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |shl AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |          for i in range(1, len(w)-1)]) AS shs FROM t WHERE len(w) >= 3),
       |ex AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
       |own AS (SELECT sh, min(doc_id) AS owner FROM ex GROUP BY 1),
       |per AS (SELECT e.doc_id, count(*) AS n_shingles,
       |    CAST(sum(CASE WHEN o.owner = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_owned
       |  FROM ex e JOIN own o USING (sh) GROUP BY 1)
       |SELECT d.doc_id, coalesce(per.n_shingles, 0) AS n_shingles,
       |  coalesce(per.n_owned, 0) AS n_owned,
       |  CASE WHEN coalesce(per.n_shingles, 0) > 0
       |    THEN ${oTrunc4("CAST(per.n_owned AS DOUBLE) / per.n_shingles")}
       |    ELSE 0.0 END AS novelty
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- text_zipf_fit ----

  private val zipfTop = 20

  /** Least-squares Zipf fit ln(freq) = slope·ln(rank) + intercept over
    * the top-`zipfTop` corpus terms (natural language sits near slope
    * −1). Rank over the BOUNDED top-k table is a triangular join (the
    * `join_theta_range` pair-bound pattern — never a global window); the
    * four regression moments use the scale-to-long exact-sum spelling so
    * the fit is partition-order independent. Top-k itself is
    * TakeOrderedAndProject. */
  private[graft] def zipfFit(docs: DataFrame): DataFrame = {
    val dd = DoubleType
    val tf = docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val top = tf.orderBy(col("c").desc, col("word")).limit(zipfTop)
    val b = top.select(col("word").as("w2"), col("c").as("c2"))
    val ranked = top.join(broadcast(b),
        col("c2") > col("c") || (col("c2") === col("c") && col("w2") < col("word")),
        "left")
      .groupBy("word", "c").agg((count(col("w2")) + lit(1L)).as("rank"))
    def s2l(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e12) + lit(0.5)).cast(LongType)
    val m = ranked.select(
      s2l(log(col("rank").cast(dd))).as("x"),
      s2l(log(col("c").cast(dd))).as("y"),
      s2l(log(col("rank").cast(dd)) * log(col("c").cast(dd))).as("xy"),
      s2l(log(col("rank").cast(dd)) * log(col("rank").cast(dd))).as("xx"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("xy")).as("sxy"),
        sum(col("xx")).as("sxx"))
    val n = col("n").cast(dd)
    val sx = col("sx").cast(dd) / lit(1e12)
    val sy = col("sy").cast(dd) / lit(1e12)
    val sxy = col("sxy").cast(dd) / lit(1e12)
    val sxx = col("sxx").cast(dd) / lit(1e12)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    m.select(col("n").as("n_terms"), trunc4(slope).as("slope"),
      trunc4((sy - slope * sx) / n).as("intercept"))
  }

  private def textZipfFit(s: SparkSession, d: String): DataFrame =
    zipfFit(t(s, d, "documents"))

  private val oTextZipfFit = {
    def s2l(x: String) = s"CAST(floor(($x) * 1e12 + 0.5) AS BIGINT)"
    s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
       |tp AS MATERIALIZED (SELECT word, c FROM tf ORDER BY c DESC, word LIMIT $zipfTop),
       |rk AS (SELECT a.word, a.c, 1 + count(b.word) AS rnk
       |  FROM tp a LEFT JOIN tp b
       |    ON b.c > a.c OR (b.c = a.c AND b.word < a.word)
       |  GROUP BY a.word, a.c),
       |m AS (SELECT count(*) AS n,
       |    CAST(sum(${s2l("ln(CAST(rnk AS DOUBLE))")}) AS BIGINT) AS sx,
       |    CAST(sum(${s2l("ln(CAST(c AS DOUBLE))")}) AS BIGINT) AS sy,
       |    CAST(sum(${s2l("ln(CAST(rnk AS DOUBLE)) * ln(CAST(c AS DOUBLE))")}) AS BIGINT) AS sxy,
       |    CAST(sum(${s2l("ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE))")}) AS BIGINT) AS sxx
       |  FROM rk),
       |f AS (SELECT CAST(n AS BIGINT) AS n_terms, CAST(n AS DOUBLE) AS nd,
       |    CAST(sx AS DOUBLE)/1e12 AS x, CAST(sy AS DOUBLE)/1e12 AS y,
       |    CAST(sxy AS DOUBLE)/1e12 AS xy, CAST(sxx AS DOUBLE)/1e12 AS xx FROM m)
       |SELECT n_terms,
       |  ${oTrunc4("(nd * xy - x * y) / (nd * xx - x * x)")} AS slope,
       |  ${oTrunc4("(y - ((nd * xy - x * y) / (nd * xx - x * x)) * x) / nd")} AS intercept
       |FROM f""".stripMargin
  }

  // ---- graph_kcore ----

  private val kcoreK = 4
  private val kcoreRounds = 4

  /** Fixed-round k-core peel (k = `kcoreK`) over an undirected edge set:
    * each round drops every node whose degree among still-active nodes is
    * < k; after `kcoreRounds` rounds, emits per node whether it survived
    * and its residual in-core degree (−1 for peeled nodes). Fixed rounds
    * (not peel-to-fixpoint) keep the oracle an unrolled MATERIALIZED-CTE
    * chain — the PageRank/k-means discipline.
    *
    * Scale shape: per round two semi-shaped equi-joins on the vertex key
    * + one count groupBy (the CC/BFS bounded-shuffle shape); lazy
    * localCheckpoint per round truncates the doubling lineage (the next
    * round references `active` twice). */
  private[graft] def kcore(nodes: DataFrame, edges: DataFrame): DataFrame = {
    var active = nodes.select(col("vec_id").as("node"))
    for (_ <- 1 to kcoreRounds) {
      val live = edges
        .join(active.select(col("node").as("src")), "src")
        .join(active.select(col("node").as("dst")), "dst")
      active = live.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= kcoreK)
        .select(col("src").as("node"))
        .localCheckpoint(false)
    }
    val live = edges
      .join(active.select(col("node").as("src")), "src")
      .join(active.select(col("node").as("dst")), "dst")
    val deg = live.groupBy("src").agg(count(lit(1)).as("deg"))
    nodes.join(active.withColumn("in_core", lit(true)),
        col("vec_id") === col("node"), "left")
      .join(deg, col("vec_id") === col("src"), "left")
      .select(col("vec_id"),
        coalesce(col("in_core"), lit(false)).as("in_core"),
        coalesce(col("deg"), lit(-1L)).cast(IntegerType).as("deg"))
      .orderBy("vec_id")
  }

  private def graphKcore(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    kcore(QSim.embPersisted(s, d).select("vec_id"), edges)
  }

  private val oGraphKcore = {
    val rounds = (1 to kcoreRounds).map { r =>
      s"""a$r AS MATERIALIZED (SELECT src AS node FROM (
         |  SELECT e.src, count(*) AS deg FROM edges e
         |    JOIN a${r - 1} x ON x.node = e.src
         |    JOIN a${r - 1} y ON y.node = e.dst
         |  GROUP BY e.src) WHERE deg >= $kcoreK),""".stripMargin
    }.mkString("\n")
    s"""WITH ${QSim.oKnnEdges},
       |nodes AS (SELECT vec_id FROM embeddings),
       |a0 AS MATERIALIZED (SELECT vec_id AS node FROM nodes),
       |$rounds
       |fin AS (SELECT e.src, count(*) AS deg FROM edges e
       |  JOIN a$kcoreRounds x ON x.node = e.src
       |  JOIN a$kcoreRounds y ON y.node = e.dst
       |  GROUP BY e.src)
       |SELECT n.vec_id,
       |  (a.node IS NOT NULL) AS in_core,
       |  CAST(coalesce(f.deg, -1) AS INT) AS deg
       |FROM nodes n LEFT JOIN a$kcoreRounds a ON a.node = n.vec_id
       |  LEFT JOIN fin f ON f.src = n.vec_id
       |ORDER BY n.vec_id""".stripMargin
  }

  // ---- text_readability_fk ----

  /** Flesch–Kincaid-style grade estimate per document:
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with
    * vowel-group runs as the syllable proxy and terminal punctuation as
    * the sentence proxy (min 1) — counts via regexp_count in BOTH
    * engines (maximal non-overlapping matches of '[aeiou]+' agree across
    * regex engines). Entirely per-row; literals in Ne-M notation so
    * DuckDB binds pure doubles. */
  private[graft] def readabilityFk(docs: DataFrame): DataFrame = {
    val dd = DoubleType
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("n_words"),
      greatest(expr("regexp_count(text, '[.!?]')").cast(LongType), lit(1L))
        .as("n_sentences"),
      expr("regexp_count(lower(text), '[aeiou]+')").cast(LongType)
        .as("n_syllables"))
      .withColumn("fk_grade", trunc4(
        lit(3.9e-1) * col("n_words").cast(dd) / col("n_sentences").cast(dd)
          + lit(1.18e1) * col("n_syllables").cast(dd) / col("n_words").cast(dd)
          - lit(1.559e1)))
      .orderBy("doc_id")
  }

  private def textReadabilityFk(s: SparkSession, d: String): DataFrame =
    readabilityFk(t(s, d, "documents"))

  private val oTextReadabilityFk =
    s"""WITH f AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    greatest(CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT), 1) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  ${oTrunc4("3.9e-1 * CAST(n_words AS DOUBLE) / n_sentences + 1.18e1 * CAST(n_syllables AS DOUBLE) / n_words - 1.559e1")} AS fk_grade
       |FROM f ORDER BY doc_id""".stripMargin

  // ---- emb_grid_density ----

  private val gridScale = 10.0

  /** 2-D density map over the PCA plane: cell = (⌊pc1·10⌋, ⌊pc2·10⌋),
    * per-cell count + corpus share — the coarse-clustering /
    * visualization rollup a curation UI draws. Pure composition of the
    * memoized `emb_pca_project2` projection (its fit is shared model
    * state) + one bounded-cardinality groupBy; the total is a broadcast
    * 1-row cross join. Both engines floor the SAME doubles (the
    * projection is hash-verified upstream), so cell assignment is
    * deterministic. */
  private def embGridDensity(s: SparkSession, d: String): DataFrame = {
    val p = QRound7b.queries("emb_pca_project2")(s, d)
    val cells = p.select(
      floor(col("pc1") * lit(gridScale)).cast(LongType).as("cx"),
      floor(col("pc2") * lit(gridScale)).cast(LongType).as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("total"))
    cells.join(broadcast(tot))
      .select(col("cx"), col("cy"), col("n"),
        trunc4(col("n").cast(DoubleType) / col("total").cast(DoubleType))
          .as("share"))
      .orderBy("cx", "cy")
  }

  private val oEmbGridDensity =
    s"""WITH p AS MATERIALIZED (SELECT * FROM (${QRound7b.oracles("emb_pca_project2")})),
       |cells AS (SELECT CAST(floor(pc1 * 1e1) AS BIGINT) AS cx,
       |    CAST(floor(pc2 * 1e1) AS BIGINT) AS cy, count(*) AS n
       |  FROM p GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
       |SELECT cx, cy, n, ${oTrunc4("CAST(n AS DOUBLE) / total")} AS share
       |FROM cells, tot ORDER BY cx, cy""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_seasonality_dow"  -> tsSeasonalityDow _,
    "agg_entropy_profile" -> aggEntropyProfile _,
    "text_ngram_novelty"  -> textNgramNovelty _,
    "text_zipf_fit"       -> textZipfFit _,
    "graph_kcore"         -> graphKcore _,
    "text_readability_fk" -> textReadabilityFk _,
    "emb_grid_density"    -> embGridDensity _)

  val oracles: Map[String, String] = Map(
    "ts_seasonality_dow"  -> oTsSeasonalityDow,
    "agg_entropy_profile" -> oAggEntropyProfile,
    "text_ngram_novelty"  -> oTextNgramNovelty,
    "text_zipf_fit"       -> oTextZipfFit,
    "graph_kcore"         -> oGraphKcore,
    "text_readability_fk" -> oTextReadabilityFk,
    "emb_grid_density"    -> oEmbGridDensity)
}
