package graft.operators

import graft.QueryPack
import graft.plans.SortedDotLong
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 76 (SURVEY §2.28):
  *
  *  - `ts_kalman_local_level`: local-level Kalman filter (q=1, r=4) per
  *    daily series — the optimal online smoother; oracle = sequential
  *    WITH RECURSIVE replay, engine = the bounded-series UDF pattern.
  *  - `agg_gumbel_maxima`: extreme-value analysis — Gumbel fit to
  *    weekly block maxima by method of moments + return levels; the
  *    capacity-planning tail estimate.
  *  - `dedup_tfidf_nn`: each document's nearest lexical neighbor by
  *    tf-idf cosine over dominant-token-blocked candidates — the
  *    canopy-blocked sparse-vector near-dup detector (isolated docs
  *    emit an explicit NULL neighbor row).
  */
object QRound9by extends QueryPack {

  private val dd = DoubleType

  // ---- ts_kalman_local_level ----

  /** Local-level Kalman filter, q=1 r=4, init (l=x_0, P=4): the exact
    * sequential recursion — engine side runs it as a per-series UDF
    * over the collected day array (bounded model state), oracle side
    * as a WITH RECURSIVE joining the indexed series; both execute the
    * IDENTICAL double operations in the identical order, so results
    * are bit-equal with no scale-to-long needed inside the loop.
    * Emits the final level, final covariance, and the innovation RMS.
    *
    * Scale shape: the daily rollup is the shuffle; the filter runs on
    * a days-long array per series. */
  private[graft] def kalmanStep(xs: Seq[Long]): Seq[Double] = {
    var l = xs.head.toDouble
    var p = 4.0
    var si = 0.0
    var i = 1
    while (i < xs.length) {
      val x = xs(i).toDouble
      val pp = p + 1.0
      val kk = pp / (pp + 4.0)
      val inn = x - l
      si = si + inn * inn
      l = l + kk * inn
      p = (1.0 - kk) * pp
      i += 1
    }
    Seq(l, p, si)
  }

  private[graft] def kalmanLocalLevel(s: SparkSession, d: String): DataFrame = {
    val daily = QRound9b.evDaily(s, d)
    val ser = daily.groupBy("event_type").agg(
      expr("transform(array_sort(collect_list(struct(day_num, cnt))), z -> z.cnt)")
        .as("vs"))
    val kU = udf((xs: Seq[Long]) => kalmanStep(xs))
    ser.select(col("event_type"), size(col("vs")).cast(LongType).as("n"),
        kU(col("vs")).as("st"))
      .select(col("event_type"), col("n"),
        trunc4(col("st").getItem(0)).as("level_final"),
        trunc6(col("st").getItem(1)).as("p_final"),
        trunc4(sqrt(col("st").getItem(2)
          / (col("n") - 1).cast(dd))).as("innovation_rms"))
      .orderBy("event_type")
  }

  private val oTsKalman =
    """WITH RECURSIVE daily AS (SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
      |    count(*) AS cnt FROM events GROUP BY 1, 2),
      |idx AS MATERIALIZED (SELECT event_type, cnt AS x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day_num)
      |      AS i FROM daily),
      |ln AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
      |k(event_type, i, l, p, si) AS (
      |  SELECT event_type, 1, CAST(x AS DOUBLE), 4e0, 0e0 FROM idx
      |  WHERE i = 1
      |  UNION ALL
      |  SELECT k.event_type, k.i + 1,
      |    k.l + (k.p + 1e0)/(k.p + 1e0 + 4e0) * (CAST(y.x AS DOUBLE) - k.l),
      |    (1e0 - (k.p + 1e0)/(k.p + 1e0 + 4e0)) * (k.p + 1e0),
      |    k.si + (CAST(y.x AS DOUBLE) - k.l)*(CAST(y.x AS DOUBLE) - k.l)
      |  FROM k JOIN idx y ON y.event_type = k.event_type
      |    AND y.i = k.i + 1)
      |SELECT k.event_type, CAST(ln.n AS BIGINT) AS n,
      |  floor(l*10000)/10000.0 AS level_final,
      |  floor(p*1000000)/1000000.0 AS p_final,
      |  floor(sqrt(si/CAST(ln.n - 1 AS DOUBLE))*10000)/10000.0
      |    AS innovation_rms
      |FROM k JOIN ln ON ln.event_type = k.event_type
      |WHERE k.i = ln.n ORDER BY k.event_type""".stripMargin

  // ---- agg_gumbel_maxima ----

  // Euler–Mascheroni and pi as shared literals (never engine builtins)
  private val gGamma = "5772156649015329e-16"
  private val gPi = "3141592653589793e-15"
  private val gBeta = s"sqrt(CAST(nw*sxx - sx*sx AS DOUBLE))" +
    s"/CAST(nw AS DOUBLE)*sqrt(6e0)/$gPi"
  private val gMu = s"CAST(sx AS DOUBLE)/CAST(nw AS DOUBLE) - $gGamma*beta"
  // Gumbel return level for period T weeks: mu - beta*ln(-ln(1 - 1/T))
  private def gRet(tw: Int) =
    s"mu - beta*ln(-ln(1e0 - 1e0/${tw}e0))"

  /** Gumbel extreme-value fit per event type: weekly block maxima of
    * the daily count (exact integers), method-of-moments μ/β through a
    * shared tower (γ and π as spelled literals, never engine builtins),
    * and the 4- and 12-week return levels — "what daily peak should we
    * provision for". Population variance via exact n·Σx²−(Σx)².
    *
    * Scale shape: one week rollup + one type rollup; the fit is
    * scalar. */
  private[graft] def gumbelMaxima(s: SparkSession, d: String): DataFrame = {
    val daily = QRound9b.evDaily(s, d)
    val weekly = daily.withColumn("wk", expr("day_num div 7"))
      .groupBy("event_type", "wk").agg(max("cnt").as("mx"))
    val m = weekly.groupBy("event_type").agg(count(lit(1)).as("nw"),
      sum("mx").as("sx"), sum(col("mx") * col("mx")).as("sxx"))
    m.withColumn("beta", expr(gBeta))
      .withColumn("mu", expr(gMu))
      .select(col("event_type"), col("nw").as("n_weeks"),
        trunc4(col("mu")).as("gumbel_mu"),
        trunc4(col("beta")).as("gumbel_beta"),
        trunc4(expr(gRet(4))).as("ret_level_4w"),
        trunc4(expr(gRet(12))).as("ret_level_12w"))
      .orderBy("event_type")
  }

  private val oAggGumbel =
    s"""WITH daily AS (SELECT event_type,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |weekly AS (SELECT event_type, day_num // 7 AS wk, max(cnt) AS mx
       |  FROM daily GROUP BY 1, 2),
       |m AS (SELECT event_type, count(*) AS nw,
       |    CAST(sum(mx) AS BIGINT) AS sx, CAST(sum(mx*mx) AS BIGINT) AS sxx
       |  FROM weekly GROUP BY 1),
       |f1 AS (SELECT *, ($gBeta) AS beta FROM m),
       |f2 AS (SELECT *, ($gMu) AS mu FROM f1)
       |SELECT event_type, CAST(nw AS BIGINT) AS n_weeks,
       |  ${oTrunc4("mu")} AS gumbel_mu, ${oTrunc4("beta")} AS gumbel_beta,
       |  ${oTrunc4(gRet(4))} AS ret_level_4w,
       |  ${oTrunc4(gRet(12))} AS ret_level_12w
       |FROM f2 ORDER BY event_type""".stripMargin

  // ---- dedup_tfidf_nn ----

  /** Nearest lexical neighbor by tf-idf cosine with dominant-token
    * blocking (VERDICT r9 #1 rework): per-(doc,token) weight
    * w = tf·ln(N/df) scale-to-long'd at 1e6 (EXACT BIGINT vectors),
    * zero-weight postings dropped for free (df == N ⇒ idf = 0 ⇒ the
    * posting contributes nothing to dot or norm). Candidate pairs are
    * docs sharing a DOMINANT token — each doc's max-weight token (tie:
    * lexical min), the term that carries most of its tf-idf mass — and
    * each candidate pair is scored by the EXACT cosine over the full
    * weight vectors: the candidate stream re-expands against the
    * posting table on each endpoint and hash-aggregates the products —
    * all whole-stage-codegen operators (a map-typed `aggregate`-HOF
    * dot was profiled 6× slower: higher-order lambdas run interpreted
    * and UnsafeMapData lookups are linear scans). Each doc reports its
    * best candidate by the exact 1e12-scaled cosine through one
    * struct-max hash agg (map-side partial — no window sort); a doc
    * whose dominant-token block is a singleton has no candidate and
    * emits an explicit NULL row (the ADVICE r9 isolated-doc contract —
    * the doc spine left-join, never a silent drop).
    *
    * Why blocking: the r9 verdict measured the unblocked inverted-index
    * self-join at Σ_t df_t² ≈ 7×10⁸ partial products on this corpus's
    * closed ~31-word vocabulary (every token ubiquitous ⇒ all-pairs
    * cosine in a sparse-index costume, 207 s warm = 36% of the whole
    * bench). Dominant-token blocking is the standard canopy fix: work
    * is Σ_b C(|b|,2) over blocks keyed by the vocabulary's strongest
    * terms — measured 453k candidate pairs vs 12.5M all-pairs at sf0.1
    * (27.6× at the default K=1), Round10Spec gates the bound
    * structurally AND the approximation quality (blocked best cosine vs
    * the exact all-pairs optimum); `graft.tfidfnn.domK` is the
    * recall/cost dial — measured numbers in [[tfidfDom]]'s doc.
    *
    * Scale shape: one explode+rollup for tf (map-side partial), df/nd
    * broadcast back; the posting table is localCheckpoint'd once
    * (Spark has no cross-branch CSE — un-truncated, the five consumers
    * re-ran the whole explode pipeline each, profiled 3× the total).
    * The block self-join shuffles only the N-row (doc → dominant
    * token) table on the token key; the candidate stream is explicitly
    * repartitioned before the expansion (the triangle-count lesson:
    * AQE coalesces the 7 MB candidate table to one partition and the
    * 24×-larger expansion downstream of it would run single-threaded —
    * expansion volume is invisible to AQE's input-size heuristic); the
    * two posting attaches broadcast the O(N·t̄) posting table below
    * `graft.tfidfnn.broadcastMaxDocs` (expansion stays map-side) and
    * degrade to shuffle joins on the doc key past it. Block size is
    * bounded by how many docs share a strongest term; at corpus scale
    * vocabulary grows with the data (Heaps' law) so blocks stay
    * sub-linear, and a skewed block can be salted like any hot join
    * key. */
  /** Memoized + lineage-truncated tf-idf posting table (doc_id, tk, w):
    * consumed five times per query (dom, norms ×2, expansion ×2) and
    * across tfidfNn/tfidfNnCandCount — Spark has no cross-branch CSE,
    * so un-truncated each consumer re-ran the whole explode pipeline
    * (profiled 3× the total). N×t̄ skinny rows, the CC-loop bound. */
  private[graft] def tfidfPostings(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "tfidfwp", d) {
      val docs = t(s, d, "documents")
      val tf = docs.select(col("doc_id"),
          explode(tokens(col("text"))).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tk").agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      tf.join(broadcast(df), "tk").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("tk"), floor(
          col("tf").cast(dd)
            * log(col("nd").cast(dd) / col("df").cast(dd)) * lit(1e6)
            + lit(0.5)).cast(LongType).as("w"))
        .filter(col("w") > 0)
        .localCheckpoint(true)
    }

  /** Memoized (doc → top-K dominant tokens) blocking-key table. K =
    * `graft.tfidfnn.domK` (default 1) is the recall/cost dial: each doc
    * lands in its K strongest-term canopies, so candidates are pairs
    * sharing ANY of them (multi-probe blocking). Measured at sf0.001 on
    * this closed-vocabulary corpus (the blocking WORST case — every token
    * ubiquitous): exact-top-1 recall 0.354/0.660/0.874 and mean
    * best-cosine gap 0.025/0.007/0.002 at K=1/2/3, against candidate
    * reductions of 27.6×/7.1×/3.4× vs all-pairs at sf0.1 (Round10Spec
    * gates K=1 and K=3). The tag embeds K so a conf change genuinely
    * rebuilds the blocking. */
  private[graft] def tfidfDomK(s: SparkSession): Int =
    s.conf.get("graft.tfidfnn.domK", "1").toInt
  private[graft] def tfidfDom(s: SparkSession, d: String): DataFrame = {
    val k = tfidfDomK(s)
    graft.Memo.memo(s, s"tfidfdom@$k", d) {
      val domW = Window.partitionBy("doc_id")
        .orderBy(col("w").desc, col("tk"))
      tfidfPostings(s, d).withColumn("r", row_number().over(domW))
        .filter(col("r") <= k).select(col("doc_id"), col("tk").as("btk"))
        .localCheckpoint(true)
    }
  }

  /** The blocked candidate-pair set (da < db, distinct): the structural
    * object Round10Spec's no-all-pairs bound gates. At K>1 a pair sharing
    * two canopies would appear twice — deduped before the expansion so the
    * exact-cosine scoring never double-pays (at K=1 the dom table is
    * one-row-per-doc, so the distinct is a no-op and skipped). */
  private[graft] def tfidfNnCands(s: SparkSession, d: String): DataFrame = {
    val dom = tfidfDom(s, d)
    val raw = dom.select(col("btk"), col("doc_id").as("da"))
      .join(dom.select(col("btk"), col("doc_id").as("db")), "btk")
      .filter(col("da") < col("db"))
      .select("da", "db")
    if (tfidfDomK(s) > 1) raw.distinct() else raw
  }

  /** Memoized per-doc SORTED tf-idf vector table (doc_id, tks, ws, nn):
    * token keys ascending in Spark's binary string order with aligned
    * long weights, plus the squared norm — the sparse-vector layout the
    * `sorted_dot` merge kernel consumes (OPTIMIZATION r17). Derived from
    * the postings memo in one pass; N rows of t̄-element arrays. */
  private[graft] def tfidfDocVecs(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "tfidfvecs", d) {
      tfidfPostings(s, d)
        .groupBy("doc_id")
        .agg(expr("array_sort(collect_list(struct(tk, w)))").as("a"),
          sum(col("w") * col("w")).as("nn"))
        .select(col("doc_id"),
          expr("transform(a, x -> x.tk)").as("tks"),
          expr("transform(a, x -> x.w)").as("ws"),
          col("nn"))
        .localCheckpoint(true)
    }

  private[graft] def tfidfNn(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val cand = tfidfNnCands(s, d).repartition(parts, col("da"))
    // per-doc sorted sparse vectors + norms in ONE table (r17): the old
    // spelling joined the |pairs|-row candidate set against the posting
    // table TWICE (on da, then on (db, tk)) — a |pairs|×t̄ ≈ 45M-row
    // intermediate feeding a |pairs|-group hash aggregate. The sorted_dot
    // merge kernel computes each pair's exact long dot in one fused loop
    // over the two t̄-element arrays: zero intermediate rows, zero
    // aggregate, and the norms ride in the same two joins. Integer
    // products/sums are order-free, so every cos_sc is bit-identical.
    val dv = tfidfDocVecs(s, d)
    val va = dv.select(col("doc_id").as("da"), col("tks").as("tka"),
      col("ws").as("wsa"), col("nn").as("na"))
    val vb = dv.select(col("doc_id").as("db"), col("tks").as("tkb"),
      col("ws").as("wsb"), col("nn").as("nb"))
    // SIZE-CONDITIONAL broadcast (the triangle-gate discipline): the
    // vector table is O(corpus) — broadcast keeps the candidate
    // expansion map-side while it fits, shuffle joins past the gate.
    val maxBcDocs =
      s.conf.get("graft.tfidfnn.broadcastMaxDocs", "100000").toLong
    val docCnt = graft.Memo.memo(s, "doccount", d)(docs.count())
    val small = docCnt <= maxBcDocs
    def side(t: DataFrame): DataFrame = if (small) broadcast(t) else t
    val cos = cand.join(side(va), "da").join(side(vb), "db")
      .withColumn("dot", SortedDotLong.of(col("tka"), col("wsa"), col("tkb"), col("wsb")))
      .withColumn("cos_sc", floor(
        col("dot").cast(dd) / (sqrt(col("na").cast(dd))
          * sqrt(col("nb").cast(dd))) * lit(1e12) + lit(0.5))
        .cast(LongType))
    // both directions in one pass (a union would re-run the plan twice)
    val sym = cos.select(explode(array(
        struct(col("da").as("doc_id"), col("db").as("nbr")),
        struct(col("db").as("doc_id"), col("da").as("nbr")))).as("p"),
        col("cos_sc"))
      .select(col("p.doc_id").as("doc_id"), col("p.nbr").as("nbr"),
        col("cos_sc"))
    // best neighbor by (cos desc, nbr asc): struct-max with negated id
    val best = sym.groupBy("doc_id")
      .agg(max(struct(col("cos_sc"), (-col("nbr")).as("negnbr"))).as("m"))
      .select(col("doc_id"), (-col("m.negnbr")).as("nbr"),
        col("m.cos_sc").as("cos_sc"))
    docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nbr").as("nearest_doc"),
        trunc4(col("cos_sc").cast(dd) / lit(1e12)).as("cosine"))
      .orderBy("doc_id")
  }

  /** Candidate-pair count of the blocked join above — Round10Spec gates
    * it ≪ N²/2 (the structural no-all-pairs bound). Counts the REAL
    * deduped pair set, not the Σ_b C(|b|,2) closed form (which
    * double-counts pairs sharing two canopies at K>1 — and whose first
    * spelling had a Double/Long unboxing bug precisely because no spec
    * ever ran it; VERDICT r10 #2a). */
  private[graft] def tfidfNnCandCount(s: SparkSession, d: String): Long =
    tfidfNnCands(s, d).count()

  private val oDedupTfidfNn =
    s"""WITH tf AS (SELECT doc_id, tk, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |      x -> x <> '')) AS tk FROM documents) GROUP BY 1, 2),
       |df AS (SELECT tk, count(*) AS df FROM tf GROUP BY 1),
       |nd AS (SELECT count(*) AS nd FROM documents),
       |wp AS (SELECT doc_id, tk, w FROM (SELECT doc_id, tk,
       |    CAST(floor(CAST(tf AS DOUBLE)
       |    * ln(CAST(nd AS DOUBLE)/CAST(df AS DOUBLE)) * 1e6 + 5e-1)
       |    AS BIGINT) AS w
       |  FROM tf JOIN df USING (tk), nd) WHERE w > 0),
       |norms AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS nn FROM wp
       |  GROUP BY 1),
       |dom AS (SELECT doc_id, tk AS btk FROM (SELECT doc_id, tk,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, tk)
       |      AS r FROM wp) WHERE r = 1),
       |cand AS (SELECT a.doc_id AS da, b.doc_id AS db FROM dom a
       |  JOIN dom b ON b.btk = a.btk AND a.doc_id < b.doc_id),
       |dots AS (SELECT da, db, CAST(sum(x.w*y.w) AS BIGINT) AS dot
       |  FROM cand JOIN wp x ON x.doc_id = da
       |  JOIN wp y ON y.doc_id = db AND y.tk = x.tk
       |  GROUP BY 1, 2),
       |cos AS (SELECT da, db, CAST(floor(CAST(dot AS DOUBLE)
       |    /(sqrt(CAST(x.nn AS DOUBLE))*sqrt(CAST(y.nn AS DOUBLE)))
       |    * 1e12 + 5e-1) AS BIGINT) AS cos_sc
       |  FROM dots JOIN norms x ON x.doc_id = da
       |    JOIN norms y ON y.doc_id = db),
       |sym AS (SELECT da AS doc_id, db AS nbr, cos_sc FROM cos
       |  UNION ALL SELECT db, da, cos_sc FROM cos),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY cos_sc DESC, nbr) AS rnk FROM sym)
       |SELECT d.doc_id, r.nbr AS nearest_doc,
       |  ${oTrunc4("CAST(r.cos_sc AS DOUBLE)/1e12")} AS cosine
       |FROM documents d LEFT JOIN r ON r.doc_id = d.doc_id AND r.rnk = 1
       |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ts_kalman_local_level" -> ((s, d) => kalmanLocalLevel(s, d)),
    "agg_gumbel_maxima"     -> ((s, d) => gumbelMaxima(s, d)),
    "dedup_tfidf_nn"        -> ((s, d) => tfidfNn(s, d)))

  val oracles: Map[String, String] = Map(
    "ts_kalman_local_level" -> oTsKalman,
    "agg_gumbel_maxima"     -> oAggGumbel,
    "dedup_tfidf_nn"        -> oDedupTfidfNn)
}
