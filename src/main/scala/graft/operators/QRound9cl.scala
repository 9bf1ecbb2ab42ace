package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 89 (SURVEY §2.28):
  *
  *  - `agg_levene_bf`: Brown–Forsythe test (Levene with group medians)
  *    for homogeneity of variance across order priorities — the
  *    variance-equality companion to `agg_anova_f`'s mean test.
  *  - `graph_local_bridges`: edges of the part co-occurrence graph
  *    whose endpoints share no common neighbor (edges in no triangle)
  *    — Granovetter's local bridges, the graph's long-range shortcuts.
  *  - `text_heaps_law_fit`: Heaps' law V = K·N^β fit of vocabulary
  *    growth over the corpus ingestion order — the vocabulary-budget
  *    planning curve.
  */
object QRound9cl extends QueryPack {

  private val dd = DoubleType

  // ---- agg_levene_bf ----

  /** Brown–Forsythe: one-way ANOVA F on d = |x − median_g|, doubled to
    * stay integer (d2 = |2x − 2·med| — 2·median of ints is always a
    * whole number under linear interpolation). Group moments are exact
    * BIGINTs, SSB terms floor-rounded at scale 1 (magnitudes ~1e16 —
    * relative error 1e-16), the F division is one shared double
    * spelling. Same 5% F(4,∞) verdict literal as `agg_anova_f`.
    *
    * Scale shape: the exact median is one percentile aggregate per
    * group broadcast back on the 5-value key; then the same
    * map-side-partial moment rollup as the ANOVA key. */
  private[graft] def leveneBf(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderpriority").as("pri"),
      expr("CAST(floor(o_totalprice + 5e-1) AS BIGINT)").as("dol"))
    val med = o.groupBy("pri")
      .agg(expr("CAST(floor(2*percentile(dol, 5e-1) + 5e-1) AS BIGINT)")
        .as("m2"))
    val dtab = o.join(broadcast(med), "pri")
      .select(col("pri"), abs(col("dol") * 2 - col("m2")).as("d2"))
    val g = dtab.groupBy("pri")
      .agg(count(lit(1)).as("n_g"), sum("d2").as("s_g"),
        sum(col("d2") * col("d2")).as("q_g"))
      .withColumn("sb_term",
        expr("CAST(floor(CAST(s_g AS DOUBLE)*CAST(s_g AS DOUBLE)" +
          "/CAST(n_g AS DOUBLE) + 5e-1) AS BIGINT)"))
    g.agg(count(lit(1)).as("k_groups"), sum("n_g").as("n_total"),
        sum("s_g").as("s_all"), sum("q_g").as("q_all"),
        sum("sb_term").as("sb_sum"))
      .select(col("k_groups"), col("n_total"),
        (col("sb_sum") - expr("CAST(floor(CAST(s_all AS DOUBLE)" +
          "*CAST(s_all AS DOUBLE)/CAST(n_total AS DOUBLE) + 5e-1)" +
          " AS BIGINT)")).as("ssb_sc"),
        (col("q_all") - col("sb_sum")).as("ssw_sc"))
      .select(col("k_groups"), col("n_total"),
        trunc4((col("ssb_sc").cast(dd) / (col("k_groups") - 1).cast(dd)) /
          (col("ssw_sc").cast(dd) / (col("n_total") - col("k_groups"))
            .cast(dd))).as("f_bf"))
      .withColumn("reject_5pct",
        (col("f_bf") > lit(2.372)).cast(IntegerType))
  }

  private def aggLeveneBf(s: SparkSession, d: String): DataFrame =
    leveneBf(t(s, d, "orders"))

  private val oAggLeveneBf = {
    val fExpr = "(CAST(ssb_sc AS DOUBLE)/CAST(k_groups - 1 AS DOUBLE))" +
      "/(CAST(ssw_sc AS DOUBLE)/CAST(n_total - k_groups AS DOUBLE))"
    s"""WITH o AS (SELECT o_orderpriority AS pri,
       |    CAST(floor(o_totalprice + 5e-1) AS BIGINT) AS dol FROM orders),
       |med AS (SELECT pri,
       |    CAST(floor(2*quantile_cont(dol, 5e-1) + 5e-1) AS BIGINT) AS m2
       |  FROM o GROUP BY 1),
       |dt AS (SELECT o.pri, abs(o.dol*2 - med.m2) AS d2
       |  FROM o JOIN med ON med.pri = o.pri),
       |g AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_g,
       |    CAST(sum(d2) AS BIGINT) AS s_g,
       |    CAST(sum(d2*d2) AS BIGINT) AS q_g
       |  FROM dt GROUP BY 1),
       |g2 AS (SELECT *, CAST(floor(CAST(s_g AS DOUBLE)*CAST(s_g AS DOUBLE)
       |    /CAST(n_g AS DOUBLE) + 5e-1) AS BIGINT) AS sb_term FROM g),
       |mo AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
       |    CAST(sum(n_g) AS BIGINT) AS n_total,
       |    CAST(sum(s_g) AS BIGINT) AS s_all,
       |    CAST(sum(q_g) AS BIGINT) AS q_all,
       |    CAST(sum(sb_term) AS BIGINT) AS sb_sum FROM g2),
       |ss AS (SELECT k_groups, n_total,
       |    sb_sum - CAST(floor(CAST(s_all AS DOUBLE)*CAST(s_all AS DOUBLE)
       |      /CAST(n_total AS DOUBLE) + 5e-1) AS BIGINT) AS ssb_sc,
       |    q_all - sb_sum AS ssw_sc FROM mo)
       |SELECT k_groups, n_total, ${oTrunc4(fExpr)} AS f_bf,
       |  CAST(CASE WHEN ${oTrunc4(fExpr)} > 2.372e0 THEN 1 ELSE 0 END
       |    AS INT) AS reject_5pct
       |FROM ss""".stripMargin
  }

  // ---- graph_local_bridges ----

  /** Local bridges of the part co-occurrence graph: canonical a<b
    * edges whose endpoints have NO common neighbor — exactly the edges
    * in no triangle, read off the SHARED memoized per-edge
    * triangle-participation table `QRound5c.triCounts` (VERDICT r10 #3:
    * this key previously re-ran the full wedge-join ⋈ closing-probe
    * enumeration `graph_triangle_count` also runs; now the suite pays
    * the ~49M-row expansion once and this key is an O(E) anti-join +
    * tallies). Emits the edge/triangle-edge/bridge tally and the
    * bridge share.
    *
    * Scale shape: inherited from the shared enumeration — broadcast
    * joins under `graft.triangle.broadcastMaxEdges`, shuffle joins on
    * uniform keys past it (VERDICT r9 #2: the previous unconditional
    * broadcast() was an O(E) driver OOM at 100× scale); PlanSpec's
    * "local bridges: degrade path" test asserts the ceiling-0 rerun
    * returns the identical row. The memoized triangle-edge table is
    * ≤E rows; the anti-join keys are uniform canonical edges. */
  private[graft] def localBridges(s: SparkSession, d: String): DataFrame = {
    val e = QRound5c.coEdgesMemo(s, d)
    val triEdges = QRound5c.triCounts(s, d).select(col("a"), col("b"))
    val bridges = e.join(triEdges, Seq("a", "b"), "left_anti")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(triEdges.agg(count(lit(1)).as("n_tri_edges")))
      .crossJoin(bridges.agg(count(lit(1)).as("n_local_bridges")))
      .select(col("n_edges"), col("n_tri_edges"), col("n_local_bridges"),
        trunc4(col("n_local_bridges").cast(dd) / col("n_edges").cast(dd))
          .as("bridge_share"))
  }

  private val oGraphLocalBridges =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |e AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
       |  FROM op x JOIN op y ON y.ok = x.ok AND x.pk < y.pk),
       |tri AS (SELECT x.a, x.b, y.b AS c FROM e x
       |  JOIN e y ON y.a = x.b
       |  WHERE EXISTS (SELECT 1 FROM e z WHERE z.a = x.a AND z.b = y.b)),
       |te AS MATERIALIZED (SELECT a, b FROM tri
       |  UNION SELECT b, c FROM tri UNION SELECT a, c FROM tri),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tri_edges FROM te),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_local_bridges FROM e
       |  WHERE NOT EXISTS (SELECT 1 FROM te
       |    WHERE te.a = e.a AND te.b = e.b))
       |SELECT n_edges, n_tri_edges, n_local_bridges,
       |  ${oTrunc4("CAST(n_local_bridges AS DOUBLE)/CAST(n_edges AS DOUBLE)")}
       |    AS bridge_share
       |FROM ne, nt, nb""".stripMargin

  // ---- text_heaps_law_fit ----

  private val heapsPoints = 8

  /** Heaps' law fit V = K·N^β over the corpus in doc-id (ingestion)
    * order, on the 3-token shingle vocabulary (the unigram vocab of
    * this corpus is a closed ~31-word set — trigram contexts are what
    * actually grow, the n-gram-LM state a budget planner sizes): at 8
    * checkpoint prefixes (max doc id × i/8), V = shingles whose FIRST
    * occurrence falls in the prefix, N = total shingle occurrences in
    * the prefix — both exact BIGINTs (cumulative distinct via the
    * first-occurrence table, never a running scan). ln V / ln N are
    * scale-to-long'd at 1e6, the OLS moments are exact, and
    * β = Sxy/Sxx, K = exp(ȳ − βx̄), r² = Sxy²/(SxxSyy) are shared
    * double spellings.
    *
    * Scale shape: one shingle pass feeding two rollups
    * (first-occurrence min, per-doc counts); checkpoints are a
    * broadcast 8-row spine; the OLS is an 8-row aggregate. */
  private[graft] def heapsLawFit(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val tok = docs
      .select(col("doc_id"),
        tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(w) - 2), " +
          "i -> concat_ws(' ', w[i-1], w[i], w[i+1]))")).as("tk"))
    val firstDoc = tok.groupBy("tk").agg(min("doc_id").as("first_doc"))
    val docTok = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    import s.implicits._
    val cps = (1 to heapsPoints)
      .map(i => maxId * i / heapsPoints).toDF("cp")
    val v = firstDoc.join(broadcast(cps), col("first_doc") <= col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("vocab"))
    val n = docTok.join(broadcast(cps), col("doc_id") <= col("cp"))
      .groupBy("cp").agg(sum("n_tok").as("ntok"))
    val pts = v.join(n, "cp")
      .select(
        expr("CAST(floor(ln(CAST(ntok AS DOUBLE))*1e6 + 5e-1) AS BIGINT)")
          .as("x"),
        expr("CAST(floor(ln(CAST(vocab AS DOUBLE))*1e6 + 5e-1) AS BIGINT)")
          .as("y"))
    pts.agg(count(lit(1)).as("np"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("np").as("n_points"),
        (col("np") * col("sxy") - col("sx") * col("sy")).as("cxy"),
        (col("np") * col("sxx") - col("sx") * col("sx")).as("cxx"),
        (col("np") * col("syy") - col("sy") * col("sy")).as("cyy"),
        col("np"), col("sx"), col("sy"))
      .select(col("n_points"),
        trunc4(col("cxy").cast(dd) / col("cxx").cast(dd)).as("beta"),
        trunc4(exp((col("sy").cast(dd) -
          col("cxy").cast(dd) / col("cxx").cast(dd) * col("sx").cast(dd))
          / col("np").cast(dd) / lit(1e6))).as("k_coef"),
        trunc4(col("cxy").cast(dd) * col("cxy").cast(dd) /
          (col("cxx").cast(dd) * col("cyy").cast(dd))).as("r_sq"))
  }

  private val oTextHeapsLaw = {
    val betaExpr = "CAST(cxy AS DOUBLE)/CAST(cxx AS DOUBLE)"
    s"""WITH wd AS (SELECT doc_id, list_filter(string_split(text, ' '),
       |    z -> z <> '') AS w FROM documents),
       |tok AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tk
       |  FROM wd, LATERAL (SELECT unnest(generate_series(1, len(w) - 2))
       |    AS i)),
       |fd AS (SELECT tk, min(doc_id) AS first_doc FROM tok GROUP BY 1),
       |dt AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
       |mx AS (SELECT max(doc_id) AS m FROM documents),
       |cps AS (SELECT mx.m * i // $heapsPoints AS cp FROM mx,
       |  LATERAL (SELECT unnest(generate_series(1, $heapsPoints)) AS i)),
       |v AS (SELECT cp, CAST(count(*) AS BIGINT) AS vocab FROM fd
       |  JOIN cps ON fd.first_doc <= cps.cp GROUP BY 1),
       |n AS (SELECT cp, CAST(sum(n_tok) AS BIGINT) AS ntok FROM dt
       |  JOIN cps ON dt.doc_id <= cps.cp GROUP BY 1),
       |pts AS (SELECT
       |    CAST(floor(ln(CAST(ntok AS DOUBLE))*1e6 + 5e-1) AS BIGINT)
       |      AS x,
       |    CAST(floor(ln(CAST(vocab AS DOUBLE))*1e6 + 5e-1) AS BIGINT)
       |      AS y
       |  FROM v JOIN n ON n.cp = v.cp),
       |mo AS (SELECT CAST(count(*) AS BIGINT) AS np,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x*y) AS BIGINT) AS sxy,
       |    CAST(sum(x*x) AS BIGINT) AS sxx,
       |    CAST(sum(y*y) AS BIGINT) AS syy FROM pts),
       |ce AS (SELECT np AS n_points, np*sxy - sx*sy AS cxy,
       |    np*sxx - sx*sx AS cxx, np*syy - sy*sy AS cyy, np, sx, sy
       |  FROM mo)
       |SELECT n_points, ${oTrunc4(betaExpr)} AS beta,
       |  ${oTrunc4("exp((CAST(sy AS DOUBLE) - " + betaExpr +
         "*CAST(sx AS DOUBLE))/CAST(np AS DOUBLE)/1e6)")} AS k_coef,
       |  ${oTrunc4("CAST(cxy AS DOUBLE)*CAST(cxy AS DOUBLE)" +
         "/(CAST(cxx AS DOUBLE)*CAST(cyy AS DOUBLE))")} AS r_sq
       |FROM ce""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "agg_levene_bf"       -> aggLeveneBf _,
    "graph_local_bridges" -> ((s, d) => localBridges(s, d)),
    "text_heaps_law_fit"  -> ((s, d) => heapsLawFit(s, d)))

  val oracles: Map[String, String] = Map(
    "agg_levene_bf"       -> oAggLeveneBf,
    "graph_local_bridges" -> oGraphLocalBridges,
    "text_heaps_law_fit"  -> oTextHeapsLaw)
}
