package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText

/** Round-7 third wave — distributed BPE merge-table learning.
  *
  * `text_bpe_merges` TRAINS a byte-pair-encoding merge table (Sennrich et
  * al. 2016, the algorithm behind every production subword tokenizer) on
  * the document corpus: start from the character sequence of every
  * distinct word (weighted by corpus frequency), then repeatedly (a) count
  * adjacent symbol pairs, (b) pick the most frequent pair — ties broken by
  * (left, right) byte order, a total order both engines share — and
  * (c) merge it everywhere, LEFTMOST-FIRST and non-overlapping within a
  * word ("aaa" + merge (a,a) → [aa][a], never [a][aa] and never both).
  * The emitted merge table (rank, left, right, weighted count) is the
  * training artifact a tokenizer ships; `text_vocab_tokenize`'s greedy
  * encoder is the inference-side consumer of exactly such a table.
  *
  * Scale shape: the training state is (distinct word × symbol position) —
  * VOCABULARY-sized (×avg word length), not corpus-sized; corpus frequency
  * enters once as a weight. Each round is two windows and a pair-count
  * aggregate, all partitioned by the uniform word key; the argmax is a
  * TakeOrdered(1) over the (tiny) pair-count table, and the chosen pair is
  * model state collected driver-side — the Lloyd-loop pattern. Lineage is
  * truncated per round (localCheckpoint): the next state references the
  * previous one several times, so an unbroken chain would re-analyze a
  * 2^rounds logical plan (the measured 9 s/round failure mode).
  *
  * Overlap semantics, relationally: a merge site is a symbol row whose
  * successor completes the chosen pair; consecutive sites (successive
  * symbol ranks) form gaps-and-islands runs, and greedy leftmost-first
  * keeps the odd ordinals of each run. The DuckDB oracle replays all
  * rounds as unrolled CTE groups with the identical island arithmetic; a
  * round whose pair table is empty contributes no merge row in either
  * engine (Spark breaks the loop, the oracle's LIMIT 1 CTE goes empty and
  * the state passes through unchanged).
  */
object QRound7c extends QueryPack {

  private val bpeRounds = 8

  /** Run the BPE training loop; returns (merge table, final symbol state).
    * Memoized per (session, shuffle-partitions, sfDir) like the other
    * fitted models — the merge table AND the tokenized state are one
    * training artifact consumed by both declared keys. */
  private def bpeFit(s: SparkSession, d: String): (Seq[(Int, String, String, Long)], DataFrame) =
    graft.Memo.memo(s, "bpe", d) {
      val words = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("wc"))
      // initial symbol table: one row per character (substr is char-based
      // in both engines, so multibyte text is safe)
      var st = words
        .select(col("w"), col("wc"),
          explode(sequence(lit(1), length(col("w")))).as("pos"))
        .withColumn("sym", expr("substring(w, pos, 1)"))
      val wOrd = Window.partitionBy("w").orderBy("pos")
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= bpeRounds && !exhausted) {
        st = st.localCheckpoint(true)
        val st2 = st
          .withColumn("rk", row_number().over(wOrd))
          .withColumn("nx", lead(col("sym"), 1).over(wOrd))
        val top = st2.filter(col("nx").isNotNull)
          .groupBy("sym", "nx").agg(sum(col("wc")).as("n"))
          .orderBy(col("n").desc, col("sym"), col("nx"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((round, l, r, n))
          // greedy leftmost-first: odd ordinals of each consecutive-site run
          val sites = st2.filter(col("sym") === l && col("nx") === r)
            .withColumn("isl",
              col("rk") - row_number().over(Window.partitionBy("w").orderBy("rk")))
            .withColumn("ord",
              row_number().over(Window.partitionBy("w", "isl").orderBy("rk")))
            .filter(col("ord") % 2 === 1)
            .select(col("w").as("mw"), col("rk").as("mrk"))
          val applied = st2
            .join(sites.select(col("mw"), col("mrk")),
              col("w") === col("mw") && col("rk") === col("mrk"), "left")
            .join(sites.select(col("mw").as("dw"), col("mrk").as("drk")),
              col("w") === col("dw") && col("rk") === col("drk") + 1, "left")
            .filter(col("drk").isNull) // drop the absorbed right member
            .select(col("w"), col("wc"), col("pos"),
              when(col("mrk").isNotNull, concat(col("sym"), col("nx")))
                .otherwise(col("sym")).as("sym"))
          st = applied
          round += 1
        }
      }
      (merges.toSeq, st.localCheckpoint(true))
    }

  private def textBpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeFit(s, d)._1.toDF("merge_rank", "left_sym", "right_sym", "n")
      .orderBy("merge_rank")
  }

  /** One unrolled oracle round: pair counts → best pair → island-odd merge
    * sites → next state. `k` names the round's CTEs; state flows s0→s8. */
  private def oRound(k: Int): String = {
    val p = s"s${k - 1}"
    s"""t$k AS MATERIALIZED (SELECT w, wc, pos, sym,
       |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nx,
       |    row_number() OVER (PARTITION BY w ORDER BY pos) AS rk FROM $p),
       |  b$k AS MATERIALIZED (SELECT sym AS l, nx AS r, CAST(SUM(wc) AS BIGINT) AS n
       |    FROM t$k WHERE nx IS NOT NULL GROUP BY sym, nx
       |    ORDER BY n DESC, sym, nx LIMIT 1),
       |  m$k AS (SELECT w, rk,
       |      rk - row_number() OVER (PARTITION BY w ORDER BY rk) AS isl
       |    FROM t$k WHERE sym = (SELECT l FROM b$k) AND nx = (SELECT r FROM b$k)),
       |  mm$k AS MATERIALIZED (SELECT w, rk FROM (
       |    SELECT w, rk, row_number() OVER (PARTITION BY w, isl ORDER BY rk) AS ord
       |    FROM m$k) WHERE ord % 2 = 1),
       |  s$k AS MATERIALIZED (SELECT t.w, t.wc, t.pos,
       |      CASE WHEN mm.rk IS NOT NULL THEN t.sym || t.nx ELSE t.sym END AS sym
       |    FROM t$k t
       |    LEFT JOIN mm$k mm ON t.w = mm.w AND t.rk = mm.rk
       |    LEFT JOIN mm$k dd ON t.w = dd.w AND t.rk = dd.rk + 1
       |    WHERE dd.rk IS NULL),""".stripMargin
  }

  private val oTextBpeMerges = {
    val rounds = (1 to bpeRounds).map(oRound).mkString("\n  ")
    val out = (1 to bpeRounds)
      .map(k => s"SELECT $k AS merge_rank, l AS left_sym, r AS right_sym, n FROM b$k")
      .mkString("\n  UNION ALL ")
    s"""WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |  words AS MATERIALIZED (SELECT w, count(*) AS wc FROM w0 WHERE w <> '' GROUP BY w),
       |  s0 AS MATERIALIZED (SELECT w, wc, pos, substr(w, pos, 1) AS sym FROM (
       |    SELECT w, wc, unnest(generate_series(1, len(w))) AS pos FROM words)),
       |  $rounds
       |  merged AS ($out)
       |SELECT CAST(merge_rank AS INT) AS merge_rank, left_sym, right_sym, n
       |FROM merged ORDER BY merge_rank""".stripMargin
  }

  /** Per-language token-economy profile under the LEARNED BPE merges —
    * the inference side of `text_bpe_merges`, and the direct comparison
    * surface to `text_vocab_tokenize`'s frequency-vocab profile (same
    * columns, different tokenizer — exactly the A/B a pipeline runs when
    * choosing its subword scheme). Token counts per word come from the
    * final training state (the per-word symbol table AFTER all merges);
    * the corpus word stream joins that table on the uniform word key, so
    * the encode costs one distinct-word-sized lookup, never a re-walk of
    * the corpus. */
  private def textBpeEncode(s: SparkSession, d: String): DataFrame = {
    val tokensPerWord = bpeFit(s, d)._2
      .groupBy("w").agg(count(lit(1)).as("nt"))
    val words = t(s, d, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    words.join(tokensPerWord, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("nt").as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        trunc4(col("n_tokens").cast("double") / col("n_words")).as("fertility"))
      .orderBy("lang")
  }

  private val oTextBpeEncode = {
    val rounds = (1 to bpeRounds).map(oRound).mkString("\n  ")
    s"""WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |  words AS MATERIALIZED (SELECT w, count(*) AS wc FROM w0 WHERE w <> '' GROUP BY w),
       |  s0 AS MATERIALIZED (SELECT w, wc, pos, substr(w, pos, 1) AS sym FROM (
       |    SELECT w, wc, unnest(generate_series(1, len(w))) AS pos FROM words)),
       |  $rounds
       |  tpw AS (SELECT w, count(*) AS nt FROM s$bpeRounds GROUP BY w),
       |  cw AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT c.lang, count(*) AS n_words,
       |  CAST(SUM(t.nt) AS BIGINT) AS n_tokens,
       |  ${oTrunc4("CAST(SUM(t.nt) AS DOUBLE) / count(*)")} AS fertility
       |FROM cw c JOIN tpw t ON c.w = t.w
       |GROUP BY c.lang ORDER BY c.lang""".stripMargin
  }

  // ---- Spark 4 SQL-defined functions ----

  /** SQL UDFs (Spark 4 `CREATE FUNCTION … RETURN expr`): business logic
    * declared IN SQL — a scalar pricing function and a banding function —
    * then used inside an aggregation. Because the body is a plain
    * expression, Catalyst inlines it into the plan (no black-box UDF
    * penalty, full codegen + pushdown) — which is exactly why this surface
    * beats a Scala UDF for simple logic and why the DuckDB oracle can
    * replay it by textual inlining. Decimal arithmetic inside the function
    * keeps the money sums exact (the sql_text_tpch_q3 spelling). */
  private def sqlUdfInline(caller: SparkSession, d: String): DataFrame = {
    // the DDL runs on a clone: the caller's own functions keep their names,
    // and a non-SQL one the clone inherited under a declared name (which
    // CREATE OR REPLACE refuses to replace) is dropped from the clone only
    val s = SqlText.cloned(caller)
    Seq("g_disc_price", "g_qty_band")
      .foreach(f => s.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $f"))
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION g_disc_price(
        |  p DECIMAL(12,2), disc DECIMAL(4,2)) RETURNS DECIMAL(18,4)
        |RETURN p * (1 - disc)""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION g_qty_band(q DOUBLE)
        |RETURNS STRING
        |RETURN CASE WHEN q < 10 THEN 'low' WHEN q < 30 THEN 'mid'
        |            ELSE 'high' END""".stripMargin)
    SqlText.on(s,
      """SELECT l_returnflag, g_qty_band(l_quantity) AS qty_band,
        |  count(*) AS n,
        |  CAST(SUM(g_disc_price(CAST(l_extendedprice AS DECIMAL(12,2)),
        |                        CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |    AS revenue
        |FROM g_lineitem
        |GROUP BY l_returnflag, g_qty_band(l_quantity)
        |ORDER BY l_returnflag, qty_band""".stripMargin)(
      "g_lineitem" -> t(s, d, "lineitem"))
  }

  private val oSqlUdfInline =
    """SELECT l_returnflag,
      |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid'
      |       ELSE 'high' END AS qty_band,
      |  count(*) AS n,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY 1, 2 ORDER BY l_returnflag, qty_band""".stripMargin

  // ---- multimodal scene-cut detection ----

  /** Scene cuts over the synthesized multi-frame lake: per video, count
    * adjacent frame pairs whose mean-brightness delta exceeds 5% of full
    * scale (exact-integer cross-multiplied compare — Multimodal.sceneCuts)
    * plus the max observed delta. The shot-boundary primitive a video
    * curation pipeline dedups and samples by; decode runs per partition,
    * only (video → 4 columns) rows ever shuffle. Oracle recomputes every
    * frame's pixel sum analytically from the synthesis formula. */
  private def mmSceneCuts(s: SparkSession, d: String): DataFrame =
    Multimodal.sceneCuts(Multimodal.videosFromDocuments(s, d))
      .toDF().orderBy("media_id")

  private val oMmSceneCuts =
    """WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
      |             CAST(3 + doc_id % 4 AS INT) AS h,
      |             CAST(2 + doc_id % 4 AS INT) AS nf FROM documents),
      |  fr AS (SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 1)) AS f
      |         FROM d),
      |  px AS (SELECT doc_id, w, h, nf, f,
      |           unnest(generate_series(0, w*h*3 - 1)) AS i FROM fr),
      |  fs AS (SELECT doc_id, nf, w, h, f,
      |           sum((doc_id*31 + f*13 + i*7) % 256) AS s
      |         FROM px GROUP BY doc_id, nf, w, h, f),
      |  dl AS (SELECT doc_id, nf, w, h,
      |           abs(lead(s) OVER (PARTITION BY doc_id ORDER BY f) - s) AS dv
      |         FROM fs),
      |  ag AS (SELECT doc_id, nf, w, h,
      |           CAST(SUM(CASE WHEN dv*20 > w*h*3*255 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      |           max(dv) AS mx
      |         FROM dl WHERE dv IS NOT NULL GROUP BY doc_id, nf, w, h)
      |SELECT doc_id AS media_id, nf AS n_frames, CAST(n_cuts AS INT) AS n_cuts,
      |  floor(CAST(mx AS DOUBLE) / (w*h*3*255) * 10000)/10000.0 AS max_delta
      |FROM ag ORDER BY media_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "text_bpe_merges" -> textBpeMerges _,
    "text_bpe_encode" -> textBpeEncode _,
    "sql_udf_inline"  -> sqlUdfInline _,
    "mm_scene_cuts"   -> mmSceneCuts _)

  val oracles: Map[String, String] = Map(
    "text_bpe_merges" -> oTextBpeMerges,
    "text_bpe_encode" -> oTextBpeEncode,
    "sql_udf_inline"  -> oSqlUdfInline,
    "mm_scene_cuts"   -> oMmSceneCuts)
}
