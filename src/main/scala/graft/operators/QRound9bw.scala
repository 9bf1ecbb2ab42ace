package graft.operators

import graft.QueryPack
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 74 (SURVEY §2.28):
  *
  *  - `text_bm25_retrieval`: Okapi BM25 (k1=1.2, b=0.75) ranked
  *    retrieval for a deterministic 3-term query — THE classical
  *    lexical ranking function.
  *  - `scan_txn_log_replay`: transaction-log snapshot reconstruction —
  *    a mini lakehouse: parquet data files + a JSON add/remove commit
  *    log, replayed to the latest version.
  *  - `serve_symspell_suggest`: SymSpell-style spelling suggestion via
  *    the deletion-neighborhood index — edit-distance-1 candidate
  *    lookup with zero fuzzy scans.
  */
object QRound9bw extends QueryPack {

  private val dd = DoubleType

  // ---- text_bm25_retrieval ----

  /** BM25 over the document corpus for the query = vocab terms ranked
    * 10–12 by (corpus count desc, token): tf/df/dl/avgdl are exact
    * integers; idf = ln(1 + (N−df+0.5)/(df+0.5)) (Lucene spelling — positive even at df > N/2) and the saturation term
    * run in doubles spelled identically, per-(doc,term) scores
    * scale-to-long'd at 1e12 so the per-doc sum is order-independent
    * and the top-20 ordering is an exact integer sort.
    *
    * Scale shape: one tokenize + (term,doc) rollup; query terms and
    * corpus stats broadcast; ranking is a top-k window. */
  private[graft] def bm25(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val tok = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("tk"))
    val tf = tok.groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = tf.groupBy("tk").agg(sum("tf").as("ctot"),
      count(lit(1)).as("df"))
    // bounded-vocab ranking via one aggregate (no global window —
    // the PlanSpec gate): sort the collected stats, slice ranks 10-12
    val qterms = stats
      .agg(expr("slice(array_sort(collect_list(struct(-ctot AS nc, tk, df))), 10, 3)")
        .as("a"))
      .select(explode(col("a")).as("s"))
      .select(col("s.tk").as("tk"), col("s.df").as("df"))
    val tot = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("total_tokens"))
    val scored = tf.join(broadcast(qterms), "tk")
      .join(dl, "doc_id").crossJoin(broadcast(tot))
      .withColumn("score_t_sc", expr(
        """CAST(floor(
          |  ln(1e0 + (CAST(n_docs AS DOUBLE) - df + 5e-1)/(CAST(df AS DOUBLE) + 5e-1))
          |  * (CAST(tf AS DOUBLE) * (12e-1 + 1e0))
          |  / (CAST(tf AS DOUBLE) + 12e-1 * (1e0 - 75e-2
          |     + 75e-2 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
          |       / CAST(total_tokens AS DOUBLE)))
          |  * 1e12 + 5e-1) AS BIGINT)""".stripMargin))
      .groupBy("doc_id").agg(sum("score_t_sc").as("score_sc"),
        count(lit(1)).as("n_terms_matched"))
    // top-20 as TakeOrderedAndProject + bounded-aggregate ranking
    val top = scored.orderBy(col("score_sc").desc, col("doc_id")).limit(20)
    top.agg(expr(
        "array_sort(collect_list(struct(-score_sc AS ns, doc_id, score_sc, n_terms_matched)))")
        .as("a"))
      .select(posexplode(col("a")))
      .select((col("pos") + 1).cast(IntegerType).as("rnk"),
        col("col.doc_id").as("doc_id"),
        col("col.n_terms_matched").as("n_terms_matched"),
        trunc4(col("col.score_sc").cast(dd) / lit(1e12)).as("bm25_score"))
      .orderBy("rnk")
  }

  private val oTextBm25 =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tk
       |  FROM documents),
       |tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT tk, CAST(sum(tf) AS BIGINT) AS ctot,
       |    count(*) AS df FROM tf GROUP BY 1),
       |qt AS (SELECT tk, df FROM (SELECT tk, df, row_number() OVER
       |    (ORDER BY ctot DESC, tk) AS qr FROM stats)
       |  WHERE qr BETWEEN 10 AND 12),
       |tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT)
       |    AS total_tokens FROM dl),
       |sc AS (SELECT tf.doc_id, CAST(floor(
       |    ln(1e0 + (CAST(n_docs AS DOUBLE) - df + 5e-1)/(CAST(df AS DOUBLE) + 5e-1))
       |    * (CAST(tf AS DOUBLE) * (12e-1 + 1e0))
       |    / (CAST(tf AS DOUBLE) + 12e-1 * (1e0 - 75e-2
       |       + 75e-2 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |         / CAST(total_tokens AS DOUBLE)))
       |    * 1e12 + 5e-1) AS BIGINT) AS score_t_sc
       |  FROM tf JOIN qt USING (tk) JOIN dl ON dl.doc_id = tf.doc_id, tot),
       |agg AS (SELECT doc_id, CAST(sum(score_t_sc) AS BIGINT) AS score_sc,
       |    count(*) AS n_terms_matched FROM sc GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (ORDER BY score_sc DESC, doc_id)
       |    AS rnk FROM agg)
       |SELECT CAST(rnk AS INT) AS rnk, doc_id,
       |  CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
       |  ${oTrunc4("CAST(score_sc AS DOUBLE)/1e12")} AS bm25_score
       |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  // ---- scan_txn_log_replay ----

  private val txnStage = new java.util.concurrent.ConcurrentHashMap[
    String, String]()

  /** Mini transaction-log table: three parquet data files (orders split
    * by o_orderkey % 3) plus a JSON commit log of add/remove actions —
    * v1 adds f0+f1, v2 adds f2, v3 removes f0. Snapshot reconstruction
    * reads the log, resolves the latest active file set (adds minus
    * later removes), loads exactly those files, and rolls up; the
    * oracle computes the expected survivors (keys with %3 ≠ 0) from the
    * raw table, so a wrong replay breaks counts.
    *
    * Scale shape: the log is a driver-side metadata read (like every
    * table format's); the data scan parallelizes per surviving file. */
  private[graft] def txnLogReplay(s: SparkSession, d: String): DataFrame = {
    val root = txnStage.computeIfAbsent(s"${s.hashCode}|$d", _ => {
      val p = graft.Staging.trackedTempDir("txn_log")
      val o = t(s, d, "orders")
      (0 to 2).foreach { i =>
        o.filter(col("o_orderkey") % 3 === i)
          .write.mode("overwrite").parquet(s"$p/f$i")
      }
      val log = Seq(
        """{"v":1,"action":"add","path":"f0"}""",
        """{"v":1,"action":"add","path":"f1"}""",
        """{"v":2,"action":"add","path":"f2"}""",
        """{"v":3,"action":"remove","path":"f0"}""")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$p/commits.json"),
        log.mkString("\n").getBytes("UTF-8"))
      p
    })
    val log = s.read.json(s"$root/commits.json")
      .groupBy("path").agg(
        max(when(col("action") === "add", col("v"))).as("added_v"),
        max(when(col("action") === "remove", col("v"))).as("removed_v"))
      .filter(col("added_v").isNotNull &&
        (col("removed_v").isNull || col("removed_v") < col("added_v")))
    val active = log.select("path").collect().map(_.getString(0)).sorted
    val snap = s.read.parquet(active.map(f => s"$root/$f"): _*)
    snap.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
          .cast(LongType)).as("cents"))
      .orderBy("o_orderpriority")
  }

  private val oScanTxnLog =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(floor(o_totalprice*100 + 5e-1) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders WHERE o_orderkey % 3 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- serve_symspell_suggest ----

  /** SymSpell d=1 suggestion: the dictionary's deletion neighborhood
    * (every single-char deletion of every vocab term) is the index;
    * each query typo (vocab term with its 2nd char dropped) finds
    * candidates via exact equi-joins only — typo == term, typo ∈
    * del1(term), or term ∈ del1(typo) — never a fuzzy scan. Best
    * suggestion by (corpus count desc, term).
    *
    * Scale shape: the deletion index is vocab × term-length rows
    * (bounded by dictionary size, not corpus size); lookups are hash
    * joins on the deletion key. */
  private[graft] def symspellSuggest(s: SparkSession, d: String): DataFrame = {
    val vocab = t(s, d, "documents")
      .select(explode(tokens(col("text")))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val del1 = vocab.select(col("term"), explode(expr(
      "transform(sequence(1, length(term)), i -> concat(substring(term, 1, i - 1), substring(term, i + 1)))"))
      .as("del"))
    val typos = vocab.filter(length(col("term")) >= 4)
      .select(concat(substring(col("term"), 1, 1),
        expr("substring(term, 3)")).as("typo")).distinct()
    val c0 = typos.join(vocab, col("typo") === col("term"))
      .select(col("typo"), col("term"))
    val c1 = typos.join(del1, col("typo") === col("del"))
      .select(col("typo"), col("term"))
    val typoDel = typos.select(col("typo"), explode(expr(
      "transform(sequence(1, length(typo)), i -> concat(substring(typo, 1, i - 1), substring(typo, i + 1)))"))
      .as("tdel"))
    val c2 = typoDel.join(vocab, col("tdel") === col("term"))
      .select(col("typo"), col("term"))
    val cands = c0.union(c1).union(c2).distinct()
      .join(vocab, "term")
    val w = Window.partitionBy("typo")
      .orderBy(col("cnt").desc, col("term"))
    cands.withColumn("rnk", row_number().over(w))
      .groupBy("typo").agg(count(lit(1)).as("n_candidates"),
        max(when(col("rnk") === 1, col("term"))).as("best_term"),
        max(when(col("rnk") === 1, col("cnt"))).as("best_count"))
      .orderBy("typo")
  }

  private val oServeSymspell =
    """WITH vocab AS (SELECT tk AS term, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS tk FROM documents) GROUP BY 1),
      |del1 AS (SELECT term, unnest(list_transform(range(1, len(term) + 1),
      |    i -> substr(term, 1, i - 1) || substr(term, i + 1))) AS del
      |  FROM vocab),
      |typos AS (SELECT DISTINCT substr(term, 1, 1) || substr(term, 3)
      |    AS typo FROM vocab WHERE len(term) >= 4),
      |c0 AS (SELECT typo, term FROM typos JOIN vocab ON typo = term),
      |c1 AS (SELECT typo, term FROM typos JOIN del1 ON typo = del),
      |tdel AS (SELECT typo, unnest(list_transform(range(1, len(typo) + 1),
      |    i -> substr(typo, 1, i - 1) || substr(typo, i + 1))) AS td
      |  FROM typos),
      |c2 AS (SELECT typo, term FROM tdel JOIN vocab ON td = term),
      |cands AS (SELECT DISTINCT typo, term FROM
      |  (SELECT * FROM c0 UNION ALL SELECT * FROM c1
      |   UNION ALL SELECT * FROM c2)),
      |rk AS (SELECT c.typo, c.term, v.cnt, row_number() OVER
      |    (PARTITION BY c.typo ORDER BY v.cnt DESC, c.term) AS rnk
      |  FROM cands c JOIN vocab v ON v.term = c.term)
      |SELECT typo, CAST(count(*) AS BIGINT) AS n_candidates,
      |  max(CASE WHEN rnk = 1 THEN term END) AS best_term,
      |  CAST(max(CASE WHEN rnk = 1 THEN cnt END) AS BIGINT) AS best_count
      |FROM rk GROUP BY typo ORDER BY typo""".stripMargin

  val queries: Map[String, QFn] = Map(
    "text_bm25_retrieval"   -> ((s, d) => bm25(s, d)),
    "scan_txn_log_replay"   -> ((s, d) => txnLogReplay(s, d)),
    "serve_symspell_suggest" -> ((s, d) => symspellSuggest(s, d)))

  val oracles: Map[String, String] = Map(
    "text_bm25_retrieval"   -> oTextBm25,
    "scan_txn_log_replay"   -> oScanTxnLog,
    "serve_symspell_suggest" -> oServeSymspell)
}
