package graft.operators

import graft.QueryPack
import graft.functions.VecCentroid
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlText
import org.apache.spark.sql.types._

/** Round-9 extension wave 12 (SURVEY §2.27):
  *
  *  - `sql_unpivot`: the SQL-text UNPIVOT clause (Spark 4 parser surface;
  *    `agg_unpivot` covers the DataFrame `unpivot` API — this key proves
  *    the SQL spelling plans identically).
  *  - `text_pmi_cooccur`: pointwise mutual information over top-vocab
  *    term pairs — the collocation/word-association analytic beside
  *    tf-idf and the bigram LM.
  *  - `emb_outlier_score`: per-vector similarity to its own label's
  *    exact centroid, with an outlier flag — the embedding-space label
  *    noise / outlier audit beside the kNN classifier.
  *  - `graph_harmonic_sampled`: harmonic centrality (Σ 1/d within a
  *    4-hop horizon) for a fixed 20-source sample of the kNN graph, in
  *    exact integers (12/d) — the reachability-weighted centrality
  *    beside BFS distance and HITS.
  */
object QRound9m extends QueryPack {

  // ---- sql_unpivot ----

  /** SQL-text UNPIVOT: three lineitem measures unpivoted to long form by
    * the parser clause, then profiled per metric. Same plan family as
    * the DataFrame-API twin (`agg_unpivot`): one Expand + one
    * partial+final aggregate — the clause must not cost three scans.
    * min/max on doubles are exact; the mass total uses the money-decimal
    * sum (values are 2-dp-exact). */
  private def sqlUnpivot(s: SparkSession, d: String): DataFrame = {
    // g_sum4u: the 128-bit integer spelling of the DECIMAL(18,4) sum
    // (bit-identical — Tables.sqlIntSums). The UNPIVOT parser clause —
    // the point of this key — is unchanged; the Expand tripled the row
    // count, so the per-row decimal buffer cost was paid 3x here
    // (1.34 s warm, the slowest sql_* key).
    SqlText.on(s,
      """SELECT metric, count(*) AS n, min(v) AS min_v, max(v) AS max_v,
        |  CAST(g_sum4u(v) AS DOUBLE) AS sum_v
        |FROM g_lineitem
        |  UNPIVOT (v FOR metric IN (l_extendedprice, l_quantity, l_discount))
        |GROUP BY metric ORDER BY metric""".stripMargin)(
      "g_lineitem" -> t(s, d, "lineitem"))
  }

  private val oSqlUnpivot =
    s"""SELECT metric, CAST(count(*) AS BIGINT) AS n, min(v) AS min_v,
       |  max(v) AS max_v, ${oSum4("v")} AS sum_v
       |FROM (SELECT * FROM lineitem
       |  UNPIVOT (v FOR metric IN (l_extendedprice, l_quantity, l_discount)))
       |GROUP BY metric ORDER BY metric""".stripMargin

  // ---- text_pmi_cooccur ----

  private val pmiVocab = 20

  /** PMI collocations over the document corpus: the top-`pmiVocab` terms
    * by document frequency (≥3 letters, lowercased, rank tiebroken by
    * term), then for every vocab pair co-occurring in ≥1 document,
    * PMI = ln(N·df_xy / (df_x·df_y)) — positive when the pair appears
    * together more than independence predicts. All df counts are exact
    * longs; the single ln division is the engine-stable spelling,
    * trunc6'd.
    *
    * Scale shape: the distinct (doc, term) explode is df-bounded by the
    * ≤`pmiVocab` vocabulary via a broadcast semi-join BEFORE the pair
    * join, so the pair space is Σ_doc |vocab∩doc|² ≤ N·k² — the df-cap
    * discipline of the jaccard/containment family; the vocab table is a
    * TakeOrderedAndProject. */
  /** Distinct lowercase-alpha (doc_id, term) table (length ≥ 3),
    * memoized + lineage-truncated per corpus: `pmiCooccur` consumes it
    * THREE times in one call (the vocab df-aggregate and both sides of
    * the pair self-join) — un-shared, the tokenize + distinct scan
    * re-ran per consumer. Corpus-bounded (one row per distinct doc,
    * term); the docwords discipline with pmi's own tokenizer. */
  /** The one spelling of pmi's tokenizer, shared by the memoized
    * declared-key path and the unit-test wrapper so the two cannot
    * drift apart (ADVICE r13). */
  private def pmiToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "" && length(col("term")) >= 3)
      .distinct()

  private def pmiToksPersisted(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "pmitoks", d)(
      pmiToks(t(s, d, "documents")).localCheckpoint(true))

  private[graft] def pmiCooccur(docs: DataFrame): DataFrame =
    pmiCooccurFrom(docs, pmiToks(docs))

  private[graft] def pmiCooccurFrom(docs: DataFrame, toks: DataFrame)
      : DataFrame = {
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(pmiVocab)
    val vt = toks.join(broadcast(vocab), "term")
    val pairs = vt.select(col("doc_id"), col("term").as("term_a"),
        col("df").as("df_a"))
      .join(vt.select(col("doc_id").as("d2"), col("term").as("term_b"),
        col("df").as("df_b")),
        col("d2") === col("doc_id") && col("term_a") < col("term_b"))
      .groupBy("term_a", "df_a", "term_b", "df_b")
      .agg(count(lit(1)).as("df_ab"))
    pairs.crossJoin(broadcast(n))
      .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"),
        col("df_ab"),
        trunc6(log((col("n_docs") * col("df_ab")).cast(DoubleType) /
          (col("df_a") * col("df_b")).cast(DoubleType))).as("pmi"))
      .orderBy("term_a", "term_b")
  }

  private def textPmiCooccur(s: SparkSession, d: String): DataFrame =
    pmiCooccurFrom(t(s, d, "documents"), pmiToksPersisted(s, d))

  private val oTextPmiCooccur =
    s"""WITH toks AS (SELECT DISTINCT doc_id, tok AS term FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text),
       |      '[^a-z]+')) AS tok FROM documents)
       |  WHERE tok <> '' AND length(tok) >= 3),
       |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM documents),
       |vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM toks
       |  GROUP BY 1 ORDER BY df DESC, term LIMIT $pmiVocab),
       |vt AS (SELECT t.doc_id, t.term, v.df FROM toks t
       |  JOIN vocab v USING (term)),
       |pairs AS (SELECT a.term AS term_a, a.df AS df_a, b.term AS term_b,
       |    b.df AS df_b, CAST(count(*) AS BIGINT) AS df_ab
       |  FROM vt a JOIN vt b ON b.doc_id = a.doc_id AND a.term < b.term
       |  GROUP BY 1, 2, 3, 4)
       |SELECT term_a, term_b, df_a, df_b, df_ab,
       |  ${oTrunc6("ln(CAST(n_docs * df_ab AS DOUBLE) / " +
         "CAST(df_a * df_b AS DOUBLE))")} AS pmi
       |FROM pairs, n ORDER BY term_a, term_b""".stripMargin

  // ---- emb_outlier_score ----

  /** Embedding outlier audit: every vector's trunc4'd cosine similarity
    * to its own label's exact centroid (the VecCentroid scaled-long mean
    * — bit-deterministic at any partition count), flagged as an outlier
    * when the similarity falls below 0 (probed: ~5% of the corpus; the
    * threshold compares the trunc4'd value, the
    * `pipeline_curation_verdict` cut discipline). The label-noise audit
    * that precedes training on weak labels.
    *
    * Scale shape: centroids are #labels rows of broadcast model state;
    * the corpus is scanned once, never shuffled (the centroid aggregate
    * shuffles dim+1 longs per label). */
  private[graft] def outlierScore(s: SparkSession, emb: DataFrame)
      : DataFrame = {
    val cent = emb.groupBy("label")
      .agg(VecCentroid.of(col("v")).as("cv0"))
      .select(col("label").as("lc"),
        // 1e4 keeps the lambda in pure DOUBLE (a 10000.0 SQL literal
        // binds as DECIMAL and poisons the array element type)
        expr("transform(cv0, x -> floor(x * 1e4) / 1e4)").as("cv"))
    emb.join(broadcast(cent), col("label") === col("lc"))
      .select(col("vec_id"), col("label").cast(IntegerType).as("label"),
        trunc4(CosineSim.of(col("v"), col("cv"))).as("sim_centroid"))
      .withColumn("is_outlier",
        when(col("sim_centroid") < lit(0e0), 1).otherwise(0))
      .orderBy("vec_id")
  }

  private def embOutlierScore(s: SparkSession, d: String): DataFrame =
    outlierScore(s, t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v")))

  private val oEmbOutlierScore = {
    val q = graft.functions.VecCentroid.oQuant("CAST(embedding[i] AS DOUBLE)")
    s"""WITH qd AS (SELECT label, i,
       |    floor(CAST(SUM($q) AS DOUBLE)/count(*)/1000000 * 10000)/10000.0
       |      AS c
       |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
       |  GROUP BY label, i),
       |cent AS (SELECT label, list(c ORDER BY i) AS cv FROM qd GROUP BY 1)
       |SELECT e.vec_id, CAST(e.label AS INT) AS label,
       |  ${oTrunc4("list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv)")}
       |    AS sim_centroid,
       |  CAST(CASE WHEN ${oTrunc4(
            "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv)")}
       |    < 0e0 THEN 1 ELSE 0 END AS INT) AS is_outlier
       |FROM embeddings e JOIN cent c USING (label)
       |ORDER BY e.vec_id""".stripMargin
  }

  // ---- graph_harmonic_sampled ----

  private val harmRounds = 4
  private val harmSources = 20

  /** Harmonic centrality within a 4-hop horizon for the fixed 20-source
    * sample (vec_id < 20, the corpus's standing query-set convention):
    * score = Σ_{reached u} 1/d(u), spelled as exact integers 12/d
    * (12, 6, 4, 3 for d = 1..4) so the score is a BIGINT with zero
    * floating point. The bounded-horizon spelling is the honest
    * lake-scale form: full-graph closeness is APSP, which no 100 TB
    * engine runs — a fixed-horizon, fixed-sample frontier is what
    * production centrality jobs actually compute.
    *
    * Scale shape: the frontier table is (src × reached) ≤ 20·N rows,
    * keyed (src, node); each round is one equi-join on the node key +
    * min-combine (the multi-source generalization of
    * `graph_bfs_distance`); per-round lazy localCheckpoint truncates the
    * doubled lineage (frontier referenced twice per round); fixed rounds
    * → MATERIALIZED-CTE oracle unroll. */
  private[graft] def harmonicSampled(sources: DataFrame, edges: DataFrame)
      : DataFrame = {
    var f = sources.select(col("vec_id").as("src"),
      col("vec_id").as("node"), lit(0L).as("dist"))
    for (_ <- 1 to harmRounds) {
      val nd = f.join(edges.select(col("src").as("es"), col("dst")),
          col("node") === col("es"))
        .select(col("src"), col("dst").as("node"),
          (col("dist") + 1).as("dist"))
      f = f.unionByName(nd)
        .groupBy("src", "node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(false)
    }
    f.filter(col("dist") > 0)
      .groupBy("src")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("12 div dist")).as("harmonic12"))
      .select(col("src").as("qid"), col("n_reached"), col("harmonic12"))
      .orderBy("qid")
  }

  private def graphHarmonicSampled(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    harmonicSampled(
      QSim.embPersisted(s, d).select("vec_id")
        .filter(col("vec_id") < harmSources), edges)
  }

  private val oGraphHarmonicSampled = {
    val rounds = (1 to harmRounds).map { r =>
      s"""f$r AS MATERIALIZED (SELECT src, node, min(dist) AS dist FROM (
         |  SELECT src, node, dist FROM f${r - 1}
         |  UNION ALL SELECT b.src, e.dst AS node, b.dist + 1 AS dist
         |    FROM f${r - 1} b JOIN edges e ON e.src = b.node)
         |  GROUP BY src, node),""".stripMargin
    }.mkString("\n")
    s"""WITH ${QSim.oKnnEdges},
       |f0 AS MATERIALIZED (SELECT vec_id AS src, vec_id AS node,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM embeddings WHERE vec_id < $harmSources),
       |$rounds
       |fin AS (SELECT src, node, dist FROM f$harmRounds WHERE dist > 0)
       |SELECT src AS qid, CAST(count(*) AS BIGINT) AS n_reached,
       |  CAST(sum(12 // dist) AS BIGINT) AS harmonic12
       |FROM fin GROUP BY src ORDER BY qid""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "sql_unpivot"            -> sqlUnpivot _,
    "text_pmi_cooccur"       -> textPmiCooccur _,
    "emb_outlier_score"      -> embOutlierScore _,
    "graph_harmonic_sampled" -> graphHarmonicSampled _)

  val oracles: Map[String, String] = Map(
    "sql_unpivot"            -> oSqlUnpivot,
    "text_pmi_cooccur"       -> oTextPmiCooccur,
    "emb_outlier_score"      -> oEmbOutlierScore,
    "graph_harmonic_sampled" -> oGraphHarmonicSampled)
}
