package graft.operators

import graft.QueryPack
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 extension wave 48 (SURVEY §2.28):
  *
  *  - `text_keyphrase_rake`: RAKE keyphrase extraction (Rose et al.
  *    2010) — stopword-delimited candidate phrases scored by summed
  *    word degree/frequency ratios, integer-exact end to end.
  *  - `graph_rich_club`: rich-club coefficient φ(k) of the kNN graph —
  *    do high-degree nodes preferentially interconnect; exact counts
  *    over the shared memoized edge table.
  *  - `emb_kmeans_elbow`: the k-means model-selection elbow — mean
  *    cosine distance to the assigned centroid at k = 4/8/16 over the
  *    shared memoized fits.
  */
object QRound9aw extends QueryPack {

  // ---- text_keyphrase_rake ----

  private val rakeStop = Seq("a", "the") // the corpus stopword list (QRound3)
  private val rakeMaxLen = 3
  private val rakeTopK = 15

  /** RAKE: candidate phrases are maximal non-stopword token runs, capped
    * at 3 tokens (runs subdivide deterministically by position); each
    * word scores deg(w)/freq(w) where deg sums the lengths of phrases
    * containing w and freq counts occurrences; a phrase scores the sum
    * of its word scores. The ratio is computed as the exact BIGINT
    * (deg·1e12) div freq, so phrase scores are order-free integer sums —
    * ranking is fully deterministic (score desc, phrase asc).
    *
    * Scale shape: tokenize/flag/segment are map-side (windows partition
    * by doc); word stats are one vocab-keyed shuffle; the phrase score
    * re-join is keyed by word; top-k is TakeOrdered, never a global
    * window. */
  private[graft] def keyphraseRake(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "tok")
      .withColumn("is_stop", col("tok").isin(rakeStop: _*))
      .withColumn("run_id",
        sum(col("is_stop").cast(LongType)).over(w))
    val inRun = toks.filter(!col("is_stop"))
      .withColumn("idx_in_run",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id", "run_id").orderBy("pos")))
      .withColumn("chunk", expr(s"(idx_in_run - 1) div $rakeMaxLen"))
    // lazily checkpointed (r17): `phrases` fans out to the word stats,
    // the phrase-score join AND the occurrence rollup — un-truncated,
    // the tokenize→window→segment pipeline executed three times per run
    // (6 document scans in the before-plan, 2 after)
    val phrases = inRun.groupBy("doc_id", "run_id", "chunk")
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("len"))
      .localCheckpoint(false)
    val words = phrases
      .select(col("phrase"), col("len"),
        explode(split(col("phrase"), " ")).as("word"))
    val wordStats = words.groupBy("word")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .withColumn("wscore", expr("(deg * 1000000000000) div freq"))
    val scored = words.join(wordStats.select("word", "wscore"), "word")
      .groupBy("phrase")
      .agg(sum("wscore").as("pscore"))
    val byPhrase = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occur"), max("len").as("n_words"))
    // pscore sums the word scores once per phrase OCCURRENCE, so it is
    // exactly divisible by n_occur — integer div keeps it order-free
    byPhrase.join(scored, "phrase")
      .select(col("phrase"), col("n_words"), col("n_occur"),
        trunc4(expr("pscore div n_occur").cast(DoubleType) /
          lit(1e12)).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(rakeTopK)
  }

  private def textKeyphraseRake(s: SparkSession, d: String): DataFrame =
    keyphraseRake(t(s, d, "documents"))

  private val oTextKeyphraseRake = {
    val stopPred = rakeStop.map(t => s"tok = '$t'").mkString(" OR ")
    s"""WITH toks AS (SELECT doc_id, p.i AS pos, p.tok,
       |    CASE WHEN $stopPred THEN 1 ELSE 0 END AS is_stop
       |  FROM documents,
       |    LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
       |      generate_subscripts(string_split(text, ' '), 1) AS i) p),
       |runs AS (SELECT doc_id, pos, tok,
       |    CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS run_id, is_stop
       |  FROM toks),
       |inrun AS (SELECT doc_id, run_id, pos, tok,
       |    row_number() OVER (PARTITION BY doc_id, run_id ORDER BY pos)
       |      AS idx_in_run
       |  FROM runs WHERE is_stop = 0),
       |phr AS (SELECT doc_id, run_id,
       |    (idx_in_run - 1) // $rakeMaxLen AS chunk,
       |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    CAST(count(*) AS BIGINT) AS len
       |  FROM inrun GROUP BY doc_id, run_id, chunk),
       |words AS (SELECT phrase, len, unnest(string_split(phrase, ' '))
       |    AS word FROM phr),
       |ws AS (SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(sum(len) AS BIGINT) AS deg FROM words GROUP BY 1),
       |ws2 AS (SELECT word, (deg * 1000000000000) // freq AS wscore
       |  FROM ws),
       |sc AS (SELECT w.phrase,
       |    CAST(sum(ws2.wscore) AS BIGINT) AS pscore
       |  FROM words w JOIN ws2 ON w.word = ws2.word GROUP BY 1),
       |bp AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur,
       |    CAST(max(len) AS BIGINT) AS n_words FROM phr GROUP BY 1)
       |SELECT bp.phrase, bp.n_words, bp.n_occur,
       |  ${oTrunc4("CAST(sc.pscore // bp.n_occur AS DOUBLE) / 1e12")} AS score
       |FROM bp JOIN sc ON bp.phrase = sc.phrase
       |ORDER BY score DESC, bp.phrase LIMIT $rakeTopK""".stripMargin
  }

  // ---- graph_rich_club ----

  private val richKs = Seq(2L, 4L, 8L)

  /** Rich-club coefficient: for degree cutoffs k ∈ {2,4,8}, the density
    * φ(k) = E_k / (n_k·(n_k−1)) of the subgraph induced by nodes with
    * degree > k (E_k counts directed edge rows; the table stores both
    * directions, so the normalizer is ordered pairs). φ near 1 at high k
    * = hubs form a clique; counts are exact.
    *
    * Scale shape: degrees aggregate once and broadcast onto the edge
    * list; each cutoff is a filter over the same joined pass (the k
    * grid is a 3-row broadcast). */
  private[graft] def richClub(edges: DataFrame): DataFrame = {
    val dd = DoubleType
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val kdf = edges.sparkSession.createDataFrame(
      richKs.map(Tuple1(_))).toDF("k")
    val nk = deg.crossJoin(broadcast(kdf))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_k"))
    val ek = edges
      .join(broadcast(deg.select(col("src"), col("deg").as("ds"))), "src")
      .join(broadcast(deg.select(col("src").as("dst"),
        col("deg").as("dd_"))), "dst")
      .crossJoin(broadcast(kdf))
      .filter(col("ds") > col("k") && col("dd_") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"),
        when(col("n_k") > 1,
          trunc4(coalesce(col("e_k"), lit(0L)).cast(dd) /
            (col("n_k") * (col("n_k") - 1)).cast(dd)))
          .otherwise(lit(-1.0)).as("phi"))
      .orderBy("k")
  }

  private def graphRichClub(s: SparkSession, d: String): DataFrame = {
    val edges = QSim.knnEdgesMemo(s, d)
    richClub(edges)
  }

  private val oGraphRichClub =
    s"""WITH ${QSim.oKnnEdges},
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1),
       |ks AS (SELECT CAST(unnest([${richKs.mkString(", ")}]) AS BIGINT)
       |  AS k),
       |nk AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_k
       |  FROM deg, ks WHERE deg.deg > ks.k GROUP BY 1),
       |ek AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS e_k
       |  FROM edges e
       |  JOIN deg dx ON dx.src = e.src JOIN deg dy ON dy.src = e.dst, ks
       |  WHERE dx.deg > ks.k AND dy.deg > ks.k GROUP BY 1)
       |SELECT nk.k, nk.n_k, coalesce(ek.e_k, 0) AS e_k,
       |  CASE WHEN nk.n_k > 1 THEN
       |    ${oTrunc4("CAST(coalesce(ek.e_k, 0) AS DOUBLE) / (nk.n_k * (nk.n_k - 1))")}
       |  ELSE -1e0 END AS phi
       |FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY nk.k""".stripMargin

  // ---- emb_kmeans_elbow ----

  private val elbowKs = Seq(4, 8, 16)
  private val elbowIters = 3

  /** Model-selection elbow: at k = 4/8/16 (3 Lloyd iterations each, the
    * shared memoized fits), the mean cosine distance 1 − max trunc4'd
    * similarity of each vector to its nearest centroid. Inertia falls
    * as k grows; the bend locates the natural cluster count. Means run
    * through the scale-to-long sum.
    *
    * Scale shape: per k one corpus scan against k broadcast centroids
    * with a map-side max fold; the union is 3 one-row branches. */
  private[graft] def kmeansElbow(s: SparkSession, d: String): DataFrame = {
    val dd = DoubleType
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(dd)).as("v"))
    val branches = elbowKs.map { k =>
      val cent = AnnKMeans.centroidsMemo(s, d, "emb", k, elbowIters)(e)
      e.join(broadcast(cent))
        .select(col("vec_id"),
          trunc4(CosineSim.of(col("v"), col("cv"))).as("sim"))
        .groupBy("vec_id").agg(max("sim").as("max_sim"))
        .agg(count(lit(1)).as("n"),
          sum(floor((lit(1.0) - col("max_sim")) * lit(1e12) + lit(0.5))
            .cast(LongType)).as("sd"))
        .select(lit(k.toLong).as("k"), col("n"),
          trunc4(col("sd").cast(dd) / lit(1e12) / col("n").cast(dd))
            .as("mean_cos_dist"))
    }
    branches.reduce(_ unionAll _).orderBy("k")
  }

  private val oEmbKmeansElbow = {
    val base =
      """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |""".stripMargin
    val chains = elbowKs.map { k =>
      s"k${k}_e AS (SELECT * FROM e),\n" +
        AnnKMeans.oCentroidChain(k, elbowIters, 64, s"k${k}_")
    }.mkString
    val branches = elbowKs.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n,
         |  ${oTrunc4(s"CAST(sum(CAST(floor((1e0 - mx) * 1e12 + 5e-1) AS BIGINT)) AS DOUBLE) / 1e12 / count(*)")} AS mean_cos_dist
         |FROM (SELECT e.vec_id,
         |    max(${oTrunc4(s"list_cosine_similarity(e.v, c.cv)")}) AS mx
         |  FROM e, k${k}_c$elbowIters c GROUP BY e.vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $base$chains dummy AS (SELECT 1)\n$branches\nORDER BY k"
  }

  val queries: Map[String, QFn] = Map(
    "text_keyphrase_rake" -> textKeyphraseRake _,
    "graph_rich_club"     -> graphRichClub _,
    "emb_kmeans_elbow"    -> kmeansElbow _)

  val oracles: Map[String, String] = Map(
    "text_keyphrase_rake" -> oTextKeyphraseRake,
    "graph_rich_club"     -> oGraphRichClub,
    "emb_kmeans_elbow"    -> oEmbKmeansElbow)
}
