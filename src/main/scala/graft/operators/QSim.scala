package graft.operators

import graft.QueryPack
import graft.functions.VecCentroid
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (FLOAT[64] vectors) —
  * SURVEY.md §2.9 + the north-star ANN operators (BASELINE.json:6).
  *
  * Scale notes (100 TB / billions of vectors):
  *  - `sim_cosine_topk` is the brute-force baseline: broadcast the (small)
  *    query set against a partitioned candidate scan — linear in candidates,
  *    no shuffle of the big side, per-partition top-k folded by the window.
  *  - `sim_ann_ivf` is the scale path: assign every vector to a coarse
  *    cell (here the stored `label` plays the role of a k-means cell id),
  *    compute cell centroids, route each query to its nearest centroid, and
  *    search only that cell — the classic IVF-Flat recipe (cf. Johnson et
  *    al., "Billion-scale similarity search with GPUs", and the PAPERS.md
  *    two-stage top-k theme). Probe cost drops from O(N) to O(N/cells).
  *  - `dedup_emb_cosine` (embedding near-dup mining) bounds the pair space
  *    with `a.vec_id < b.vec_id` and would bucket by LSH/IVF cell first at
  *    real scale; the threshold filter is pushed below the top-k.
  *  - All scoring is in DOUBLE (cast up from FLOAT on both engines) and
  *    truncated to 4dp before ranking, with vec_id tiebreaks, so ranking is
  *    hash-deterministic across engines (SURVEY App. A r3).
  */
object QSim extends QueryPack {

  // Scores use the native fused-loop cosine kernel (CosineSim.of). The
  // equivalent pure-HOF spelling — aggregate(zip_with(a,b,(x,y)=>x*y),...)
  // — is semantically identical but far slower (per-row allocation,
  // interpreted lambda); the kernel codegens into the join stage.

  private def asDouble(c: Column): Column = transform(c, x => x.cast(DoubleType))

  private def embD(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))

  /** Persisted (vec_id, v) decoded-vector table, memoized per
    * (session, sfDir): the k-means consumers (dedupEmbCosine,
    * simAnnKmeans, and simAnnRecall via simAnnKmeans) each re-scan it per
    * Lloyd iteration, so caching is the standard iterative-ML pattern —
    * but persisting anew on every call leaked one cache entry per call
    * for the session lifetime (ADVICE r3). One shared entry per session
    * is the intended semantics: later calls reuse the same hot cache. */
  private[graft] def embPersisted(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "emb", d)(
      embD(s, d).select("vec_id", "v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // ---- brute-force cosine top-k (the exact baseline) ----

  /** Exposed to QRound7's `sim_ann_ivfpq`, whose recall column is computed
    * against this exact baseline (the `sim_ann_recall` pattern). The 200-row
    * ranked result is memoized+persisted per (session, partitions, sfDir):
    * three keys (this one, sim_ann_recall, sim_ann_ivfpq) consume the same
    * exact ranking, and it is ground-truth state, not a per-query scan. */
  private[operators] def simCosineTopk(s: SparkSession, d: String): DataFrame = {
    graft.Memo.memo(s, "brutetopk", d) {
      val q = embD(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = embD(s, d).select(col("vec_id"), col("v").as("cv"))
      val scored = c.join(broadcast(q))
        .select(col("qid"), col("vec_id"),
          trunc4(CosineSim.of(col("qv"), col("cv"))).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select("qid", "rnk", "vec_id", "score")
        .orderBy("qid", "rnk")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  private[operators] val oSimCosineTopk =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < 20),
       |  c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |  sc AS (SELECT qid, vec_id,
       |           ${oTrunc4("list_cosine_similarity(qv, cv)")} AS score
       |         FROM q, c),
       |  r AS (SELECT qid, vec_id, score, row_number() OVER (
       |          PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc)
       |SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, score
       |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  // ---- per-label centroids (vector aggregation) ----

  /** One-pass per-label mean vector via the VecCentroid aggregate: each
    * partition folds into (dim longs + count), the shuffle carries dim+1
    * longs per label — no 64× posexplode row blowup, and the scaled-long
    * accumulation is bit-deterministic at any partition count (the old
    * double avg() was not). The posexplode here runs AFTER aggregation, on
    * #labels rows, purely to shape the (label, pos, c) output. */
  private def embCentroid(s: SparkSession, d: String): DataFrame = {
    embD(s, d)
      .groupBy("label")
      .agg(VecCentroid.of(col("v")).as("cv"))
      .select(col("label"), posexplode(col("cv")))
      .select(col("label"), (col("pos") + 1).as("pos"), trunc4(col("col")).as("c"))
      .orderBy("label", "pos")
  }

  private val oEmbCentroid = {
    val q = graft.functions.VecCentroid.oQuant("CAST(embedding[i] AS DOUBLE)")
    s"""SELECT label, CAST(i AS INT) AS pos,
       |  ${oTrunc4("CAST(SUM(" + q + ") AS DOUBLE)/count(*)/1000000")} AS c
       |FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
       |GROUP BY label, i ORDER BY label, pos""".stripMargin
  }

  // ---- embedding near-duplicate pairs (IVF-cell bucketed) ----

  private val dedupCells = 16
  private val dedupIters = 3
  private val dedupProbes = 2

  /** IVF-bucketed near-dup mining: assign every vector to its `dedupProbes`
    * nearest k-means cells, emit same-cell pairs as candidates, verify with
    * the exact cosine kernel at ≥ 0.4. Candidate work is
    * O(N²·nprobe²/2k) instead of the previous all-pairs N²/2 join — the
    * plan has no unbucketed self-join left.
    *
    * Honest recall note (probed at sf0.01): this testdata's embeddings are
    * near-random (mean pairwise cosine 3·10⁻⁴, max 0.513) and 54 of the 59
    * pairs ≥ 0.4 are *inter*-label chance alignments, so no sub-quadratic
    * method can recover them all — the ≥ 0.4 regime simply has no metric
    * structure here. The oracle mirrors the bucketing (both engines agree
    * exactly); OperatorSpec measures recall = 1.0 on planted clustered
    * data, where real near-dup corpora live. */
  private def dedupEmbCosine(s: SparkSession, d: String): DataFrame = {
    // each Lloyd iteration + both probe branches re-scan e — session-shared
    // persisted instance (see embPersisted)
    val e = embPersisted(s, d)
    val cent = AnnKMeans.centroidsMemo(s, d, "emb", dedupCells, dedupIters)(e)
    val probes = AnnKMeans.assignProbes(e, cent, dedupProbes)
    val a = probes.select(col("vec_id").as("a_id"), col("v").as("a_v"), col("cell"))
    val b = probes.select(col("vec_id").as("b_id"), col("v").as("b_v"), col("cell"))
    a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        trunc4(CosineSim.of(col("a_v"), col("b_v"))).as("score"))
      .distinct() // a pair sharing both probed cells appears twice
      .filter(col("score") >= 0.4)
      .orderBy("a_id", "b_id")
  }

  private val oDedupEmbCosine =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${AnnKMeans.oCentroidChain(dedupCells, dedupIters, 64)}
       |probes AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
       |  FROM e, c$dedupIters c) WHERE r <= $dedupProbes),
       |pairs AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${oTrunc4("list_cosine_similarity(a.v, b.v)")} AS score
       |  FROM probes a JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT a_id, b_id, score FROM pairs WHERE score >= 0.4
       |ORDER BY a_id, b_id""".stripMargin

  // ---- IVF-style ANN: route query to nearest centroid cell, search cell ----

  private def simAnnIvf(s: SparkSession, d: String): DataFrame = {
    val e = embD(s, d)
    // cell centroids in one pass (deterministic scaled-long mean — a raw
    // double avg() could flip a trunc4 digit with partition count and
    // re-route a near-tie query to a different cell)
    val cent = e.groupBy("label").agg(VecCentroid.of(col("v")).as("cv"))
    val q = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("v").as("qv"))
    // stage 1: nearest centroid per query (tiny cross join)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cscore").desc, col("label"))
    val routed = q.join(broadcast(cent))
      .select(col("qid"), col("qv"), col("label"),
        trunc4(CosineSim.of(col("qv"), col("cv"))).as("cscore"))
      .withColumn("r", row_number().over(wq)).filter(col("r") === 1)
      .select(col("qid"), col("qv"), col("label").as("cell"))
    // stage 2: exact search inside the routed cell only
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    e.join(broadcast(routed), e("label") === routed("cell"))
      .select(col("qid"), col("cell"), col("vec_id"),
        trunc4(CosineSim.of(col("qv"), col("v"))).as("score"))
      .withColumn("rnk", row_number().over(wc)).filter(col("rnk") <= 3)
      .select("qid", "cell", "rnk", "vec_id", "score")
      .orderBy("qid", "rnk")
  }

  private val oSimAnnIvf = {
    val q = graft.functions.VecCentroid.oQuant("CAST(embedding[i] AS DOUBLE)")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |  pe AS (SELECT label, i AS pos,
       |           CAST(SUM($q) AS DOUBLE)/count(*)/1000000 AS cx
       |         FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
       |         GROUP BY label, i),
       |  cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM pe GROUP BY label),
       |  q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
       |  routed AS (SELECT qid, qv, label AS cell FROM (
       |    SELECT q.qid, q.qv, cent.label,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${oTrunc4("list_cosine_similarity(q.qv, cent.cv)")} DESC,
       |                 cent.label) AS r
       |    FROM q, cent) WHERE r = 1),
       |  cand AS (SELECT routed.qid, routed.cell, e.vec_id,
       |      ${oTrunc4("list_cosine_similarity(routed.qv, e.v)")} AS score
       |    FROM routed JOIN e ON e.label = routed.cell),
       |  rk AS (SELECT qid, cell, vec_id, score, row_number() OVER (
       |      PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM cand)
       |SELECT qid, cell, CAST(rnk AS INT) AS rnk, vec_id, score
       |FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  // ---- IVF ANN with computed k-means cells + nprobe routing ----

  private val kmCells = 8
  private val kmIters = 3
  private val kmProbes = 2
  private val kmTop = 10

  /** ANN over computed cells: deterministic seeded k-means (first-k-by-id
    * init, 3 Lloyd iterations), route each query to its nprobe=2 nearest
    * centroids, exact-search only those cells. Two broadcast joins, the
    * corpus side never shuffles; probe cost O(N·nprobe/k) per query.
    * Recall@10 vs brute force is gated in OperatorSpec on clustered data
    * (this testdata's embeddings are near-random — see dedupEmbCosine). */
  private def simAnnKmeans(s: SparkSession, d: String): DataFrame = {
    // persisted across the Lloyd iterations + final assignment —
    // session-shared instance (see embPersisted)
    val e = embPersisted(s, d)
    val cent = AnnKMeans.centroidsMemo(s, d, "emb", kmCells, kmIters)(e)
    val assigned = AnnKMeans.assign(e, cent)
    val q = e.filter(col("vec_id") < 20)
    val routed = AnnKMeans.assignProbes(q, cent, kmProbes)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    assigned.join(broadcast(routed), "cell")
      .select(col("qid"), col("vec_id"),
        trunc4(CosineSim.of(col("qv"), col("v"))).as("score"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= kmTop)
      .select("qid", "rnk", "vec_id", "score")
      .orderBy("qid", "rnk")
  }

  private val oSimAnnKmeans =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${AnnKMeans.oCentroidChain(kmCells, kmIters, 64)}
       |assigned AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
       |  FROM e, c$kmIters c) WHERE r = 1),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
       |routed AS (SELECT vec_id AS qid, v AS qv, cell FROM (
       |  SELECT q.vec_id, q.v, c.cell, row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(q.v, c.cv)")} DESC, c.cell) AS r
       |  FROM q, c$kmIters c) WHERE r <= $kmProbes),
       |hits AS (SELECT routed.qid, a.vec_id,
       |    ${oTrunc4("list_cosine_similarity(routed.qv, a.v)")} AS score
       |  FROM routed JOIN assigned a ON a.cell = routed.cell),
       |rk AS (SELECT qid, vec_id, score, row_number() OVER (
       |    PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM hits)
       |SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, score
       |FROM rk WHERE rnk <= $kmTop ORDER BY qid, rnk""".stripMargin

  // ---- embedding L2-norm histogram (vector data-quality audit) ----

  /** Distribution of vector L2 norms in 0.1-wide buckets — the standard
    * embedding-corpus sanity audit (collapsed/exploded norms signal a bad
    * encoder run). Per-row HOF arithmetic (aggregate over the array —
    * sequential fold, same order as DuckDB's list_sum, so the doubles are
    * bit-identical), then a tiny bucket-count aggregate. Zero shuffles
    * before the final 30-ish-row aggregation. */
  private def embNormHist(s: SparkSession, d: String): DataFrame =
    embD(s, d)
      .select(sqrt(aggregate(col("v"), lit(0.0d),
        (acc, x) => acc + x * x)).as("norm"))
      .select(floor(col("norm") * 10).cast(IntegerType).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  private val oEmbNormHist =
    """WITH n AS (SELECT sqrt(list_sum(list_transform(
      |    CAST(embedding AS DOUBLE[]), x -> x*x))) AS norm FROM embeddings)
      |SELECT CAST(floor(norm * 10) AS INT) AS bucket, count(*) AS n
      |FROM n GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- kNN JOIN: top-k neighbors for EVERY vector, cell-bucketed ----

  private val knnK = 3

  /** Similarity JOIN (vs sim_ann_kmeans's query-set search): every vector's
    * top-3 nearest same-cell neighbors. The all-pairs spelling is N²/2
    * kernel calls; bucketing by the computed k-means cell bounds the pair
    * space to Σ|cell|² ≈ N²/k while keeping the join pure equi on `cell` —
    * the standard blocked-kNN-join recipe (same cells as sim_ann_kmeans,
    * so the routing model is built once conceptually; a vector alone in
    * its cell yields no rows, deterministically on both engines). */
  /** The kNN neighbor-list table (vec_id, rnk, nbr_id, score), memoized
    * + lineage-truncated per corpus: it is ANN-index state — consumed by
    * `sim_knn_join` itself and SIX downstream keys (knn classifier,
    * neighbor preservation, hist quantile, HDI interval, knn lookup,
    * survival strata), each of which previously re-ran the full
    * Σ|cell|²/k cell-blocked distance join per call. N·k rows — tiny.
    * The memo key embeds shuffle partitions (Memo.memo), so the CPUS=1
    * determinism sweep genuinely re-executes the join. */
  /** Salt fan-out for the cell-blocked pair join below: `cell` alone has
    * only kmCells=8 distinct values, so a bare equi-join caps the
    * Σ|cell|²/k pair expansion at 8 tasks AND lets AQE coalesce the
    * tiny (N-row!) join inputs into ONE task — the expansion volume is
    * invisible to AQE's input-size heuristic (the triangle-count /
    * tfidfNn lesson, guide §2.5). Deterministic per-vector salt on the
    * probe side, exploded on the build side: pair set identical, 8×8
    * join groups. */
  private val knnSalts = 8

  private[operators] def knnJoinPersisted(s: SparkSession, d: String)
      : DataFrame =
    graft.Memo.memo(s, "knnjoin", d)(knnJoinBuild(s, d).localCheckpoint(true))

  /** The raw (un-memoized) kNN-join dataflow — exposed so the r17 plan
    * snapshot shows the salted pair join (post-memo plans show only the
    * checkpoint scan). */
  private[graft] def knnJoinBuild(s: SparkSession, d: String): DataFrame = {
    {
      val e = embPersisted(s, d)
      val cent = AnnKMeans.centroidsMemo(s, d, "emb", kmCells, kmIters)(e)
      // materialized once — the a/b sides below otherwise re-run the
      // whole assignment pipeline twice (r17)
      val assigned = AnnKMeans.assign(e, cent).localCheckpoint(true)
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val a = assigned.select(col("cell"), col("vec_id"), col("v"))
        .withColumn("salt",
          pmod(col("vec_id"), lit(knnSalts)).cast(IntegerType))
        // EXPLICIT repartition so the expansion actually spreads: a
        // user-specified exchange is exempt from AQE coalescing, which
        // would otherwise merge the ~N-row inputs to one partition and
        // run the N²/k pair stream single-threaded
        .repartition(parts, col("cell"), col("salt"))
      val b = assigned.select(col("cell"), col("vec_id").as("nbr_id"),
          col("v").as("nv"))
        .withColumn("salt",
          explode(array((0 until knnSalts).map(lit): _*)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("score").desc, col("nbr_id"))
      a.join(b, Seq("cell", "salt"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .select(col("vec_id"), col("nbr_id"),
          trunc4(CosineSim.of(col("v"), col("nv"))).as("score"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= knnK)
        .select("vec_id", "rnk", "nbr_id", "score")
    }
  }

  /** The undirected kNN graph (src, dst): every kNN pair in both
    * directions, deduplicated, memoized and persisted per corpus. The one
    * edge table of the graph keys (BFS, k-core, clustering, harmonic,
    * stress, walks, assortativity, power law, rich club, Jaccard, language
    * homophily); its oracle twin is [[oKnnEdges]]. */
  private[operators] def knnEdgesMemo(s: SparkSession, d: String): DataFrame =
    graft.Memo.memo(s, "bfsedges", d) {
      val knn = knnJoinPersisted(s, d)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      knn.unionByName(knn.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def simKnnJoin(s: SparkSession, d: String): DataFrame =
    knnJoinPersisted(s, d).orderBy("vec_id", "rnk")

  private val oSimKnnJoin =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${AnnKMeans.oCentroidChain(kmCells, kmIters, 64)}
       |assigned AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
       |  FROM e, c$kmIters c) WHERE r = 1),
       |pairs AS (SELECT a.vec_id, b.vec_id AS nbr_id,
       |    ${oTrunc4("list_cosine_similarity(a.v, b.v)")} AS score
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, nbr_id, score, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY score DESC, nbr_id) AS rnk FROM pairs)
       |SELECT vec_id, CAST(rnk AS INT) AS rnk, nbr_id, score
       |FROM rk WHERE rnk <= $knnK ORDER BY vec_id, rnk""".stripMargin

  /** Oracle twin of [[knnEdgesMemo]]: the `knn` and `edges` CTEs that open
    * a graph key's WITH clause (the caller writes `WITH $oKnnEdges,`). */
  private[operators] val oKnnEdges =
    s"""knn AS MATERIALIZED (SELECT vec_id AS src, nbr_id AS dst
       |  FROM ($oSimKnnJoin)),
       |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM knn UNION ALL SELECT dst AS src, src AS dst FROM knn))""".stripMargin

  // ---- self-measuring ANN quality: recall@10 as a query ----

  /** Per-query-vector recall@10 of the IVF/k-means ANN against the exact
    * brute-force baseline, computed IN the engine (the production pattern:
    * ship the recall dashboard as a query, not a notebook). Both inputs are
    * the already-declared pipelines; the semi join + count is exact. Every
    * query vector always recalls itself (its own cell is its nearest
    * centroid, which is always probed), so no qid drops out of the join. */
  private def simAnnRecall(s: SparkSession, d: String): DataFrame = {
    val ann = simAnnKmeans(s, d).select(col("qid"), col("vec_id"))
    val truth = simCosineTopk(s, d).select(col("qid"), col("vec_id"))
    truth.join(ann, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid")
      .agg(count(lit(1)).as("hits"))
      .select(col("qid"), col("hits"),
        trunc4(col("hits") / lit(10.0)).as("recall"))
      .orderBy("qid")
  }

  // 1e1, not 10.0: a bare decimal literal makes DuckDB run a DECIMAL
  // division chain where Spark runs double (see oChpScoreChain)
  private val oSimAnnRecall =
    s"""SELECT t.qid, count(*) AS hits,
       |  ${oTrunc4("count(*) / 1e1")} AS recall
       |FROM ($oSimCosineTopk) t
       |JOIN ($oSimAnnKmeans) a
       |  ON t.qid = a.qid AND t.vec_id = a.vec_id
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sim_cosine_topk"  -> simCosineTopk _,
    "emb_centroid"     -> embCentroid _,
    "dedup_emb_cosine" -> dedupEmbCosine _,
    "sim_ann_ivf"      -> simAnnIvf _,
    "sim_ann_kmeans"   -> simAnnKmeans _,
    "sim_knn_join"     -> simKnnJoin _,
    "emb_norm_hist"    -> embNormHist _,
    "sim_ann_recall"   -> simAnnRecall _)

  val oracles: Map[String, String] = Map(
    "sim_cosine_topk"  -> oSimCosineTopk,
    "emb_centroid"     -> oEmbCentroid,
    "dedup_emb_cosine" -> oDedupEmbCosine,
    "sim_ann_ivf"      -> oSimAnnIvf,
    "sim_ann_kmeans"   -> oSimAnnKmeans,
    "sim_knn_join"     -> oSimKnnJoin,
    "emb_norm_hist"    -> oEmbNormHist,
    "sim_ann_recall"   -> oSimAnnRecall)
}
