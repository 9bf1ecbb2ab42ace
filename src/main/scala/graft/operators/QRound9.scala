package graft.operators

import graft.QueryPack
import graft.functions.TrigramShingles
import graft.plans.CosineSim
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-9 wave (SURVEY §2.26) — the two keys the r8 verdict flagged as
  * declared-but-unshipped:
  *
  *  - `sim_ann_nsw`: deterministic graph-ANN in the NSW/HNSW family
  *    (Malkov et al., "Efficient and robust approximate nearest neighbor
  *    search using Hierarchical Navigable Small World graphs"): a k-NN
  *    graph built from the bucketed same-cell machinery plus cross-cell
  *    hub links (each cell's min-vec_id node, hub clique — the navigable
  *    long-range edges), then a fixed-round beam search per query.
  *  - `stream_dedup_minhash`: streaming near-dup admission control —
  *    MinHash band signatures (the `dedup_lsh_pairs` geometry) as dedup
  *    keys under `dropDuplicatesWithinWatermark`; the batch twin
  *    (first-arrival-wins by earliest (ts, doc_id) per band bucket) keeps
  *    the key oracle-checked, StreamingSpec proves state expiry and
  *    stream==batch on in-order arrivals.
  */
object QRound9 extends QueryPack {

  // ---- sim_ann_nsw: graph-ANN beam search ----

  private val nswDeg = 6
  private[graft] val nswBeamWidth = 10
  private val nswRounds = 4
  private val nswCells = 8
  private val nswIters = 3

  /** Symmetric NSW edge set from a cell assignment: per-node top-`nswDeg`
    * same-cell neighbors by trunc4(cosine) (vec_id tiebreak), symmetrized
    * (NSW edges are undirected), plus the hub clique — each cell's
    * min-vec_id node linked all-pairs, the long-range "navigable" edges
    * that let the search jump between cells.
    *
    * Scale shape: the kNN build is the bounded same-cell pair join
    * (Σ|cell|²/k — the `sim_knn_join` bound), the window is partitioned
    * per src node, and the clique is k² rows of model-sized state. The
    * edge table is O(N·deg) — the index a graph-ANN store would persist. */
  private[graft] def nswEdges(assigned: DataFrame): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("src"), col("v").as("sv"))
    val b = assigned.select(col("cell"), col("vec_id").as("dst"), col("v").as("dv"))
    val w = Window.partitionBy("src").orderBy(col("score").desc, col("dst"))
    val knn = a.join(b, Seq("cell")).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        trunc4(CosineSim.of(col("sv"), col("dv"))).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nswDeg)
      .select("src", "dst")
    val hubs = assigned.groupBy("cell").agg(min(col("vec_id")).as("hub"))
    val clique = hubs.select(col("hub").as("src"))
      .join(broadcast(hubs.select(col("hub").as("dst"))))
      .filter(col("src") =!= col("dst"))
    knn.unionByName(knn.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(clique)
      .distinct()
  }

  /** Fixed-round deterministic beam search over the NSW graph. Entry =
    * the global min vec_id (which is always a hub: it is the min of its
    * own cell, so round 1 reaches every other hub through the clique).
    * Each round expands the beam through the edge table, scores the
    * frontier with the exact kernel (trunc4, vec_id tiebreak), and keeps
    * the top-`nswBeamWidth` per query. Rounds are fixed (not
    * converge-until-stable) so the DuckDB oracle unrolls them as CTEs —
    * the PageRank/k-means pattern.
    *
    * Emits the final beam as top-10 plus in-engine recall@10 against the
    * supplied exact baseline (`truth`: qid, vec_id of the true top-10).
    *
    * Scale shape: per round, the beam (queries × beamWidth rows) is
    * broadcast against the persisted edge table (equi on src), then the
    * frontier (queries × beam × deg rows) is broadcast against the corpus
    * (equi on vec_id) — point-lookup volume; the corpus never shuffles
    * and the windows are partitioned per qid. */
  private[graft] def nswSearch(e: DataFrame, edges: DataFrame,
      truth: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val ent = e.join(broadcast(e.agg(min(col("vec_id")).as("mn"))),
      col("vec_id") === col("mn")).select(col("vec_id"), col("v"))
    var beam = q.join(broadcast(ent))
      .select(col("qid"), col("vec_id"),
        trunc4(CosineSim.of(col("qv"), col("v"))).as("score"))
    for (_ <- 1 to nswRounds) {
      // no distinct on the frontier: duplicate (qid, cid) rows (two beam
      // nodes sharing a neighbor) just re-score a handful of rows and are
      // collapsed by the union-side distinct — cheaper than a shuffle
      val frontier = edges
        .join(broadcast(beam.select(col("qid"), col("vec_id"))),
          col("src") === col("vec_id"))
        .select(col("qid"), col("dst").as("cid"))
        .join(broadcast(q), "qid")
      val scored = e.join(broadcast(frontier), col("vec_id") === col("cid"))
        .select(col("qid"), col("vec_id"),
          trunc4(CosineSim.of(col("qv"), col("v"))).as("score"))
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
      // LAZY localCheckpoint per round: the next round references `beam`
      // twice (frontier expansion + union), so an un-truncated lineage
      // doubles the logical plan every round — the 2^r re-analysis
      // failure mode the CC/BPE loops hit. Lazy (not eager) keeps the
      // whole search ONE job: each round's tiny beam RDD is
      // persist-materialized the first time the final action touches it
      // and reused for its second reference, without paying a separate
      // job floor per round (measured 5.2 s → eager, 4 jobs).
      beam = beam.unionByName(scored).distinct()
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= nswBeamWidth)
        .select("qid", "vec_id", "score")
        .localCheckpoint(false)
    }
    val wr = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    val ranked = beam.withColumn("rnk", row_number().over(wr))
    val rec = ranked.select("qid", "vec_id")
      .join(truth.select("qid", "vec_id"), Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    ranked.join(broadcast(rec), Seq("qid"), "left")
      .select(col("qid"), col("rnk").cast(IntegerType).as("rnk"),
        col("vec_id"), col("score"),
        trunc4(coalesce(col("hits"), lit(0L)).cast(DoubleType) / lit(10.0))
          .as("recall"))
      .orderBy("qid", "rnk")
  }

  /** The declared key: NSW search over the embeddings table, cells shared
    * with the IVF family (same memoized k-means fit), exact baseline
    * shared with `sim_cosine_topk` (same memoized ranking). The edge
    * table is memoized + persisted: the beam loop references it once per
    * round, and it is index state, not a per-query scan. */
  private def simAnnNsw(s: SparkSession, d: String): DataFrame = {
    val e = QSim.embPersisted(s, d)
    val cent = AnnKMeans.centroidsMemo(s, d, "emb", nswCells, nswIters)(e)
    val edges = graft.Memo.memo(s, "nswedges", d)(
      nswEdges(AnnKMeans.assign(e, cent))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    nswSearch(e, edges, QSim.simCosineTopk(s, d))
  }

  /** Multiply-referenced CTEs are AS MATERIALIZED (the BPE-oracle rule:
    * DuckDB inlines plain CTEs, so the b-chain's double reference per
    * round re-evaluates the whole upstream — including the same-cell knn
    * join — exponentially; sf0.1 went from unbounded to 1.3 s). `q` must
    * stay NON-materialized: materializing it trips a DuckDB 1.0 internal
    * error ("Recursive CTE scan found without recursive CTE node"),
    * probed by bisection; it is a trivial filter over materialized `e`. */
  private val oSimAnnNsw = {
    val rounds = (1 to nswRounds).map { r =>
      s"""ex$r AS (SELECT DISTINCT b.qid, ed.dst AS cid
         |  FROM b${r - 1} b JOIN edges ed ON ed.src = b.vec_id),
         |sc$r AS (SELECT x.qid, x.cid AS vec_id,
         |    ${oTrunc4("list_cosine_similarity(q.qv, e.v)")} AS score
         |  FROM ex$r x JOIN q ON q.qid = x.qid JOIN e ON e.vec_id = x.cid),
         |cu$r AS (SELECT DISTINCT qid, vec_id, score FROM
         |  (SELECT * FROM b${r - 1} UNION ALL SELECT * FROM sc$r)),
         |b$r AS MATERIALIZED (SELECT qid, vec_id, score FROM (SELECT qid, vec_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
         |  FROM cu$r) WHERE rn <= $nswBeamWidth),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${AnnKMeans.oCentroidChain(nswCells, nswIters, 64)}
       |assigned AS MATERIALIZED (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${oTrunc4("list_cosine_similarity(e.v, c.cv)")} DESC, c.cell) AS r
       |  FROM e, c$nswIters c) WHERE r = 1),
       |knn AS MATERIALIZED (SELECT src, dst FROM (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      ${oTrunc4("list_cosine_similarity(a.v, b.v)")} DESC, b.vec_id) AS rn
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id) WHERE rn <= $nswDeg),
       |hubs AS (SELECT cell, min(vec_id) AS hub FROM assigned GROUP BY cell),
       |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM knn
       |  UNION ALL SELECT dst AS src, src AS dst FROM knn
       |  UNION ALL SELECT a.hub AS src, b.hub AS dst FROM hubs a
       |    JOIN hubs b ON a.hub <> b.hub)),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
       |b0 AS MATERIALIZED (SELECT q.qid, e.vec_id,
       |    ${oTrunc4("list_cosine_similarity(q.qv, e.v)")} AS score
       |  FROM q, e WHERE e.vec_id = (SELECT min(vec_id) FROM e)),
       |$rounds
       |ranked AS MATERIALIZED (SELECT qid, vec_id, score, row_number() OVER (
       |    PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM b$nswRounds),
       |rec AS (SELECT r.qid, count(*) AS hits FROM ranked r
       |  JOIN (${QSim.oSimCosineTopk}) t ON t.qid = r.qid AND t.vec_id = r.vec_id
       |  GROUP BY r.qid)
       |SELECT ranked.qid, CAST(rnk AS INT) AS rnk, vec_id, score,
       |  ${oTrunc4("coalesce(rec.hits, 0) / 1e1")} AS recall
       |FROM ranked LEFT JOIN rec ON rec.qid = ranked.qid
       |ORDER BY ranked.qid, rnk""".stripMargin
  }

  // ---- stream_dedup_minhash: streaming near-dup admission control ----

  /** Per-row MinHash band keys: (doc_id, ts, text) → `QText.lshB` rows
    * (doc_id, ts, band, bkey), the dedup_lsh_pairs geometry. The
    * signature and band keys are QText's: the signature is a per-row
    * kernel, entirely map-side, which is what makes the identical
    * transform legal under Structured Streaming (no stateful aggregate
    * before the dedup operator). Docs under 3 tokens have no shingles and
    * emit no band rows (they are admitted vacuously by the rollup). */
  private[graft] def minhashBandRows(docs: DataFrame): DataFrame = {
    val withSh = docs
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("ts"), TrigramShingles.of(col("toks")).as("shs"))
    QText.bandKeys(QText.signature(withSh, Seq("doc_id", "ts")),
      QText.lshB, QText.lshR, Seq("doc_id", "ts"))
  }

  /** Surviving band rows. Streaming: watermark + Spark 4's
    * `dropDuplicatesWithinWatermark` on (band, bkey) — per-bucket state is
    * EXPIRED once the watermark passes it (a late near-dup is re-admitted;
    * StreamingSpec proves it), so an unbounded firehose holds bounded
    * dedup state (delay-window × arrival rate, the
    * `stream_dedup_within_wm` contract applied to LSH keys). Batch twin:
    * first-arrival-wins by earliest (ts, doc_id) per bucket — identical
    * to the stream on in-order arrivals, and oracle-checkable. */
  private[graft] def minhashSurviving(docs: DataFrame,
      streaming: Boolean): DataFrame = {
    val rows = minhashBandRows(docs)
    if (streaming)
      rows.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("band", "bkey")
    else {
      val w = Window.partitionBy("band", "bkey").orderBy("ts", "doc_id")
      rows.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }
  }

  /** Batch-twin admission verdict: a doc is admitted iff it wins the
    * first-arrival race in EVERY one of its band buckets — i.e. none of
    * its buckets was seen earlier ("a doc whose ANY band bucket was seen
    * is suppressed"). One signature pass, one shuffle on the uniform
    * (band, bkey) md5 keys, one per-doc rollup. */
  private[graft] def minhashAdmitted(docs: DataFrame): DataFrame =
    minhashAdmittedFrom(docs, minhashBandRows(docs))

  private def minhashAdmittedFrom(docs: DataFrame,
      bandRows: DataFrame): DataFrame = {
    val w = Window.partitionBy("band", "bkey").orderBy("ts", "doc_id")
    val per = bandRows
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_won"))
    docs.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"),
        coalesce(col("n_won"), lit(0L)).as("n_won"))
      .withColumn("admitted", col("n_won") === col("n_bands"))
      .orderBy("doc_id")
  }

  /** The declared key: batch twin over `documents` with a synthetic
    * arrival time ts = 2024-01-01 + doc_id seconds (the corpus carries no
    * event time; monotone-in-doc_id arrival makes "earliest (ts, doc_id)"
    * well-defined and lets the oracle order by doc_id alone). */
  private def streamDedupMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .withColumn("ts", expr(
        "TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)"))
    // the band-signature table is memoized + persisted per (session,
    // sfDir) — the signature-table reuse pattern the LSH family already
    // uses (shingledPersisted): 8 seeded md5s per shingle are the
    // dominant cost and are pure index state
    val rows = graft.Memo.memo(s, "mhbands", d)(
      minhashBandRows(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    minhashAdmittedFrom(docs, rows)
  }

  private val oStreamDedupMinhash =
    s"""${QText.oMinhashSig(QText.oBandChunk)},
       |  bands AS (${QText.oBandKeys(QText.lshB, QText.lshR, QText.oBandChunk)}),
       |  wn AS (SELECT doc_id, band, bkey, row_number() OVER (
       |      PARTITION BY band, bkey ORDER BY doc_id) AS rn FROM bands),
       |  per AS (SELECT doc_id, count(*) AS n_bands,
       |      CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_won
       |    FROM wn GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_bands, 0) AS n_bands,
       |  coalesce(per.n_won, 0) AS n_won,
       |  coalesce(per.n_won, 0) = coalesce(per.n_bands, 0) AS admitted
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, QFn] = Map(
    "sim_ann_nsw"          -> simAnnNsw _,
    "stream_dedup_minhash" -> streamDedupMinhash _)

  val oracles: Map[String, String] = Map(
    "sim_ann_nsw"          -> oSimAnnNsw,
    "stream_dedup_minhash" -> oStreamDedupMinhash)
}
