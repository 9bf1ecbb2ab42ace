package graft

import graft.plans.CosineSim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 gates: NSW graph-ANN recall on clustered data and the
  * stream_dedup_minhash batch-twin admission semantics. */
class Round9Spec extends SparkSpec {

  /** Deterministic planted clusters (the OperatorSpec pattern): the driver
    * testdata's embeddings are near-random, so ANN quality gates run on
    * data with the metric structure real corpora have. */
  private def planted(nCenters: Int, n: Int, dim: Int,
      noise: Double): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(nCenters, dim)(rnd.nextDouble() + 0.5)
    (0 until n).map { i =>
      val c = centers(i % nCenters)
      (i.toLong, c.map(x => x + (rnd.nextDouble() - 0.5) * noise).toSeq)
    }
  }

  test("sim_ann_nsw: recall@10 >= 0.8 vs brute force on clustered data") {
    import spark.implicits._
    val e = planted(10, 200, 16, 0.1).toDF("vec_id", "v")
    val cent = operators.AnnKMeans.centroids(e, 8, 3)
    val edges = operators.QRound9.nswEdges(operators.AnnKMeans.assign(e, cent))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    val truth = e.select(col("vec_id"), col("v").as("cv")).join(broadcast(q))
      .select(col("qid"), col("vec_id"),
        sources.Tables.trunc4(CosineSim.of(col("qv"), col("cv"))).as("score"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
      .select("qid", "vec_id")
    val out = operators.QRound9.nswSearch(e, edges, truth)
    val recalls = out.select("qid", "recall").distinct()
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recalls.size === 20, s"expected 20 query beams, got ${recalls.size}")
    val mean = recalls.values.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@10 $mean < 0.8")
  }

  test("sim_ann_nsw on driver data: complete beams, self-recall, bounds") {
    val rows = SparkEntry.queries("sim_ann_nsw")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size === 20, s"expected 20 qids, got ${byQ.size}")
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq === (1 to 10),
        s"qid $qid beam incomplete")
      // the query vector itself is in the corpus: its own top-1 is itself
      // (cosine 1.0) and the beam must find it (entry reaches every hub,
      // and scores only improve toward the query)
      val rec = rs.head.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range: $rec")
      assert(rs.map(_.getAs[Double]("recall")).distinct.length === 1,
        s"qid $qid recall not constant across its beam rows")
    }
  }

  test("stream_dedup_minhash: identical near-dup suppressed, verdict covers corpus") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"alt$i").mkString(" ")
    val docs = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), base),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), base),  // exact dup
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), other), // distinct
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), "a b")) // <3 toks
      .toDF("doc_id", "ts", "text")
    val out = operators.QRound9.minhashAdmitted(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bands"), r.getAs[Long]("n_won"),
          r.getAs[Boolean]("admitted")))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L), "verdict must cover every doc")
    assert(out(1L) === ((8L, 8L, true)), s"first arrival must win all bands: $out")
    assert(out(2L) === ((8L, 0L, false)), s"exact dup must lose all bands: $out")
    assert(out(3L) === ((8L, 8L, true)), s"distinct doc must be admitted: $out")
    assert(out(4L) === ((0L, 0L, true)), s"shingle-less doc admitted vacuously: $out")
  }
}
