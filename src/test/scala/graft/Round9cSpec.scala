package graft

import org.apache.spark.sql.functions._

/** Round-9 extension wave-2 gates (SURVEY §2.27): planted fixtures with
  * hand-computable answers for seasonality, entropy, novelty, Zipf,
  * k-core, readability and the PCA grid rollup. */
class Round9cSpec extends SparkSpec {

  test("ts_seasonality_dow: flat planted series indexes 1.0 everywhere") {
    import spark.implicits._
    val daily = (0L until 28L).map(dn => ("a", dn, 10L))
      .toDF("event_type", "day_num", "cnt")
    val out = operators.QRound9c.seasonalityDow(daily).collect()
    assert(out.length === 7)
    out.foreach(r => assert(r.getAs[Double]("idx") === 1.0))
    // driver data: per-type sum over dow buckets conserves the series mass
    val drv = SparkEntry.queries("ts_seasonality_dow")(spark, sf).collect()
    val daily2 = operators.QRound9b.evDaily(spark, sf)
      .groupBy("event_type").agg(sum("cnt").as("tot")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    drv.groupBy(_.getAs[String]("event_type")).foreach { case (et, rows) =>
      assert(rows.map(_.getAs[Long]("sum_dow")).sum === daily2(et),
        s"$et: dow buckets lose mass")
    }
  }

  test("agg_entropy_profile: uniform mix gives ln(k), single type gives 0") {
    import spark.implicits._
    val ev = (Seq.fill(6)("a") ++ Seq.fill(6)("b") ++ Seq.fill(6)("c"))
      .zipWithIndex.map { case (t, i) => (1L, t, i) } ++
      Seq((2L, "x", 100), (2L, "x", 101), (2L, "x", 102))
    val df = ev.toDF("user_id", "event_type", "event_id")
    val out = operators.QRound9c.entropyProfile(df).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("entropy")).toMap
    assert(math.abs(out(1L) - math.log(3.0)) < 1e-5,
      s"uniform 3-type entropy ${out(1L)} != ln 3")
    assert(out(2L) === 0.0, s"single-type entropy ${out(2L)} != 0")
  }

  test("text_ngram_novelty: duplicate doc owns nothing, min doc owns all") {
    import spark.implicits._
    val sets = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq("a b c", "b c d")), // exact shingle copy of doc 1
      (3L, Seq("x y z"))
    ).toDF("doc_id", "shs")
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id") // 4 has no shingles
    val out = operators.QRound9c.ngramNovelty(docs, sets).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_owned"),
          r.getAs[Double]("novelty"))).toMap
    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((2L, 0L, 0.0)))
    assert(out(3L) === ((1L, 1L, 1.0)))
    assert(out(4L) === ((0L, 0L, 0.0)))
  }

  test("text_zipf_fit: planted freq = C/rank recovers slope -1") {
    import spark.implicits._
    // vocabulary with counts 24,12,8,6 = 24/rank for ranks 1..4
    val words = Seq.fill(24)("w1") ++ Seq.fill(12)("w2") ++
      Seq.fill(8)("w3") ++ Seq.fill(6)("w4")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val out = operators.QRound9c.zipfFit(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_terms") === 4L)
    val slope = out.head.getAs[Double]("slope")
    assert(math.abs(slope + 1.0) <= 2e-4, s"planted Zipf slope $slope != -1")
    // driver corpus: slope must be negative (frequencies decay with rank)
    val drv = SparkEntry.queries("text_zipf_fit")(spark, sf).collect()
    assert(drv.head.getAs[Double]("slope") < 0.0)
  }

  test("graph_kcore: planted clique survives, chain peels") {
    import spark.implicits._
    // K5 on nodes 0-4 (degree 4 each) + chain 5-6-7 hanging off node 0
    val nodes = (0L to 7L).toDF("vec_id")
    val cliq = for (i <- 0L to 4L; j <- 0L to 4L if i != j) yield (i, j)
    val chain = Seq((0L, 5L), (5L, 6L), (6L, 7L))
    val edges = (cliq ++ chain ++ chain.map(_.swap)).toDF("src", "dst")
    val out = operators.QRound9c.kcore(nodes, edges).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("in_core"), r.getAs[Int]("deg"))).toMap
    (0L to 4L).foreach { i =>
      assert(out(i)._1, s"clique node $i peeled")
      assert(out(i)._2 === 4, s"clique node $i residual degree")
    }
    (5L to 7L).foreach(i => assert(!out(i)._1 && out(i)._2 === -1,
      s"chain node $i not peeled"))
  }

  test("text_readability_fk: hand-computed counts on planted prose") {
    import spark.implicits._
    val docs = Seq((1L, "The cat sat. It purred!")).toDF("doc_id", "text")
    val out = operators.QRound9c.readabilityFk(docs).collect().head
    assert(out.getAs[Long]("n_words") === 5L)
    assert(out.getAs[Long]("n_sentences") === 2L)
    // vowel groups: e,a,a,I,u,e  -> 6
    assert(out.getAs[Long]("n_syllables") === 6L)
    val expect = 0.39 * 5.0 / 2.0 + 11.8 * 6.0 / 5.0 - 15.59
    assert(math.abs(out.getAs[Double]("fk_grade") - expect) < 1e-3)
  }

  test("emb_grid_density: cells conserve the corpus and shares sum to 1") {
    val out = SparkEntry.queries("emb_grid_density")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n")).sum === 500L)
    val shareSum = out.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-2, s"shares sum to $shareSum")
  }
}
