package graft

import graft.functions.{BigramExplode, VecCentroid}
import graft.plans.CosineSim
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Engine-side invariants that the DuckDB oracle cannot express
  * (SURVEY §5 layers 3-4). */
class OperatorSpec extends SparkSpec {

  test("every declared oracle key has a query implementation") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("pack merge fails on a key two packs declare, naming it") {
    assert(SparkEntry.merged(Seq(Map("a" -> 1), Map("b" -> 2))) ===
      Map("a" -> 1, "b" -> 2))
    val e = intercept[IllegalArgumentException](SparkEntry.merged(
      Seq(Map("a" -> 1, "x" -> 1), Map("b" -> 2, "x" -> 2), Map("a" -> 3))))
    assert(e.getMessage.contains("a, x"), e.getMessage)
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() === 6)
  }

  test("approx_count_distinct lands within 2% of exact") {
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("agg_count_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.02, s"$k: $ap vs $ex")
    }
  }

  test("CosineSim kernel == HOF spelling, and cos(v,v) == 1") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    val hof = e.select(col("vec_id"),
      (aggregate(zip_with(col("v"), col("v"), (p, q) => p * q),
        lit(0.0), (a, x) => a + x) /
        (sqrt(aggregate(zip_with(col("v"), col("v"), (p, q) => p * q),
          lit(0.0), (a, x) => a + x)) *
         sqrt(aggregate(zip_with(col("v"), col("v"), (p, q) => p * q),
          lit(0.0), (a, x) => a + x)))).as("c"))
    val native = e.select(col("vec_id"), CosineSim.of(col("v"), col("v")).as("c"))
    val joined = hof.as("h").join(native.as("n"), "vec_id")
      .select(col("h.c").as("hc"), col("n.c").as("nc")).collect()
    joined.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    }
  }

  test("geomean aggregator: known small input") {
    import spark.implicits._
    val gm = udaf(graft.functions.GeoMean,
      org.apache.spark.sql.Encoders.scalaDouble)
    val got = Seq(2.0, 8.0).toDF("x").agg(gm($"x")).as[Double].head()
    assert(math.abs(got - 4.0) < 1e-12) // sqrt(2*8)
  }

  test("bigram generator: positions and pairs") {
    import spark.implicits._
    val rows = Seq("a b c", "solo").toDF("text")
      .select(BigramExplode.of(split(col("text"), " ")).as(Seq("pos", "bigram")))
      .collect()
    assert(rows.toSeq === Seq(Row(1, "a b"), Row(2, "b c")))
  }

  test("dedup idempotence: f(f(x)) == f(x)") {
    val once = SparkEntry.queries("stream_dedup_ids")(spark, sf)
    val d = graft.sources.Tables.t(spark, sf, "events")
      .dropDuplicates("event_id").dropDuplicates("event_id")
      .groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type")
    assert(once.collect().toSeq === d.collect().toSeq)
  }

  test("union_distinct is a subset of union_all keys") {
    val all = SparkEntry.queries("set_union_all")(spark, sf)
      .select("user_id").collect().map(_.getLong(0)).toSet
    val dis = SparkEntry.queries("set_union_distinct")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(dis.subsetOf(all))
  }

  test("rollup row count == grand total + per-region + per-nation rows") {
    val rows = SparkEntry.queries("agg_rollup")(spark, sf).collect()
    val grand = rows.count(r => r.getInt(3) == 1 && r.getInt(4) == 1)
    val perRegion = rows.count(r => r.getInt(3) == 0 && r.getInt(4) == 1)
    val perNation = rows.count(r => r.getInt(3) == 0 && r.getInt(4) == 0)
    assert(grand === 1)
    assert(perRegion === 5)
    assert(rows.length === grand + perRegion + perNation)
  }

  test("minhash signature invariant under token order permutation") {
    graft.functions.BigramExplode // touch
    import spark.implicits._
    val docs = Seq((1L, "x y z"), (2L, "z y x")).toDF("doc_id", "text")
    val sig = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id")
      .agg(min(md5(concat(lit("0|"), col("word")).cast("binary"))).as("sig0"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig(1L) === sig(2L))
  }

  test("LSH banding: exact recall vs all-pairs truth, candidates << N^2/2") {
    // brute-force shingle-jaccard >= 0.8 over all pairs (test-only; the
    // operator itself must never do this)
    val sets = graft.sources.Tables.t(spark, sf, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        """transform(sequence(1, size(toks)-2),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i+1),
          |              ' ', element_at(toks, i+2)))""".stripMargin)).as("shs"))
    val nDocs = sets.count()
    val a = sets.select(col("doc_id").as("a_id"), col("shs").as("a_s"))
    val b = sets.select(col("doc_id").as("b_id"), col("shs").as("b_s"))
    val truth = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("a_s"), col("b_s"))).cast("double") /
         size(array_distinct(concat(col("a_s"), col("b_s")))).cast("double")).as("j"))
      .filter(floor(col("j") * 10000) / 10000.0 >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_lsh_pairs")(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === truth, "LSH pairs must exactly match brute-force truth")
    val candidates = graft.operators.QText.lshCandidates(spark, sf).count()
    assert(candidates < nDocs * (nDocs - 1) / 2 / 100,
      s"candidate count $candidates is not << N^2/2 (${nDocs * (nDocs - 1) / 2})")
  }

  test("vec_centroid is bit-identical across input partitionings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    def centroids(parts: Int): Map[Int, Seq[Double]] =
      e.repartition(parts).groupBy("label")
        .agg(VecCentroid.of(col("v")).as("cv"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val one = centroids(1)
    val many = centroids(7)
    assert(one.keySet === many.keySet)
    one.foreach { case (k, v) =>
      assert(v === many(k), s"label $k differs across partitionings")
    }
  }

  /** Deterministic planted clusters: `n` points around `k` seeded centers.
    * The driver testdata's embeddings are near-random (max pairwise cosine
    * 0.513), so ANN/bucketed-dedup quality gates run here, on data with the
    * metric structure real corpora have. Seeded RNG in a test is fine — the
    * engine itself stays RNG-free. */
  private def planted(nCenters: Int, n: Int, dim: Int,
      noise: Double): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(nCenters, dim)(rnd.nextDouble() + 0.5)
    (0 until n).map { i =>
      val c = centers(i % nCenters)
      (i.toLong, c.map(x => x + (rnd.nextDouble() - 0.5) * noise).toSeq)
    }
  }

  test("k-means ANN: recall@10 >= 0.9 vs brute force on clustered data") {
    import spark.implicits._
    val e = planted(10, 200, 16, 0.1).toDF("vec_id", "v")
    val cent = graft.operators.AnnKMeans.centroids(e, 10, 3)
    val assigned = graft.operators.AnnKMeans.assign(e, cent)
    val q = e.filter(col("vec_id") < 20)
    val routed = graft.operators.AnnKMeans.assignProbes(q, cent, 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    def top10(scored: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ann = top10(assigned.join(broadcast(routed), "cell")
      .select(col("qid"), col("vec_id"),
        sources.Tables.trunc4(CosineSim.of(col("qv"), col("v"))).as("score")))
    val truth = top10(e.select(col("vec_id"), col("v").as("cv"))
      .crossJoin(broadcast(q.select(col("vec_id").as("qid"), col("v").as("qv"))))
      .select(col("qid"), col("vec_id"),
        sources.Tables.trunc4(CosineSim.of(col("qv"), col("cv"))).as("score")))
    val recalls = truth.map { case (qid, t) => ann(qid).intersect(t).size / 10.0 }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9")
  }

  test("IVF-bucketed dedup: full recall of planted near-dup pairs") {
    import spark.implicits._
    // 100 base points in 10 clusters; points i and i+100 are near-dups
    val base = planted(10, 100, 16, 0.3)
    val dups = base.map { case (id, v) => (id + 100, v.map(_ + 0.001)) }
    val e = (base ++ dups).toDF("vec_id", "v")
    val cent = graft.operators.AnnKMeans.centroids(e, 8, 3)
    val probes = graft.operators.AnnKMeans.assignProbes(e, cent, 2)
    val a = probes.select(col("vec_id").as("a_id"), col("v").as("a_v"), col("cell"))
    val b = probes.select(col("vec_id").as("b_id"), col("v").as("b_v"), col("cell"))
    val found = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        sources.Tables.trunc4(CosineSim.of(col("a_v"), col("b_v"))).as("score"))
      .distinct()
      .filter(col("score") >= 0.999) // trunc4 floors scores to 4dp
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 100L).map(i => (i, i + 100)).toSet
    assert(expected.subsetOf(found),
      s"missed planted pairs: ${(expected -- found).take(5)}")
  }

  test("approx_percentile lands within 5% of exact percentile") {
    val approx = SparkEntry.queries("agg_pctl_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = SparkEntry.queries("agg_percentile")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) / ex <= 0.05, s"$k: ${approx(k)} vs $ex")
    }
  }

  test("theta window rewrite == pair join result") {
    val joined = SparkEntry.queries("join_theta_range")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val windowed = SparkEntry.queries("win_theta_rewrite")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(joined.toSeq === windowed.toSeq)
  }

  test("running sum final value equals group total") {
    val run = SparkEntry.queries("win_running_sum")(spark, sf)
    val finals = run.groupBy("o_custkey")
      .agg(max(col("running")).as("final"))
    val totals = graft.sources.Tables.t(spark, sf, "orders")
      .groupBy("o_custkey")
      .agg(graft.sources.Tables.sum4(col("o_totalprice")).as("total"))
    val bad = finals.join(totals, "o_custkey")
      .filter(col("final") =!= col("total")).count()
    assert(bad === 0)
  }
}
