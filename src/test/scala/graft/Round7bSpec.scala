package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, QRound7b}

/** Gates for the round-7 second wave (QRound7b): the curation operators'
  * semantics, validated on planted data and by driver-side recomputes. */
class Round7bSpec extends SparkSpec {
  import spark.implicits._

  // ---- dedup_semdedup ----

  test("dedup_semdedup: on planted clusters the verdict fires and matches a driver-side replay of the removal rule") {
    // 4 tight clusters of 30 → heavy semantic duplication by construction
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4, 64)(rnd.nextDouble() + 0.5)
    val rows = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + (rnd.nextDouble() - 0.5) * 0.05).toFloat).toSeq,
        i % 4)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup_").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("dedup_semdedup")(spark, dir)
      .select("vec_id", "cell", "csim", "keep")
      .as[(Long, Int, Double, Int)].collect()
    assert(out.length === 120)
    assert(out.forall(r => r._4 == 0 || r._4 == 1))
    val removed = out.count(_._4 == 0)
    assert(removed >= 100,
      s"tight planted clusters should dedup to a handful of keepers; removed only $removed")
    assert(out.count(_._4 == 1) >= 1)
    // driver-side replay of the rule, taking the key's own (cell, csim)
    // assignment as model state: b removed iff some same-cell a with
    // trunc4(cos) >= 0.4 outranks it on (csim, vec_id)
    val vecs = rows.map { case (id, v, _) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def trunc4(x: Double): Double = math.floor(x * 10000) / 10000.0
    val byCell = out.groupBy(_._2)
    out.foreach { case (id, cell, csim, keep) =>
      val outranked = byCell(cell).exists { case (aid, _, acsim, _) =>
        aid != id && trunc4(cos(vecs(aid), vecs(id))) >= 0.4 &&
          (acsim < csim || (acsim == csim && aid < id))
      }
      assert(keep == (if (outranked) 0 else 1),
        s"verdict mismatch for vec $id in cell $cell")
    }
    // every cell that removed anything must retain a keeper (the minimal
    // element of the outranking order is never removed)
    byCell.foreach { case (cell, members) =>
      if (members.exists(_._4 == 0))
        assert(members.exists(_._4 == 1), s"cell $cell removed everything")
    }
  }

  // ---- ts_ewma_smooth ----

  test("ts_ewma_smooth: driver-side recompute of the trailing-8 normalized EWMA matches exactly") {
    val out = SparkEntry.queries("ts_ewma_smooth")(spark, sf)
      .select(col("user_id").cast("long"), col("day").cast("string"),
        col("v"), col("ewma"))
      .as[(Long, String, Double, Double)].collect()
    assert(out.nonEmpty)
    def trunc4(x: Double): Double = math.floor(x * 10000) / 10000.0
    out.groupBy(_._1).foreach { case (_, rows) =>
      val series = rows.sortBy(_._2)
      series.indices.foreach { n =>
        // identical association order to the column expression: start at
        // the current value and add lag terms oldest-ward
        var num = series(n)._3
        var den = 1.0
        var wt = 1.0
        for (j <- 1 until 8) {
          wt = wt * 0.7
          num = num + wt * (if (n - j >= 0) series(n - j)._3 else 0.0)
          den = den + wt * (if (n - j >= 0) 1.0 else 0.0)
        }
        assert(trunc4(num / den) === series(n)._4,
          s"EWMA mismatch at user ${series(n)._1} day ${series(n)._2}")
      }
    }
  }

  // ---- graph_lpa_community ----

  test("lpaOnEdges: a barbell graph splits into two communities where CC would merge them") {
    // two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4: one
    // connected component, but LPA's frequency vote keeps the bridge from
    // flooding either side
    val undirected = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val e = (undirected ++ undirected.map(p => (p._2, p._1)))
      .toDF("src", "dst")
    val lab = QRound7b.lpaOnEdges(e, 4)
      .as[(Long, Long)].collect().toMap
    assert(lab.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(Set(lab(1L), lab(2L), lab(3L)).size === 1, "left triangle not uniform")
    assert(Set(lab(4L), lab(5L), lab(6L)).size === 1, "right triangle not uniform")
    assert(lab(1L) !== lab(4L), "LPA collapsed the barbell into one community")
  }

  test("graph_lpa_community: communities refine the CC clusters (never span two components)") {
    val lpa = SparkEntry.queries("graph_lpa_community")(spark, sf)
      .select("doc_id", "community").as[(Long, Long)].collect().toMap
    val cc = SparkEntry.queries("dedup_cc_cluster")(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(lpa.keySet === cc.keySet)
    // a community must sit inside exactly one connected component
    lpa.groupBy(_._2).foreach { case (community, members) =>
      val comps = members.keys.map(cc).toSet
      assert(comps.size === 1,
        s"community $community spans components $comps")
    }
  }

  // ---- mm_phash_groups ----

  test("ahashQuad: bright-bottom image sets exactly the bottom-quadrant bits; flat image sets none") {
    def ppm(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val data = new Array[Byte](w * h * 3)
      for (r <- 0 until h; c <- 0 until w; ch <- 0 until 3)
        data((r * w + c) * 3 + ch) = px(r, c).toByte
      header ++ data
    }
    // top half 0, bottom half 255 → quadrants 2 and 3 exceed the mean
    val split = ppm(4, 4, (r, _) => if (r < 2) 0 else 255)
    assert(Multimodal.ahashQuad(split) === Some(12)) // 0b1100
    // flat image: no quadrant strictly exceeds the mean → hash 0
    val flat = ppm(5, 3, (_, _) => 77)
    assert(Multimodal.ahashQuad(flat) === Some(0))
    // bright right column dominates → column quadrant bits 1 and 3
    val right = ppm(4, 4, (_, c) => if (c < 2) 10 else 240)
    assert(Multimodal.ahashQuad(right) === Some(10)) // 0b1010
  }

  test("plan shapes: semdedup pairs stay an equi-join on cell, EWMA is one partitioned window, phash adjacency broadcasts") {
    // gate the RAW distributed verdict dataflow — the path above the state
    // gate (graft.graph.broadcastStateMaxRows, forced here with 0); under
    // it the verdict is a driver-built local relation (DedupStateSpec
    // checks both give the same rows)
    spark.conf.set("graft.graph.broadcastStateMaxRows", "0")
    val sd =
      try operators.QRound7b.semdedupVerdictBuild(spark, sf)
        .queryExecution.executedPlan.toString
      finally spark.conf.unset("graft.graph.broadcastStateMaxRows")
    // the pair space is bucketed by cell: no cartesian anywhere, and the
    // centroid attach is broadcast model state
    assert(!sd.contains("CartesianProduct"), s"semdedup degenerated:\n$sd")
    assert(sd.contains("BroadcastHashJoin") || sd.contains("BroadcastExchange"),
      "centroids should attach via broadcast")
    val ew = SparkEntry.queries("ts_ewma_smooth")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("(?s)Window".r.findAllIn(ew).length >= 1 &&
      !ew.contains("CartesianProduct"))
    // the 8 lag terms must collapse into ONE window operator, not eight
    assert("Window ".r.findAllIn(ew).length <= 1,
      s"EWMA lag terms split across windows:\n$ew")
    val ph = SparkEntry.queries("mm_phash_groups")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!ph.contains("SortMergeJoin"),
      s"hash-adjacency join must broadcast the (≤2^bits)-row group table:\n$ph")
  }

  // ---- emb_pca_project ----

  test("emb_pca_project: recovers a planted dominant direction (|corr| > 0.95 with the planted coefficient)") {
    val rnd = new scala.util.Random(11)
    val dim = 64
    val u = Array.fill(dim)(rnd.nextDouble() - 0.5)
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(_ / n) }
    val rows = (0 until 200).map { i =>
      val t = (i % 21) - 10.0 // planted coefficient, mean ~0
      (i.toLong,
        un.map(c => (t * c * 0.5 + (rnd.nextDouble() - 0.5) * 0.02).toFloat).toSeq,
        0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_pca_").toString
    rows.toDF("vec_id", "embedding", "label").coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("emb_pca_project")(spark, dir)
      .as[(Long, Double)].collect().toMap
    assert(out.size === 200)
    val t = rows.map { case (id, _, _) => (id % 21) - 10.0 }
    val p = rows.map { case (id, _, _) => out(id) }
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length
      val (ma, mb) = (a.sum / n, b.sum / n)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val (va, vb) = (a.map(x => (x - ma) * (x - ma)).sum,
        b.map(x => (x - mb) * (x - mb)).sum)
      cov / math.sqrt(va * vb)
    }
    val c = corr(t, p)
    assert(math.abs(c) > 0.95,
      s"PC1 projection should recover the planted direction; |corr| = ${math.abs(c)}")
  }

  test("emb_pca_project2: deflation recovers a planted SECOND direction, decorrelated from the first") {
    val rnd = new scala.util.Random(13)
    val dim = 64
    val u1r = Array.fill(dim)(rnd.nextDouble() - 0.5)
    val u1 = { val n = math.sqrt(u1r.map(x => x * x).sum); u1r.map(_ / n) }
    // second direction orthogonalized against the first (Gram-Schmidt)
    val u2r = Array.fill(dim)(rnd.nextDouble() - 0.5)
    val d12 = u1.zip(u2r).map { case (a, b) => a * b }.sum
    val u2o = u2r.zip(u1).map { case (b, a) => b - d12 * a }
    val u2 = { val n = math.sqrt(u2o.map(x => x * x).sum); u2o.map(_ / n) }
    val rows = (0 until 200).map { i =>
      val t1 = (i % 21) - 10.0       // dominant coefficient (var ~36)
      val t2 = ((i * 7) % 11) - 5.0  // secondary coefficient (var ~10)
      (i.toLong,
        (0 until dim).map(k =>
          (t1 * u1(k) * 0.5 + t2 * u2(k) * 0.3 +
            (rnd.nextDouble() - 0.5) * 0.02).toFloat),
        0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_pca2_").toString
    rows.toDF("vec_id", "embedding", "label").coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("emb_pca_project2")(spark, dir)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size === 200)
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val n = a.length
      val (ma, mb) = (a.sum / n, b.sum / n)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
        b.map(x => (x - mb) * (x - mb)).sum)
    }
    val ids = rows.map(_._1)
    val t1 = ids.map(i => (i % 21) - 10.0)
    val t2 = ids.map(i => ((i * 7) % 11) - 5.0)
    val p1 = ids.map(i => out(i)._1)
    val p2 = ids.map(i => out(i)._2)
    assert(math.abs(corr(t1, p1)) > 0.95, s"pc1 lost the dominant direction: ${corr(t1, p1)}")
    assert(math.abs(corr(t2, p2)) > 0.9, s"pc2 missed the planted second direction: ${corr(t2, p2)}")
    assert(math.abs(corr(t1, p2)) < 0.3, s"pc2 leaked the first direction: ${corr(t1, p2)}")
    assert(math.abs(corr(p1, p2)) < 0.3, s"projections not decorrelated: ${corr(p1, p2)}")
  }

  // ---- sample_importance_weight ----

  test("sample_importance_weight: Horvitz-Thompson weight sums estimate the true counts") {
    val out = SparkEntry.queries("sample_importance_weight")(spark, sf)
      .select("lang", "n_total", "n_kept", "ht_estimate")
      .as[(String, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (lang, nTotal, nKept, ht) =>
      assert(nKept >= 1 && nKept <= nTotal, s"$lang kept $nKept of $nTotal")
      // per-stratum HT estimate: loose envelope (small strata are noisy)
      assert(ht / nTotal > 0.4 && ht / nTotal < 2.0,
        s"$lang HT estimate $ht far from true count $nTotal")
    }
    // the corpus-level estimate tightens (the property a pipeline uses)
    val ratio = out.map(_._4).sum / out.map(_._2).sum
    assert(ratio > 0.7 && ratio < 1.5,
      s"corpus HT estimate off by ${ratio}x")
  }

  test("mm_phash_groups: group sizes conserve the lake and hamming-1 counts match a driver recompute") {
    val out = SparkEntry.queries("mm_phash_groups")(spark, sf)
      .select("ahash", "n_images", "canon_id", "n_near_images")
      .as[(Int, Long, Long, Long)].collect()
    assert(out.map(_._2).sum === 500L, "every decodable image must land in a group")
    assert(out.map(_._1).distinct.length === out.length)
    val sizes = out.map(r => r._1 -> r._2).toMap
    out.foreach { case (h, _, canon, near) =>
      val expected = sizes.collect {
        case (h2, n2) if Integer.bitCount(h ^ h2) == 1 => n2
      }.sum
      assert(near === expected, s"hamming-1 neighbor count wrong for hash $h")
      assert(canon >= 0)
    }
  }
}
