package graft

import graft.plans.CosineSim
import org.apache.spark.sql.functions._

/** Gates for the round-7 wave (QRound7): the IVF-PQ composition must
  * actually find neighbors — quantization error must not destroy the
  * ranking on data with metric structure. */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  /** Clustered synthetic embeddings (OperatorSpec.planted twin): this
    * testdata's real embeddings are near-random, so quality gates run on
    * planted clusters, where real corpora live. */
  private def planted(nCenters: Int, n: Int, dim: Int,
      noise: Double): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(nCenters, dim)(rnd.nextDouble() + 0.5)
    (0 until n).map { i =>
      val c = centers(i % nCenters)
      (i.toLong, c.map(x => x + (rnd.nextDouble() - 0.5) * noise).toSeq)
    }
  }

  test("IVF-PQ: recall@10 >= 0.8 vs exact brute force on clustered data") {
    // 64-dim so the 4x16 subspace split applies unchanged
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
    planted(8, 300, 64, 0.15)
      .map { case (id, v) => (id, v.map(_.toFloat), (id % 8).toInt) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("sim_ann_ivfpq")(spark, dir)
    val recalls = out.select("qid", "recall").distinct()
      .as[(Long, Double)].collect().toMap
    assert(recalls.size === 20, s"expected 20 query vectors, got ${recalls.size}")
    val mean = recalls.values.sum / recalls.size
    assert(mean >= 0.8, s"mean ADC recall@10 $mean < 0.8")
    // shape: exactly top-10 per query, ranks 1..10, scores non-increasing
    val byQ = out.select("qid", "rnk", "adc_score")
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to 10), s"ranks broken for qid $qid")
      assert(sorted.sliding(2).forall(p => p(0)._3 >= p(1)._3),
        s"ADC scores not non-increasing for qid $qid")
    }
  }

  test("text_dedup_substring: a planted passage at a NON-aligned offset is found with exact span accounting") {
    // the aligned-chunk key (text_dedup_paragraph) CANNOT pass this: a
    // passage starting at token 3 in one doc and token 5 in the other
    // shares zero aligned 16-token chunks but every interior stride-1
    // shingle. 20-token passage => stride-1 shingle starts span 5
    // positions => one merged maximal span of exactly 20 tokens.
    val passage = (1 to 20).map(i => s"shared$i").mkString(" ")
    val fillA = (1 to 3).map(i => s"fa$i").mkString(" ")
    val tailA = (1 to 18).map(i => s"ta$i").mkString(" ")
    val fillB = (1 to 5).map(i => s"fb$i").mkString(" ")
    val tailB = (1 to 18).map(i => s"tb$i").mkString(" ")
    val docs = Seq(
      (1L, s"$fillA $passage $tailA"),
      (2L, s"$fillB $passage $tailB"))
      .toDF("doc_id", "text")
    val spans = operators.QRound7.substringSpans(docs).collect()
    assert(spans.length === 1, s"expected exactly one span, got ${spans.toSeq}")
    val r = spans(0)
    assert(r.getAs[Long]("a_id") === 1L && r.getAs[Long]("b_id") === 2L)
    assert(r.getAs[Int]("a_start") === 3, s"a_start ${r.getAs[Int]("a_start")}")
    assert(r.getAs[Int]("b_start") === 5, s"b_start ${r.getAs[Int]("b_start")}")
    assert(r.getAs[Long]("span_tokens") === 20L,
      s"span_tokens ${r.getAs[Long]("span_tokens")}")
  }

  test("text_dedup_substring: two disjoint shared regions yield two maximal spans, not one") {
    // island merging must NOT bridge a gap: two shared 16-token regions
    // separated by unshared text are two spans with exact lengths
    val p1 = (1 to 16).map(i => s"one$i").mkString(" ")
    val p2 = (1 to 17).map(i => s"two$i").mkString(" ")
    val docs = Seq(
      (1L, s"$p1 ax1 ax2 ax3 $p2"),
      (2L, s"bz1 $p1 bz2 bz3 bz4 bz5 $p2 bz6"))
      .toDF("doc_id", "text")
    val spans = operators.QRound7.substringSpans(docs)
      .collect().map(r => (r.getAs[Int]("a_start"), r.getAs[Int]("b_start"),
        r.getAs[Long]("span_tokens"))).sortBy(_._1)
    // doc2 layout: bz1 | p1 @ 1..16 | bz2..bz5 @ 17..20 | p2 @ 21..37 | bz6
    assert(spans.toSeq === Seq((0, 1, 16L), (19, 21, 17L)),
      s"got ${spans.toSeq}")
  }

  test("greedy vocab tokenizer: longest-match semantics, determinism, coverage") {
    val enc = operators.QRound7.greedyTokens(Seq("order", "err", "key", "a"))
    // longest-match wins: "orderkey" = [order][key] = 2, never
    // [o][r][d][err]... ; out-of-vocab chars consume 1 each
    assert(enc("orderkey") === 2L)
    assert(enc("order") === 1L)
    assert(enc("xyz") === 3L)          // all char fallbacks
    assert(enc("aorder") === 2L)       // [a][order]
    assert(enc("errand") === 4L)       // [err][a][n][d]
    assert(enc("") === 0L)
    // determinism: identical input, identical count, every time
    val w = "orderkeyxerrband"
    assert((1 to 50).map(_ => enc(w)).distinct.size === 1)
    // coverage: token count is bounded by [ceil(len/maxvocablen), len]
    for (word <- Seq("orderkey", "errand", "zzzz", "aaaa", "keykeykey")) {
      val n = enc(word)
      assert(n >= math.ceil(word.length / 5.0).toLong && n <= word.length,
        s"token count $n out of bounds for '$word'")
    }
  }

  test("text_vocab_tokenize: profile is consistent with a driver-side re-encode") {
    val out = SparkEntry.queries("text_vocab_tokenize")(spark, sf)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_vocab_hits"))).toSeq
    // recompute the whole profile driver-side from raw text
    val docs = sources.Tables.t(spark, sf, "documents")
      .select("lang", "text").as[(String, String)].collect()
    val allWords = docs.flatMap { case (l, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (l, w))
    }
    val vocab = allWords.map(_._2).groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(16).map(_._1)
    val enc = operators.QRound7.greedyTokens(vocab)
    val vset = vocab.toSet
    val exp = allWords.groupBy(_._1).view.mapValues { ws =>
      (ws.length.toLong, ws.map(w => enc(w._2)).sum,
        ws.count(w => vset.contains(w._2)).toLong)
    }.toMap
    out.foreach { case (lang, nw, nt, nh) =>
      val (ew, et, eh) = exp(lang)
      assert((nw, nt, nh) === ((ew, et, eh)), s"profile mismatch for $lang")
    }
    // tokenization must actually be sub-word here: fertility > 1
    assert(out.forall { case (_, nw, nt, _) => nt > nw },
      "fertility <= 1 — vocab too large for the corpus, encode is trivial")
  }

  test("text_pack_tokens: bins conserve the tokenizer's totals and respect the budget") {
    // cross-key invariant: per-language sum of bin_toks must equal
    // text_vocab_tokenize's n_tokens (two independent rollups of the same
    // per-word encode), and every non-final bin must have started below
    // the 1024 budget (greedy packing bins overflow by < one doc)
    val packed = SparkEntry.queries("text_pack_tokens")(spark, sf)
      .select("lang", "bin", "bin_toks", "n_docs")
      .as[(String, Long, Long, Long)].collect()
    val totals = packed.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    SparkEntry.queries("text_vocab_tokenize")(spark, sf)
      .select("lang", "n_tokens").as[(String, Long)].collect()
      .foreach { case (lang, nt) =>
        assert(totals(lang) === nt, s"token totals diverge for $lang")
      }
    // bins are dense consecutive integers from 0 per language
    packed.groupBy(_._1).foreach { case (lang, rows) =>
      val bins = rows.map(_._2).sorted
      assert(bins.toSeq === (0L until bins.length).toSeq,
        s"bins not dense for $lang: ${bins.toSeq}")
    }
  }

  test("IVF-PQ: recall column agrees with a driver-side exact recompute") {
    // on the real sf tables: recompute exact top-10 driver-side and check
    // the engine's self-reported recall@10 equals the true overlap
    val out = SparkEntry.queries("sim_ann_ivfpq")(spark, sf)
    val ann = out.select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val e = sources.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    val truth = e.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        sources.Tables.trunc4(CosineSim.of(col("qv"), col("v"))).as("score"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val reported = out.select("qid", "recall").distinct()
      .as[(Long, Double)].collect().toMap
    truth.foreach { case (qid, t) =>
      val expect = math.floor(ann(qid).intersect(t).size / 10.0 * 10000) / 10000.0
      assert(reported(qid) === expect,
        s"self-reported recall for qid $qid is ${reported(qid)}, true $expect")
    }
  }
}
