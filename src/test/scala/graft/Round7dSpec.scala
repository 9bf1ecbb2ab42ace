package graft

import org.apache.spark.sql.functions._

/** Gates for the round-7 fourth wave (corpus governance operators). */
class Round7dSpec extends SparkSpec {
  import spark.implicits._

  /** Same split rule as the engine, computed host-side so planted corpora
    * can pick doc_ids that land on the intended side. */
  private def split(docId: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ("012".contains(hex.charAt(0))) "eval" else "train"
  }

  private def corpus(docs: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_r7d_").toString
    docs.map { case (id, t) => (id, "en", t, t.length) }
      .toDF("doc_id", "lang", "text", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_decontaminate: a planted train passage contaminates the eval doc that contains it, at any offset") {
    // pick ids deterministically on each side of the hash split
    val evalIds = (0L to 200L).filter(split(_) == "eval")
    val trainId = (0L to 200L).find(split(_) == "train").get
    val (evalDirty, evalClean) = (evalIds.head, evalIds(1))
    val passage = (1 to 15).map(i => s"p$i").mkString(" ") // 15 tokens > 13
    val filler = (1 to 20).map(i => s"t$i").mkString(" ")
    val dir = corpus(Seq(
      trainId -> s"$filler $passage",
      // passage sits at a non-zero offset inside the eval doc
      evalDirty -> s"u1 u2 u3 $passage u4 u5 u6 u7 u8 u9 u10 u11 u12 u13",
      evalClean -> (1 to 30).map(i => s"c$i").mkString(" ")))
    val out = SparkEntry.queries("text_decontaminate")(spark, dir)
      .as[(Long, Long, Long, Double, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet === Set(evalDirty, evalClean), "one row per eval doc only")
    val dirty = out(evalDirty)
    // the 15-token passage carries 3 contaminated 13-gram positions
    assert(dirty._3 === 3L, s"expected 3 hits, row was $dirty")
    assert(dirty._5 === 1, "contaminated doc must be flagged")
    val clean = out(evalClean)
    assert(clean._3 === 0L && clean._4 === 0.0 && clean._5 === 0,
      s"clean doc must be unflagged, row was $clean")
  }

  test("dedup_substring_capped: boilerplate shared by many docs is dropped, a genuine 2-doc passage survives") {
    import graft.operators.{QRound7, QRound7d}
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")  // in 4 docs: df=4 > 2
    val genuine = (1 to 20).map(i => s"g$i").mkString(" ") // in 2 docs: df=2
    val docs = Seq(
      1L -> s"$boiler x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14 x15 x16",
      2L -> s"y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12 y13 y14 y15 y16 $boiler",
      3L -> s"$boiler $genuine",
      4L -> s"z1 z2 z3 $genuine z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16",
      5L -> s"$boiler w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16")
    val df = spark.createDataFrame(docs.map { case (id, t) => (id, "en", t, t.length) })
      .toDF("doc_id", "lang", "text", "n_chars")
    val capped = QRound7d.substringSpansCapped(df)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // only the genuine pair survives the cap
    assert(capped === Set((3L, 4L)), s"capped pairs were $capped")
    // sanity contrast: the uncapped miner reports every boilerplate pair too
    val uncapped = QRound7.substringSpans(df)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (1L, 3L), (1L, 5L), (2L, 3L), (2L, 5L), (3L, 5L))
      .subsetOf(uncapped), s"uncapped pairs were $uncapped")
  }

  test("dedup_substring_capped: span geometry of the surviving passage is exact") {
    import graft.operators.QRound7d
    val genuine = (1 to 20).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      1L -> s"a1 a2 a3 a4 a5 $genuine a6 a7 a8 a9 a10 a11",
      2L -> s"$genuine b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13 b14 b15 b16")
    val df = spark.createDataFrame(docs.map { case (id, t) => (id, "en", t, t.length) })
      .toDF("doc_id", "lang", "text", "n_chars")
    val spans = QRound7d.substringSpansCapped(df)
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    // 20-token passage at token offset 5 in doc1, 0 in doc2
    assert(spans === Seq((1L, 2L, 5, 0, 20L)), s"spans were $spans")
  }

  test("text_lm_bigram_score: hand-computed Laplace bigram probabilities on a planted corpus") {
    import graft.operators.QRound7d
    // doc 1 "a b a b": bigrams (a,b)x2 (b,a)x1; doc 2 "c d": (c,d)x1
    // c12: (a,b)=2 (b,a)=1 (c,d)=1; c1: a=2 b=1 c=1; V=4 (a b c d)
    // doc1: p(a,b)=(2+1)/(2+4)=0.5 twice, p(b,a)=(1+1)/(1+4)=0.4
    //   mean = (0.5+0.5+0.4)/3 = 0.4666...; doc2: (1+1)/(1+4) = 0.4
    val df = spark.createDataFrame(Seq(
      (1L, "en", "a b a b", 7), (2L, "en", "c d", 3)))
      .toDF("doc_id", "lang", "text", "n_chars")
    val out = QRound7d.bigramScores(df)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out === Seq((1L, "en", 3L, 0.4666), (2L, "en", 1L, 0.4)),
      s"scores were $out")
  }

  test("text_lm_bigram_score: repeated common transitions outscore a doc of singleton transitions") {
    import graft.operators.QRound7d
    val fluent = Seq.fill(10)("the cat sat").mkString(" ")
    val noise = (1 to 30).map(i => s"n$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      (1L, "en", fluent, fluent.length), (2L, "en", noise, noise.length)))
      .toDF("doc_id", "lang", "text", "n_chars")
    val out = QRound7d.bigramScores(df)
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out(1L) > out(2L),
      s"fluent ${out(1L)} must outscore noise ${out(2L)}")
  }

  test("chp_attribution_last: purchases credit the most recent preceding touch, or (none)") {
    import graft.operators.QRound7d
    import java.time.LocalDateTime
    def ts(m: Int) = LocalDateTime.of(2024, 1, 1, 10, m)
    // user 1: click -> purchase(10) -> view -> purchase(5)
    // user 2: purchase(3) with no prior touch
    // user 3: signup -> error -> purchase(7): error is the LAST touch
    val events = Seq(
      (1L, ts(0), 1L, "click", 0.0), (2L, ts(1), 1L, "purchase", 10.0),
      (3L, ts(2), 1L, "view", 0.0), (4L, ts(3), 1L, "purchase", 5.0),
      (5L, ts(0), 2L, "purchase", 3.0),
      (6L, ts(0), 3L, "signup", 0.0), (7L, ts(1), 3L, "error", 0.0),
      (8L, ts(2), 3L, "purchase", 7.0))
    val df = spark.createDataFrame(events)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = QRound7d.attributionLast(df)
      .as[(String, Long, Double)].collect().toSeq
    assert(out === Seq(
      ("(none)", 1L, 3.0), ("click", 1L, 10.0),
      ("error", 1L, 7.0), ("view", 1L, 5.0)), s"attribution was $out")
  }

  test("sql_parameterized: bound parameters behave as typed literals — pushdown intact, injection inert") {
    val df = SparkEntry.queries("sql_parameterized")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(o_totalprice,50000"),
      s"bound :minp predicate did not reach the scan:\n$plan")
    // a hostile value binds as an inert string, never as SQL text
    sources.Tables.t(spark, sf, "orders").createOrReplaceTempView("g_orders")
    val hostile = spark.sql(
      "SELECT count(*) AS n FROM g_orders WHERE o_orderpriority = :p",
      Map("p" -> "x' OR '1'='1"))
    assert(hostile.as[Long].head() === 0L)
  }

  test("text_containment_pairs: a subset doc is caught at containment 1.0 where Jaccard would miss it") {
    import graft.operators.QRound7d
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val fragment = (20 to 29).map(i => s"w$i").mkString(" ") // 10 tokens of big
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      (1L, "en", big, big.length), (2L, "en", fragment, fragment.length),
      (3L, "en", other, other.length)))
      .toDF("doc_id", "lang", "text", "n_chars")
    val out = QRound7d.containmentPairs(df)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    // fragment: 8 trigrams, all inside big's 58 -> cont_ba = 1.0
    assert(out === Seq((1L, 2L, 8L, 58L, 8L, 0.1379, 1.0)),
      s"pairs were $out")
    // and the Jaccard this pair would score under the symmetric keys is
    // hopeless — which is exactly why containment is its own operator
    val jaccard = 8.0 / (58 + 8 - 8)
    assert(jaccard < 0.15)
  }

  test("mm_audio_energy: silent and loud regions segment exactly, with the longest run reported") {
    import graft.operators.Multimodal
    def wav(samples: Seq[Int]): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(v => buf.putShort(v.toShort))
      buf.array()
    }
    // 2 silent windows, then 2 loud windows, then a trailing partial
    // window (dropped) -> 4 windows, 2 active, run 2, frac 0.5
    val speech = wav(Seq.fill(32)(0) ++ Seq.fill(32)(1000) ++ Seq.fill(7)(1000))
    // loud / silent / loud -> runs of 1, max_run 1
    val choppy = wav(Seq.fill(16)(1000) ++ Seq.fill(16)(0) ++ Seq.fill(16)(1000))
    val silent = wav(Seq.fill(32)(3))
    val media = Seq(
      Multimodal.MediaRow(1L, speech, "wav"),
      Multimodal.MediaRow(2L, choppy, "wav"),
      Multimodal.MediaRow(3L, silent, "wav")).toDS()
    val out = Multimodal.audioEnergy(media).collect()
      .map(r => r.media_id -> r).toMap
    assert(out(1L).n_windows === 4 && out(1L).n_active === 2 &&
      out(1L).max_run === 2 && out(1L).active_frac === 0.5)
    assert(out(2L).n_windows === 3 && out(2L).n_active === 2 &&
      out(2L).max_run === 1)
    assert(out(3L).n_windows === 2 && out(3L).n_active === 0 &&
      out(3L).max_run === 0 && out(3L).active_frac === 0.0)
  }

  test("pipeline_domain_mix: weights move a skewed mixture to the uniform target") {
    import graft.operators.QRound7d
    val df = spark.createDataFrame(Seq(
      (1L, "en", "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 a15", "web", 1),
      (2L, "en", "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13 b14 b15", "web", 1),
      (3L, "en", "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10", "books", 1)))
      .toDF("doc_id", "lang", "text", "source", "n_chars")
    val out = QRound7d.domainMix(df)
      .as[(String, String, Long, Long, Double, Double)].collect().toSeq
    // books: 10/40 tokens -> share 0.25, weight 40/(2*10) = 2.0
    // web: 30/40 -> share 0.75, weight 40/(2*30) = 0.6666
    assert(out === Seq(
      ("en", "books", 1L, 10L, 0.25, 2.0),
      ("en", "web", 2L, 30L, 0.75, 0.6666)), s"mix was $out")
    // the defining property: weight * tokens is equal across domains
    val w = out.map(r => r._6 * r._4)
    assert(math.abs(w.head - w.last) < w.head * 0.001)
  }

  test("chp_calibration_bins: ten full bins, user conservation, and churn falling from bottom to top decile") {
    val rows = SparkEntry.queries("chp_calibration_bins")(spark, sf)
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(rows.map(_._1) === (1 to 10), s"deciles were ${rows.map(_._1)}")
    val nUsers = SparkEntry.queries("chp_features_label")(spark, sf).count()
    assert(rows.map(_._2).sum === nUsers, "calibration bins must conserve users")
    rows.foreach { case (_, _, _, rate) => assert(rate >= 0.0 && rate <= 1.0) }
    // decile 1 = highest engagement score: it must churn no more than decile 10
    assert(rows.head._4 <= rows.last._4,
      s"top decile churn ${rows.head._4} vs bottom ${rows.last._4}")
    // scores must be non-increasing across deciles (the ntile ordering)
    assert(rows.map(_._3) === rows.map(_._3).sorted.reverse)
  }

  test("pipeline_curation_verdict: keep/reasons agree with the two source signals row by row") {
    val verdict = SparkEntry.queries("pipeline_curation_verdict")(spark, sf)
      .as[(Long, String, Double, Double, Int, Int)].collect()
    assert(verdict.nonEmpty)
    verdict.foreach { case (id, _, lm, dup, keep, reasons) =>
      val lowF = if (lm < 0.033) 1 else 0
      val dupd = if (dup > 0.5) 1 else 0
      assert(reasons === lowF + dupd * 2, s"doc $id reason mismatch")
      assert(keep === (if (lowF == 0 && dupd == 0) 1 else 0), s"doc $id keep mismatch")
    }
    // the verdict must actually discriminate on this corpus
    assert(verdict.exists(_._5 == 1) && verdict.exists(_._5 == 0),
      "verdict is degenerate: all-keep or all-drop")
  }

  test("win_streak_islands: consecutive days merge, gaps split, exact streak geometry") {
    import graft.operators.QRound7d
    import java.time.LocalDateTime
    def ts(day: Int, h: Int) = LocalDateTime.of(2024, 1, day, h, 0)
    // user 1: days 1,2,3 then 5,6 -> streaks [3, 2]; duplicate events on
    // day 2 must not inflate anything
    // user 2: days 10, 12, 14 -> three 1-day streaks
    val events = Seq(
      (1L, ts(1, 9), 1L), (2L, ts(2, 9), 1L), (3L, ts(2, 17), 1L),
      (4L, ts(3, 9), 1L), (5L, ts(5, 9), 1L), (6L, ts(6, 9), 1L),
      (7L, ts(10, 9), 2L), (8L, ts(12, 9), 2L), (9L, ts(14, 9), 2L))
    val df = spark.createDataFrame(events).toDF("event_id", "ts", "user_id")
    val out = QRound7d.streakIslands(df)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 5L, 2L, 3L), (2L, 3L, 3L, 1L)),
      s"streaks were $out")
  }

  test("profile_histogram: bins cover every row, shares sum to ~1, extremes land inside") {
    val rows = SparkEntry.queries("profile_histogram")(spark, sf)
      .as[(Int, Long, Double)].collect().toSeq
    assert(rows.map(_._1).forall(b => b >= 0 && b <= 19))
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_._2).sum === total, "histogram must conserve rows")
    val shareSum = rows.map(_._3).sum
    assert(shareSum > 0.99 && shareSum <= 1.0001, s"shares sum to $shareSum")
  }

  test("text_decontaminate: real corpus — fractions bounded, flags match fractions, train docs absent") {
    val rows = SparkEntry.queries("text_decontaminate")(spark, sf)
      .as[(Long, Long, Long, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, ng, nh, frac, flag) =>
      assert(split(id) == "eval", s"doc $id is not an eval doc")
      assert(nh >= 0 && nh <= ng, s"doc $id: hits $nh out of $ng")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(flag == (if (frac > 0.05) 1 else 0), s"doc $id: flag/frac mismatch")
    }
  }

  test("profile_histogram rejects a degenerate (constant) domain loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ph_degen").toString
    Seq(1.0, 1.0, 1.0).toDF("o_totalprice").write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val ex = intercept[IllegalArgumentException] {
      SparkEntry.queries("profile_histogram")(spark, dir)
    }
    assert(ex.getMessage.contains("degenerate domain"), ex.getMessage)
  }
}
