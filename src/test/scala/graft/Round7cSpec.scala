package graft

import org.apache.spark.sql.functions._

/** Gates for text_bpe_merges: the learned merge sequence must equal the
  * hand-computed classic BPE result on planted corpora, including the
  * leftmost-first overlap rule and early exhaustion. */
class Round7cSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(docs: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_").toString
    docs.zipWithIndex.map { case (t, i) => (i.toLong, "en", t, t.length) }
      .toDF("doc_id", "lang", "text", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_bpe_merges: hand-computed merge sequence on a planted corpus, with early exhaustion") {
    // words: "abab" x3, "abc" x2
    // r1: (a,b) = 2*3 + 1*2 = 8  beats (b,a)=3, (b,c)=2  -> abab=[ab][ab], abc=[ab]c
    // r2: (ab,ab) = 3 beats (ab,c)=2                     -> abab=[abab]
    // r3: (ab,c) = 2                                     -> abc=[abc]
    // r4: no pairs remain -> exhausted, only 3 merges emitted
    val dir = corpus(Seq("abab abab abc", "abab abc"))
    val out = SparkEntry.queries("text_bpe_merges")(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(out === Seq((1, "a", "b", 8L), (2, "ab", "ab", 3L), (3, "ab", "c", 2L)),
      s"merge table was $out")
  }

  test("text_bpe_merges: leftmost-first non-overlapping rule on a run of identical symbols") {
    // "aaa" x2: r1 (a,a) counts BOTH adjacent occurrences (2 per word -> 4)
    // but merges only the leftmost -> [aa][a]; r2 then merges (aa,a) = 2
    val dir = corpus(Seq("aaa", "aaa"))
    val out = SparkEntry.queries("text_bpe_merges")(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(out === Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)),
      s"merge table was $out")
  }

  test("text_bpe_encode: planted corpus compresses to whole-word tokens (fertility 1.0)") {
    // same corpus as the merge test: after (a,b), (ab,ab), (ab,c) every
    // word is a single token
    val dir = corpus(Seq("abab abab abc", "abab abc"))
    val out = SparkEntry.queries("text_bpe_encode")(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out === Seq(("en", 5L, 5L, 1.0)), s"profile was $out")
  }

  test("text_bpe_encode: word stream agrees with text_vocab_tokenize's (same corpus, different tokenizer)") {
    val bpe = SparkEntry.queries("text_bpe_encode")(spark, sf)
      .select("lang", "n_words", "n_tokens")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val voc = SparkEntry.queries("text_vocab_tokenize")(spark, sf)
      .select("lang", "n_words", "n_tokens")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bpe.keySet === voc.keySet)
    bpe.foreach { case (lang, (nw, nt)) =>
      assert(nw === voc(lang)._1, s"$lang word streams diverged")
      // 8 merges cannot beat a 16-entry greedy vocab here, but both must
      // be genuine subword encodes: more tokens than words
      assert(nt > nw, s"$lang BPE encode degenerated to whole words")
    }
  }

  test("sql_udf_inline: SQL-defined functions inline into the plan and match the hand-inlined query") {
    val df = SparkEntry.queries("sql_udf_inline")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the function body must be inlined by Catalyst — a black-box UDF call
    // would kill codegen and pushdown, which is the point of SQL UDFs
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"SQL UDF compiled to a black-box UDF call:\n$plan")
    sources.Tables.t(spark, sf, "lineitem").createOrReplaceTempView("g_lineitem")
    val twin = spark.sql(
      """SELECT l_returnflag,
        |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid'
        |       ELSE 'high' END AS qty_band,
        |  count(*) AS n,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue
        |FROM g_lineitem
        |GROUP BY 1, 2 ORDER BY l_returnflag, qty_band""".stripMargin)
    assert(df.collect().toSeq === twin.collect().toSeq)
  }

  test("mm_scene_cuts: a hard cut is detected, identical frames are not") {
    import graft.operators.Multimodal
    def frame(w: Int, h: Int, byte: Int): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
        Array.fill(w * h * 3)(byte.toByte)
    // video 1: black -> white (100% delta, one cut); video 2: flat
    val v1 = frame(4, 3, 0) ++ frame(4, 3, 255)
    val v2 = frame(4, 3, 100) ++ frame(4, 3, 100) ++ frame(4, 3, 100)
    val media = Seq(
      Multimodal.MediaRow(1L, v1, "video"),
      Multimodal.MediaRow(2L, v2, "video")).toDS()
    val out = Multimodal.sceneCuts(media).collect()
      .map(r => r.media_id -> r).toMap
    assert(out(1L).n_frames === 2 && out(1L).n_cuts === 1)
    assert(out(1L).max_delta === 1.0)
    assert(out(2L).n_frames === 3 && out(2L).n_cuts === 0)
    assert(out(2L).max_delta === 0.0)
  }

  test("text_bpe_merges: real corpus learns 8 distinct merges with positive weighted counts") {
    val out = SparkEntry.queries("text_bpe_merges")(spark, sf)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(out.map(_._1) === (1 to 8), s"ranks: ${out.map(_._1)}")
    assert(out.map(r => (r._2, r._3)).distinct.size === 8, "duplicate merge pair")
    assert(out.forall(_._4 > 0))
    // every later merge must build on symbols derivable from characters +
    // earlier merges (the invariant a consumer tokenizer relies on)
    val known = scala.collection.mutable.Set.empty[String]
    out.foreach { case (_, l, r, _) =>
      def derivable(s: String): Boolean = s.length == 1 || known.contains(s)
      assert(derivable(l) && derivable(r),
        s"merge ($l,$r) uses a symbol no earlier merge produced")
      known += (l + r)
    }
  }
}
