package perfbench

import graft.{Memo, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `daily_batch`: the nightly batch of a MorphL deployment, run as a fixed
  * list of `SparkEntry.queries` keys through the noop sink, in sequence:
  *
  *  - the churn job over a 30-day lookback of Zipf-skewed user activity
  *    whose window ends one day later on every pass (scan, shuffle on
  *    `user_id`, the 128-bit sums, `Memo`, `ChurnModel`);
  *  - deduplication of the day's new training corpus: MinHash/LSH
  *    near-duplicate pairs, connected-component clusters and embedding
  *    near-duplicates over documents with injected duplicates (the
  *    chained `Memo` builds and the dedup kernels).
  *
  * Every pass runs on a fresh input directory, so every `Memo` build is
  * paid again, as a daily job pays it on each new day's data.
  *
  * Set-up generates the warm-up input and runs the warm-up pass on it,
  * writing each oracle-backed key's result to parquet for the DuckDB
  * comparison (`check.py`) and collecting the keys without an oracle, which
  * the second warm-up computes again from scratch on a copy of that input. */
final class DailyBatch extends Workload {
  val users = 20000
  val perDay = 4000
  val days = 30
  val userZipfS = 0.8
  val docs = 1000
  val vocab = 3000
  val tokenZipfS = 1.0
  val vectors = 1000
  val keys: Seq[String] = Seq(
    "chp_features_label", "chp_sessionize_batch", "chp_churn_windows",
    "chp_train_auc", "serve_feature_snapshot",
    "dedup_lsh_pairs", "dedup_cc_cluster", "dedup_semdedup")

  /** Warm-up rows of the keys without an oracle, for the repeat check. */
  private val firstRun = mutable.Map[String, Seq[Row]]()
  /** The same keys' rows from the second warm-up, on a copy of that input. */
  private val repeat = mutable.Map[String, Seq[Row]]()
  /** Injected duplicate document pairs of each input, for recall. */
  private val injected = mutable.Map[Int, Seq[(Long, Long)]]()

  private def dirOf(c: Ctx, variant: Int): Path =
    c.work.resolve("in").resolve(if (variant < 0) "warm" else s"p$variant")

  /** Write the tables of input `variant` (−1 = warm-up): the window of
    * pass k ends on day 31 + k (the warm-up's on day 30), and every input
    * gets its own corpus. */
  private def gen(c: Ctx, variant: Int): Unit = {
    val dir = dirOf(c, variant)
    Files.createDirectories(dir)
    Gen.writeOne(Gen.events(c.spark, Gen.EventSpec(users, perDay, userZipfS, c.seed),
      variant + 1, days), dir.resolve("events.parquet"))
    Files.createLink(dir.resolve("customer.parquet"),
      c.work.resolve("in").resolve("customer.parquet"))
    val (st, pairs) = Gen.corpus(c.spark, dir, docs, vocab, tokenZipfS, vectors,
      c.seed * 1009L + variant + 1)
    injected(variant) = pairs
    if (variant < 0) c.info("inputs") = mutable.LinkedHashMap[String, Any](
      "users" -> users, "events_per_pass" -> perDay * days, "window_days" -> days,
      "user_zipf_exponent" -> userZipfS,
      "docs" -> st.docs, "vocab" -> st.vocab, "token_zipf_exponent" -> st.zipfS,
      "near_dup_docs" -> st.nearDupDocs, "exact_dup_docs" -> st.exactDupDocs,
      "injected_pairs" -> st.injectedPairs, "vectors" -> st.vectors,
      "near_dup_vectors" -> st.nearDupVectors,
      "tables" -> Seq("events", "customer", "documents", "embeddings"),
      "keys" -> keys, "loop" -> "closed, one client")
  }

  def setup(c: Ctx): Unit = {
    Gen.writeOne(Gen.customer(c.spark, users, c.seed),
      c.work.resolve("in").resolve("customer.parquet"))
    gen(c, -1)
    val warm = dirOf(c, -1)
    val out = c.work.resolve("check")
    Files.createDirectories(out)
    for (k <- keys) {
      val df = SparkEntry.queries(k)(c.spark, warm.toString)
      if (SparkEntry.oracleSql.contains(k))
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(k).toString)
      else firstRun(k) = rowsOf(df)
    }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json(keys.filter(SparkEntry.oracleSql.contains).map(k => k -> SparkEntry.oracleSql(k)).toMap))
    c.info("check_input") = warm.toString
    c.info("check_outputs") = out.toString
  }

  /** Pass 0, the second untimed warm-up, runs on a copy of the warm-up
    * input: a directory of its own, so every `Memo` build is paid again,
    * and its results of the keys without an oracle are the repeat that
    * `checks` compares. Timed passes get freshly generated days. */
  def prepare(c: Ctx, pass: Int): Unit =
    if (pass == 0) {
      val d = dirOf(c, 0)
      Files.createDirectories(d)
      Files.list(dirOf(c, -1)).filter(_.toString.endsWith(".parquet"))
        .forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    } else gen(c, pass)

  def pass(c: Ctx, pass: Int, layers: mutable.Map[String, Double]): Seq[Double] = {
    val d = dirOf(c, pass).toString
    val t = c.tracer
    val m0 = Memo.buildLogSize
    var nodes = 0
    val ops = keys.map { k =>
      val t0 = System.nanoTime()
      t.span(s"q.$k") {
        val df = t.span("plan.build")(SparkEntry.queries(k)(c.spark, d))
        if (t.active) nodes += t.span("plan.optimize")(planNodes(df))
        df.write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e6
    }
    if (t.active) {
      val builds = Memo.buildLogFrom(m0)
      layers("plan.nodes") = nodes
      layers("memo.builds") = builds.size
      layers("memo.build_s") = builds.map(_._3).sum
      layers("churn_model.fit_s") =
        builds.filter(b => b._1.startsWith("chptrain") || b._1 == "chpfolds").map(_._3).sum
    }
    ops
  }

  /** dedup.*: verified pairs, multi-document clusters and the share of
    * injected duplicate pairs the LSH stage found (read back from the
    * pass's memoized results before they are dropped). */
  override def afterPass(c: Ctx, pass: Int, traced: Boolean,
      layers: mutable.Map[String, Double]): Unit =
    if (pass == 0) {
      // the pass's memoized results, read back before they are dropped
      for (k <- firstRun.keys)
        repeat(k) = rowsOf(SparkEntry.queries(k)(c.spark, dirOf(c, 0).toString))
    } else if (traced) {
      val d = dirOf(c, pass).toString
      val found = SparkEntry.queries("dedup_lsh_pairs")(c.spark, d)
        .select("a_id", "b_id").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
        .toSet
      val inj = injected(pass).map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      layers("dedup.pairs") = found.size
      layers("dedup.pair_recall") =
        if (inj.isEmpty) 1.0 else inj.count(found.contains).toDouble / inj.size
      layers("dedup.clusters") = SparkEntry.queries("dedup_cc_cluster")(c.spark, d)
        .groupBy("cluster_id").count().filter(col("count") > 1).count().toDouble
    }

  /** Keys without an oracle must give the same rows when computed again
    * from scratch: by the second warm-up, on a copy of the first one's
    * input, so the repeat cannot reuse its `Memo` entries. Every field must
    * be equal, except that a fractional value may differ by one unit in its
    * last printed decimal: `chp_train_auc` floors its fitted AUC and weights
    * (to 4 and 6 decimals), but two fits of the same data in one process
    * agree only to the last bits, and a value that lands within those bits
    * of a truncation step floors to either side of it. Such
    * one-step flips are listed in the report (`repeat_last_digit_flips`);
    * anything larger, or any change to a count, fails the check. */
  def checks(c: Ctx): Unit = {
    val flips = mutable.ArrayBuffer[String]()
    for ((k, rows) <- firstRun) {
      val again = repeat.getOrElse(k, Seq.empty)
      val same = rows.nonEmpty && rows.size == again.size &&
        rows.zip(again).forall { case (a, b) => sameRow(a, b) }
      if (same && rows != again) flips += s"$k: ${rows.mkString(" ")} vs ${again.mkString(" ")}"
      c.check(s"$k: same output on repeat (warm-up ${rows.diff(again).mkString(" ")}," +
        s" repeat ${again.diff(rows).mkString(" ")})", same)
    }
    c.info("repeat_last_digit_flips") = flips.toSeq
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) => x == y || math.abs(x - y) <= lastDigit(x, y) * (1 + 1e-9)
        case (x, y) => x == y
      }
    }

  /** One unit in the last printed decimal of the more precise of two
    * values; 0 when both are whole numbers. */
  private def lastDigit(x: Double, y: Double): Double = {
    def scale(v: Double) =
      new java.math.BigDecimal(java.lang.Double.toString(v)).stripTrailingZeros.scale
    val d = math.max(scale(x), scale(y))
    if (d > 0) math.pow(10, -d) else 0.0
  }

  /** Physical node count of the planned query, subqueries included. */
  private def planNodes(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    p.collectWithSubqueries { case n => n }.size
  }
}
