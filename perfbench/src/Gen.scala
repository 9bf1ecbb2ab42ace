package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every table follows the schemas and integrity
  * rules of FIXTURES.md: no NULLs, `events.user_id ⊆ c_custkey` with keys
  * 0..N−1, timestamps as TIMESTAMP_NTZ (parquet TIMESTAMP_MICROS), 2-dp
  * money values, single-key `props` JSON, FLOAT[64] embeddings. Each table
  * is ONE parquet file `<dir>/<table>.parquet`, the layout both
  * `graft.sources.Tables.t` and the DuckDB oracle read.
  *
  * Event rows are pure functions of (seed, global event index): a day's
  * events are the same rows in every window that contains the day, so a
  * sliding 30-day window is a genuinely new daily input that shares its
  * history with yesterday's, as a production daily job sees it. */
object Gen {
  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")
  /** The documents fixture's vocabulary; they take the top Zipf ranks. */
  val FixtureWords: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  /** 2024-01-01T00:00:00 in epoch microseconds. */
  val Epoch0Us: Long = 1704067200L * 1000000L
  val DayUs: Long = 86400L * 1000000L

  /** Write `df` as the single parquet file `path` (Spark writes a
    * directory; the one part file is moved into place). */
  def writeOne(df: DataFrame, path: Path): Unit = {
    val tmp = Paths.get(path.toString + ".tmpdir")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(path.getParent)
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Uniform double in [0, 1) from (seed, row index, stream tag): a hash,
    * so the value does not depend on partitioning or evaluation order. */
  private def unif(seed: Long, tag: Int): org.apache.spark.sql.Column =
    xxhash64(lit(seed), col("id"), lit(tag)).bitwiseAND(lit(Long.MaxValue))
      .cast(DoubleType) / lit(9.223372036854775807e18)

  /** Inverse CDF of the continuous power law on [1, n+1) with exponent
    * `s` (s ≠ 1), floored to a 0-based rank: Zipf-skewed ranks where rank
    * 0 is the hottest. */
  private def zipfRank(u: org.apache.spark.sql.Column, n: Int, s: Double)
      : org.apache.spark.sql.Column = {
    val a = 1.0 - s
    val top = math.pow(n + 1.0, a) - 1.0
    least(floor(pow(u * lit(top) + lit(1.0), lit(1.0 / a))) - lit(1L), lit(n - 1L))
      .cast(LongType)
  }

  final case class EventSpec(users: Int, perDay: Int, zipfS: Double, seed: Long)

  /** The events of days [day0, day0 + days): `perDay` rows per day, row
    * `i` of day `d` has global index d·perDay + i, so every window over
    * the same spec agrees on the rows of the days it shares. */
  def events(spark: SparkSession, sp: EventSpec, day0: Int, days: Int): DataFrame =
    spark.range(day0.toLong * sp.perDay, (day0 + days).toLong * sp.perDay)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(Epoch0Us) + (col("id") / sp.perDay).cast(LongType) * DayUs +
          (unif(sp.seed, 1) * lit(DayUs.toDouble)).cast(LongType))
          .cast(TimestampNTZType).as("ts"),
        zipfRank(unif(sp.seed, 2), sp.users, sp.zipfS).as("user_id"),
        element_at(typedLit(EventTypes),
          (floor(unif(sp.seed, 3) * EventTypes.size) + 1).cast(IntegerType)).as("event_type"),
        (floor(unif(sp.seed, 4) * 50000.0) / 100.0).as("value"),
        concat(lit("{\"k\": "), floor(unif(sp.seed, 5) * 100.0).cast(LongType).cast(StringType),
          lit("}")).as("props"))

  /** customer: c_custkey 0..n−1, so it covers every generated user_id. */
  def customer(spark: SparkSession, n: Int, seed: Long): DataFrame =
    spark.range(0, n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(unif(seed, 11) * 25.0).cast(IntegerType).as("c_nationkey"),
      (floor(unif(seed, 12) * 1099999.0) / 100.0 - 999.99).as("c_acctbal"),
      element_at(typedLit(Segments),
        (floor(unif(seed, 13) * Segments.size) + 1).cast(IntegerType)).as("c_mktsegment"))

  /** Lowercase letter token for vocabulary rank `i` beyond the fixture
    * words: a base-26 spelling, at least three letters. */
  def token(i: Int): String =
    if (i < FixtureWords.size) FixtureWords(i)
    else {
      val sb = new StringBuilder
      var x = i
      while (sb.length < 3 || x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
      "q" + sb.reverse.toString
    }

  final case class CorpusStats(docs: Int, vocab: Int, zipfS: Double,
      nearDupDocs: Int, exactDupDocs: Int, injectedPairs: Int,
      vectors: Int, nearDupVectors: Int)

  /** Documents with injected near-duplicates (1–2 token substitutions of
    * an earlier original document, in clusters of 2–5) and exact copies of
    * originals, plus
    * embeddings in 10 labelled clusters with injected near-duplicate
    * vectors. Returns the injected (earlier, later) document pairs. */
  def corpus(spark: SparkSession, dir: Path, nDocs: Int, vocab: Int, zipfS: Double,
      nVec: Int, seed: Long): (CorpusStats, Seq[(Long, Long)]) = {
    val rng = new java.util.SplittableRandom(seed * 7919L + 17L)
    // Zipf CDF over the vocabulary (discrete, exponent zipfS)
    val w = Array.tabulate(vocab)(k => 1.0 / math.pow(k + 1.0, zipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    val tot = cdf.last
    def draw(): Int = {
      val u = rng.nextDouble() * tot
      val j = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (j >= 0) j else -j - 1, vocab - 1)
    }
    val texts = new ArrayBuffer[Array[Int]]()
    val originals = new ArrayBuffer[Int]() // duplicates only copy these
    val pairs = new ArrayBuffer[(Long, Long)]()
    var nearDup = 0; var exact = 0
    while (texts.size < nDocs) {
      val r = rng.nextDouble()
      if (r < 0.065 && texts.size > 10) {
        // a near-duplicate cluster: 1–4 variants of one earlier document
        val base = originals(rng.nextInt(originals.size))
        val k = 1 + rng.nextInt(4)
        var j = 0
        while (j < k && texts.size < nDocs) {
          val v = texts(base).clone()
          val edits = 1 + rng.nextInt(2)
          var e = 0
          while (e < edits) { v(rng.nextInt(v.length)) = draw(); e += 1 }
          pairs += ((base.toLong, texts.size.toLong))
          texts += v; nearDup += 1; j += 1
        }
      } else if (r < 0.085 && texts.size > 10) {
        val base = originals(rng.nextInt(originals.size))
        pairs += ((base.toLong, texts.size.toLong))
        texts += texts(base).clone(); exact += 1
      } else {
        originals += texts.size
        texts += Array.fill(40 + rng.nextInt(61))(draw())
      }
    }
    val docRows = texts.zipWithIndex.map { case (toks, i) =>
      val text = toks.map(token).mkString(" ")
      Row(i.toLong, text, Langs(rng.nextInt(Langs.size)), "src" + rng.nextInt(20),
        text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    writeOne(spark.createDataFrame(java.util.Arrays.asList(docRows.toSeq: _*), docSchema),
      dir.resolve("documents.parquet"))

    // embeddings: 10 unit-norm cluster centres, members = centre + noise,
    // ~10% near-duplicates of an earlier vector
    val centres = Array.fill(10)(unit(Array.fill(64)(gauss(rng))))
    val vecs = new ArrayBuffer[(Array[Float], Int)]()
    var vDup = 0
    while (vecs.size < nVec) {
      if (vecs.size > 10 && rng.nextDouble() < 0.1) {
        val (b, lbl) = vecs(rng.nextInt(vecs.size))
        vecs += ((unit(b.map(x => x + 1e-3 * gauss(rng))).map(_.toFloat), lbl)); vDup += 1
      } else {
        val lbl = rng.nextInt(10)
        vecs += ((unit(centres(lbl).map(x => x + 0.35 * gauss(rng) / 8.0)).map(_.toFloat), lbl))
      }
    }
    val vecRows = vecs.zipWithIndex.map { case ((v, lbl), i) =>
      Row(i.toLong, v.toSeq, lbl) }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    writeOne(spark.createDataFrame(java.util.Arrays.asList(vecRows.toSeq: _*), vecSchema),
      dir.resolve("embeddings.parquet"))
    (CorpusStats(nDocs, vocab, zipfS, nearDup, exact, pairs.size, nVec, vDup), pairs.toSeq)
  }

  private def gauss(rng: java.util.SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian
    val u1 = 1.0 - rng.nextDouble(); val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
