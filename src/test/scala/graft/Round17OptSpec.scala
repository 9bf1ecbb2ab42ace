package graft

import graft.plans.SortedDotLong
import graft.sources.TxnLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Optimization-round-17 gates.
  *
  * 1. Footer-derived per-file stats (TxnLog.statsLines fast path): the
  *    parquet-footer metadata fold must emit BYTE-IDENTICAL manifest
  *    stats tokens to the Spark aggregate pass it falls back to —
  *    including negative values, NULL counts, an all-NULL column, an
  *    empty file, multi-file appends, and every integral width — and the
  *    skipping reader must prune on them.
  */
class Round17OptSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq[(java.lang.Long, java.lang.Integer, java.lang.Short)](
      (-50L, null, null), (-7L, -3, null), (0L, 0, null),
      (3L, 9, null), (12L, null, null), (99L, 1000000, null),
      (100L, -2000000000, null), (8L, 7, null))
      .toDF("k", "v", "an")
      .withColumn("an", col("an").cast(ShortType))
  }

  private val statsCols = Seq("k", "v", "an")

  private def stage(dir: String): Unit = {
    TxnLog.appendWithStats(spark, dir, fixture.repartition(2), statsCols: _*)
    TxnLog.appendWithStats(spark, dir,
      fixture.filter(col("k") > 50).repartition(1), statsCols: _*)
  }

  private def toks(d: String): Seq[String] = {
    val v = TxnLog.latestVersion(spark, d).get
    // strip the uuid'd path; keep each line's ordered token suffix
    TxnLog.snapshotLines(spark, d, v)
      .map(ln => ln.substring(ln.indexOf('\t') + 1)).sorted
  }

  test("footer stats tokens byte-identical to the scan-pass tokens") {
    val d = s"${graft.Staging.trackedTempDir("graft_r17stats_")}/t"
    stage(d)
    val committed = TxnLog.snapshotLines(spark, d, TxnLog.latestVersion(spark, d).get)
    // both stats paths over the same written files, plus an empty one
    fixture.limit(0).coalesce(1).write.parquet(s"$d/empty")
    val empty = new java.io.File(s"$d/empty").list()
      .filter(_.endsWith(".parquet")).map(f => s"empty/$f").toSeq
    assert(empty.size == 1, s"expected one empty parquet file, got $empty")
    val files = committed.map(_.takeWhile(_ != '\t')) ++ empty
    val byScan = TxnLog.statsLinesByScan(spark, d, files, statsCols)
    assert(TxnLog.footerStatsLines(spark, d, files, statsCols) == Some(byScan))
    assert(byScan.take(committed.size) == committed)
    assert(byScan.last == empty.head, "an empty file must keep a bare line")
    assert(toks(d).exists(_.contains("stats:an=::")),
      "all-null column must emit empty min/max")
    assert(toks(d).exists(_.contains("stats:k=-50:")),
      "negative minimum must survive the footer fold")
    // a provably out-of-range probe prunes everything, null pruning keeps
    // only the null-bearing files
    val (_, k1, _) = TxnLog.readSkipped(spark, d, "k", 60L, 200L)
    val (_, k2, _) = TxnLog.readSkipped(spark, d, "k", 1000L, 2000L)
    val (_, k3, t3) = TxnLog.readSkippedNull(spark, d, "v")
    assert(k2 == 0, "out-of-range probe must open zero files")
    assert(k1 == 3 && k3 < t3)
  }

  test("an unreadable footer falls back to the scan pass, same stats") {
    val base = graft.Staging.trackedTempDir("graft_r17stats_")
    val dA = s"$base/foot"; val dB = s"$base/fail"
    stage(dA)
    // the footer fold opens files through the context's Hadoop conf;
    // Spark's own writes and the fallback scan use the session's, which
    // keeps the plain local file system
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val prev = keys.map(k => k -> Option(hc.get(k)))
    val opened = FooterFailFS.failures.get
    try {
      hc.set("fs.file.impl", classOf[FooterFailFS].getName)
      hc.set("fs.file.impl.disable.cache", "true")
      spark.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
      stage(dB)
    } finally {
      prev.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
      spark.conf.unset("fs.file.impl")
    }
    assert(FooterFailFS.failures.get > opened, "no footer read failed")
    assert(toks(dB) == toks(dA))
    assert(TxnLog.read(spark, dB).orderBy("k").collect().toSeq ==
      TxnLog.read(spark, dA).orderBy("k").collect().toSeq)
  }

  /** 2. Size-gated state broadcasts (PageRank.stateHint): the iterative
    * graph loops must emit BIT-IDENTICAL results whether the per-round
    * V-row state is broadcast (small V, the default here) or the hint is
    * gated off (the 100 TB path, forced via broadcastStateMaxRows=0). */
  test("graph loops bit-identical with the state broadcast gated off") {
    def runAll(): Seq[Seq[String]] = {
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
        (5L, 1L), (6L, 2L), (7L, 3L)).toDF("src", "dst")
      Seq(
        operators.PageRank.ranks(edges).orderBy("id")
          .collect().map(_.toString).toSeq,
        operators.QRound9br.katzCentralityBuild(spark, sf)
          .collect().map(_.toString).toSeq,
        operators.QRound9bz.bootstrapPercolationBuild(spark, sf)
          .collect().map(_.toString).toSeq)
    }
    val withBc = runAll()
    spark.conf.set("graft.graph.broadcastStateMaxRows", "0")
    val noBc =
      try runAll()
      finally spark.conf.unset("graft.graph.broadcastStateMaxRows")
    assert(withBc == noBc)
  }

  /** 3. sorted_dot merge kernel (plans/VectorExprs.SortedDotLong): the
    * fused sparse-dot loop must equal the join-explode-aggregate
    * spelling it replaced in dedup_tfidf_nn — on the real posting table
    * AND on adversarial edges (disjoint keys, empty vectors, negative
    * weights, subset overlap). */
  test("sorted_dot == join-aggregate sparse dot, on real postings") {
    import spark.implicits._
    // unit edges
    val cases = Seq(
      (Seq("a", "b", "c"), Seq(2L, 3L, 5L), Seq("b", "c", "d"),
        Seq(7L, -1L, 9L), 3L * 7L + 5L * -1L),
      (Seq.empty[String], Seq.empty[Long], Seq("x"), Seq(4L), 0L),
      (Seq("p"), Seq(-2L), Seq("q"), Seq(3L), 0L),
      (Seq("a", "z"), Seq(1L, 1L), Seq("a", "z"), Seq(1L, 1L), 2L))
    cases.zipWithIndex.foreach { case ((ka, va, kb, vb, want), i) =>
      val got = Seq((ka, va, kb, vb)).toDF("ka", "va", "kb", "vb")
        .select(SortedDotLong.of(col("ka"), col("va"), col("kb"), col("vb")))
        .head.getLong(0)
      assert(got == want, s"case $i: got $got, want $want")
    }
    // real postings: kernel dot over sorted doc vectors == the legacy
    // join + SUM(wa*wb) GROUP BY pair, for every blocked candidate pair
    val wp = operators.QRound9by.tfidfPostings(spark, sf)
    val cand = operators.QRound9by.tfidfNnCands(spark, sf)
    val dv = operators.QRound9by.tfidfDocVecs(spark, sf)
    val kernel = cand
      .join(dv.select(col("doc_id").as("da"), col("tks").as("tka"),
        col("ws").as("wsa")), "da")
      .join(dv.select(col("doc_id").as("db"), col("tks").as("tkb"),
        col("ws").as("wsb")), "db")
      .select(col("da"), col("db"),
        SortedDotLong.of(col("tka"), col("wsa"), col("tkb"), col("wsb")).as("dot"))
      .orderBy("da", "db").collect().map(_.toString).toSeq
    val legacy = cand
      .join(wp.select(col("doc_id").as("da"), col("tk"),
        col("w").as("wa")), "da")
      .join(wp.select(col("doc_id").as("db"), col("tk"),
        col("w").as("wb")), Seq("db", "tk"))
      .groupBy("da", "db").agg(sum(col("wa") * col("wb")).as("dot"))
      .orderBy("da", "db").collect().map(_.toString).toSeq
    assert(kernel.nonEmpty && kernel == legacy)
  }
}

/** A local file system whose every parquet `open` fails: an unreadable
  * footer for TxnLog's footer-stats fold. */
class FooterFailFS extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    if (f.getName.endsWith(".parquet")) {
      FooterFailFS.failures.incrementAndGet()
      throw new java.io.IOException(s"unreadable footer: $f")
    } else super.open(f, bufferSize)
}

object FooterFailFS {
  val failures = new java.util.concurrent.atomic.AtomicInteger()
}
