package graft

import graft.sources.TxnLog

/** Round-14 gates: per-writer streaming idempotence (VERDICT r13 missing
  * #1) and commit-log checkpoint/delta compaction (VERDICT r13 missing
  * #2) — multi-stream tables, bounded per-commit manifest text, and read
  * paths resolving across checkpoint boundaries. Semantics no SQL oracle
  * can see. */
class Round14Spec extends SparkSpec {

  private def freshTable(): String =
    Staging.trackedTempDir("graft_txn14_")

  private def df(lo: Long, hi: Long) = {
    import spark.implicits._
    spark.range(lo, hi, 1, 1).toDF("value")
  }

  private def manifestText(dir: String, v: Int): String =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, f"_txnlog/$v%05d.manifest").toPath), "UTF-8")

  test("two interleaved streams share one table: each replays ITS OWN " +
    "last batch, neither loses nor double-applies (VERDICT r13 #1)") {
    val dir = freshTable()
    // interleaved commits from two writers with independent batch clocks
    TxnLog.appendBatch(spark, dir, df(0, 10), batchId = 0L, appId = "streamA")
    TxnLog.appendBatch(spark, dir, df(100, 105), batchId = 0L, appId = "streamB")
    TxnLog.appendBatch(spark, dir, df(10, 20), batchId = 1L, appId = "streamA")
    val vB1 = TxnLog.appendBatch(spark, dir, df(105, 110), batchId = 1L,
      appId = "streamB")
    assert(TxnLog.read(spark, dir).count() === 30L)
    // stream B restarts and replays its batch 1 — skipped, resolves to
    // the version that committed it; stream A's clock (also at 1) is
    // untouched by B's high-water
    assert(TxnLog.appendBatch(spark, dir, df(105, 110), batchId = 1L,
      appId = "streamB") === vB1)
    assert(TxnLog.read(spark, dir).count() === 30L, "replay double-applied")
    // stream A continues past B's replay: its batch 2 is NEW for A even
    // though B's high-water is also >= ... ids are per-writer
    TxnLog.appendBatch(spark, dir, df(20, 30), batchId = 2L, appId = "streamA")
    assert(TxnLog.read(spark, dir).count() === 40L)
    // A replaying ITS batch 2 skips; B committing ITS batch 2 proceeds
    TxnLog.appendBatch(spark, dir, df(20, 30), batchId = 2L, appId = "streamA")
    TxnLog.appendBatch(spark, dir, df(110, 115), batchId = 2L, appId = "streamB")
    val snap = TxnLog.read(spark, dir)
    assert(snap.count() === 45L)
    import org.apache.spark.sql.functions._
    assert(snap.groupBy("value").count()
      .agg(max("count")).head.getLong(0) === 1L, "a replay leaked rows")
    // same-appId non-monotone misuse still throws loudly on a complete
    // log: jump A's clock to 5, then present id 4 — under A's high-water
    // but never committed by A (ids 0..2 and 5 were)
    TxnLog.appendBatch(spark, dir, df(30, 35), batchId = 5L, appId = "streamA")
    val e = intercept[IllegalArgumentException] {
      TxnLog.appendBatch(spark, dir, df(900, 910), batchId = 4L,
        appId = "streamA")
    }
    assert(e.getMessage.contains("non-monotone"))
    assert(TxnLog.read(spark, dir).count() === 50L, "no rows leaked")
    // header syntax is protected: an appId that cannot live in a
    // whitespace-delimited header token is rejected before any write
    intercept[IllegalArgumentException] {
      TxnLog.appendBatch(spark, dir, df(0, 1), batchId = 9L,
        appId = "bad app=id")
    }
  }

  test("two RACING streams: concurrent per-appId appendBatch commits all " +
    "land exactly once, high-waters merge across the retry path") {
    val dir = freshTable()
    TxnLog.append(spark, dir, df(0, 10)) // v1 so both racers retry against it
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val gate = new CountDownLatch(1)
      val fa = pool.submit[Unit] { () =>
        gate.await()
        for (b <- 0 to 2)
          TxnLog.appendBatch(spark, dir, df(100 + b * 10, 110 + b * 10),
            b.toLong, appId = "ra")
      }
      val fb = pool.submit[Unit] { () =>
        gate.await()
        for (b <- 0 to 2)
          TxnLog.appendBatch(spark, dir, df(200 + b * 10, 210 + b * 10),
            b.toLong, appId = "rb")
      }
      gate.countDown(); fa.get(); fb.get()
    } finally pool.shutdown()
    // every batch of both writers landed exactly once: 10 base + 6×10
    val snap = TxnLog.read(spark, dir)
    assert(snap.count() === 70L)
    import org.apache.spark.sql.functions._
    assert(snap.groupBy("value").count()
      .agg(max("count")).head.getLong(0) === 1L, "a racing retry double-applied")
    val latest = TxnLog.latestVersion(spark, dir).get
    assert(latest === 7)
    // the latest manifest carries BOTH writers' high-waters — a lost race
    // must merge the winner's tokens, not clobber them
    assert(TxnLog.batchHighOf(spark, dir, latest, "ra") === Some(2L))
    assert(TxnLog.batchHighOf(spark, dir, latest, "rb") === Some(2L))
    // and each writer's ids resolve to distinct committing versions
    val vs = (for (app <- Seq("ra", "rb"); b <- 0L to 2L)
      yield TxnLog.committedVersionOfBatch(spark, dir, b, app)).flatten
    assert(vs.size === 6 && vs.distinct.size === 6,
      s"committed versions not unique: $vs")
  }

  test("default-appId contract is byte-compatible: a legacy header " +
    "round-trips and the default stream behaves as before") {
    val dir = freshTable()
    TxnLog.appendBatch(spark, dir, df(0, 10), batchId = 5L)
    // the default writer's token is the legacy bare batchHigh
    assert(manifestText(dir, 1).contains(" batchHigh=5"))
    assert(!manifestText(dir, 1).contains("appId="))
    assert(TxnLog.appendBatch(spark, dir, df(0, 10), batchId = 5L) === 1)
    // a named stream on the same table starts its own clock at 0
    TxnLog.appendBatch(spark, dir, df(10, 15), batchId = 0L, appId = "s2")
    assert(TxnLog.read(spark, dir).count() === 15L)
    assert(TxnLog.batchHighOf(spark, dir, 2) === Some(5L),
      "named-stream commit must carry the default writer's high forward")
    assert(TxnLog.batchHighOf(spark, dir, 2, "s2") === Some(0L))
  }

  test("appends commit O(new files) delta manifests with full " +
    "checkpoints every interval; read paths resolve across the " +
    "boundary (VERDICT r13 #2)") {
    val dir = freshTable()
    val n = 23
    for (i <- 1 to n) TxnLog.append(spark, dir, df(10L * i, 10L * i + 10))
    // v1 and every 10th are full checkpoints; the rest are deltas whose
    // text lists ONLY that commit's files (1 data dir each here)
    def dataLines(v: Int): Seq[String] =
      manifestText(dir, v).split("\n").toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#"))
    val interval = TxnLog.checkpointInterval
    for (v <- 1 to n) {
      val isCkpt = v == 1 || v % interval == 0
      assert(manifestText(dir, v).contains("kind=delta") === !isCkpt,
        s"v$v kind wrong")
      val perCommit = dataLines(1).size // files per single append
      if (isCkpt) assert(dataLines(v).size === v * perCommit, s"v$v not full")
      else assert(dataLines(v).size === perCommit,
        s"v$v delta lists ${dataLines(v).size} files — not O(new files)")
    }
    // log storage: full lists only every interval-th version — the log
    // is a fraction of the all-full spelling's O(files × versions) text
    val logBytes = (1 to n).map(manifestText(dir, _).length).sum
    val allFullBytes = (1 to n).map(v =>
      manifestText(dir, 1).length * v).sum
    assert(logBytes < allFullBytes / 2,
      s"log $logBytes bytes vs all-full $allFullBytes — compaction inert")
    // snapshot reads resolve across the checkpoint boundary correctly
    assert(TxnLog.read(spark, dir).count() === 10L * n)
    assert(TxnLog.read(spark, dir, Some(interval)).count() === 10L * interval)
    assert(TxnLog.read(spark, dir, Some(interval + 1)).count()
      === 10L * (interval + 1))
    assert(TxnLog.snapshotFiles(spark, dir, n).size === n * dataLines(1).size)
    // incremental reads across the boundary return exactly the delta rows
    val inc = TxnLog.readIncremental(spark, dir, interval - 1, interval + 2)
    assert(inc.count() === 30L)
    import org.apache.spark.sql.functions._
    assert(inc.agg(min("value")).head.getLong(0) === 10L * interval &&
      inc.agg(max("value")).head.getLong(0) === 10L * (interval + 2) + 9)
  }

  test("dot_q native kernel: exact long dot product, type-gated, loud " +
    "on length mismatch (VERDICT r13 #5)") {
    import spark.implicits._
    val two = Seq((Array(1L, 2L, 3L), Array(4L, -5L, 6L)))
      .toDF("a", "b")
    def dot(df: org.apache.spark.sql.DataFrame) =
      df.select(graft.plans.DotLong.of(df("a"), df("b")))
    assert(dot(two).head.getLong(0) === 12L)
    // interpreted twin (non-codegen path) agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val at = ArrayType(LongType, containsNull = false)
    val e = graft.plans.DotLong(
      Literal.create(Array(1L, 2L, 3L), at),
      Literal.create(Array(4L, -5L, 6L), at))
    assert(e.eval(null) === 12L)
    // analysis-time type gate: double arrays are rejected, not misread
    val dbl = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    intercept[Exception] { dot(dbl).collect() }
    // a length mismatch is an error, never a silent truncation
    val mis = Seq((Array(1L, 2L, 3L), Array(4L, 5L))).toDF("a", "b")
    intercept[Exception] { dot(mis).collect() }
  }

  test("emb_pca_project plans the native dot_q kernel — no interpreted " +
    "zip_with/aggregate reduction left in the projection") {
    val p = SparkEntry.queries("emb_pca_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dotlong") || p.contains("dot_q"),
      s"native kernel missing from plan:\n${p.take(1500)}")
    assert(!p.contains("zip_with"),
      "interpreted HOF reduction still in the projection")
  }

  test("restore commits forward and survives vacuum: the restored head " +
    "keeps its files after the source version's manifest drops") {
    val dir = freshTable()
    TxnLog.overwrite(spark, dir, df(0, 10))  // v1
    TxnLog.append(spark, dir, df(10, 30))    // v2
    TxnLog.overwrite(spark, dir, df(50, 55)) // v3 restates (drops v1/v2 files)
    val rv = TxnLog.restore(spark, dir, 2)   // v4 = v2's exact snapshot
    assert(rv === 4)
    assert(TxnLog.read(spark, dir).count() === 30L)
    assert(TxnLog.commitInfo(spark, dir, 4).get("op") === Some("restore"))
    // history intact: v3 still reads its own restatement
    assert(TxnLog.read(spark, dir, Some(3)).count() === 5L)
    // a replayed batch id must still skip after a restore (high-waters
    // carried forward like an overwrite)
    TxnLog.appendBatch(spark, dir, df(100, 110), batchId = 1L) // v5
    assert(TxnLog.appendBatch(spark, dir, df(100, 110), batchId = 1L) === 5)
    assert(TxnLog.read(spark, dir).count() === 40L)
    // vacuum drops v1..v3; the restored files are referenced by v4/v5
    // and survive — the head stays fully readable
    Thread.sleep(20)
    TxnLog.vacuum(spark, dir, retain = 2, orphanGraceMs = 0)
    intercept[Exception] { TxnLog.read(spark, dir, Some(2)).count() }
    assert(TxnLog.read(spark, dir, Some(4)).count() === 30L)
    assert(TxnLog.read(spark, dir).count() === 40L)
    // restoring to a vacuumed version fails loudly
    intercept[Exception] { TxnLog.restore(spark, dir, 1) }
  }

  test("vacuum materializes the oldest retained delta into a full " +
    "checkpoint before dropping its chain prefix") {
    val dir = freshTable()
    for (i <- 1 to 13) TxnLog.append(spark, dir, df(10L * i, 10L * i + 10))
    Thread.sleep(20)
    // keep v12 (delta) and v13 (delta): v12's chain ran through v11..v10
    val deleted = TxnLog.vacuum(spark, dir, retain = 2, orphanGraceMs = 0)
    // append-only history: every data file is still referenced by the
    // retained snapshots — only manifests are dropped
    assert(deleted === 0)
    val names = new java.io.File(dir, "_txnlog").listFiles()
      .map(_.getName).filterNot(_.endsWith(".crc")).toSet
    assert(names === Set("00012.manifest", "00013.manifest"), names)
    // v12 was rewritten as a checkpoint; v13 stays a delta resolving on it
    assert(!manifestText(dir, 12).contains("kind=delta"))
    assert(manifestText(dir, 13).contains("kind=delta"))
    assert(TxnLog.read(spark, dir, Some(12)).count() === 120L)
    assert(TxnLog.read(spark, dir, Some(13)).count() === 130L)
    // appends continue on the vacuumed log and stay readable
    TxnLog.append(spark, dir, df(140, 150))
    assert(TxnLog.read(spark, dir).count() === 140L)
  }
}
