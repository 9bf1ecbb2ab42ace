package graft

import org.apache.spark.sql.functions._
import graft.sources.TxnLog

/** Round-12 gates: TxnLog idempotent streaming commits, commit metadata,
  * retention vacuum, and the manifest-name hardening (ADVICE r11) — the
  * concurrency/retention semantics no SQL oracle can see. */
class Round12Spec extends SparkSpec {

  private def freshTable(): String =
    Staging.trackedTempDir("graft_txn12_")

  private def df(lo: Long, hi: Long) = {
    import spark.implicits._
    spark.range(lo, hi, 1, 2).toDF("value")
  }

  test("stray non-numeric manifest names are ignored, not a crash") {
    val dir = freshTable()
    TxnLog.append(spark, dir, df(0, 10))
    TxnLog.append(spark, dir, df(10, 20))
    // the ADVICE r11 crash class: editor backups / manual copies in _txnlog
    val log = new java.io.File(dir, "_txnlog")
    for (junk <- Seq("garbage.manifest", "00001.manifest~bak.manifest",
        "abc.manifest", "123456.manifest.orig"))
      java.nio.file.Files.write(new java.io.File(log, junk).toPath,
        "not a manifest\n".getBytes)
    assert(TxnLog.latestVersion(spark, dir) === Some(2))
    assert(TxnLog.read(spark, dir).count() === 20L)
  }

  test("commitInfo: ts + op stamped on every commit, batchId on appendBatch") {
    val dir = freshTable()
    TxnLog.overwrite(spark, dir, df(0, 5))
    TxnLog.append(spark, dir, df(5, 10))
    TxnLog.appendBatch(spark, dir, df(10, 15), batchId = 42L)
    val i1 = TxnLog.commitInfo(spark, dir, 1)
    val i2 = TxnLog.commitInfo(spark, dir, 2)
    val i3 = TxnLog.commitInfo(spark, dir, 3)
    assert(i1.get("op") === Some("overwrite"))
    assert(i2.get("op") === Some("append"))
    assert(i3.get("op") === Some("append"))
    assert(i3.get("batchId") === Some("42"))
    assert(!i1.contains("batchId") && !i2.contains("batchId"))
    Seq(i1, i2, i3).foreach { i =>
      val ts = i.get("ts").map(_.toLong)
      assert(ts.exists(_ > 0L), s"commit ts missing/invalid in $i")
    }
  }

  test("appendBatch is idempotent: a replayed batch id adds no version") {
    val dir = freshTable()
    val v0 = TxnLog.appendBatch(spark, dir, df(0, 100), batchId = 0L)
    val v1 = TxnLog.appendBatch(spark, dir, df(100, 200), batchId = 1L)
    // the restart shape: same id, identically recomputed content
    val v1r = TxnLog.appendBatch(spark, dir, df(100, 200), batchId = 1L)
    assert(v0 === 1 && v1 === 2)
    assert(v1r === v1, "replay must return the original committing version")
    assert(TxnLog.latestVersion(spark, dir) === Some(2))
    val snap = TxnLog.read(spark, dir)
    assert(snap.count() === 200L)
    assert(snap.groupBy("value").count().agg(max("count")).head.getLong(0)
      === 1L, "a replayed batch double-appended rows")
  }

  test("batchHigh high-water: O(1) skip decision survives an overwrite, " +
    "and any id at-or-under the high-water is treated as committed") {
    val dir = freshTable()
    TxnLog.appendBatch(spark, dir, df(0, 10), batchId = 0L)
    TxnLog.appendBatch(spark, dir, df(10, 20), batchId = 1L)
    assert(TxnLog.batchHighOf(spark, dir, 2) === Some(1L))
    // a restatement must CARRY the high-water, not reset idempotence
    TxnLog.overwrite(spark, dir, df(100, 110))
    assert(TxnLog.batchHighOf(spark, dir, 3) === Some(1L))
    // replaying batch 1 after the overwrite: skipped via the carried
    // high-water (monotone-id contract), no new version, no rows
    val v = TxnLog.appendBatch(spark, dir, df(10, 20), batchId = 1L)
    assert(v === 2, "skip must return the original committing version")
    assert(TxnLog.latestVersion(spark, dir) === Some(3))
    assert(TxnLog.read(spark, dir).count() === 10L)
    // the next genuine batch id advances the high-water past the overwrite
    TxnLog.appendBatch(spark, dir, df(110, 120), batchId = 2L)
    assert(TxnLog.batchHighOf(spark, dir, 4) === Some(2L))
    assert(TxnLog.read(spark, dir).count() === 20L)
  }

  test("appendBatch race: two writers, same batch id — exactly one commit") {
    val dir = freshTable()
    TxnLog.appendBatch(spark, dir, df(0, 50), batchId = 0L)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val racers = Future.sequence((1 to 2).toList.map { _ =>
      Future(TxnLog.appendBatch(spark, dir, df(50, 100), batchId = 1L))
    })
    val versions = Await.result(racers, 120.seconds)
    assert(versions.distinct.size === 1,
      s"racing writers of one batch id committed different versions: $versions")
    assert(TxnLog.latestVersion(spark, dir) === Some(2))
    val snap = TxnLog.read(spark, dir)
    assert(snap.count() === 100L)
    assert(snap.groupBy("value").count().agg(max("count")).head.getLong(0)
      === 1L, "the losing racer's rows leaked into the snapshot")
  }

  test("vacuum: pinned retained reader survives; dropped version fails " +
    "loudly; unreferenced data + staging litter reclaimed") {
    val dir = freshTable()
    TxnLog.overwrite(spark, dir, df(0, 10))   // v1 (files dropped by v3)
    TxnLog.append(spark, dir, df(10, 20))     // v2 (files dropped by v3)
    TxnLog.overwrite(spark, dir, df(20, 30))  // v3 restatement
    TxnLog.append(spark, dir, df(30, 40))     // v4
    // litter the log dir the way a crashed stage would
    val log = new java.io.File(dir, "_txnlog")
    java.nio.file.Files.write(
      new java.io.File(log, ".tmp-deadbeef").toPath, "x".getBytes)
    val pinned = TxnLog.read(spark, dir, Some(3)) // resolves files NOW
    val before = pinned.agg(sum("value")).head.getLong(0)
    // default grace: the young .tmp- litter is protected (it could be a
    // concurrent writer's staged manifest — r13 age gate)...
    TxnLog.vacuum(spark, dir, retain = 4)
    assert(log.listFiles().map(_.getName).exists(_.startsWith(".tmp-")),
      "young staging litter must survive a default-grace vacuum")
    // ...while grace=0 reclaims aged litter; dropped-manifest data files
    // are reclaimed regardless of age (published-then-superseded)
    Thread.sleep(20)
    val deleted =
      TxnLog.vacuum(spark, dir, retain = 2, orphanGraceMs = 0) // keep v3, v4
    assert(deleted > 0, "v1/v2's unreferenced data files were not reclaimed")
    // pinned reader at a RETAINED version: file list unchanged, still reads
    assert(pinned.agg(sum("value")).head.getLong(0) === before)
    assert(TxnLog.read(spark, dir, Some(3)).count() === 10L)
    assert(TxnLog.read(spark, dir, Some(4)).count() === 20L)
    // a vacuumed version fails loudly
    intercept[Exception] { TxnLog.read(spark, dir, Some(1)).count() }
    intercept[Exception] { TxnLog.read(spark, dir, Some(2)).count() }
    assert(TxnLog.latestVersion(spark, dir) === Some(4))
    // staging litter gone; only the two retained manifests remain
    // (local-FS .crc checksum twins of the retained manifests are fine)
    val names = log.listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).toSet
    assert(!names.exists(_.startsWith(".tmp-")), s"litter survived: $names")
    assert(names === Set("00003.manifest", "00004.manifest"), names)
    // every surviving data file is referenced by a retained manifest
    val referenced = (3 to 4)
      .flatMap(TxnLog.snapshotFiles(spark, dir, _)).toSet
    val dataRoot = new java.io.File(dir, "data")
    val onDisk = dataRoot.listFiles().filter(_.isDirectory).flatMap { sub =>
      sub.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"data/${sub.getName}/${f.getName}")
    }.toSet
    assert(onDisk === referenced,
      s"unreferenced data files survived vacuum: ${onDisk -- referenced}")
  }

  test("readAsOf resolves the highest version committed at-or-before ts; " +
    "mergeSchema read unions evolved schemas with NULLs for old files") {
    val dir = freshTable()
    TxnLog.append(spark, dir, df(0, 10))
    val ts1 = TxnLog.commitInfo(spark, dir, 1)("ts").toLong
    Thread.sleep(5) // commit clock must advance between versions
    TxnLog.append(spark, dir, df(10, 20)
      .withColumn("tag", lit("new"))) // additive schema evolution
    val ts2 = TxnLog.commitInfo(spark, dir, 2)("ts").toLong
    assert(ts1 < ts2, "commit timestamps must be increasing here")
    assert(TxnLog.readAsOf(spark, dir, ts1).count() === 10L)
    assert(TxnLog.readAsOf(spark, dir, ts2 + 1).count() === 20L)
    intercept[IllegalStateException] {
      TxnLog.readAsOf(spark, dir, ts1 - 1)
    }
    val merged = TxnLog.read(spark, dir, mergeSchema = true)
    assert(merged.columns.sorted.toSeq === Seq("tag", "value"))
    assert(merged.filter(col("tag").isNull).count() === 10L,
      "pre-evolution rows must surface with NULL in the new column")
    assert(merged.filter(col("tag") === "new").count() === 10L)
  }

  test("readIncremental: append deltas exact, empty range empty, " +
    "overwrite boundary returns only the restatement's files") {
    val dir = freshTable()
    TxnLog.append(spark, dir, df(0, 10))     // v1
    TxnLog.append(spark, dir, df(10, 30))    // v2
    TxnLog.overwrite(spark, dir, df(50, 60)) // v3 restatement
    TxnLog.append(spark, dir, df(60, 70))    // v4
    // pure append delta: exactly v2's rows
    val d12 = TxnLog.readIncremental(spark, dir, 1, 2)
    assert(d12.count() === 20L)
    assert(d12.agg(min("value"), max("value")).head.toSeq === Seq(10L, 29L))
    // self-range: nothing added, schema preserved
    val empty = TxnLog.readIncremental(spark, dir, 2, 2)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("value"))
    // crossing the overwrite: only the fresh files (no implied deletes)
    val d23 = TxnLog.readIncremental(spark, dir, 2, 3)
    assert(d23.count() === 10L)
    assert(d23.agg(min("value")).head.getLong(0) === 50L)
    // consuming FROM the restatement boundary: the normal append delta
    val d34 = TxnLog.readIncremental(spark, dir, 3, 4)
    assert(d34.count() === 10L)
    assert(d34.agg(min("value")).head.getLong(0) === 60L)
    // fromV = 0 means "from the beginning": the whole current snapshot
    assert(TxnLog.readIncremental(spark, dir, 0, 4).count() === 20L)
    intercept[IllegalArgumentException] {
      TxnLog.readIncremental(spark, dir, 4, 3)
    }
  }

  test("readIncremental reads the added files as toV sees them: the " +
    "partition column is restored and merge-on-read deletes are applied") {
    def vals(d: org.apache.spark.sql.DataFrame) =
      d.select("value").collect().map(_.getLong(0)).sorted.toSeq
    val expected = (10L to 11L) ++ (15L to 29L)
    // a merge-on-read delete inside the range hides its rows...
    val mor = freshTable()
    TxnLog.appendWithStats(spark, mor, df(0, 10), "value")  // v1
    TxnLog.appendWithStats(spark, mor, df(10, 30), "value") // v2
    TxnLog.deleteWhereMoR(spark, mor, "value", 12, 14)      // v3
    assert(vals(TxnLog.readIncremental(spark, mor, 1, 3)) === expected)
    // ...exactly as a copy-on-write delete over the same range does
    val cow = freshTable()
    TxnLog.appendWithStats(spark, cow, df(0, 10), "value")
    TxnLog.appendWithStats(spark, cow, df(10, 30), "value")
    TxnLog.deleteWhere(spark, cow, "value", 12, 14)
    assert(vals(TxnLog.readIncremental(spark, cow, 1, 3)) === expected)
    // a partitioned table's delta keeps its partition column
    val part = freshTable()
    def pdf(lo: Long, hi: Long) = df(lo, hi).withColumn("p", col("value") % 2)
    TxnLog.appendPartitioned(spark, part, pdf(0, 10), "p")
    TxnLog.appendPartitioned(spark, part, pdf(10, 20), "p")
    val inc = TxnLog.readIncremental(spark, part, 1, 2)
    assert(inc.columns.toSeq === TxnLog.read(spark, part).columns.toSeq)
    assert(inc.filter(col("p") === 1).count() === 5L)
    assert(vals(inc) === (10L until 20L))
  }

  test("replay skips BEFORE writing data; vacuum reclaims a dead " +
    "attempt's orphan directory") {
    val dir = freshTable()
    TxnLog.appendBatch(spark, dir, df(0, 10), batchId = 0L)
    val dataRoot = new java.io.File(dir, "data")
    // a clean replay is detected up front and writes NO data directory
    TxnLog.appendBatch(spark, dir, df(0, 10), batchId = 0L)
    assert(dataRoot.listFiles().count(_.isDirectory) === 1,
      "a skipped replay must not stage a fresh data directory")
    // a crashed attempt dies AFTER writeData, BEFORE publishing: simulate
    // its orphan and assert vacuum reclaims it without touching live data
    df(0, 10).write.parquet(s"$dir/data/orphan-dead-attempt")
    assert(dataRoot.listFiles().count(_.isDirectory) === 2)
    // grace=0 treats the orphan as aged (Round13Spec gates the default-
    // grace protection of an IN-FLIGHT writer's identical-looking dir)
    Thread.sleep(20)
    val deleted = TxnLog.vacuum(spark, dir, retain = 1, orphanGraceMs = 0)
    assert(deleted > 0, "the orphan's files were not reclaimed")
    assert(dataRoot.listFiles().count(_.isDirectory) === 1)
    assert(TxnLog.read(spark, dir).count() === 10L)
  }
}
