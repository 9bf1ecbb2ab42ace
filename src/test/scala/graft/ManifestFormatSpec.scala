package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.functions.col
import graft.sources.TxnLog

/** Characterization of the manifest bytes TxnLog writes: one scripted
  * sequence runs every writer (append, appendWithStats, appendBatch with a
  * replay, copy-on-write and merge-on-read deletes, merge, compact,
  * restore, overwrite, an append checkpoint, vacuum's checkpoint rewrite,
  * and a partitioned table through the same DML), then every manifest's
  * text is compared with a golden copy.
  *
  * Masking: commit timestamps read `ts=<ts>`, and each uuid (data and
  * sidecar directories, Spark's per-write file-name id) is numbered by its
  * first appearance in version order, so the golden text still shows
  * which lines come from one write. A write lists its files in file-system
  * order, so each manifest's file lines are sorted after masking; the
  * header line stays first, and a tab reads ` | `. */
class ManifestFormatSpec extends SparkSpec {

  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def r(lo: Long, hi: Long) = spark.range(lo, hi, 1, 2).toDF("value")

  private def parted(lo: Long, hi: Long) = spark.range(lo, hi, 1, 2)
    .select(col("id").as("value"), (col("id") % 3).as("p"))

  /** Every manifest of `table`, in version order, masked as above. */
  private def manifests(table: String): String = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    new java.io.File(table, "_txnlog").listFiles()
      .filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
      .map { f =>
        val text = new String(Files.readAllBytes(f.toPath), UTF_8)
          .replaceAll("ts=\\d+", "ts=<ts>")
        val masked = uuid.replaceAllIn(text,
          m => s"<u${ids.getOrElseUpdate(m.matched, ids.size)}>")
        val lines = masked.replace("\t", " | ").split("\n").toSeq
        (s"== ${f.getName}" +: lines.head +: lines.tail.sorted).mkString("\n")
      }.mkString("\n")
  }

  test("every writer's manifest text is unchanged") {
    val t = Staging.trackedTempDir("graft_manifest_")
    val versions = Seq(
      TxnLog.append(spark, t, r(0, 10)),
      TxnLog.appendWithStats(spark, t, r(10, 20), "value"),
      TxnLog.appendBatch(spark, t, r(20, 30), 0L, "sink", Seq("value")),
      TxnLog.appendBatch(spark, t, r(20, 30), 0L, "sink", Seq("value")),
      TxnLog.appendBatch(spark, t, r(30, 40), 1L),
      TxnLog.deleteWhere(spark, t, "value", 12, 13),
      TxnLog.deleteWhereMoR(spark, t, "value", 25, 26),
      TxnLog.mergeInto(spark, t, r(35, 45), "value"),
      TxnLog.compact(spark, t),
      TxnLog.restore(spark, t, 4),
      TxnLog.append(spark, t, r(50, 55)),
      TxnLog.overwrite(spark, t, r(100, 110)),
      TxnLog.append(spark, t, r(110, 115)),
      TxnLog.append(spark, t, r(115, 120)))
    assert(versions === Seq(1, 2, 3, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13))
    val before = manifests(t)
    Thread.sleep(20) // every file is older than a zero grace window
    val reclaimed = TxnLog.vacuum(spark, t, retain = 2, orphanGraceMs = 0)
    assert(before === ManifestFormatSpec.unpartitioned)
    // the oldest retained delta is rewritten as a checkpoint first
    assert(manifests(t) === ManifestFormatSpec.vacuumed)
    // 18 data files of versions 1-10 and the one deletion-vector sidecar
    assert(reclaimed === 19)
    assert(TxnLog.read(spark, t).count() === 20L)

    val p = Staging.trackedTempDir("graft_manifest_part_")
    val pv = Seq(
      TxnLog.appendPartitioned(spark, p, parted(0, 12), "p", "value"),
      TxnLog.appendPartitioned(spark, p, parted(12, 18), "p"),
      TxnLog.deleteWhere(spark, p, "p", 1, 1),
      TxnLog.mergeInto(spark, p, parted(16, 20), "value"),
      TxnLog.compact(spark, p))
    assert(pv === Seq(1, 2, 3, 4, 5))
    assert(manifests(p) === ManifestFormatSpec.partitioned)
  }
}

object ManifestFormatSpec {
  val unpartitioned: String =
    """== 00001.manifest
      |# ts=<ts> op=append
      |data/<u0>/part-00000-<u1>-c000.snappy.parquet
      |data/<u0>/part-00001-<u1>-c000.snappy.parquet
      |== 00002.manifest
      |# ts=<ts> op=append kind=delta
      |data/<u2>/part-00000-<u3>-c000.snappy.parquet | stats:value=10:14:5:0
      |data/<u2>/part-00001-<u3>-c000.snappy.parquet | stats:value=15:19:5:0
      |== 00003.manifest
      |# ts=<ts> op=append kind=delta batchId=0 appId=sink batchHigh:sink=0
      |data/<u4>/part-00000-<u5>-c000.snappy.parquet | stats:value=20:24:5:0
      |data/<u4>/part-00001-<u5>-c000.snappy.parquet | stats:value=25:29:5:0
      |== 00004.manifest
      |# ts=<ts> op=append kind=delta batchId=1 batchHigh=1 batchHigh:sink=0
      |data/<u6>/part-00000-<u7>-c000.snappy.parquet
      |data/<u6>/part-00001-<u7>-c000.snappy.parquet
      |== 00005.manifest
      |# ts=<ts> op=delete batchHigh=1 batchHigh:sink=0
      |data/<u2>/part-00001-<u3>-c000.snappy.parquet | stats:value=15:19:5:0
      |data/<u4>/part-00000-<u5>-c000.snappy.parquet | stats:value=20:24:5:0
      |data/<u4>/part-00001-<u5>-c000.snappy.parquet | stats:value=25:29:5:0
      |data/<u8>/part-00000-<u9>-c000.snappy.parquet | stats:value=0:4:5:0
      |data/<u8>/part-00001-<u9>-c000.snappy.parquet | stats:value=5:9:5:0
      |data/<u8>/part-00002-<u9>-c000.snappy.parquet | stats:value=10:30:4:0
      |data/<u8>/part-00003-<u9>-c000.snappy.parquet | stats:value=31:35:5:0
      |data/<u8>/part-00004-<u9>-c000.snappy.parquet | stats:value=36:39:4:0
      |== 00006.manifest
      |# ts=<ts> op=delete batchHigh=1 batchHigh:sink=0
      |data/<u2>/part-00001-<u3>-c000.snappy.parquet | stats:value=15:19:5:0
      |data/<u4>/part-00000-<u5>-c000.snappy.parquet | stats:value=20:24:5:0
      |data/<u4>/part-00001-<u5>-c000.snappy.parquet | stats:value=25:29:5:0 | dv:dv/<u10>/part-00000-<u11>-c000.snappy.parquet
      |data/<u8>/part-00000-<u9>-c000.snappy.parquet | stats:value=0:4:5:0
      |data/<u8>/part-00001-<u9>-c000.snappy.parquet | stats:value=5:9:5:0
      |data/<u8>/part-00002-<u9>-c000.snappy.parquet | stats:value=10:30:4:0
      |data/<u8>/part-00003-<u9>-c000.snappy.parquet | stats:value=31:35:5:0
      |data/<u8>/part-00004-<u9>-c000.snappy.parquet | stats:value=36:39:4:0
      |== 00007.manifest
      |# ts=<ts> op=merge batchHigh=1 batchHigh:sink=0
      |data/<u12>/part-00000-<u13>-c000.snappy.parquet | stats:value=31:37:7:0
      |data/<u12>/part-00001-<u13>-c000.snappy.parquet | stats:value=38:44:7:0
      |data/<u2>/part-00001-<u3>-c000.snappy.parquet | stats:value=15:19:5:0
      |data/<u4>/part-00000-<u5>-c000.snappy.parquet | stats:value=20:24:5:0
      |data/<u4>/part-00001-<u5>-c000.snappy.parquet | stats:value=25:29:5:0 | dv:dv/<u10>/part-00000-<u11>-c000.snappy.parquet
      |data/<u8>/part-00000-<u9>-c000.snappy.parquet | stats:value=0:4:5:0
      |data/<u8>/part-00001-<u9>-c000.snappy.parquet | stats:value=5:9:5:0
      |data/<u8>/part-00002-<u9>-c000.snappy.parquet | stats:value=10:30:4:0
      |== 00008.manifest
      |# ts=<ts> op=compact batchHigh=1 batchHigh:sink=0
      |data/<u14>/part-00000-<u15>-c000.snappy.parquet
      |== 00009.manifest
      |# ts=<ts> op=restore batchHigh=1 batchHigh:sink=0
      |data/<u0>/part-00000-<u1>-c000.snappy.parquet
      |data/<u0>/part-00001-<u1>-c000.snappy.parquet
      |data/<u2>/part-00000-<u3>-c000.snappy.parquet | stats:value=10:14:5:0
      |data/<u2>/part-00001-<u3>-c000.snappy.parquet | stats:value=15:19:5:0
      |data/<u4>/part-00000-<u5>-c000.snappy.parquet | stats:value=20:24:5:0
      |data/<u4>/part-00001-<u5>-c000.snappy.parquet | stats:value=25:29:5:0
      |data/<u6>/part-00000-<u7>-c000.snappy.parquet
      |data/<u6>/part-00001-<u7>-c000.snappy.parquet
      |== 00010.manifest
      |# ts=<ts> op=append batchHigh=1 batchHigh:sink=0
      |data/<u0>/part-00000-<u1>-c000.snappy.parquet
      |data/<u0>/part-00001-<u1>-c000.snappy.parquet
      |data/<u16>/part-00000-<u17>-c000.snappy.parquet
      |data/<u16>/part-00001-<u17>-c000.snappy.parquet
      |data/<u2>/part-00000-<u3>-c000.snappy.parquet | stats:value=10:14:5:0
      |data/<u2>/part-00001-<u3>-c000.snappy.parquet | stats:value=15:19:5:0
      |data/<u4>/part-00000-<u5>-c000.snappy.parquet | stats:value=20:24:5:0
      |data/<u4>/part-00001-<u5>-c000.snappy.parquet | stats:value=25:29:5:0
      |data/<u6>/part-00000-<u7>-c000.snappy.parquet
      |data/<u6>/part-00001-<u7>-c000.snappy.parquet
      |== 00011.manifest
      |# ts=<ts> op=overwrite batchHigh=1 batchHigh:sink=0
      |data/<u18>/part-00000-<u19>-c000.snappy.parquet
      |data/<u18>/part-00001-<u19>-c000.snappy.parquet
      |== 00012.manifest
      |# ts=<ts> op=append kind=delta batchHigh=1 batchHigh:sink=0
      |data/<u20>/part-00000-<u21>-c000.snappy.parquet
      |data/<u20>/part-00001-<u21>-c000.snappy.parquet
      |== 00013.manifest
      |# ts=<ts> op=append kind=delta batchHigh=1 batchHigh:sink=0
      |data/<u22>/part-00000-<u23>-c000.snappy.parquet
      |data/<u22>/part-00001-<u23>-c000.snappy.parquet""".stripMargin

  val vacuumed: String =
    """== 00012.manifest
      |# ts=<ts> op=append batchHigh=1 batchHigh:sink=0
      |data/<u0>/part-00000-<u1>-c000.snappy.parquet
      |data/<u0>/part-00001-<u1>-c000.snappy.parquet
      |data/<u2>/part-00000-<u3>-c000.snappy.parquet
      |data/<u2>/part-00001-<u3>-c000.snappy.parquet
      |== 00013.manifest
      |# ts=<ts> op=append kind=delta batchHigh=1 batchHigh:sink=0
      |data/<u4>/part-00000-<u5>-c000.snappy.parquet
      |data/<u4>/part-00001-<u5>-c000.snappy.parquet""".stripMargin

  val partitioned: String =
    """== 00001.manifest
      |# ts=<ts> op=append
      |data/<u0>/p=0/part-00000-<u1>.c000.snappy.parquet | part:p=0 | stats:value=0:3:2:0
      |data/<u0>/p=0/part-00001-<u1>.c000.snappy.parquet | part:p=0 | stats:value=6:9:2:0
      |data/<u0>/p=1/part-00000-<u1>.c000.snappy.parquet | part:p=1 | stats:value=1:4:2:0
      |data/<u0>/p=1/part-00001-<u1>.c000.snappy.parquet | part:p=1 | stats:value=7:10:2:0
      |data/<u0>/p=2/part-00000-<u1>.c000.snappy.parquet | part:p=2 | stats:value=2:5:2:0
      |data/<u0>/p=2/part-00001-<u1>.c000.snappy.parquet | part:p=2 | stats:value=8:11:2:0
      |== 00002.manifest
      |# ts=<ts> op=append kind=delta
      |data/<u2>/p=0/part-00000-<u3>.c000.snappy.parquet | part:p=0
      |data/<u2>/p=0/part-00001-<u3>.c000.snappy.parquet | part:p=0
      |data/<u2>/p=1/part-00000-<u3>.c000.snappy.parquet | part:p=1
      |data/<u2>/p=1/part-00001-<u3>.c000.snappy.parquet | part:p=1
      |data/<u2>/p=2/part-00000-<u3>.c000.snappy.parquet | part:p=2
      |data/<u2>/p=2/part-00001-<u3>.c000.snappy.parquet | part:p=2
      |== 00003.manifest
      |# ts=<ts> op=delete
      |data/<u0>/p=0/part-00000-<u1>.c000.snappy.parquet | part:p=0 | stats:value=0:3:2:0
      |data/<u0>/p=0/part-00001-<u1>.c000.snappy.parquet | part:p=0 | stats:value=6:9:2:0
      |data/<u0>/p=2/part-00000-<u1>.c000.snappy.parquet | part:p=2 | stats:value=2:5:2:0
      |data/<u0>/p=2/part-00001-<u1>.c000.snappy.parquet | part:p=2 | stats:value=8:11:2:0
      |data/<u2>/p=0/part-00000-<u3>.c000.snappy.parquet | part:p=0
      |data/<u2>/p=0/part-00001-<u3>.c000.snappy.parquet | part:p=0
      |data/<u2>/p=2/part-00000-<u3>.c000.snappy.parquet | part:p=2
      |data/<u2>/p=2/part-00001-<u3>.c000.snappy.parquet | part:p=2
      |== 00004.manifest
      |# ts=<ts> op=merge
      |data/<u0>/p=0/part-00000-<u1>.c000.snappy.parquet | part:p=0 | stats:value=0:3:2:0
      |data/<u0>/p=0/part-00001-<u1>.c000.snappy.parquet | part:p=0 | stats:value=6:9:2:0
      |data/<u0>/p=2/part-00000-<u1>.c000.snappy.parquet | part:p=2 | stats:value=2:5:2:0
      |data/<u0>/p=2/part-00001-<u1>.c000.snappy.parquet | part:p=2 | stats:value=8:11:2:0
      |data/<u4>/p=0/part-00000-<u5>.c000.snappy.parquet | part:p=0 | stats:value=12:12:1:0
      |data/<u4>/p=0/part-00001-<u5>.c000.snappy.parquet | part:p=0 | stats:value=15:15:1:0
      |data/<u4>/p=0/part-00002-<u5>.c000.snappy.parquet | part:p=0 | stats:value=18:18:1:0
      |data/<u4>/p=1/part-00001-<u5>.c000.snappy.parquet | part:p=1 | stats:value=16:16:1:0
      |data/<u4>/p=1/part-00003-<u5>.c000.snappy.parquet | part:p=1 | stats:value=19:19:1:0
      |data/<u4>/p=2/part-00000-<u5>.c000.snappy.parquet | part:p=2 | stats:value=14:14:1:0
      |data/<u4>/p=2/part-00002-<u5>.c000.snappy.parquet | part:p=2 | stats:value=17:17:1:0
      |== 00005.manifest
      |# ts=<ts> op=compact
      |data/<u6>/p=0/part-00000-<u7>.c000.snappy.parquet | part:p=0
      |data/<u6>/p=1/part-00000-<u7>.c000.snappy.parquet | part:p=1
      |data/<u6>/p=2/part-00000-<u7>.c000.snappy.parquet | part:p=2""".stripMargin
}
