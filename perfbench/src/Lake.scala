package perfbench

import graft.sources.TxnLog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** `lake_ingest`: one client streams a day of events into a fresh
  * `TxnLog` table per pass and reads it back while it grows.
  *
  * Each cycle lands one time-ordered micro-batch file (~2% late rows) in
  * the directory a running file-source streaming query watches; its
  * `foreachBatch` commits the batch with `TxnLog.appendBatch` (stats on
  * `user_id` and the integral event time `ets`), and a few batch ids are
  * committed twice, as an at-least-once sink retry would, and must be
  * skipped. Once the commit is visible through `TxnLog.latestVersion`, the
  * client runs two `readSkipped` reads with a collected aggregate: the
  * most recent hour of event time, and ~10 Zipf-chosen users. Every few
  * cycles it runs `mergeInto` (corrected values), `deleteWhereMoR` (one
  * user) and `compact`; the pass ends with one `changes()` read and one
  * time-travel `read`.
  *
  * The client keeps an exact model of the table (every row, its value in
  * cents, live or deleted, totals per version) and checks every read, the
  * change feed and the time-travel read against it. Each pass also writes
  * its operation log, which `check.py` replays in DuckDB against the final
  * snapshot's totals. */
final class Lake extends Workload {
  val rowsPerFile = 2000
  val cycles = 12
  val warmCycles = 3
  val users = 20000
  val zipfS = 0.8
  val lateFrac = 0.02
  val fileSpanS = 900L // event time covered by one file
  val mergeEvery = 4
  val mergeRows = 200
  val deleteEvery = 6
  val compactEvery = 12
  val replayIds: Set[Long] = Set(2L, 7L)
  val ets0: Long = Gen.Epoch0Us / 1000000L

  private val schema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampNTZType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("ets", LongType, nullable = false)))

  /** Everything one pass needs: its directories, the generated rows (the
    * client's model of the table), the running query and the logs. */
  private final class PassState(val idx: Int, val root: Path, val nCycles: Int) {
    val table: String = root.resolve("table").toString
    val staged: Path = root.resolve("staged")
    val land: Path = root.resolve("land")
    val n: Int = nCycles * rowsPerFile
    val eventId = new Array[Long](n)
    val tsUs = new Array[Long](n)
    val user = new Array[Long](n)
    val etype = new Array[Int](n)
    val cents = new Array[Long](n)
    val ets = new Array[Long](n)
    val alive = new Array[Boolean](n)
    var landed = 0 // rows landed so far (files land in order)
    var query: StreamingQuery = _
    val batchStartNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    var replays = 0
    var replaysSkipped = 0
    val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val totalsAt = mutable.Map[Int, (Long, Long)]() // version -> (rows, cents)
    val landNs = new Array[Long](nCycles)
    val appendMs = mutable.ArrayBuffer[Double]()
    val readMs = mutable.ArrayBuffer[Double]()
    var filesOpened = 0L
    var filesTotal = 0L
    var landedBytes = 0L
    val rng = new java.util.SplittableRandom(seed * 31L + idx * 7907L + 13L)
    var progress0 = 0 // first streaming progress event of this pass

    def totals(): (Long, Long) = {
      var r = 0L; var s = 0L; var i = 0
      while (i < landed) { if (alive(i)) { r += 1; s += cents(i) }; i += 1 }
      (r, s)
    }
  }

  private var seed = 0L
  private val states = mutable.ArrayBuffer[PassState]()
  private var current: PassState = _
  private lazy val userCdf: Array[Double] = {
    val w = Array.tabulate(users)(k => 1.0 / math.pow(k + 1.0, zipfS))
    w.scanLeft(0.0)(_ + _).tail
  }
  private def zipfUser(rng: java.util.SplittableRandom): Long = {
    val u = rng.nextDouble() * userCdf.last
    val j = java.util.Arrays.binarySearch(userCdf, u)
    math.min(if (j >= 0) j else -j - 1, users - 1).toLong
  }

  def setup(c: Ctx): Unit = {
    seed = c.seed
    c.info("inputs") = mutable.LinkedHashMap[String, Any](
      "rows_per_file" -> rowsPerFile, "files_per_pass" -> cycles,
      "rows_per_pass" -> cycles * rowsPerFile, "users" -> users,
      "user_zipf_exponent" -> zipfS, "late_frac" -> lateFrac,
      "merge_every" -> mergeEvery, "merge_rows" -> mergeRows,
      "delete_every" -> deleteEvery, "compact_every" -> compactEvery,
      "replayed_batch_ids" -> replayIds.toSeq.sorted,
      "loop" -> "closed, one client")
    // warm-up: a short pass on a throw-away table that still runs every
    // operation once (its log is checked like any other pass's)
    val st = make(c, -1, warmCycles)
    runPass(c, st)
    finish(c, st, mutable.Map())
  }

  /** Pass 0 is the second, untimed warm-up; half length is enough there. */
  def prepare(c: Ctx, pass: Int): Unit = {
    current = make(c, pass, if (pass == 0) cycles / 2 else cycles)
  }

  def pass(c: Ctx, pass: Int, layers: mutable.Map[String, Double]): Seq[Double] = {
    val st = current
    runPass(c, st)
    if (c.tracer.active) {
      layers("txn.files_opened") = st.filesOpened.toDouble / st.readMs.size
      layers("txn.files_total") = st.filesTotal.toDouble / st.readMs.size
      layers("txn.skip_frac") = 1.0 - st.filesOpened.toDouble / math.max(1L, st.filesTotal)
    }
    st.appendMs.toSeq ++ st.readMs
  }

  override def afterPass(c: Ctx, pass: Int, traced: Boolean,
      layers: mutable.Map[String, Double]): Unit = finish(c, current, layers, traced)

  def checks(c: Ctx): Unit = {
    c.info("oplogs") = states.map(_.root.resolve("oplog.json").toString).toSeq
  }

  /** Generate the pass's files (staged outside the watched directory) and
    * start its streaming query. */
  private def make(c: Ctx, idx: Int, nCycles: Int): PassState = {
    val st = new PassState(idx, c.work.resolve("lake").resolve(if (idx < 0) "warm" else s"p$idx"),
      nCycles)
    Files.createDirectories(st.staged); Files.createDirectories(st.land)
    val rng = new java.util.SplittableRandom(seed * 1000003L + idx + 1)
    val base = (idx + 1).toLong * 1000000L // disjoint event ids per pass
    var i = 0
    while (i < st.n) {
      val f = i / rowsPerFile
      val late = rng.nextDouble() < lateFrac
      val e = ets0 + f * fileSpanS + (rng.nextDouble() * fileSpanS).toLong -
        (if (late) (1 + rng.nextInt(6)) * fileSpanS else 0L)
      st.eventId(i) = base + i
      st.ets(i) = e
      st.tsUs(i) = e * 1000000L + rng.nextInt(1000000)
      st.user(i) = zipfUser(rng)
      st.etype(i) = rng.nextInt(Gen.EventTypes.size)
      st.cents(i) = rng.nextInt(50000)
      st.alive(i) = true
      i += 1
    }
    for (f <- 0 until nCycles) {
      val p = st.staged.resolve(f"f$f%05d.parquet")
      Gen.writeOne(frame(c, st, (f * rowsPerFile until (f + 1) * rowsPerFile).map(j => row(st, j))), p)
      st.landedBytes += Files.size(p)
    }
    val s = c.spark
    st.progress0 = c.tracer.progressCount
    st.query = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(st.land.toString)
      .writeStream
      .option("checkpointLocation", st.root.resolve("ckpt").toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        st.batchStartNs.put(id, System.nanoTime())
        val v = c.tracer.span("txn.append") {
          TxnLog.appendBatch(s, st.table, df, id, statsCols = Seq("user_id", "ets"))
        }
        if (replayIds.contains(id)) {
          // an at-least-once sink retrying the same batch: must be skipped
          st.replays += 1
          val again = TxnLog.appendBatch(s, st.table, df, id, statsCols = Seq("user_id", "ets"))
          if (again == v && TxnLog.latestVersion(s, st.table).contains(v)) st.replaysSkipped += 1
        }
      }
      .start()
    states += st
    st
  }

  private def row(st: PassState, j: Int): Row =
    Row(st.eventId(j), java.time.LocalDateTime.ofEpochSecond(st.tsUs(j) / 1000000L,
      ((st.tsUs(j) % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC),
      st.user(j), Gen.EventTypes(st.etype(j)), st.cents(j) / 100.0, st.ets(j))

  private def frame(c: Ctx, st: PassState, rows: Seq[Row]): DataFrame =
    c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def centsCol = round(col("value") * 100.0).cast(LongType)

  private def runPass(c: Ctx, st: PassState): Unit = {
    val s = c.spark
    val t = c.tracer
    var version = 0
    def committed(op: String): Unit = {
      version += 1
      st.totalsAt(version) = st.totals()
      c.check(s"${st.root.getFileName} $op -> version $version",
        TxnLog.latestVersion(s, st.table).contains(version))
    }
    for (cyc <- 1 to st.nCycles) {
      val f = cyc - 1
      val src = st.staged.resolve(f"f$f%05d.parquet")
      val dst = st.land.resolve(src.getFileName)
      val before = TxnLog.latestVersion(s, st.table)
      val t0 = System.nanoTime()
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      st.landNs(f) = t0
      // poll every 2 ms: finer polling would steal a core from the engine
      while (TxnLog.latestVersion(s, st.table) == before)
        java.util.concurrent.locks.LockSupport.parkNanos(2000000L)
      val t1 = System.nanoTime()
      st.appendMs += (t1 - t0) / 1e6
      t.record("lake.append", t0, t1)
      st.landed += rowsPerFile
      st.ops += mutable.LinkedHashMap("op" -> "append", "file" -> dst.toString)
      committed("append")

      // the most recent hour of event time
      val hi = ets0 + cyc * fileSpanS
      read(c, st, "ets", hi - 3600, hi, col("ets").between(hi - 3600, hi),
        j => st.ets(j) >= hi - 3600 && st.ets(j) <= hi, s"cycle $cyc hour read")
      // ~10 users chosen by Zipf
      val us = Seq.fill(10)(zipfUser(st.rng)).distinct
      read(c, st, "user_id", us.min, us.max, col("user_id").isin(us: _*),
        j => us.contains(st.user(j)), s"cycle $cyc user read")

      val last = cyc == st.nCycles
      if (cyc % mergeEvery == 0 || (st.idx < 0 && last)) {
        val live = (0 until st.landed).filter(st.alive)
        val pick = Iterator.continually(live(st.rng.nextInt(live.size))).distinct
          .take(math.min(mergeRows, live.size)).toSeq
        pick.foreach(j => st.cents(j) += 1 + st.rng.nextInt(100))
        val srcDf = frame(c, st, pick.map(j => row(st, j)))
        t.span("txn.merge")(TxnLog.mergeInto(s, st.table, srcDf, "event_id"))
        st.ops += mutable.LinkedHashMap("op" -> "merge",
          "rows" -> pick.map(j => Seq(st.eventId(j), st.cents(j))))
        committed("merge")
      }
      if (cyc % deleteEvery == 0 || (st.idx < 0 && last)) {
        // a Zipf-chosen user who has live rows: a user with none makes the
        // delete a no-op that publishes nothing, and how many of a pass's
        // deletes did work would then vary with the seed
        def hasRows(u: Long) = (0 until st.landed).exists(j => st.alive(j) && st.user(j) == u)
        val u = Iterator.continually(zipfUser(st.rng)).take(1000).find(hasRows)
          .getOrElse(st.user((0 until st.landed).filter(st.alive).head))
        (0 until st.landed).foreach(j => if (st.user(j) == u) st.alive(j) = false)
        t.span("txn.delete_mor")(TxnLog.deleteWhereMoR(s, st.table, "user_id", u, u))
        st.ops += mutable.LinkedHashMap("op" -> "delete", "user" -> u)
        committed("delete")
        if (st.idx < 0) {
          // the warm-up also deletes a user who never had rows: that must
          // not publish a version
          val none = Iterator.continually(zipfUser(st.rng))
            .find(v => !(0 until st.landed).exists(st.user(_) == v)).get
          TxnLog.deleteWhereMoR(s, st.table, "user_id", none, none)
          st.ops += mutable.LinkedHashMap("op" -> "delete", "user" -> none)
          c.check(s"${st.root.getFileName} no-op delete publishes nothing",
            TxnLog.latestVersion(s, st.table).contains(version))
        }
      }
      if (cyc % compactEvery == 0 || (st.idx < 0 && last)) {
        t.span("txn.compact")(TxnLog.compact(s, st.table))
        st.ops += mutable.LinkedHashMap("op" -> "compact")
        committed("compact")
      }
    }
    // the change feed of the last few versions nets to the snapshot delta
    val from = math.max(1, version - 4)
    val ch = TxnLog.changes(s, st.table, from, version)
      .agg(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)),
        sum(when(col("_change_type") === "insert", centsCol).otherwise(-centsCol)))
      .collect()(0)
    val (r1, c1) = st.totalsAt(version); val (r0, c0) = st.totalsAt(from)
    c.check(s"${st.root.getFileName} changes($from,$version) net",
      ch.getLong(0) == r1 - r0 && ch.getLong(1) == c1 - c0)
    // time travel to the middle of the pass
    val mid = math.max(1, version / 2)
    val tt = TxnLog.read(s, st.table, Some(mid)).agg(count(lit(1)), sum(centsCol)).collect()(0)
    c.check(s"${st.root.getFileName} read(version $mid)",
      (tt.getLong(0), tt.getLong(1)) == st.totalsAt(mid))
  }

  /** One stats-pruned read plus a collected aggregate, checked against
    * the model. */
  private def read(c: Ctx, st: PassState, statsCol: String, lo: Long, hi: Long,
      pred: org.apache.spark.sql.Column, inModel: Int => Boolean, what: String): Unit = {
    val t = c.tracer
    val t0 = System.nanoTime()
    val (df, kept, total) = t.span("txn.resolve")(TxnLog.readSkipped(c.spark, st.table, statsCol, lo, hi))
    val q = df.filter(pred).agg(count(lit(1)), coalesce(sum(centsCol), lit(0L)))
    if (t.active) t.span("plan.optimize")(q.queryExecution.executedPlan)
    val r = t.span("txn.scan")(q.collect()(0))
    val t1 = System.nanoTime()
    st.readMs += (t1 - t0) / 1e6
    t.record("lake.read", t0, t1)
    st.filesOpened += kept; st.filesTotal += total
    var n = 0L; var sc = 0L; var j = 0
    while (j < st.landed) { if (st.alive(j) && inModel(j)) { n += 1; sc += st.cents(j) }; j += 1 }
    c.check(s"${st.root.getFileName} $what", r.getLong(0) == n && r.getLong(1) == sc)
  }

  /** Stop the pass's query, check replays, record table shape and the
    * operation log with the final snapshot's totals. */
  private def finish(c: Ctx, st: PassState, layers: mutable.Map[String, Double],
      traced: Boolean = false): Unit = {
    val s = c.spark
    st.query.stop()
    c.check(s"${st.root.getFileName} replayed batch ids skipped",
      st.replays > 0 && st.replaysSkipped == st.replays)
    val v = TxnLog.latestVersion(s, st.table).get
    val fin = TxnLog.read(s, st.table).agg(count(lit(1)), coalesce(sum(centsCol), lit(0L)),
      coalesce(sum(col("event_id")), lit(0L)), coalesce(sum(col("user_id")), lit(0L))).collect()(0)
    c.check(s"${st.root.getFileName} final snapshot totals",
      (fin.getLong(0), fin.getLong(1)) == st.totalsAt(v))
    val tableDir = java.nio.file.Paths.get(st.table)
    def bytesUnder(p: Path): Long = {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
    }
    val live = TxnLog.snapshotFiles(s, st.table, v)
    val liveBytes = live.map(f => Files.size(tableDir.resolve(f))).sum
    val manifests = Files.list(tableDir.resolve("_txnlog"))
      .filter(_.getFileName.toString.endsWith(".manifest")).count()
    Files.writeString(st.root.resolve("oplog.json"), Json(mutable.LinkedHashMap[String, Any](
      "ops" -> st.ops.toSeq,
      "final" -> mutable.LinkedHashMap("rows" -> fin.getLong(0), "cents" -> fin.getLong(1),
        "sum_event_id" -> fin.getLong(2), "sum_user_id" -> fin.getLong(3)))))
    if (traced) {
      val spans = c.tracer.spansFrom(0)
      def medMs(n: String, from: Seq[Span]) = Layers.median(from.filter(_.name == n).map(_.seconds * 1e3))
      val mine = spans.filter(sp => sp.start >= st.landNs(0))
      for ((k, n) <- Seq("txn.append_ms" -> "txn.append", "txn.merge_ms" -> "txn.merge",
          "txn.delete_mor_ms" -> "txn.delete_mor", "txn.compact_ms" -> "txn.compact",
          "txn.resolve_ms" -> "txn.resolve", "txn.scan_ms" -> "txn.scan"))
        layers(k) = medMs(n, mine)
      layers("txn.live_files") = live.size
      layers("txn.manifests") = manifests.toDouble
      layers("txn.write_amp") = bytesUnder(tableDir.resolve("data")).toDouble / st.landedBytes
      layers("txn.space_amp") = bytesUnder(tableDir).toDouble / math.max(1L, liveBytes)
      layers("txn.replays_skipped") = st.replaysSkipped
      layers("lake.append_p50_ms") = Layers.percentile(st.appendMs.toSeq, 0.5)
      layers("lake.append_p90_ms") = Layers.percentile(st.appendMs.toSeq, 0.9)
      layers("lake.read_p50_ms") = Layers.percentile(st.readMs.toSeq, 0.5)
      layers("lake.read_p90_ms") = Layers.percentile(st.readMs.toSeq, 0.9)
      val prog = c.tracer.progressFrom(st.progress0).filter(_.inputRows > 0)
      layers("stream.batches") = prog.size
      layers("stream.trigger_ms") = Layers.median(prog.map(_.triggerMs.toDouble))
      layers("stream.list_ms") = Layers.median(prog.map(_.latestOffsetMs.toDouble))
      layers("stream.discovery_ms") = Layers.median((0 until st.nCycles).flatMap { f =>
        Option(st.batchStartNs.get(f.toLong)).map(b => (b - st.landNs(f)) / 1e6)
      })
    }
  }
}
