package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One timed pass: wall and CPU seconds, the client-visible operation
  * latencies, Spark storage held at its end, and (traced passes only) the
  * per-layer metrics. */
final case class PassRec(traced: Boolean, wallS: Double, cpuS: Double, stealS: Double,
    opsMs: Seq[Double], cachedMb: Double, layers: Map[String, Double])

/** What a workload sees of the run. `check` counts one verified output. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val info = mutable.LinkedHashMap[String, Any]()

  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }
}

trait Workload {
  /** Generate the run's shared inputs and run the untimed warm-up pass. */
  def setup(c: Ctx): Unit
  /** Make the next pass's fresh input (untimed). */
  def prepare(c: Ctx, pass: Int): Unit
  /** One timed pass; returns its operation latencies in ms. Layer
    * metrics that only exist while tracing go into `layers`. */
  def pass(c: Ctx, pass: Int, layers: mutable.Map[String, Double]): Seq[Double]
  /** Untimed follow-up of a pass, run before its cached blocks are
    * dropped (e.g. reading memoized results for quality metrics). */
  def afterPass(c: Ctx, pass: Int, traced: Boolean, layers: mutable.Map[String, Double]): Unit = ()
  /** Untimed end-of-run output checks. */
  def checks(c: Ctx): Unit
}

/** Runs one workload: set-up (session start, input generation, warm-up),
  * timed passes on fresh inputs until `--seconds` of pass time has been
  * measured, then output checks. Writes `result.json` into the work dir;
  * `run.py` turns it into the benchmark's result line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = loadAvg
    val calib0 = Calib.run(cores)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // one-off session/executor/codegen start-up, part of set-up
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val tracer = new Tracer
    val c = new Ctx(spark, tracer, work, seed)
    val wl: Workload = workload match {
      case "daily_batch" => new DailyBatch
      case "lake_ingest" => new Lake
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.setup(c)
    dropCaches(spark)
    val warm1S = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    // A second warm-up: an untimed pass on an input of the same shape
    // (fresh, or a copy a workload checks its first results with). After the
    // first, the JIT is still compiling the engine's hot paths for most of
    // a pass, and the timed passes would carry that (measured on 4 cores:
    // the first pass after one warm-up ran 30-50% slower than the third).
    wl.prepare(c, 0)
    wl.pass(c, 0, mutable.Map())
    wl.afterPass(c, 0, traced = false, mutable.Map())
    dropCaches(spark)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // the traced run traces only its second of three passes: the traced
    // time minus the mean of the untraced ones around it is the tracing
    // overhead, with the remaining JIT warm-up trend cancelled
    val minPasses = if (trace) 3 else 1
    val passes = mutable.ArrayBuffer[PassRec]()
    var measured = 0.0
    var prepareS = 0.0
    while ((passes.size < minPasses || measured < seconds) && passes.size < 100) {
      val i = passes.size + 1
      val p0 = System.nanoTime()
      wl.prepare(c, i)
      prepareS += (System.nanoTime() - p0) / 1e9
      val traced = trace && passes.size == 1
      val layers = mutable.LinkedHashMap[String, Double]()
      if (traced) {
        spark.sparkContext.addSparkListener(tracer.sparkListener)
        spark.streams.addListener(tracer.streamListener)
        spark.listenerManager.register(OutRows)
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      }
      val t0 = tracer.taskCount; val sp0 = tracer.size
      tracer.active = traced
      val cpu0 = cpuNanos; val st0 = stealS; val w0 = System.nanoTime()
      val ops = wl.pass(c, i, layers)
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuNanos - cpu0) / 1e9
      val steal = stealS - st0
      tracer.active = false
      val cachedMb = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
      if (traced) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer.sparkListener)
        spark.streams.removeListener(tracer.streamListener)
        spark.listenerManager.unregister(OutRows)
        layers ++= Layers.fromTasks(tracer.tasksFrom(t0), wall, cores)
        layers ++= spanLayers(tracer.spansFrom(sp0), layers.getOrElse("memo.build_s", 0.0))
        layers("memo.cached_mb") = cachedMb
        val out = OutRows.take()
        layers("scan.rows_per_out_row") =
          if (out > 0) layers("scan.rows") / out else 0.0
      }
      wl.afterPass(c, i, traced, layers)
      dropCaches(spark)
      passes += PassRec(traced, wall, cpu, steal, ops, cachedMb, layers.toMap)
      measured += wall
    }
    val checks0 = System.nanoTime()
    wl.checks(c)
    c.info("phases_s") = mutable.LinkedHashMap("session" -> sessionS,
      "first_warmup_end" -> warm1S, "setup" -> setupS,
      "prepare" -> prepareS, "passes" -> measured,
      "checks" -> (System.nanoTime() - checks0) / 1e9)
    val calib1 = Calib.run(cores)
    val load1 = loadAvg

    val timed = passes.filter(p => !p.traced)
    val tracedP = passes.filter(_.traced)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "pass_s" -> Layers.median(timed.map(_.wallS)),
      "cpu_s" -> Layers.median(timed.map(_.cpuS)),
      "op_gmean_ms" -> Layers.median(timed.map(p => Layers.gmean(p.opsMs))))
    val perLayer = mutable.LinkedHashMap[String, Double]()
    if (tracedP.nonEmpty) {
      val names = tracedP.flatMap(_.layers.keys).distinct
      for (n <- names) perLayer(n) = Layers.median(tracedP.map(_.layers.getOrElse(n, 0.0)))
      perLayer("trace.overhead_s") =
        Layers.median(tracedP.map(_.wallS)) - Layers.median(timed.map(_.wallS))
    }
    c.info("cached_mb") = Layers.median(passes.map(_.cachedMb))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "measured_s" -> measured,
      "attempted" -> (c.attempted + passes.map(_.opsMs.size.toLong).sum),
      "failed" -> c.failed,
      "failures" -> c.failures.toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> perLayer,
      "passes" -> passes.map(p => mutable.LinkedHashMap[String, Any](
        "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "steal_s" -> p.stealS,
        "ops" -> p.opsMs.size, "ops_ms" -> p.opsMs, "cached_mb" -> p.cachedMb)).toSeq,
      "machine" -> mutable.LinkedHashMap[String, Any](
        "nproc" -> cores, "load_avg_start" -> load0, "load_avg_end" -> load1,
        "calib_single_s_start" -> calib0._1, "calib_parallel_s_start" -> calib0._2,
        "calib_single_s_end" -> calib1._1, "calib_parallel_s_end" -> calib1._2),
      "info" -> c.info)
    if (trace) writeSpans(work.resolve("spans.tsv"), tracer)
    spark.stop()
    Files.writeString(work.resolve("result.json"), Json(result))
  }

  /** Layer totals from the pass's spans: seconds per span name, with
    * `plan.build` net of the memo builds the workload attributed to the
    * pass (`memo.build_s`, from `Memo`'s build log: every build runs
    * eagerly inside `SparkEntry.queries`). */
  private def spanLayers(spans: Seq[Span], memoS: Double): Map[String, Double] = {
    val by = spans.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
    val out = mutable.LinkedHashMap[String, Double]()
    for ((k, v) <- by if k.startsWith("q.")) out(k + ".s") = v
    if (by.contains("plan.build")) out("plan.build_s") = math.max(0.0, by("plan.build") - memoS)
    if (by.contains("plan.optimize")) out("plan.optimize_s") = by("plan.optimize")
    out.toMap
  }

  private def writeSpans(p: Path, t: Tracer): Unit = {
    val sb = new StringBuilder("name\tstart_ns\tend_ns\tparent\n")
    t.spansFrom(0).foreach(s => sb.append(s"${s.name}\t${s.start}\t${s.end}\t${s.parent}\n"))
    Files.writeString(p, sb.toString)
  }

  /** Pass hygiene: the engine's `Memo` never releases what it persists or
    * checkpoints, so drop every cached and checkpointed block from
    * outside once a pass is done (its inputs are never read again). */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time the hypervisor gave to other guests while this one wanted
    * it (all cores, the `steal` column of /proc/stat, 100 ticks a second);
    * 0 where the kernel does not report it. On a shared host it shows a
    * contended pass that load average and the calibration burn miss. */
  def stealS: Double =
    try {
      val f = java.nio.file.Paths.get("/proc/stat")
      val cpu = Files.readAllLines(f).get(0).trim.split("\\s+")
      if (cpu(0) == "cpu" && cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  private def cpuNanos: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Fixed CPU calibration burn, once on one thread and once on every core:
  * parallel ≈ single on an idle machine; a ratio of k means only cores/k
  * were really available, which load average alone cannot show. */
object Calib {
  private val sink = new java.util.concurrent.atomic.AtomicLong()
  private def burn(): Unit = {
    var x = 1.0; var i = 0L
    while (i < 50000000L) { x = x * 1.0000001 + 1e-9; i += 1 }
    sink.addAndGet(java.lang.Double.doubleToLongBits(x))
  }
  def run(cores: Int): (Double, Double) = {
    val t0 = System.nanoTime(); burn()
    val single = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ts = (1 to cores).map(_ => new Thread(() => burn()))
    ts.foreach(_.start()); ts.foreach(_.join())
    (single, (System.nanoTime() - t1) / 1e9)
  }
}

/** Rows produced by each finished query of a traced pass: the
  * `numOutputRows` of the top-most plan node that reports one. */
object OutRows extends org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  private val total = new java.util.concurrent.atomic.AtomicLong()
  def take(): Long = total.getAndSet(0L)

  private def rows(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
    case q: QueryStageExec => rows(q.plan)
    case _ if p.metrics.contains("numOutputRows") => Some(p.metrics("numOutputRows").value)
    case _ => p.children.iterator.map(rows).collectFirst { case Some(n) => n }
  }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
    rows(qe.executedPlan).foreach(n => total.addAndGet(n))
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
}

/** Minimal JSON encoder for the run's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
