package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** One timed region: a layer call (`plan.build`, `txn.append`, `q.<key>`,
  * …) with its wall-clock start and end in nanoseconds and the index of
  * the enclosing span (−1 at top level). */
final case class Span(name: String, start: Long, end: Long, parent: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder plus Spark's public listener counters. Spans
  * are only collected while `active` is set and the listeners are only
  * registered around traced passes, so one process can time an untraced
  * pass and a traced pass back to back (the difference is the tracing
  * overhead). Nothing is written until the run ends. */
final class Tracer {
  @volatile var active: Boolean = false
  val spans = new ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Time `body` as span `name` when tracing is active; otherwise just
    * run it. Spans may open on several threads (the streaming batch
    * thread and the client); each thread keeps its own parent chain. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.get().headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      val idx = spans.synchronized { spans += Span(name, t0, t0, parent); spans.size - 1 }
      stack.set(idx :: stack.get())
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized { spans(idx) = spans(idx).copy(end = t1) }
      }
    }

  /** Record an already-measured region (e.g. a latency that starts on
    * one thread and ends on another). */
  def record(name: String, start: Long, end: Long): Unit =
    if (active) spans.synchronized { spans += Span(name, start, end, -1) }

  def spansFrom(i: Int): Seq[Span] = spans.synchronized(spans.drop(i).toSeq)
  def size: Int = spans.synchronized(spans.size)

  // ---- Spark listener counters (task and stage level) ----
  // The listeners record everything they see; `Main` registers them only
  // around traced passes and slices the rows by pass after draining the
  // listener bus.
  final case class TaskRow(stage: Int, attempt: Int, durMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, schedMs: Long, inBytes: Long, inRecs: Long,
      shWrite: Long, shRead: Long, spill: Long)
  val tasks = new ArrayBuffer[TaskRow]()

  val sparkListener: SparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && e.taskInfo != null) {
        val m = e.taskMetrics; val i = e.taskInfo
        val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        tasks.synchronized {
          tasks += TaskRow(e.stageId, e.stageAttemptId, i.duration, m.executorRunTime,
            m.executorCpuTime, m.jvmGCTime, math.max(0L, sched),
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }
  def tasksFrom(i: Int): Seq[TaskRow] = tasks.synchronized(tasks.drop(i).toSeq)
  def taskCount: Int = tasks.synchronized(tasks.size)

  // ---- Structured Streaming progress counters ----
  final case class Progress(inputRows: Long, triggerMs: Long, latestOffsetMs: Long)
  val progress = new ArrayBuffer[Progress]()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
        progress.synchronized {
          progress += Progress(e.progress.numInputRows, ms("triggerExecution"), ms("latestOffset"))
        }
      }
  }
  def progressFrom(i: Int): Seq[Progress] = progress.synchronized(progress.drop(i).toSeq)
  def progressCount: Int = progress.synchronized(progress.size)
}

/** Per-layer metrics derived from one traced pass. */
object Layers {
  private def med(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** exec.*, scan.* and shuffle.* from the pass's finished tasks. */
  def fromTasks(ts: Seq[Tracer#TaskRow], wallS: Double, cores: Int): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val byStage = ts.groupBy(t => (t.stage, t.attempt))
    // skew: max / median task duration in the worst stage that does real
    // work (a full wave of tasks and ≥ 50 ms of task time)
    val skews = byStage.values.filter(g => g.size >= cores && g.map(_.durMs).sum >= 50)
      .map { g => val d = g.map(_.durMs.toDouble); d.max / math.max(1.0, med(d)) }
    val runS = ts.map(_.runMs).sum / 1e3
    Map(
      "exec.tasks" -> ts.size.toDouble,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.sched_delay_s" -> ts.map(_.schedMs).sum / 1e3,
      "exec.busy_frac" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "exec.skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "scan.read_mb" -> ts.map(_.inBytes).sum / mb,
      "scan.rows" -> ts.map(_.inRecs).sum.toDouble,
      "shuffle.write_mb" -> ts.map(_.shWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shRead).sum / mb,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb,
      "shuffle.stages" -> byStage.count(_._2.exists(_.shWrite > 0)).toDouble)
  }

  def median(xs: scala.collection.Seq[Double]): Double = med(xs)

  /** Geometric mean: every operation's relative change counts equally,
    * whatever its share of the pass time. */
  def gmean(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def percentile(xs: scala.collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      // linear interpolation between closest ranks
      val s = xs.sorted; val r = p * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}
