package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session per suite (SURVEY §5). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()

  val sf: String = "/root/testdata/sf0.001"

  /** A fresh copy of an input directory: memo entries are keyed by the
    * directory, so every memoized build runs again on the copy. */
  def freshCopy(dir: String): String = {
    val dst = java.nio.file.Paths.get(Staging.trackedTempDir("graft_copy_"))
    java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .forEach(f => java.nio.file.Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }

  /** The Spark jobs started while `f` runs, each named by its result
    * stage (call site and task count), counted by job group so no other
    * thread's jobs leak in. */
  def jobsOf(f: => Unit): Seq[String] = {
    val group = s"jobsof-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          val result = e.stageInfos.maxBy(_.stageId)
          jobs.add(s"${result.name} [${result.numTasks} tasks]")
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
}

object SparkSpec {
  /** The JVM's active test session, built anew if none is live. */
  def session(): SparkSession = SparkEntry.localBuilder("local[4]", 4)
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}")
    .getOrCreate()
}
