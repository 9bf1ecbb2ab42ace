package graft

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
}

object SparkSpec {
  /** The JVM's active test session, built anew if none is live. */
  def session(): SparkSession = SparkEntry.localBuilder("local[4]", 4)
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}")
    .getOrCreate()
}
