package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session per suite (SURVEY §5). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()

  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The JVM's active test session, built anew if none is live. */
  def session(): SparkSession = SparkEntry.localBuilder("local[4]", 4)
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}")
    .getOrCreate()
}
