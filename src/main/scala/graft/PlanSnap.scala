package graft

import java.nio.file.{Files, Paths}

/** Optimization-round plan snapshotter: writes `.explain("formatted")` of
  * each named key to `plans/r17/<key>_<suffix>.txt` so before/after plan
  * claims in OPTIMIZATION_r17.md are checkable without running Spark.
  *
  * Args: sfDir suffix key...   (suffix is e.g. "before" or "after")
  *
  * Session config mirrors Bench (local[32], shuffle.partitions=32) so the
  * committed plans are the ones the driver's bench actually executes. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localBuilder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args(0)
    val suffix = args(1)
    Files.createDirectories(Paths.get("plans/r17"))
    args.drop(2).foreach { k =>
      // build: pseudo-keys snapshot an exposed un-memoized build dataflow
      // (the declared key's plan is just the memo's checkpoint scan)
      val df = k match {
        case "build_knnjoin" => operators.QSim.knnJoinBuild(spark, d)
        case _ => SparkEntry.queries(k)(spark, d)
      }
      // queryExecution.explainString(FormattedMode) == df.explain("formatted")
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"plans/r17/${k}_$suffix.txt"), txt)
      println(s"[plansnap] wrote plans/r17/${k}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
