package graft

import graft.operators.{ChurnModel, QPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.LocalRows

/** The churn chain's small-state paths: under the state gate
  * (`graft.graph.broadcastStateMaxRows`) the per-user activity table is
  * collected once, the churn features and churn-window report are built
  * and sorted on the driver, the feature snapshot is sorted there, and the
  * churn model fits on one copy of the fold table; with the gate at 0
  * every one of them runs distributed. Both must emit the same columns,
  * types and rows, in the same order — the MLP model too, whose L-BFGS
  * sums follow the feature table's partition layout. */
class ChurnStateSpec extends SparkSpec {

  private val gateKey = "graft.graph.broadcastStateMaxRows"
  private val scales =
    Seq("sf0.01", "sf0.1").map(n => s"${new java.io.File(sf).getParent}/$n")
  private val sortedKeys =
    Seq("chp_features_label", "chp_churn_windows", "serve_feature_snapshot")
  private val modelKeys = Seq("chp_train_auc", "chp_train_cv", "chp_train_mlp")

  private def gatedOff[T](f: => T): T = {
    spark.conf.set(gateKey, "0")
    try f finally spark.conf.unset(gateKey)
  }

  private def isLocal(df: DataFrame): Boolean = LocalRows.of(df).isDefined

  /** Per key: (schema, rows in emitted order), after asserting the path
    * taken on the input `d`. */
  private def run(d: String, local: Boolean): Seq[(String, String, Seq[String])] = {
    assert(isLocal(QPipeline.activity(spark, d)) == local)
    assert(isLocal(ChurnModel.folds(spark, d).table) == local)
    (sortedKeys ++ modelKeys).map { k =>
      val df = SparkEntry.queries(k)(spark, d)
      if (sortedKeys.contains(k)) assert(isLocal(df) == local, k)
      (k, df.schema.treeString, df.collect().map(_.toString).toSeq)
    }
  }

  test("churn keys: driver path == distributed path, rows in emitted order") {
    for (d <- scales) {
      val local = run(freshCopy(d), local = true)
      val dist = gatedOff(run(freshCopy(d), local = false))
      local.zip(dist).foreach { case ((k, ls, lr), (_, ds, dr)) =>
        assert(ls == ds, s"$k schema")
        assert(lr.nonEmpty, k)
        assert(lr == dr, s"$k rows")
      }
    }
  }
}
