package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** The nightly churn chain's cost shape on a fresh input (every memo entry
  * built anew, as on each day of a nightly batch): the five churn keys of
  * the daily batch run in a bounded number of Spark jobs, and the chain's
  * memo entries survive losing the blocks the run cached. */
class ChurnJobsSpec extends SparkSpec {

  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("the daily churn keys run in a bounded number of jobs") {
    val keys = Seq("chp_features_label", "chp_sessionize_batch",
      "chp_churn_windows", "chp_train_auc", "serve_feature_snapshot")
    /** (Spark jobs, codegen compiles) per key, in the nightly order. */
    def run(d: String): Seq[(String, Seq[String], Long)] = keys.map { k =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val jobs = jobsOf(SparkEntry.queries(k)(spark, d)
        .write.format("noop").mode("overwrite").save())
      (k, jobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val first = run(freshCopy(sf01)) // class loading and first compiles
    val measured = run(freshCopy(sf01))
    def show(r: Seq[(String, Seq[String], Long)]) =
      r.map { case (k, j, c) => s"$k ${j.size}/$c" }.mkString(", ")
    info(s"(jobs/compiles) per key, first fresh copy: ${show(first)}; " +
      s"second: ${show(measured)}")
    measured.foreach { case (k, j, _) => info(s"$k jobs: ${j.mkString("; ")}") }
    val jobs = measured.map { case (k, j, _) => k -> j.size }.toMap
    // measured 3/4/1/1/4 = 13 jobs (38 when every table read ran a schema
    // job, the features and windows read events twice and range-sorted
    // their results, and every Newton pass was a job). Each key's count
    // includes its noop write; sessionize and the snapshot keep their
    // distributed shuffles, and the snapshot sorts its 3 rows on the driver
    val bound = Map("chp_features_label" -> 3, "chp_sessionize_batch" -> 4,
      "chp_churn_windows" -> 1, "chp_train_auc" -> 1, "serve_feature_snapshot" -> 4)
    bound.foreach { case (k, n) => assert(jobs(k) <= n, jobs) }
    assert(jobs.values.sum <= 18, jobs)
  }

  test("churn memo entries survive dropping the run's cached blocks") {
    val d = freshCopy(sf01)
    val keys = Seq("chp_features_label", "chp_train_auc", "chp_train_cv",
      "chp_score_linear")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val first = keys.map(k => rows(SparkEntry.queries(k)(spark, d)))
    sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    val again = keys.map(k => rows(SparkEntry.queries(k)(spark, d)))
    assert(first.forall(_.nonEmpty))
    assert(again == first)
  }
}
