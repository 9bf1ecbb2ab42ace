package graft

import graft.operators.QText
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The dedup chain's cost shape on a fresh input (every memo entry built
  * anew, as on each day of a nightly batch):
  *  - connected components and the SemDeDup verdict cost a bounded number
  *    of Spark jobs, not a few per propagation round or Lloyd iteration;
  *  - the MinHash signature is a per-row projection: no shuffle and no
  *    aggregate between the shingle table and the band keys;
  *  - their memo entries are driver-built relations, so dropping every
  *    block the run cached leaves the keys answering the same rows. */
class DedupJobsSpec extends SparkSpec {

  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("dedup_cc_cluster and dedup_semdedup run in a bounded number of jobs") {
    val keys = Seq("dedup_lsh_pairs", "dedup_cc_cluster", "dedup_semdedup")
    /** (Spark jobs, codegen compiles) per key, in the nightly order. */
    def run(d: String): Map[String, (Int, Long)] = keys.map { k =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val jobs = jobsOf(SparkEntry.queries(k)(spark, d)
        .write.format("noop").mode("overwrite").save()).size
      k -> (jobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }.toMap
    val first = run(freshCopy(sf01)) // class loading and first compiles
    val measured = run(freshCopy(sf01))
    info(s"(jobs, compiles) per key, first run: $first; on a second fresh copy: $measured")
    val jobs = measured.map { case (k, (j, _)) => k -> j }
    // measured 7 and 3 (27 and 28 with jobs per propagation round and per
    // Lloyd iteration); cc's bound leaves 3 jobs of slack. semdedup's 3
    // are the corpus collect, its one-row dimension probe and the write:
    // the table schema is bound without a job, and the driver-built
    // verdict is emitted in vec_id order, so no sort job may come back
    assert(jobs("dedup_cc_cluster") <= 10, jobs)
    assert(jobs("dedup_semdedup") <= 3, jobs)
  }

  test("the MinHash signature is per row: no shuffle or aggregate between " +
      "the shingle table and the LSH band keys") {
    def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    /** Per path from `p` down to the first node that outputs the shingle
      * arrays `shs`: whether it crosses a shuffle or an aggregate. */
    def shufflesAboveShingles(p: SparkPlan, crossed: Boolean): Seq[Boolean] =
      if (p.output.exists(_.name == "shs")) Seq(crossed)
      else p.children.flatMap(shufflesAboveShingles(_, crossed ||
        p.isInstanceOf[ShuffleExchangeExec] || p.isInstanceOf[BaseAggregateExec]))
    val plan = planOf(QText.lshCandidates(spark, freshCopy(sf01)))
    val bands = plan.collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "bk") => g
    }
    assert(bands.size == 1, plan.toString)
    val paths = shufflesAboveShingles(bands.head, crossed = false)
    assert(paths.nonEmpty && !paths.contains(true), plan.toString)
  }

  test("cc and semdedup memo entries survive dropping the run's cached blocks") {
    val d = freshCopy(sf01)
    val keys = Seq("dedup_cc_cluster", "dedup_semdedup")
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
