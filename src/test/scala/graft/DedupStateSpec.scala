package graft

import graft.functions.MinHashSig
import graft.operators.{AnnKMeans, ConnectedComponents, QRound7b, QSim, QText}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The dedup chain's small-state paths: under the state gate
  * (`graft.graph.broadcastStateMaxRows`) connected components, k-means and
  * the SemDeDup verdict run on one collected copy on the driver; with the
  * gate at 0 they run distributed. Both must give the same schema and
  * rows. And the per-row MinHash kernel must equal the explode/groupBy
  * signature it replaced, interpreted and generated. */
class DedupStateSpec extends SparkSpec {

  private val gateKey = "graft.graph.broadcastStateMaxRows"
  private val scales =
    Seq("sf0.01", "sf0.1").map(n => s"${new java.io.File(sf).getParent}/$n")

  private def gatedOff[T](f: => T): T = {
    spark.conf.set(gateKey, "0")
    try f finally spark.conf.unset(gateKey)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def assertSame(local: DataFrame, dist: DataFrame,
      pathShows: Boolean = true): Unit = {
    if (pathShows) {
      assert(isLocal(local), "the default gate must take the driver path")
      assert(!isLocal(dist), "gate 0 must take the distributed path")
    }
    assert(local.schema == dist.schema)
    val (l, d) = (rows(local), rows(dist))
    assert(l.nonEmpty)
    assert(l == d)
  }

  test("connected components: driver union-find == distributed propagation") {
    import spark.implicits._
    // chains in both id orders, a star, and two separate pairs
    val synthetic = Seq((9L, 8L), (8L, 7L), (7L, 6L), (1L, 5L), (5L, 2L),
      (20L, 21L), (20L, 22L), (20L, 23L), (40L, 41L), (31L, 30L))
      .toDF("src", "dst")
    val graphs = synthetic +: scales.map(d =>
      QText.lshPairsPersisted(spark, d)
        .select(col("a_id").as("src"), col("b_id").as("dst")))
    for (g <- graphs)
      assertSame(ConnectedComponents.labels(g), gatedOff(ConnectedComponents.labels(g)))
  }

  test("k-means: driver Lloyd fit == distributed fit") {
    for (d <- scales; (k, iters) <- Seq((16, 3), (4, 2))) {
      val e = QSim.embPersisted(spark, d)
      // both paths end in a driver-built k-row relation; the corpus copy
      // is what tells them apart
      assert(AnnKMeans.collectCorpus(e).isDefined)
      assert(gatedOff(AnnKMeans.collectCorpus(e)).isEmpty)
      assertSame(AnnKMeans.centroids(e, k, iters),
        gatedOff(AnnKMeans.centroids(e, k, iters)), pathShows = false)
    }
  }

  test("SemDeDup verdict: driver scan == distributed join") {
    for (d <- scales) {
      val local = QRound7b.semdedupVerdictBuild(spark, freshCopy(d))
      val dist = gatedOff(QRound7b.semdedupVerdictBuild(spark, freshCopy(d)))
      assertSame(local, dist)
      assert(local.filter(col("keep") === 0).count() > 0, "no duplicate removed")
    }
  }

  /** The signature spelling MinHashSig replaced: explode, one seeded md5
    * per band, 32 string mins per doc. */
  private def reference(sets: DataFrame): DataFrame = {
    val ex = sets.select(col("doc_id"), explode(col("shs")).as("sh"))
      .select(col("doc_id") +: (0 until 8).map { j =>
        md5(concat(lit(s"$j|"), col("sh")).cast(BinaryType)).as(s"h$j")
      }: _*)
    val mins = for (j <- 0 until 8; c <- 0 until 4) yield
      min(substring(col(s"h$j"), c * 8 + 1, 8)).as(s"k${j * 4 + c}")
    ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Every node of an executed plan, inside adaptive query stages too. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case x => x +: x.children.flatMap(nodes)
  }

  test("MinHashSig == the explode/groupBy signature, interpreted and generated") {
    import spark.implicits._
    val edge = Seq[(Long, Seq[String])](
      (1L, Seq("a b c")),                          // one shingle
      (2L, Seq("x y z", "x y z", "p q r")),        // duplicate shingles
      (3L, Seq("über straße café", "日本 語 テキスト")), // non-ASCII
      (4L, Seq("a b c", null, "d e f")),           // a null element
      (5L, Seq(null)),                             // only a null element
      (6L, Seq.empty))                             // no shingles
      .toDF("doc_id", "shs").repartition(2)
    val inputs = edge +: scales.map(QText.shingledPersisted(spark, _))
    for (sets <- inputs) {
      val want = rows(reference(sets))
      val gen = withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val df = QText.signature(sets)
        val got = rows(df)
        assert(nodes(df.queryExecution.executedPlan).exists {
          case w: WholeStageCodegenExec =>
            w.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[MinHashSig])))
          case _ => false
        }, "the kernel must run inside a generated stage")
        got
      }
      val interp = withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(rows(QText.signature(sets)))
      assert(gen == want)
      assert(interp == want)
    }
    // the kernel itself: a row without a non-null shingle is null
    val sig = Seq(Seq[String](null)).toDF("shs")
      .select(MinHashSig.of(col("shs"), 8, 4)).head()
    assert(sig == Row(null))
  }
}
