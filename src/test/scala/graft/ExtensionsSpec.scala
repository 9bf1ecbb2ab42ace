package graft

import graft.functions.{BigramExplode, TrigramShingles, VecCentroid}
import graft.plans.CosineSim
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, GraftExtensions}

/** The spark.sql.extensions entry point must inject the same strategy and
  * build the same expressions as the kernels' Column functions. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects the asof strategy and all native functions") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val (hasStrategy, names) = GraftExtensions.probeInjected(classic)
    assert(hasStrategy, "AsofStrategy not injected")
    assert(names === Seq("bigrams", "cosine_sim", "shingles3", "vec_centroid"))
  }

  test("extension-injected builders produce the same plans as the Column functions") {
    def build(name: String, args: Column*): Expression = {
      val (_, _, builder) = GraftExtensions.functions.find(_._1.funcName == name).get
      builder(args.map(ColumnBridge.expression))
    }
    def of(c: Column): Expression = ColumnBridge.expression(c)
    val (a, b) = (col("a"), col("b"))
    assert(build("cosine_sim", a, b) === of(CosineSim.of(a, b)))
    assert(build("shingles3", a) === of(TrigramShingles.of(a)))
    assert(build("bigrams", a) === of(BigramExplode.of(a)))
    assert(build("vec_centroid", a) ===
      of(VecCentroid.of(a)).asInstanceOf[AggregateExpression].aggregateFunction)

    // and both evaluate to the same value end to end
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 4.0f))).toDF("a", "b")
    val viaColumn = df.select(CosineSim.of(a, b)).head.getDouble(0)
    val viaBuilder = df.select(ColumnBridge.column(build("cosine_sim", a, b)))
      .head.getDouble(0)
    assert(viaColumn === viaBuilder)
    assert(math.abs(viaColumn - 1.0) < 1e-12)
  }
}
