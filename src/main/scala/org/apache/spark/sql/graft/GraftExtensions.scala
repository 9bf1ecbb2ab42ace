package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One-stop Spark extension entry point for the graft engine — the
  * production wiring for everything the library adds to a session:
  *
  *   spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`).
  * Injects the as-of join planner strategy and SQL names for the engine's
  * native functions (codegen cosine kernel, shingle/bigram generators, the
  * vector-centroid aggregate) into EVERY session built from that config.
  *
  * This is the only place those kernels get SQL names. The engine's own
  * operators call them as Column functions (`CosineSim.of`,
  * `VecCentroid.of`, ...) built through [[ColumnBridge]], so running a
  * query never writes to the caller's function registry. Both paths
  * construct the same Expression, so plans are identical either way.
  * ExtensionsSpec proves the injection using the same private[sql] build
  * hooks Spark itself applies at session construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofStrategy)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def info(clazz: String, name: String): ExpressionInfo =
    new ExpressionInfo(clazz, name)

  /** The engine's function surface, as extension descriptors. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info("graft.plans.CosineSim", "cosine_sim"),
      (e: Seq[Expression]) => graft.plans.CosineSim(e.head, e(1))),
    (FunctionIdentifier("bigrams"),
      info("graft.functions.BigramExplode", "bigrams"),
      (e: Seq[Expression]) => graft.functions.BigramExplode(e.head)),
    (FunctionIdentifier("shingles3"),
      info("graft.functions.TrigramShingles", "shingles3"),
      (e: Seq[Expression]) => graft.functions.TrigramShingles(e.head)),
    (FunctionIdentifier("vec_centroid"),
      info("graft.functions.VecCentroid", "vec_centroid"),
      (e: Seq[Expression]) => graft.functions.VecCentroid(e.head)))

  /** Test probe (wraps private[sql] build hooks — callable from anywhere,
    * the hooks stay encapsulated here): apply the extensions exactly the
    * way session construction does and report what got injected. */
  def probeInjected(
      session: org.apache.spark.sql.classic.SparkSession): (Boolean, Seq[String]) = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val hasStrategy = ext.buildPlannerStrategies(session).contains(AsofStrategy)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    (hasStrategy, reg.listFunction().map(_.funcName).sorted)
  }
}
