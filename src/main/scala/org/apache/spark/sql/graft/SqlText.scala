package org.apache.spark.sql.graft

import java.util.Locale

import graft.sources.Tables.sqlIntSums
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NameParameterizedQuery, PlanWithUnresolvedIdentifier, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.classic

/** Runs engine SQL text over DataFrames bound by plan, never through the
  * caller's session catalog: the text is parsed, and each relation it
  * names is replaced by the bound DataFrame's plan under that name — in
  * expression subqueries, CTE bodies (recursive ones included) and
  * `IDENTIFIER(:tbl)` targets alike. A name that is neither bound nor a
  * CTE of the text fails; a CTE shadows a bound name, as in SQL. The
  * 128-bit sums `g_sum4u`, `g_revsum4u`, `g_revrow4u` and `g_sumu4`
  * ([[graft.sources.Tables.sqlIntSums]]) are bound the same way, so no
  * temp view or temp function is written, and the caller's own views and
  * functions of the same names are neither read nor replaced. Other
  * function names resolve as in `spark.sql`. `args` binds `:name`
  * parameter markers as typed literals, as `spark.sql` does with an args map.
  *
  * {{{
  * SqlText.on(s, "SELECT count(*) FROM li WHERE l_quantity > :q",
  *   Map("q" -> 10))("li" -> t(s, d, "lineitem"))
  * }}} */
object SqlText {
  def on(s: SparkSession, text: String, args: Map[String, Any] = Map.empty)(
      tables: (String, DataFrame)*): DataFrame = {
    val session = s.asInstanceOf[classic.SparkSession]
    session.withActive {
      val parsed = session.sessionState.sqlParser.parsePlan(text)
      val bound = tables.map { case (n, df) =>
        key(n) -> df.asInstanceOf[classic.DataFrame].logicalPlan }.toMap
      val ctes = cteNames(parsed)
      def bind(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
        case u: UnresolvedRelation => u.multipartIdentifier match {
          case Seq(n) if ctes(key(n)) => u
          case Seq(n) if bound.contains(key(n)) => SubqueryAlias(n, bound(key(n)))
          case _ => throw new IllegalArgumentException(
            s"SQL text reads unbound relation ${u.name}; bound: ${bound.keys.mkString(", ")}")
        }
        case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
          case (n, q, depth) => (n, bind(q).asInstanceOf[SubqueryAlias], depth)
        })
        case i: PlanWithUnresolvedIdentifier =>
          i.copy(planBuilder = (id, cs) => bind(i.planBuilder(id, cs)))
        case node => node.transformExpressionsUp {
          case f: UnresolvedFunction if f.nameParts.size == 1 &&
              sqlIntSums.contains(key(f.nameParts.head)) =>
            sqlIntSums(key(f.nameParts.head))(f.arguments) match {
              case agg: AggregateFunction => agg.toAggregateExpression(f.isDistinct, f.filter)
              case e => e
            }
        }
      }
      val plan = bind(parsed)
      val (names, values) = args.toSeq.unzip
      classic.Dataset.ofRows(session,
        if (args.isEmpty) plan
        else NameParameterizedQuery(plan, names, values.map(Literal(_))))
    }
  }

  /** A clone of the caller's session with `confs` set on it: for a key
    * whose subject is session state (SQL DDL, a planner conf), so the
    * caller's own functions and confs are neither replaced nor seen
    * changed, even by a query running beside it. */
  def cloned(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  private def key(name: String): String = name.toLowerCase(Locale.ROOT)

  /** Every CTE name the text defines, in any scope. */
  private def cteNames(p: LogicalPlan): Set[String] =
    p.collectWithSubqueries { case w: UnresolvedWith => w.cteRelations }.flatten
      .flatMap { case (n, q, _) => cteNames(q) + key(n) }.toSet
}
