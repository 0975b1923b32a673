package graft.sql

import org.apache.spark.sql.{DataFrame, GraftDataFrames, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.NamedParameterContext
import org.apache.spark.sql.catalyst.plans.logical.{SubqueryAlias, UnresolvedWith}

/** SQL text over input frames bound by name inside the query's own plan,
  * never in the session catalog. Each input becomes a CTE definition
  * wrapped around the parsed text, so Spark's CTE substitution resolves
  * the name in the main query, in subqueries and in the text's own CTE
  * bodies. Builders sharing one session cannot see each other's inputs,
  * and the call leaves nothing registered. As in `spark.sql(text, args)`,
  * `args` bind `:name` parameters and the query's planning tracker times
  * the parse. Spark inlines a deterministic input wherever it is named; a
  * non-deterministic one named twice stays one shared CTE, computed once. */
object BoundSql {
  def run(spark: SparkSession, text: String, args: Map[String, Any] = Map.empty)
         (inputs: (String, DataFrame)*): DataFrame = {
    val tracker = new QueryPlanningTracker
    val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING)(
      spark.sessionState.sqlParser.parsePlanWithParameters(text,
        NamedParameterContext(args.map { case (k, v) => k -> Literal(v) })))
    val ctes = inputs.map { case (name, df) =>
      (name, SubqueryAlias(name, df.queryExecution.commandExecuted), None) }
    GraftDataFrames.ofRows(spark, UnresolvedWith(parsed, ctes), tracker)
  }
}
