package org.apache.spark.sql

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over an unanalysed plan, built as `spark.sql` builds its
  * own: `classic.Dataset.ofRows` is `private[sql]`, hence this package. */
object GraftDataFrames {
  def ofRows(spark: SparkSession, plan: LogicalPlan,
             tracker: QueryPlanningTracker): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan, tracker)
}
