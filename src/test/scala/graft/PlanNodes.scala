package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan nodes for plan assertions, walked as a tree instead of
  * matched in `executedPlan.toString`. Spark's helper sees through the
  * AQE wrapper (`AdaptiveSparkPlanExec`, whose current plan is the
  * initial one until the query runs) and through query stages.
  */
object PlanNodes extends AdaptiveSparkPlanHelper {
  /** Every node of `df`'s executed plan. */
  def of(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }
}
