package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Access to the `private[sql]` builders of [[SparkSessionExtensions]] for
  * specs: what an extension puts into each optimizer and planner slot.
  */
object TestExtensions {
  def optimizerRules(ext: SparkSessionExtensions, s: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(s)
  def preCBORules(ext: SparkSessionExtensions, s: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildPreCBORules(s)
  def plannerStrategies(ext: SparkSessionExtensions, s: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(s)
}
