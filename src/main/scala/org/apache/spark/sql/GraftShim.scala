package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.status.api.v1.{JobData, StageData}

/** Bridge to the `private[sql]` Column ⇄ Expression converters that Spark 4
  * keeps behind `org.apache.spark.sql.classic` (columnNodeSupport.scala).
  * Custom Catalyst expressions need both directions to surface as `Column`s.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unpersist the RDD blocks behind a `localCheckpoint`ed DataFrame.
    * Iterative operators checkpoint once per round; without this, every
    * round's blocks linger until a driver GC lets the ContextCleaner at
    * them — a long session (the 107-query bench, a multi-query job)
    * accumulates dead block-manager entries. Safe once no live DataFrame
    * reads the checkpoint: local checkpoints are MEMORY_AND_DISK-backed,
    * so this frees storage rather than risking recompute-of-truncated-
    * lineage failures. Goes through the `private[spark]`
    * `SparkContext.unpersistRDD`, which drops the same blocks as
    * `RDD.unpersist` without its WARN that a locally checkpointed RDD's
    * lineage is truncated — logged once per round otherwise.
    */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case _ => ()
    }

  /** The jobs the `private[spark]` status store holds, newest first, once
    * the listener bus has delivered every event posted so far. */
  def jobs(spark: SparkSession): Seq[JobData] = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.sparkContext.statusStore.jobsList(null)
  }

  /** The attempts the status store holds of one stage (none once evicted). */
  def stageAttempts(spark: SparkSession, stageId: Int): Seq[StageData] =
    spark.sparkContext.statusStore.stageData(stageId)
}
