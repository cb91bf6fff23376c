package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, JsonToStructs}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.functions.{RegexParse, RegexParseField}

/** Physical-plan nodes for plan assertions, walked as a tree instead of
  * matched in `executedPlan.toString`. Spark's helper sees through the
  * AQE wrapper (`AdaptiveSparkPlanExec`, whose current plan is the
  * initial one until the query runs) and through query stages.
  */
object PlanNodes extends AdaptiveSparkPlanHelper {
  /** Every node of `df`'s executed plan. */
  def of(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  /** The nodes of each plan AQE explains: the current one, then the
    * initial one it started from (`== Initial Plan ==`). A plan without
    * AQE has one section.
    */
  def sections(df: DataFrame): Seq[Seq[SparkPlan]] =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        Seq(of(df), collect(a.initialPlan) { case p => p })
      case _ => Seq(of(df))
    }

  /** The nodes each whole-stage codegen stage fuses into one loop: the
    * stage's subtree down to the `InputAdapter`s that feed it.
    */
  def codegenStages(df: DataFrame): Seq[Seq[SparkPlan]] = {
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(fused)
    }
    of(df).collect { case w: WholeStageCodegenExec => fused(w.child) }
  }

  /** The nodes outside broadcast build sides: the fact side of a plan
    * that enriches through broadcast joins.
    */
  def factSide(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => Nil
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** The regex and JSON parse expressions that `nodes` hold, counted by
    * kind: `RegexParse` (a full match), `RegexParseField` (a match for one
    * field), `JsonToStructs` (`from_json`) and `GetJsonObject`
    * (`get_json_object`). Every copy in an expression tree counts, also
    * in a file scan's `DataFilters`, which the scan itself does not run;
    * a kind the nodes lack counts 0.
    */
  def parses(nodes: Seq[SparkPlan]): Map[String, Int] =
    nodes.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: RegexParse | _: RegexParseField | _: JsonToStructs | _: GetJsonObject) =>
        e.nodeName
    })).groupBy(identity).map { case (k, v) => k -> v.size }.withDefaultValue(0)

  /** [[parses]] of `df`'s executed plan. */
  def parses(df: DataFrame): Map[String, Int] = parses(of(df))

  /** The expressions that `nodes` hold, counted by class (simple name):
    * every node of every expression tree, as [[parses]] counts parses; a
    * class the nodes lack counts 0.
    */
  def expressionClasses(nodes: Seq[SparkPlan]): Map[String, Int] =
    nodes.flatMap(_.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }))
      .groupBy(identity).map { case (k, v) => k -> v.size }.withDefaultValue(0)

  /** The expressions of `nodes` that generated code cannot compile and
    * runs interpreted ([[CodegenFallback]]).
    */
  def fallbacks(nodes: Seq[SparkPlan]): Seq[Expression] =
    nodes.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e }))

  /** Regex matches per row that `nodes` hold: full and single-field parses. */
  def regexes(nodes: Seq[SparkPlan]): Int = {
    val n = parses(nodes)
    n("RegexParse") + n("RegexParseField")
  }

  /** The columns each hash-partitioned shuffle among `nodes` keys on, in
    * key order: `hashpartitioning(a, b)` gives `Seq("a", "b")`.
    */
  def hashShuffleKeys(nodes: Seq[SparkPlan]): Seq[Seq[String]] =
    nodes.collect { case e: ShuffleExchangeLike => e.outputPartitioning }.collect {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
    }
}
