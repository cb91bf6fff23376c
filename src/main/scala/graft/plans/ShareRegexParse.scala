package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, GetStructField, NamedExpression, Not, Or}
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{FILTER, PROJECT}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{RegexParse, RegexParseField}

/** Optimizer rule: a grep-style Filter reads the parse of the Project
  * above it instead of matching the pattern on its own.
  *
  * Predicate pushdown substitutes a parse alias into the filter that
  * consumes it and moves that filter below the parse, so a parse → grep
  * pipeline matches every kept row twice: once in the Filter (narrowed to
  * a [[RegexParseField]] by [[PruneRegexParseFields]]) and once more for
  * the Project's full [[RegexParse]]. Where a Project computes an inline
  * `RegexParse(x) AS p` directly over a Filter that reads the same parse
  * (a `RegexParseField` of one of its fields, or the parse itself), the
  * rule moves the alias below the Filter and points the condition at `p`:
  *
  * {{{
  *   Project(…, RegexParse(x) AS p)          Project(…, p)
  *     Filter(cond[RegexParseField(x, f)])  →  Filter(cond[p.f])
  *       child                                   Project(child.output :+ RegexParse(x) AS p)
  *                                                 child
  * }}}
  *
  * Safety — the rewrite must never ADD a match. The moved parse runs on
  * every row that reaches the Filter, where it ran on the kept rows only.
  * So the rule fires only when the condition reads the shared parse on
  * every row it rejects: through first operands (which always run), both
  * sides of an `Or` and the operand of a `Not`. It also fires only when
  * the condition reads `p` more than once (CollapseProject's test): the
  * file-scan planner collapses projects and filters over a relation and
  * would inline a once-read alias back into the Filter, as a full parse.
  *
  * Must run AFTER predicate pushdown: `PushPredicateThroughProject` would
  * push the Filter back through the new Project. Inside the operator-
  * optimization fixed point the two rules would undo each other up to the
  * iteration cap, and the "Pre CBO Rules" once-batch is followed by more
  * pushdown ("Pushdown Filters from PartitionPruning"). So sessions run it
  * as one of their extra optimizations, the optimizer's last batch
  * ([[graft.GraftExtensions.installRules]]), or at planning
  * ([[ShareRegexParse.AtPlanning]]).
  */
object ShareRegexParse extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithPruning(_.containsAllPatterns(PROJECT, FILTER)) {
      case p: Project => rewrite(p).getOrElse(p)
    }

  /** The rewrite of one Project, where it applies. */
  def rewrite(p: Project): Option[LogicalPlan] = p match {
    case Project(list, Filter(cond, child)) =>
      list.iterator.flatMap {
        case a @ Alias(rp: RegexParse, _) => share(list, a, rp, cond, child)
        case _ => None
      }.nextOption()
    case _ => None
  }

  /** The same rewrite at physical planning, for sessions that get it
    * through [[graft.GraftExtensions]]: every optimizer slot an extension
    * can fill runs before the optimizer's last predicate pushdown, which
    * would undo it.
    */
  object AtPlanning extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p: Project => rewrite(p).map(planLater).toSeq
      case _ => Nil
    }
  }

  private def share(list: Seq[NamedExpression], a: Alias, rp: RegexParse,
                    cond: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    val p = a.toAttribute
    // a read of the same match: the parse itself, or one of its fields
    val read: PartialFunction[Expression, Expression] = {
      case q: RegexParse if q.semanticEquals(rp) => p
      case RegexParseField(x, pattern, f)
          if pattern == rp.pattern && rp.fields.contains(f) && x.semanticEquals(rp.child) =>
        GetStructField(p, rp.fields.indexOf(f), Some(f.outName))
    }
    val shared = cond.transformDown(read)
    val alwaysInline = SQLConf.get.getConf(SQLConf.COLLAPSE_PROJECT_ALWAYS_INLINE)
    if (!rejectReads(cond).exists(read.isDefinedAt) ||
        CollapseProject.canCollapseExpressions(Seq(shared), Seq(a), alwaysInline)) None
    else Some(Project(list.map(e => if (e eq a) p else e),
      Filter(shared, Project(child.output :+ a, child))))
  }

  /** Subexpressions of a condition that run on every row it does not
    * accept: an expression's first operand always runs, an `Or` that is
    * not true ran both sides, and a `Not` that is not true ran its operand.
    */
  private def rejectReads(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => e +: (rejectReads(l) ++ rejectReads(r))
    case Not(c)   => e +: firstOperands(c)
    case _        => firstOperands(e)
  }

  private def firstOperands(e: Expression): Seq[Expression] =
    e +: e.children.headOption.toSeq.flatMap(firstOperands)
}
