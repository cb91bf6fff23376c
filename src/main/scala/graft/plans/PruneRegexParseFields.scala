package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, GetStructField}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern

import graft.functions.{RegexParse, RegexParseField}

/** Optimizer rule: a `GetStructField` DIRECTLY over an inlined
  * [[RegexParse]] narrows to the single-field [[RegexParseField]] — the
  * same one regex match per row, none of the unused groups extracted,
  * cast, or copied into UTF8Strings, and no struct row allocated.
  *
  * Why the direct shape exists at all: `PushPredicateThroughProject`
  * substitutes a parse alias into the predicate that consumes it, so a
  * grep-style filter on one parsed field (`parsed.code rlike '^5'`)
  * reaches the optimizer's end as `GetStructField(RegexParse(line), i)`
  * inside the Filter — the hot shape of the headline pipeline, where the
  * full 7-field apache parse was paying 6 dead field extractions per row.
  *
  * Safety — the rewrite must never INCREASE regex matches. Two equal
  * inline parse copies consumed at the SAME ordinal stay one match either
  * way (codegen subexpression elimination dedups the identical
  * expressions before AND after the rewrite). But a parse consumed at TWO
  * OR MORE distinct ordinals inside one plan node (e.g. a hand-written
  * `parse.getField(a), parse.getField(b)` select with no alias barrier)
  * is CSE'd to ONE match + cheap field reads today; rewriting it would
  * produce per-field `RegexParseField`s that cannot CSE with each other —
  * one match PER FIELD. So the rewrite fires only when, within the node,
  * every direct consumer of that (canonicalized) parse reads the same
  * ordinal. Parses shared through an alias that survives to the physical
  * plan are referenced as attributes, not inline children, and are left
  * untouched as before.
  *
  * Registered via `GraftExtensions` (`injectOptimizerRule`, inside the
  * operator-optimization fixed point, where it narrows the shape as soon
  * as pushdown creates it) and via `spark.experimental.extraOptimizations`
  * on the repo's own sessions (the optimizer's last batch, after every
  * pushdown).
  */
object PruneRegexParseFields extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(TreePattern.EXTRACT_VALUE)) {
      case node =>
        // ordinal sets per canonicalized parse across THIS node's
        // expressions (the granularity codegen subexpression elimination
        // works at)
        val ordinals = mutable.HashMap.empty[Expression, mutable.Set[Int]]
        node.expressions.foreach(_.foreach {
          case GetStructField(rp: RegexParse, ordinal, _) =>
            ordinals.getOrElseUpdate(rp.canonicalized, mutable.Set.empty) += ordinal
          case _ => ()
        })
        if (!ordinals.exists(_._2.size == 1)) node
        else node.mapExpressions(_.transform {
          case g @ GetStructField(rp: RegexParse, ordinal, _) =>
            if (ordinals(rp.canonicalized).size == 1)
              RegexParseField(rp.child, rp.pattern, rp.fields(ordinal))
            else g
        })
    }
}
