package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Like, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Glob
import graft.functions.{ParsedField, RegexParse, UnescapeCString}

/** SQL surface for the engine's custom expressions, wired through
  * `SparkSessionExtensions` (the idiomatic extension point — no session
  * patching):
  *
  * {{{
  *   builder.withExtensions(new GraftExtensions)…  // on a SparkSession.Builder
  *   // or: spark.sql.extensions=graft.GraftExtensions
  *
  *   SELECT regex_parse(line, '^(?<host>\\S+) (?<code>\\d+)$').code,
  *          glob_match(tag, 'app.*'),
  *          unescape_c(log), unescape_utf8(log)
  * }}}
  *
  * `glob_match` compiles the Fluent Bit match glob to the built-in `LIKE`
  * at PLAN time (the pattern must be a literal — same constraint as the
  * reference's boot-time route table, `src/flb_router.c:97-172`), so the
  * SQL face keeps pushdown/codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name),
        builder))
    }
    // runs inside the operator-optimization fixed point, beside the
    // predicate pushdown that creates the GetStructField(RegexParse) shape
    // it narrows; pushdown never undoes a narrowing, so the batch settles
    ext.injectOptimizerRule(_ => graft.plans.PruneRegexParseFields)
    // must run after the last predicate pushdown, which follows every
    // optimizer slot an extension can fill (the "Pre CBO Rules" once-batch
    // too), so extension sessions share the parse at planning
    ext.injectPlannerStrategy(_ => graft.plans.ShareRegexParse.AtPlanning)
  }
}

object GraftExtensions {
  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case _ => throw new IllegalArgumentException(s"$what must be a string literal")
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "regex_parse" -> { children: Seq[Expression] =>
      val pattern = litString(children(1), "regex_parse pattern")
      val names = RegexParse.groupNamesOf(pattern)
      RegexParse(children.head, pattern, names.map(ParsedField(_)))
    },
    "glob_match" -> { children: Seq[Expression] =>
      val glob = litString(children(1), "glob_match pattern")
      if (glob == "*") Literal.TrueLiteral
      else Like(children.head,
        Literal(UTF8String.fromString(Glob.toLikePattern(glob)),
          org.apache.spark.sql.types.StringType), '\\')
    },
    "unescape_c" -> { children: Seq[Expression] =>
      UnescapeCString(children.head, utf8 = false)
    },
    "unescape_utf8" -> { children: Seq[Expression] =>
      UnescapeCString(children.head, utf8 = true)
    },
    // fused vector/token math (one pass per row; see functions.VecMath)
    "vec_cosine" -> { children: Seq[Expression] =>
      graft.functions.CosineSim(children.head, children(1))
    },
    "vec_dot" -> { children: Seq[Expression] =>
      graft.functions.DotProduct(children.head, children(1))
    },
    "srp_bucket" -> { children: Seq[Expression] =>
      val planes = children(1) match {
        case Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException("srp_bucket planes must be an int literal")
      }
      graft.functions.SrpBucket(children.head, planes)
    },
    "token_fold" -> { children: Seq[Expression] =>
      graft.functions.TokenFold(children.head)
    },
    "minhash_sig" -> { children: Seq[Expression] =>
      val n = children(1) match {
        case Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException("minhash_sig n must be an int literal")
      }
      graft.functions.MinHashSig(children.head, n)
    },
    "ngram_overlap" -> { children: Seq[Expression] =>
      val n = children(2) match {
        case Literal(v: Int, _) => v
        case _ => throw new IllegalArgumentException("ngram_overlap n must be an int literal")
      }
      graft.functions.NgramOverlap(children.head, children(1), n)
    })

  /** Register on an EXISTING session (extensions only apply at session
    * creation; this covers shared/inherited sessions).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    installRules(spark)
  }

  /** Install just the optimizer rules on an existing session (idempotent).
    * Every session the repo's mains build runs it: [[Sessions.create]] for
    * the production mains, and Bench/Verify's own builders.
    */
  def installRules(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = cur ++ rules.filterNot(cur.contains)
  }

  /** The optimizer rules [[installRules]] appends, in order. The session's
    * extra optimizations run as the optimizer's last batch, after every
    * predicate pushdown, so the share rewrite can follow the pruning one.
    */
  private val rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    Seq(graft.plans.PruneRegexParseFields, graft.plans.ShareRegexParse)
}
