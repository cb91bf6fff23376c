package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{ParsedField, RegexParse}

/** [[graft.plans.PruneRegexParseFields]]: the single-consumed-field parse
  * narrows to RegexParseField with IDENTICAL values (incl. pattern miss,
  * absent group, cast failure, non-ASCII fallback), and multi-field
  * consumers keep the one shared full parse.
  */
class RegexParsePruneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val pattern = "^(?<host>\\S+) (?<code>\\d+) (?<ratio>[0-9.]+|x)(?: (?<note>.*))?$"
  private val fields = Seq(
    ParsedField("host"), ParsedField("code", "integer"),
    ParsedField("ratio", "float"), ParsedField("note"))

  private def parsed = {
    // repartition keeps the projection out of ConvertToLocalRelation's
    // plan-time fold (a bare local Seq collapses to LocalTableScan and no
    // physical expression is left to assert on)
    val df = Seq(
      (0, "alpha 200 0.5 ok"),
      (1, "beta 404 x"),         // float cast failure → null ratio; note absent
      (2, "no-match-at-all"),    // pattern miss → all fields null
      (3, "hôst 500 1.25 café")  // non-ASCII: exact toString fallback path
    ).toDF("idx", "line").repartition(2)
    df.withColumn("parsed", RegexParse(col("line"), pattern, fields))
  }

  test("single-field consumer is pruned to regexparsefield, values identical") {
    val one = parsed.select(col("idx"), col("parsed").getField("code").as("code"))
    val n = PlanNodes.parses(one)
    assert(n("RegexParseField") > 0, s"prune rule did not fire:\n$n")
    assert(n("RegexParse") == 0, s"full struct parse survived a single-field consumer:\n$n")
    assert(one.orderBy("idx").as[(Int, Option[Long])].collect().map(_._2).toSeq ==
      Seq(Some(200L), Some(404L), None, Some(500L)))
  }

  test("pruned values match the full parse for every cast + edge row") {
    // reference values via the UNPRUNED path: consuming several fields
    // keeps the shared full parse (asserted below), so this collect is
    // the rule-off behavior
    val multi = parsed.select(
      col("idx"),
      col("parsed").getField("host").as("host"),
      col("parsed").getField("code").as("code"),
      col("parsed").getField("ratio").as("ratio"),
      col("parsed").getField("note").as("note")).orderBy("idx")
    val mParses = PlanNodes.parses(multi)
    assert(mParses("RegexParseField") == 0,
      s"multi-field consumer must keep the shared full parse:\n$mParses")
    val expect = multi.collect().map(r => (r.get(1), r.get(2), r.get(3), r.get(4)))

    val prunedCols = Seq("host", "code", "ratio", "note").map { f =>
      val one = parsed.select(col("idx"), col("parsed").getField(f).as(f))
      assert(PlanNodes.parses(one)("RegexParseField") > 0, s"no prune for $f")
      one.orderBy("idx").collect().map(_.get(1))
    }
    val got = prunedCols(0).indices
      .map(i => (prunedCols(0)(i), prunedCols(1)(i), prunedCols(2)(i), prunedCols(3)(i)))
    assert(got.toSeq == expect.toSeq)
  }

  test("inline multi-ordinal consumers are NOT rewritten (CSE keeps one match)") {
    // hand-written double getField with NO alias barrier: two equal inline
    // parse copies at DIFFERENT ordinals. Codegen subexpression
    // elimination runs the shared parse once; rewriting to two distinct
    // RegexParseFields would run the regex once PER FIELD — the rule must
    // leave this shape alone (and values must be unchanged either way).
    val df = Seq((0, "alpha 200 0.5 ok"), (1, "beta 404 x"))
      .toDF("idx", "line").repartition(2)
    val two = df.select(col("idx"),
      RegexParse(col("line"), pattern, fields).getField("host").as("host"),
      RegexParse(col("line"), pattern, fields).getField("code").as("code"))
    val twoParses = PlanNodes.parses(two)
    assert(twoParses("RegexParseField") == 0,
      s"multi-ordinal inline consumer was rewritten:\n$twoParses")
    assert(two.orderBy("idx").as[(Int, String, Option[Long])].collect().toSeq ==
      Seq((0, "alpha", Some(200L)), (1, "beta", Some(404L))))
    // same-ordinal duplicates remain eligible: both copies read `code`
    val same = df.select(col("idx"),
      RegexParse(col("line"), pattern, fields).getField("code").as("c1"),
      RegexParse(col("line"), pattern, fields).getField("code").as("c2"))
    assert(PlanNodes.parses(same)("RegexParseField") > 0)
    assert(same.orderBy("idx").as[(Int, Option[Long], Option[Long])].collect().toSeq ==
      Seq((0, Some(200L), Some(200L)), (1, Some(404L), Some(404L))))
  }

  test("grep-pushdown filter shape (the headline hot path) gets the pruned parse") {
    import graft.operators.Grep
    import graft.run.{Pipeline, PipelineSpec}
    import graft.route.SinkSpec
    import graft.sources.TokenTable
    val t = TokenTable.synthetic(spark, 200, 2)
    val spec = PipelineSpec(
      grep = Seq(Grep.Regex("code", "^5")),
      sinks = TokenTable.Sinks.map((SinkSpec.apply _).tupled))
    val out = Pipeline.transform(t, spec)
      .groupBy(col("sink")).agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("s"))
    val rows = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val outParses = PlanNodes.parses(out)
    assert(outParses("RegexParseField") > 0, s"headline grep filter not pruned:\n$outParses")
    // 200 rows, code cycle seq%6∈{4,5}→5xx: 66 matches, each fans out to
    // its source sink + sink_all
    assert(rows("sink_all") == 66L)
  }

  test("ShareRegexParse: fires only where the filter reads the same match on every row it drops") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
    import org.apache.spark.sql.types.StringType
    import graft.functions.RegexParseField
    import graft.plans.ShareRegexParse
    val line = AttributeReference("line", StringType)()
    val other = AttributeReference("other", StringType)()
    val tag = AttributeReference("tag", StringType)()
    val rel = LocalRelation(line, other, tag)
    val parse = Alias(RegexParse(line, pattern, fields), "p")()
    val code = fields(1)
    // grep `Exclude code ^2` after pushdown and pruning: two reads
    def exclude(read: Expression): Expression = CaseWhen(
      Seq(IsNull(read) -> Literal.TrueLiteral),
      Not(EqualNullSafe(StartsWith(Cast(read, StringType), Literal("2")), Literal.TrueLiteral)))
    def shape(cond: Expression): LogicalPlan = Project(Seq(line, parse), Filter(cond, rel))
    val same = RegexParseField(line, pattern, code)

    val shared = ShareRegexParse(shape(exclude(same)))
    val p = parse.toAttribute
    assert(shared == Project(Seq(line, p),
      Filter(exclude(GetStructField(p, 1, Some("code"))), Project(rel.output :+ parse, rel))))
    // idempotent: the rewritten plan has no inline parse over a filter left
    assert(ShareRegexParse(shared) == shared)
    // a grep gated by its Match still reads the parse on every row it drops
    val gated = Or(Not(EqualTo(tag, Literal("a"))), exclude(same))
    assert(ShareRegexParse(shape(gated)) != shape(gated))

    val unchanged = Seq(
      // a different pattern, or the same pattern over a different column
      exclude(RegexParseField(line, pattern + "x", code)),
      exclude(RegexParseField(other, pattern, code)),
      // a field the Project's parse does not extract
      exclude(RegexParseField(line, pattern, ParsedField("code"))),
      // rows with another tag are dropped without a match: sharing would
      // add one for each of them
      And(EqualTo(tag, Literal("a")), exclude(same)),
      // one read: the scan planner inlines the alias back as a full parse
      EqualNullSafe(StartsWith(Cast(same, StringType), Literal("5")), Literal.TrueLiteral))
    unchanged.foreach(c => assert(ShareRegexParse(shape(c)) == shape(c), c))
  }
}
