package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.Grep
import graft.route.SinkSpec
import graft.run.{Pipeline, PipelineSpec}
import graft.sources.TokenTable

/** Physical-plan invariants of the headline pipeline — the properties that
  * make it hold at 100 TB. Each one regressed at least once during
  * development. Every pin walks the physical-plan tree ([[PlanNodes]]).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def headlineAgg(in: DataFrame, withEnrich: Boolean): DataFrame = {
    val dim = spark.range(0, 10).select(
      concat(lit("web-"), col("id").cast("string"), lit("_default")).as("pod_key"),
      col("id").as("team"))
    val spec = PipelineSpec(
      grep = Seq(Grep.Regex("code", "^5")),
      sinks = TokenTable.Sinks.map((SinkSpec.apply _).tupled),
      enrichDim = if (withEnrich) Some(dim) else None)
    Pipeline.transform(in, spec)
      .groupBy(col("sink")).agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("s"))
  }

  /** The headline aggregate, run, so AQE's final plan is the current one. */
  private def headlineRun(withEnrich: Boolean): DataFrame = {
    val out = headlineAgg(TokenTable.synthetic(spark, 1000, 4), withEnrich)
    out.collect()
    out
  }

  private def isPartial(h: HashAggregateExec): Boolean =
    h.aggregateExpressions.nonEmpty && h.aggregateExpressions.forall(_.mode == Partial)

  test("headline pipeline: the fused apache parse evaluates ONCE per row") {
    // filter pushdown substitutes the parse alias into every reference of
    // the grep predicate — a two-reference predicate doubles the parse
    val out = headlineRun(withEnrich = false)
    PlanNodes.sections(out).foreach { nodes =>
      val n = PlanNodes.regexes(nodes)
      // one, not none: the grep reads the parsed `code`
      assert(n == 1, s"$n apache regex parse expressions:\n${out.queryExecution.executedPlan}")
    }
  }

  test("headline pipeline: broadcast enrich, partial agg before the single exchange") {
    val out = headlineRun(withEnrich = true)
    val plan = out.queryExecution.executedPlan
    val nodes = PlanNodes.of(out)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), s"enrich must be a broadcast join:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), s"no shuffle join on the fact side:\n$plan")
    // exactly one data exchange per plan section (the sink agg); the only
    // other exchange is the dim broadcast
    PlanNodes.sections(out).foreach { section =>
      val shuffles = section.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(shuffles.size == 1, s"expected 1 shuffle, saw ${shuffles.size} in:\n$plan")
      // map-side partial aggregation must ride the fan-out
      val partials = PlanNodes.collect(shuffles.head) { case h: HashAggregateExec if isPartial(h) => h }
      assert(partials.nonEmpty, s"no partial aggregate below the exchange:\n$plan")
    }
  }

  test("headline fan-out runs in the parse/enrich codegen stage with the partial aggregate") {
    // a higher-order function such as `filter(array, x -> …)` is
    // CodegenFallback and keeps its Generate out of whole-stage codegen —
    // every kept row then crosses two stage boundaries, copied each time
    val out = headlineRun(withEnrich = true)
    val plan = out.queryExecution.executedPlan
    val stages = PlanNodes.codegenStages(out)
    def stageOf(what: String)(p: PartialFunction[SparkPlan, Boolean]): Int = {
      val at = stages.indexWhere(_.exists(n => p.applyOrElse(n, (_: SparkPlan) => false)))
      assert(at >= 0, s"no codegen stage holds the $what:\n$plan")
      at
    }
    val grep = stageOf("grep filter") { case f: FilterExec => PlanNodes.regexes(Seq(f)) > 0 }
    assert(stageOf("fan-out generate") { case _: GenerateExec => true } == grep, plan)
    assert(stageOf("partial aggregate") { case h: HashAggregateExec => isPartial(h) } == grep, plan)
    assert(stages(grep).exists(_.isInstanceOf[BroadcastHashJoinExec]), plan)
  }

  test("headline pipeline: no fact-side node carries a CodegenFallback expression") {
    // one such expression takes its whole node out of whole-stage codegen
    val out = headlineRun(withEnrich = true)
    val fallbacks = for {
      n <- PlanNodes.factSide(out)
      e <- n.expressions
      f <- e.collect { case f: CodegenFallback => f }
    } yield s"${n.nodeName}: ${f.prettyName}"
    assert(fallbacks.isEmpty, s"$fallbacks in:\n${out.queryExecution.executedPlan}")
  }

  test("headline agg never reads the token array: no `tokens` in the parquet ReadSchema") {
    // the token array is the input's widest column and the agg needs only
    // the parse, route and sum inputs — reading it would multiply scan bytes
    val path = Files.createTempDirectory("graft-plan-audit").resolve("in").toString
    TokenTable.synthetic(spark, 1000, 4).write.parquet(path)
    val out = headlineAgg(spark.read.parquet(path), withEnrich = true)
    val scans = PlanNodes.of(out).collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
    assert(scans.size == 1, out.queryExecution.executedPlan)
    assert(scans.head.contains("n_tok"), scans)
    assert(!scans.head.contains("tokens"), scans)
  }

  test("fixture queries prune the documents scan to doc_id only") {
    val q = SparkEntry.queries("fb_parse_nginx")(spark, "/root/testdata/sf0.001")
    val scans = PlanNodes.of(q).collect { case s: FileSourceScanExec => s.requiredSchema.catalogString }
    assert(scans == Seq("struct<doc_id:bigint>"), q.queryExecution.executedPlan)
  }

  test("hashed span ops: every exchange keys on the 8-byte hash, never the gram string") {
    // the point of the hashed variants: at 100 TB the ~50-byte gram string
    // must not be a shuffle key (detection) or shuffled at all (removal)
    import spark.implicits._
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "z a b c d e f g h k"))
      .toDF("doc_id", "text")
    for ((name, q) <- Seq(
      "detect" -> graft.operators.Dedup.crossDocRepeatedSpansHashed(d, "doc_id", "text", 8),
      "strip" -> graft.operators.Dedup.stripRepeatedSpansHashed(d, "doc_id", "text", 8))) {
      q.collect()
      val plan = q.queryExecution.executedPlan
      PlanNodes.sections(q).foreach { nodes =>
        val keys = PlanNodes.hashShuffleKeys(nodes)
        assert(!keys.exists(_.contains("gram")), s"$name shuffles on the gram string:\n$plan")
        assert(keys.exists(_.headOption.contains("_gh")), s"$name must shuffle on _gh:\n$plan")
      }
    }
  }

  test("multiline assembly: ONE exchange — the record groupBy reuses the window's partitioning") {
    // groupBy(file, _rec) requires ClusteredDistribution(file, _rec), which
    // HashPartitioning(file) from the window pass already satisfies — a
    // second hash exchange on (file, rec) would double the shuffled volume
    // of the raw line stream at log scale (round-3 review item)
    val q = SparkEntry.queries("fb_multiline")(spark, "/root/testdata/sf0.001")
    q.collect()
    PlanNodes.sections(q).foreach { nodes =>
      val shuffles = PlanNodes.hashShuffleKeys(nodes)
      assert(shuffles.size == 1,
        s"expected 1 shuffle, saw $shuffles in:\n${q.queryExecution.executedPlan}")
    }
  }

  test("q_anti_join plan flips broadcast→SMJ at the threshold — both shapes pinned") {
    // The round-5 growth outlier (23.3× cold, 8.7× warm): at 1× the orders
    // side broadcasts; at 10× it crosses autoBroadcastJoinThreshold and the
    // plan flips to a full-shuffle SMJ anti — the CORRECT plan at scale
    // (an anti join cannot be bloom-pre-reduced: the kept rows are the
    // non-matching ones, and a bloom "maybe present" can't drop them).
    // Pin both shapes so growth at the boundary is an asserted flip, not
    // a re-rolled surprise.
    val dir = "/root/testdata/sf0.001"
    def executed(): DataFrame = {
      val q = SparkEntry.queries("q_anti_join")(spark, dir)
      q.collect()
      q
    }
    /** Whether every plan section holds an anti join, and each one is `kind`. */
    def antiJoinsAre(q: DataFrame)(kind: SparkPlan => Boolean): Boolean =
      PlanNodes.sections(q).forall { nodes =>
        val anti = nodes.filter {
          case j: BaseJoinExec => j.joinType == LeftAnti
          case _ => false
        }
        anti.nonEmpty && anti.forall(kind)
      }
    // 1× shape: orders fits the default 10 MB threshold → broadcast anti
    val small = executed()
    assert(antiJoinsAre(small)(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected broadcast anti at 1×:\n${small.queryExecution.executedPlan}")
    // over-threshold shape (10×+ orders side): force the flip the same way
    // a big build side does, and require the shuffle anti plan
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val big = executed()
      val plan = big.queryExecution.executedPlan
      assert(antiJoinsAre(big)(_.isInstanceOf[SortMergeJoinExec]),
        s"expected SMJ anti over the threshold:\n$plan")
      assert(!PlanNodes.sections(big).flatten.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan)
    }
  }

  test("guard: no executedPlan.toString reads under src/test/scala") {
    // plan assertions walk the tree through PlanNodes
    val root = Paths.get("src/test/scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val read = """\.executedPlan\.toString""".r
    val reads = sources.map(p => p.getFileName.toString -> read.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0)
    assert(reads.isEmpty, reads.sorted.mkString(", "))
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val saved = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
