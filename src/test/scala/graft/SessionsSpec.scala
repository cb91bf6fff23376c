package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions]], the production mains' session builder, and the guard that
  * keeps it the only one outside the measured Bench/Verify mains.
  */
class SessionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("placement: a bare JVM falls back to local[cpus] with one shuffle partition per core") {
    assert(Sessions.placement(new SparkConf(false), 6) ==
      Map("spark.master" -> "local[6]", "spark.sql.shuffle.partitions" -> "6"))
  }

  test("placement: a configured master (spark-submit --master) keeps master and partitions") {
    val submitted = new SparkConf(false).setMaster("yarn")
      .set("spark.sql.shuffle.partitions", "600")
    assert(Sessions.placement(submitted, 6).isEmpty)
  }

  test("create: installs the optimizer rules and leaves a running session's placement alone") {
    val saved = spark.experimental.extraOptimizations
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    // start rule-less, so the check sees Sessions install the rule
    spark.experimental.extraOptimizations = Nil
    try {
      val s = Sessions.create("graft-sessions-spec")
      assert(s eq spark)
      assert(s.experimental.extraOptimizations ==
        Seq(graft.plans.PruneRegexParseFields, graft.plans.ShareRegexParse))
      assert(s.sparkContext.master == "local[4]")
      assert(s.conf.get("spark.sql.shuffle.partitions") == partitions)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("installRules appends the prune and share rules once, after the session's own") {
    val saved = spark.experimental.extraOptimizations
    val own = org.apache.spark.sql.catalyst.optimizer.ConstantFolding
    spark.experimental.extraOptimizations = Seq(own)
    try {
      GraftExtensions.installRules(spark)
      GraftExtensions.installRules(spark)
      assert(spark.experimental.extraOptimizations ==
        Seq(own, graft.plans.PruneRegexParseFields, graft.plans.ShareRegexParse))
      // a session that already holds one of them gets only the other
      spark.experimental.extraOptimizations = Seq(graft.plans.ShareRegexParse)
      GraftExtensions.installRules(spark)
      assert(spark.experimental.extraOptimizations ==
        Seq(graft.plans.ShareRegexParse, graft.plans.PruneRegexParseFields))
    } finally spark.experimental.extraOptimizations = saved
  }

  test("guard: SparkSession.builder() appears only in Sessions, Bench and Verify") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val builders = sources.filter((p: Path) => Files.readString(p).contains("SparkSession.builder()"))
      .map(_.getFileName.toString).toSet
    assert(builders == Set("Sessions.scala", "Bench.scala", "Verify.scala"))
  }
}
