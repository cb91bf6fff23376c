package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** SQL surface via SparkSessionExtensions, on the shared test session:
  * the functions are registered onto it with `register` (the face for
  * sessions built without `withExtensions`).
  */
class ExtensionsSpec extends AnyFunSuite {
  // the shared test session already exists → use the register() face
  // (withExtensions only applies at session creation)
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    GraftExtensions.register(s)
    s
  }

  test("regex_parse / glob_match / unescape_c are SQL-callable") {
    val df = spark.sql(
      """SELECT
        |  regex_parse('host-1 500', '^(?<host>\\S+) (?<code>\\d+)$').code AS code,
        |  glob_match('app.frontend', 'app.*') AS m1,
        |  glob_match('db.primary', 'app.*') AS m2,
        |  unescape_c('a\\nb') AS u
        |""".stripMargin)
    val r = df.collect()(0)
    assert(r.getString(0) == "500")
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2))
    assert(r.getString(3) == "a\nb")
  }

  test("fused vector/token math is SQL-callable") {
    val r = spark.sql(
      """SELECT
        |  vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  srp_bucket(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), 4) AS b,
        |  token_fold(array(1, 2, 3)) AS tf,
        |  minhash_sig(array(1, 2, 3, 4), 2)[0] AS mh,
        |  ngram_overlap('a b c d', 'a b c x', 3).inter AS ni
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) >= 0 && r.getLong(2) < 16)
    assert(r.getLong(3) == ((1L * 31 + 2) * 31 + 3) % 1000000007L)
    assert(r.getLong(4) > 0)
    assert(r.getInt(5) == 1) // only "a|b|c" shared
  }

  test("glob_match compiles to LIKE in the plan (pushdown-eligible)") {
    import spark.implicits._
    val df = Seq("app.x", "db.y").toDF("tag")
    df.createOrReplaceTempView("tags")
    val qe = spark.sql("SELECT * FROM tags WHERE glob_match(tag, 'app.*')").queryExecution
    // analyzed plan shows the injected Like; the optimizer then folds the
    // whole local-relation query away (which is exactly the point)
    assert(qe.analyzed.toString.contains("LIKE"), qe.analyzed.toString)
  }

  test("GraftExtensions: PruneRegexParseFields is an optimizer rule, the share rewrite a planner strategy") {
    import org.apache.spark.sql.{SparkSessionExtensions, TestExtensions}
    import graft.plans.{PruneRegexParseFields, ShareRegexParse}
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(TestExtensions.optimizerRules(ext, spark) == Seq(PruneRegexParseFields))
    // no pre-CBO rule: predicate pushdown runs again after that batch and
    // would push the shared filter back
    assert(TestExtensions.preCBORules(ext, spark).isEmpty)
    assert(TestExtensions.plannerStrategies(ext, spark) == Seq(ShareRegexParse.AtPlanning))
  }
}
