package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.core.Glob

/** Routing vectors from the reference runtime suite
  * (`tests/runtime/core_engine.c` check_routing) plus edge cases; the
  * ScalaCheck property asserts glob-match ≡ compiled-LIKE over the tag/
  * pattern alphabet (FIXTURES §4).
  */
class GlobSpec extends AnyFunSuite {

  val vectors: Seq[(String, String, Boolean)] = Seq(
    ("a", "a", true),
    ("a", "a*", true),
    ("abc", "a*c", true),
    ("abc", "*", true),
    ("abc", "**b*", true),
    ("abc", "a*d", false),
    ("abc", "ABC", false), // case-sensitive
    ("", "*", true),
    ("a", "", false),
    ("", "", true),
    ("a.b.c", "a.*.c", true),
    ("aXbXc", "a*b*c", true), // backtracking
    ("app.frontend", "app.*", true),
    ("db.primary", "app.*", false),
    ("anything.at.all", "*", true),
    ("abc", "abc*", true), // trailing * matches empty
    ("ab", "a*b*c", false),
    ("aaab", "a*ab", true), // backtracking over repeated runs
    // LIKE metacharacters in TAG/PATTERN are literals in glob semantics —
    // the compiler must escape them for the LIKE translation to hold
    ("a%b", "a%b", true),
    ("axb", "a%b", false),
    ("a_b", "a_b", true),
    ("axb", "a_b", false),
    ("a\\b", "a\\b", true),
    ("a%b", "a*b", true),
    ("a_c", "a*", true),
    // an escaped literal `%` next to a `*` stays a literal
    ("b%x", "b%*", true),
    ("bx", "b%*", false),
    ("x%b", "*%b", true)
  )

  test("flb_router_match port matches reference vectors") {
    vectors.foreach { case (tag, pat, want) =>
      assert(Glob.matches(tag, pat) == want, s"matches($tag, $pat)")
    }
  }

  test("LIKE compilation matches the ported oracle on all vectors (via Spark)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = vectors.map { case (t, p, w) => (t, p, w) }.toDF("tag", "pat", "want")
    // evaluate each pattern's compiled LIKE
    vectors.map(_._2).distinct.foreach { pat =>
      val like = Glob.toLikePattern(pat)
      val got = df.filter($"pat" === pat)
        .select($"tag", $"tag".like(like).as("m"), $"want")
        .collect()
      got.foreach(r => assert(r.getBoolean(1) == r.getBoolean(2), s"LIKE($pat) on ${r.getString(0)}"))
    }
  }

  test("property: ported oracle == compiled LIKE (pure-Scala LIKE eval)") {
    // LIKE semantics with only % wildcards == greedy segment match;
    // evaluate by translating to the SAME structure the compiler emits and
    // matching with java.util.regex (independent implementation).
    val alpha = Gen.listOf(Gen.oneOf('a', 'b', '.', '*')).map(_.mkString)
    val prop = Prop.forAll(alpha, alpha) { (tag0: String, pat: String) =>
      val tag = tag0.replace("*", "x") // tags don't contain '*'
      val like = Glob.toLikePattern(pat)
      val rx = ("^" + like.split("%", -1).map(java.util.regex.Pattern.quote)
        .mkString("(?s).*") + "$").r
      val viaLike = rx.findFirstIn(tag).isDefined
      Glob.matches(tag, pat) == viaLike
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res.status.toString)
  }

  test("toLikePattern escapes LIKE metacharacters") {
    assert(Glob.toLikePattern("a_b") == "a\\_b")
    assert(Glob.toLikePattern("a%b") == "a\\%b")
    assert(Glob.toLikePattern("a**b") == "a%b")
    assert(Glob.toLikePattern("b%**") == "b\\%%")
  }
}
