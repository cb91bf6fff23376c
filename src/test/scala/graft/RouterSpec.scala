package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.Glob
import graft.route.{Router, SinkSpec}

/** Fan-out routing semantics (reference `src/flb_task.c:255-277`): a chunk
  * routes to EVERY matching output — duplication, not first-match.
  */
class RouterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sinks = Seq(
    SinkSpec("app", "app.*"),
    SinkSpec("all", "*"),
    SinkSpec("db", "db.*"))

  test("fanOut duplicates a record into every matching sink") {
    val df = Seq(("app.frontend", 1), ("db.primary", 2), ("sys.kern", 3)).toDF("tag", "v")
    val out = Router.fanOut(df, "tag", sinks)
      .select("v", "sink").as[(Int, String)].collect().toSet
    assert(out == Set((1, "app"), (1, "all"), (2, "all"), (2, "db"), (3, "all")))
  }

  test("record matching no sink is dropped (zero-route task destroyed)") {
    val df = Seq(("x", 1)).toDF("tag", "v")
    val out = Router.fanOut(df, "tag", Seq(SinkSpec("app", "app.*")))
    assert(out.count() == 0)
  }

  test("fanOut over an empty sink list gives no rows") {
    val df = Seq(("app.frontend", 1)).toDF("tag", "v")
    assert(Router.fanOut(df, "tag", Nil).count() == 0)
  }

  test("a null tag reaches only a `*` sink") {
    val df = Seq((Option.empty[String], 1), (Some("app.x"), 2)).toDF("tag", "v")
    val out = Router.fanOut(df, "tag", sinks).filter(col("tag").isNull)
      .select("v", "sink").as[(Int, String)].collect().toSeq
    assert(out == Seq((1, "all")))
  }

  test("an input `sink` column is replaced by the routed one; sink stays a nullable string") {
    val df = Seq(("app.frontend", 1, "stale"), ("sys.kern", 2, "stale")).toDF("tag", "v", "sink")
    val routed = Router.fanOut(df, "tag", sinks)
    assert(routed.columns.toSeq == Seq("tag", "v", "sink"))
    val sink = routed.schema("sink")
    assert(sink.dataType == org.apache.spark.sql.types.StringType && sink.nullable, sink)
    val out = routed.select("v", "sink").as[(Int, String)].collect().toSet
    assert(out == Set((1, "app"), (1, "all"), (2, "all")))
  }

  test("fanOut pairs and per-record sink order equal a loop over the Glob.matches oracle") {
    // LIKE metacharacters (`%`, `_`) and `.` in both tags and globs check
    // the glob → LIKE compilation as well as the fan-out
    val rnd = new scala.util.Random(7)
    val alphabet = "ab._%x"
    val tags = (0 until 300).map(_ => Seq.fill(rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val globs = Seq("*", "a*", "*b", "a.*", "a*b*", "%", "_", "a_b", "**", "a.b", "*.*", "", "*x", "b%*")
    val specs = globs.zipWithIndex.map { case (g, i) => SinkSpec(s"s$i", g) }
    val want = tags.zipWithIndex.flatMap { case (t, i) =>
      specs.filter(s => Glob.matches(t, s.matchGlob)).map(s => (i, s.name))
    }
    // one partition and a narrow plan: collect keeps each record's rows
    // in the order the generator emitted them
    val got = Router.fanOut(tags.zipWithIndex.toDF("tag", "i").coalesce(1), "tag", specs)
      .select("i", "sink").as[(Int, String)].collect().toSeq
    assert(got == want)
  }

}
