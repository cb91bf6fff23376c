package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sinks.Sinks

/** Sink-side operator semantics (kafka topic selection, the counter and
  * flowcounter aggregates of the fb_route_fanout and fb_flowcounter
  * queries). The byte-exact line and payload formats are pinned in
  * FileFormatSpec.
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def df = Seq(
    ("app.a", 1L, 3, "x"),
    ("app.a", 2L, 5, "y"),
    ("db.b", 3L, 7, null)
  ).toDF("sink", "id", "n_tok", "topic")

  test("counter: per-sink count + sum(n_tok) (out_counter.c:58-84)") {
    // the fb_route_fanout query: fan-out over every matching sink, then a
    // per-sink count and token sum, against a model of TokenTable's rows
    val dir = java.nio.file.Files.createTempDirectory("graft-counter").toString
    spark.range(0, 100).select(col("id").as("doc_id")).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("fb_route_fanout")(spark, dir)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc i: source bucket i % 100 (i < 100 here), n_tok = 1 + i % 64
    val rows = (0L until 100L).map(i => (i, 1L + i % 64))
    def agg(keep: Long => Boolean) = {
      val kept = rows.filter(r => keep(r._1))
      (kept.size.toLong, kept.map(_._2).sum)
    }
    assert(got == Map(
      "sink_app" -> agg(_ < 80), "sink_db" -> agg(r => r >= 80 && r < 92),
      "sink_kube" -> agg(r => r >= 92 && r < 97), "sink_all" -> agg(_ => true)))
  }

  test("flowcounter: tumbling unit buckets (out_flowcounter.c:106-130)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-flowcounter").toString
    Seq(
      (java.sql.Timestamp.valueOf("2017-07-17 20:05:00"), 10.0),
      (java.sql.Timestamp.valueOf("2017-07-17 20:59:59"), 20.0),
      (java.sql.Timestamp.valueOf("2017-07-17 21:00:00"), 30.0)
    ).toDF("ts", "value").write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("fb_flowcounter")(spark, dir)
      .orderBy("wstart").collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 3000L)
    assert(got(1).getLong(1) == 1 && got(1).getLong(2) == 3000L)
  }

  test("kafka topic selection: Topic_Key value else default (kafka.c:104-133)") {
    val got = df.select(col("id"), Sinks.kafkaTopic(col("topic"), "logs").as("t"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "x", 2L -> "y", 3L -> "logs"))
  }
}
