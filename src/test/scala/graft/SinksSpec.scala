package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sinks.Sinks

/** Sink-side operator semantics (kafka topic selection, the ES index
  * name, counter/flowcounter aggregates). The byte-exact line and payload
  * formats are pinned in FileFormatSpec.
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
    val got = Sinks.counter(df).as[(String, Long, Long)].collect().toSet
    assert(got == Set(("app.a", 2L, 8L), ("db.b", 1L, 7L)))
  }

  test("flowcounter: tumbling unit buckets (out_flowcounter.c:106-130)") {
    val ev = Seq(
      (java.sql.Timestamp.valueOf("2017-07-17 20:05:00"), 10.0),
      (java.sql.Timestamp.valueOf("2017-07-17 20:59:59"), 20.0),
      (java.sql.Timestamp.valueOf("2017-07-17 21:00:00"), 30.0)
    ).toDF("ts", "bytes")
    val got = Sinks.flowCounter(ev, "ts", "hour", Some("bytes"))
      .orderBy("wstart").collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 2 && got(0).getDouble(2) == 30.0)
    assert(got(1).getLong(1) == 1 && got(1).getDouble(2) == 30.0)
  }

  test("kafka topic selection: Topic_Key value else default (kafka.c:104-133)") {
    val got = df.select(col("id"), Sinks.kafkaTopic(col("topic"), "logs").as("t"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "x", 2L -> "y", 3L -> "logs"))
  }

  test("ES logstash daily index (es.c:245-266)") {
    val idx = Seq(java.sql.Timestamp.valueOf("2017-07-17 20:17:03")).toDF("ts")
      .select(Sinks.esLogstashIndex(col("ts"), "logstash")).as[String].collect()(0)
    assert(idx == "logstash-2017.07.17")
  }
}
