package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{ParsedField, RegexParse}
import graft.parsers.Parsers
import graft.enrich.Enrich

/** Regex/struct extraction + parser corpus semantics. */
class ParseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("apache CLF line parses into typed fields (conf/parsers.conf:1-7)") {
    val line = """host-42 - user7 [17/Jul/2017:20:17:03 +0000] "GET /p/42 HTTP/1.1" 500 1234"""
    val df = Seq(line).toDF("raw")
    val row = df.select(Parsers.apache.parsed(col("raw")).as("p")).select("p.*").collect()(0)
    assert(row.getAs[String]("host") == "host-42")
    assert(row.getAs[String]("user") == "user7")
    assert(row.getAs[String]("method") == "GET")
    assert(row.getAs[String]("path") == "/p/42")
    assert(row.getAs[Long]("code") == 500L)
    assert(row.getAs[Long]("size") == 1234L)
    // time key dropped (time_keep=false) — not a struct field
    assert(!row.schema.fieldNames.contains("time"))
    val p = Parsers.apache
    val ts = df.select(unix_timestamp(p.eventTimeOf(p.parsedWithTime(col("raw")))).as("s"))
      .collect()(0)
    assert(ts.getLong(0) == 1500322623L)
  }

  test("non-matching line yields null struct (record passes unchanged upstream)") {
    val df = Seq("not an apache line").toDF("raw")
    val got = df.select(Parsers.apache.parsed(col("raw")).as("p")).collect()(0)
    assert(got.isNullAt(0))
  }

  test("optional groups (referer/agent) are null when absent, set when present") {
    val withRef = """h - u [17/Jul/2017:20:17:03 +0000] "GET /x HTTP/1.1" 200 1 "http://r" "curl""""
    val row = Seq(withRef).toDF("raw")
      .select(Parsers.apache.parsed(col("raw")).as("p")).select("p.*").collect()(0)
    assert(row.getAs[String]("referer") == "http://r")
    assert(row.getAs[String]("agent") == "curl")
  }

  test("kube tag regex extracts pod/namespace/container/docker_id (kube_regex.h:26)") {
    val tag = "var.log.containers.web-3_default_nginx-" + "0" * 64 + ".log"
    val row = Seq(tag).toDF("t")
      .select(Enrich.kubeMeta(col("t")).as("m")).select("m.*").collect()(0)
    assert(row.getAs[String]("pod_name") == "web-3")
    assert(row.getAs[String]("namespace_name") == "default")
    assert(row.getAs[String]("container_name") == "nginx")
    assert(row.getAs[String]("docker_id") == "0" * 64)
  }

  test("syslog rfc5424 parses with Time_Keep preserving the time field") {
    val line = """<34>1 2017-07-17T20:17:03.000 host app 1234 ID47 - hello world"""
    val p = Parsers.syslogRfc5424
    val row = Seq(line).toDF("raw").select(p.parsed(col("raw")).as("p")).select("p.*").collect()(0)
    // the shipped conf has no Types line → pri stays a string (fidelity)
    assert(row.getAs[String]("pri") == "34")
    assert(row.getAs[String]("message") == "hello world")
    assert(row.schema.fieldNames.contains("time")) // Time_Keep On
  }

  test("RegexParse compiles once and runs under codegen") {
    val df = spark.range(1000).select(
      concat(lit("id-"), col("id").cast("string")).as("s"))
    val pattern = "^id-(?<n>\\d+)$"
    val out = df.select(RegexParse(col("s"), pattern,
        RegexParse.groupNamesOf(pattern).map(ParsedField(_))).as("m"))
      .select(col("m.n").cast("long").as("n"))
    assert(out.agg(sum("n")).collect()(0).getLong(0) == 499500L)
  }

  test("docker json parser: typed fields + event time (conf/parsers.conf:33-41)") {
    val raw = """{"log":"hi\n","stream":"stdout","time":"2017-07-17T20:17:03.5"}"""
    val p = Parsers.docker
    val df = Seq(raw).toDF("raw")
    val row = df.select(p.parsed(col("raw")).as("p")).select("p.*").collect()(0)
    assert(row.getAs[String]("log") == "hi\n")
    assert(row.getAs[String]("stream") == "stdout")
    val us = df.select(unix_micros(p.eventTimeOf(p.parsedWithTime(col("raw")))).as("us"))
      .collect()(0).getLong(0)
    assert(us == 1500322623500000L)
  }
}
