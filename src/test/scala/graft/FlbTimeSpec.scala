package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{FlbTime, TimeParse}

/** ns-fidelity time envelope (`struct flb_time`) + Fluentd EventTime
  * fixext8 wire format, table-driven against the byte layout of
  * `src/flb_time.c:102-170` (big-endian uint32 sec ++ uint32 nsec,
  * msgpack ext type 0).
  */
class FlbTimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("EventTime fixext8 pack: exact reference byte layout") {
    // 1500322623 = 0x596D1B3F (the pinned 2017-07-17T20:17:03Z instant),
    // 123456789 ns = 0x075BCD15
    val got = FlbTime.packEventTime(1500322623L, 123456789L)
    val want = Array(0xd7, 0x00, 0x59, 0x6d, 0x1b, 0x3f, 0x07, 0x5b, 0xcd, 0x15)
      .map(_.toByte)
    assert(got.toSeq == want.toSeq)
  }

  test("EventTime pack/unpack round-trips, including uint32 sec beyond Int.MaxValue") {
    val vectors = Seq(
      (0L, 0L), (1L, 1L), (1500322623L, 123456789L),
      (3000000000L, 999999999L), // sec > INT32_MAX: (uint32_t)ntohl semantics
      (4294967295L, 0L))         // uint32 max
    vectors.foreach { case (s, n) =>
      assert(FlbTime.unpackEventTime(FlbTime.packEventTime(s, n)) == ((s, n)), (s, n))
    }
    // non-EventTime buffers are rejected
    intercept[IllegalArgumentException](FlbTime.unpackEventTime(new Array[Byte](10)))
  }

  test("parseNs keeps all 9 %L digits; TimestampType would truncate to µs") {
    val df = Seq("2017-07-17T20:17:03.123456789").toDF("raw")
    val fmt = "%Y-%m-%dT%H:%M:%S.%L"
    val row = df.select(TimeParse.parseNs(col("raw"), fmt).as("t"))
      .select(col("t.sec"), col("t.nsec")).as[(Long, Int)].collect()(0)
    assert(row == ((1500322623L, 123456789)))
    // derived µs timestamp truncates the last 3 digits
    val us = df.select(unix_micros(FlbTime.toTimestamp(
      TimeParse.parseNs(col("raw"), fmt)))).as[Long].collect()(0)
    assert(us == 1500322623123456L)
    // short fractions are right-padded: .5 = 500ms = 5e8 ns
    val n2 = Seq("2017-07-17T20:17:03.5").toDF("raw")
      .select(TimeParse.parseNs(col("raw"), fmt).getField("nsec"))
      .as[Int].collect()(0)
    assert(n2 == 500000000)
  }

  test("parseNs of a time that does not parse is null as a whole, in the pipeline too") {
    val fmt = "%Y-%m-%dT%H:%M:%S.%L"
    // an impossible date, and no time string at all (a pattern miss)
    val t = Seq(Some("2017-02-30T01:00:00.1"), None).toDF("raw")
      .select(TimeParse.parseNs(col("raw"), fmt).isNull).as[Boolean].collect().toSeq
    assert(t == Seq(true, true))
    import graft.route.SinkSpec
    import graft.run.{Pipeline, PipelineSpec}
    val line = """h - u [%s +0000] "GET /x HTTP/1.1" 200 7"""
    val in = Seq(("a", line.format("30/Feb/2017:20:17:03")), ("b", line.format("17/Jul/2017:20:17:03")))
      .toDF("source", "doc_id")
    val out = Pipeline.transform(in, PipelineSpec(sinks = Seq(SinkSpec("all", "*")), eventTimeNs = true))
      .select(col("source"), col("event_time").isNull, col("event_ts").isNull)
      .as[(String, Boolean, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(("a", true, true), ("b", false, false)))
  }

  test("envelope round-trips through micros; no-%L formats carry nsec = 0") {
    val df = Seq(1500322623123456L).toDF("us")
    val t = df.select(FlbTime.fromMicros(col("us")).as("t"))
    assert(t.select(col("t.sec"), col("t.nsec")).as[(Long, Int)].collect()(0)
      == ((1500322623L, 123456000)))
    assert(t.select(FlbTime.toMicros(col("t"))).as[Long].collect()(0) == 1500322623123456L)
    val n = Seq("17/Jul/2017:20:17:03 +0000").toDF("raw")
      .select(TimeParse.parseNs(col("raw"), "%d/%b/%Y:%H:%M:%S %z").getField("nsec"))
      .as[Int].collect()(0)
    assert(n == 0)
  }

  test("fromMicros/toMicros stay exact past 2^53 µs (integer division, no double rounding)") {
    // 8.9e17 µs ≈ year 30k — double division would round the second count
    val big = 888888888888888888L
    val t = Seq(big).toDF("us").select(FlbTime.fromMicros(col("us")).as("t"))
    assert(t.select(col("t.sec"), col("t.nsec")).as[(Long, Int)].collect()(0)
      == ((888888888888L, 888888000)))
    assert(t.select(FlbTime.toMicros(col("t"))).as[Long].collect()(0) == big)
  }

  test("pipeline carries event_time struct + derived event_ts from ONE parse") {
    import graft.route.SinkSpec
    import graft.run.{Pipeline, PipelineSpec}
    import graft.sources.TokenTable
    val in = TokenTable.synthetic(spark, 100, 2)
    val spec = PipelineSpec(
      sinks = Seq(SinkSpec("sink_all", "*")), eventTimeNs = true)
    val out = Pipeline.transform(in, spec)
    val r = out.select(col("seq"), col("event_time.sec"), col("event_time.nsec"),
        unix_timestamp(col("event_ts")))
      .as[(Long, Long, Int, Long)].collect().toSeq
    r.foreach { case (seq, sec, nsec, ts) =>
      assert(sec == TokenTable.BaseEpoch + seq % 3600, seq)
      assert(nsec == 0)
      assert(ts == sec)
    }
    // one parse: the fields and the time come out of one regex match
    assert(PlanNodes.regexes(PlanNodes.of(out)) == 1, out.queryExecution.executedPlan)
    // the parse follows the parser's Time_Keep: no time field, no #time
    assert(out.schema("parsed").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == spec.parser.outputNames)
  }
}
