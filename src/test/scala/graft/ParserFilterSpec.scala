package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.Decoders
import graft.operators.{Multiline, ParserFilter}
import graft.parsers.{JsonFormat, ParserDef, Parsers, RegexFormat}

/** filter_parser Reserve_Data/Preserve_Key matrix (FIXTURES §5,
  * `plugins/filter_parser/filter_parser.c:220-300`), decoder backends, and
  * tail multiline assembly (`tail_multiline.c:250-313`).
  */
class ParserFilterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val clf = """h - u [17/Jul/2017:20:17:03 +0000] "GET /x HTTP/1.1" 200 7"""

  private def recDf = Seq(1).toDF("id")
    .withColumn("record", map(
      lit("log"), lit(clf),
      lit("stream"), lit("stdout")))

  private def getMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("record").collect()(0).getMap[String, String](0).toMap

  test("parser filter: parsed map replaces record (no flags)") {
    val out = getMap(ParserFilter.onMap("record", "log", Parsers.apache)(recDf))
    assert(out("host") == "h")
    assert(out("code") == "200")
    assert(!out.contains("stream")) // originals dropped
    assert(!out.contains("log"))
    assert(!out.contains("time")) // time_keep=false
  }

  test("parser filter: Reserve_Data keeps other original keys") {
    val out = getMap(ParserFilter.onMap("record", "log", Parsers.apache,
      reserveData = true)(recDf))
    assert(out("host") == "h")
    assert(out("stream") == "stdout")
    assert(!out.contains("log")) // the parsed key itself is consumed
  }

  test("parser filter: Preserve_Key keeps the parsed source field") {
    val out = getMap(ParserFilter.onMap("record", "log", Parsers.apache,
      reserveData = true, preserveKey = true)(recDf))
    assert(out("log") == clf)
    assert(out("host") == "h")
  }

  test("parser filter: failure passes the record unchanged") {
    val bad = Seq(1).toDF("id")
      .withColumn("record", map(lit("log"), lit("not apache"), lit("x"), lit("y")))
    val out = getMap(ParserFilter.onMap("record", "log", Parsers.apache)(bad))
    assert(out == Map("log" -> "not apache", "x" -> "y"))
  }

  test("parser filter flatten: typed columns + parse_ok + ts override") {
    val df = Seq(
      (1L, clf, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "garbage", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("id", "line", "ts")
    val out = ParserFilter.flatten("line", Parsers.apache, tsCol = Some("ts"))(df)
      .select("id", "code", "parse_ok", "ts").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 200L)
    assert(out(1L).getBoolean(2))
    assert(out(1L).getTimestamp(3).getTime == 1500322623000L) // parsed time wins
    assert(out(2L).isNullAt(1))
    assert(!out(2L).getBoolean(2))
    assert(out(2L).getTimestamp(3).getTime == java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime)
  }

  test("flatten stamps ts from its own match: equal to eventTime over the raw line, row by row") {
    val lines = Seq(
      (1, clf),
      (2, "garbage"),                                   // the pattern misses
      (3, clf.replace("17/Jul/2017", "17/Foo/2017")),   // the time does not parse
      (4, clf.replace("+0000", "-0230")),
      (5, null),
      (6, """<34>1 2017-07-17T20:17:03.250 host app 1234 ID47 - hello world"""),
      (7, """{"log":"a","stream":"stdout","time":"2017-07-17T20:17:03.5"}"""),
      (8, """{"log":"b","time":"17/Jul/2017:20:17:03 +0100"}"""),
      (9, """{"log":"c","time":17}"""),                  // a number, not a time
      (10, """{"log":"d"}"""),                           // no time key
      (11, """{"log":"""))                               // not json
    val df = lines.toDF("id", "line").repartition(2)
    val apache = Parsers.apache
    val noTimeField = Some(StructType(Seq(
      StructField("log", StringType), StructField("stream", StringType))))
    val parsers = Seq(
      apache,
      apache.copy(timeKeep = true),
      apache.copy(types = apache.types + ("time" -> "integer")),
      apache.copy(timeKeep = true, types = apache.types + ("time" -> "integer")),
      apache.copy(timeOffsetSec = 3600),
      Parsers.syslogRfc5424,
      Parsers.docker,
      Parsers.jsonGeneric,
      // Time_Key with no field for it in the json schema
      Parsers.jsonGeneric.copy(jsonSchema = noTimeField),
      Parsers.docker.copy(jsonSchema = noTimeField))
    // the expected time, built apart from the parse under test: the time
    // group of a driver-side java.util.regex match, or get_json_object's
    // read of the time key, parsed by the old regexp_replace +
    // try_to_timestamp chain (SparkPatternTime), which shares no code with
    // the Strptime kernel that flatten runs
    def want(p: ParserDef): Map[Int, Option[java.sql.Timestamp]] = {
      val tk = p.timeKey.get
      val timeStr = p.format match {
        case RegexFormat =>
          val rx = java.util.regex.Pattern.compile(p.cleanRegex)
          lines.map { case (id, l) =>
            val m = Option(l).map(rx.matcher).filter(_.find())
            (id, m.map(_.group(tk)).orNull)
          }.toDF("id", "s")
        case JsonFormat => df.select(col("id"), get_json_object(col("line"), s"$$.$tk").as("s"))
      }
      timeStr.select(col("id"), SparkPatternTime.parse(col("s"), p.timeFormat.get, p.timeOffsetSec))
        .as[(Int, Option[java.sql.Timestamp])].collect().toMap
    }
    parsers.foreach { p =>
      val got = ParserFilter.flatten("line", p, tsCol = Some("ts"))(df)
        .select("id", "ts").as[(Int, Option[java.sql.Timestamp])]
        .collect().sortBy(_._1).toSeq
      val expected = want(p)
      assert(got.map(_._1) == lines.map(_._1))
      got.foreach { case (id, ts) =>
        assert(ts == expected(id), s"${p.name} ${p.types} ${p.jsonSchema} row $id") }
      assert(got.head._2.isDefined || p == Parsers.syslogRfc5424 || p.format == JsonFormat)
      assert(got.exists(_._2.isDefined), s"${p.name} ${p.jsonSchema} stamps no row")
    }
    // the time column stays only under Time_Keep, typed per Types
    val kept = ParserFilter.flatten("line", apache.copy(timeKeep = true,
      types = apache.types + ("time" -> "integer")), tsCol = Some("ts"))(df)
    assert(kept.schema("time").dataType == org.apache.spark.sql.types.LongType)
    assert(!ParserFilter.flatten("line", apache, tsCol = Some("ts"))(df).columns.contains("time"))
  }

  test("json parser: a line that is not JSON is not parsed; onMap passes the record through") {
    val lines = Seq("x", """{"log":"a","time":"17/Jul/2017:20:17:03 +0000"}""").toDF("line")
    Seq(None, Some("ts")).foreach { ts =>
      val got = ParserFilter.flatten("line", Parsers.jsonGeneric, tsCol = ts)(lines)
        .select("line", "log", "parse_ok").as[(String, Option[String], Boolean)]
        .collect().sortBy(_._1).toSeq
      assert(got.map(r => (r._2, r._3)) == Seq((None, false), (Some("a"), true)), ts)
    }
    val rec = Seq(1).toDF("id")
      .withColumn("record", map(lit("log"), lit("x"), lit("stream"), lit("stdout")))
    assert(getMap(ParserFilter.onMap("record", "log", Parsers.jsonGeneric)(rec)) ==
      Map("log" -> "x", "stream" -> "stdout"))
  }

  test("Reserve_Data with a parsed-but-NULL field does not duplicate the key (optional groups)") {
    // apache line WITHOUT referer/agent → parsed referer is null but the
    // key is OWNED by the parse; an original 'referer' must not re-enter
    val df = Seq(1).toDF("id").withColumn("record", map(
      lit("log"), lit(clf), lit("referer"), lit("orig")))
    val out = getMap(ParserFilter.onMap("record", "log", Parsers.apache,
      reserveData = true)(df))
    assert(out.contains("referer"))
    assert(out("referer") == null) // parsed-null wins; no DUPLICATED_MAP_KEY
    assert(out("host") == "h")
  }

  test("parser filter runs the parser's decoder chain: docker json + Decode_Field_As escaped log") {
    // docker record: json parse, then the shipped decoder unescapes `log`
    val raw = """{"log": "line1\\nline2", "stream": "stdout", "time": "2017-07-17T20:17:03.0Z"}"""
    val df = Seq(1).toDF("id").withColumn("record", map(lit("payload"), lit(raw)))
    val out = getMap(ParserFilter.onMap("record", "payload", Parsers.docker)(df))
    assert(out("log") == "line1\nline2") // \\n in JSON = \n after parse, decoder → newline
    assert(out("stream") == "stdout")
    // flatten face applies the in-place backend to the flat column too
    val flat = ParserFilter.flatten("payload", Parsers.docker)(
      Seq(raw).toDF("payload"))
    assert(flat.select("log").as[String].collect()(0) == "line1\nline2")
  }

  test("escaped decoder: sequential C-escape semantics (docker log field)") {
    val df = Seq("""line1\nline2\ttab\\literal""").toDF("s")
    val got = df.select(Decoders.escaped(col("s"))).as[String].collect()(0)
    assert(got == "line1\nline2\ttab\\literal")
  }

  test("escaped_utf8 decoder: \\uXXXX to chars") {
    // "café 中" spelled without letting the Scala lexer eat the
    // escapes (it processes \uXXXX even inside triple quotes)
    val raw = "caf" + "\\" + "u00e9 " + "\\" + "u4e2d"
    val df = Seq(raw).toDF("s")
    val got = df.select(Decoders.escapedUtf8(col("s"))).as[String].collect()(0)
    assert(got == "café 中")
    // plain escaped backend leaves \u alone (unknown escape kept intact)
    val got2 = df.select(Decoders.escaped(col("s"))).as[String].collect()(0)
    assert(got2 == raw)
  }

  test("multiline: firstline regex groups continuation lines per record") {
    val lines = Seq(
      ("f1", 1L, "2017-07-17 ERROR boom"),
      ("f1", 2L, "  at Foo.bar(Foo.java:1)"),
      ("f1", 3L, "  at Baz.qux(Baz.java:2)"),
      ("f1", 4L, "2017-07-17 INFO ok"),
      ("f2", 1L, "2017-07-17 WARN solo")
    ).toDF("file", "line_no", "line")
    val recs = Multiline.assemble(lines, "file", "line_no", "line", "^\\d{4}-\\d{2}-\\d{2} ")
      .orderBy("file", "record_id")
      .select("file", "record").as[(String, String)].collect().toSeq
    assert(recs == Seq(
      ("f1", "2017-07-17 ERROR boom\n  at Foo.bar(Foo.java:1)\n  at Baz.qux(Baz.java:2)"),
      ("f1", "2017-07-17 INFO ok"),
      ("f2", "2017-07-17 WARN solo")))
  }

  test("multiline: leading continuation lines before any head are dropped") {
    val lines = Seq(
      ("f1", 1L, "  stray continuation"),
      ("f1", 2L, "2017-07-17 INFO first")
    ).toDF("file", "line_no", "line")
    val recs = Multiline.assemble(lines, "file", "line_no", "line", "^\\d{4}")
      .select("record").as[String].collect().toSeq
    assert(recs == Seq("2017-07-17 INFO first"))
  }
}
