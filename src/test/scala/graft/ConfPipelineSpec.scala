package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.parsers.ParserConfLoader
import graft.run.{ConfPipeline, JobCounts}

/** The fluent-bit-user switch path: bring a classic `.conf` + parsers.conf
  * and run the same pipeline (SURVEY §7.3 minimum slice as config text).
  */
class ConfPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // apache + kube definitions in conf syntax (shapes per the reference's
  // shipped conf/parsers.conf:1-7, 84-87 — incl. Onigmo `_` group names
  // the loader must sanitize)
  private val parsersConf =
    """# test parser corpus
      |[PARSER]
      |    Name   apache
      |    Format regex
      |    Regex  ^(?<host>[^ ]*) [^ ]* (?<remote_user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?" (?<code>[^ ]*) (?<size>[^ ]*)$
      |    Time_Key time
      |    Time_Format %d/%b/%Y:%H:%M:%S %z
      |    Types code:integer size:integer
      |""".stripMargin

  test("parsers.conf loader: formats, types, time config, underscore group names") {
    val parsers = ParserConfLoader.load(parsersConf)
    val p = parsers("apache")
    assert(p.types == Map("code" -> "integer", "size" -> "integer"))
    assert(p.timeKey.contains("time"))
    assert(p.timeFormat.contains("%d/%b/%Y:%H:%M:%S %z"))
    // underscore group restored in output names
    assert(p.outputNames.contains("remote_user"))
    // and the parse works end to end
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val line = """h - bob [17/Jul/2017:20:17:03 +0000] "GET /x HTTP/1.1" 500 7"""
    val row = Seq(line).toDF("raw").select(p.parsed(col("raw")).as("p")).select("p.*").collect()(0)
    assert(row.getAs[String]("remote_user") == "bob")
    assert(row.getAs[Long]("code") == 500L)
  }

  test("loader: slash-wrapped regex (flb_regex.c:72-76) + no-year syslog + Time_Offset") {
    val conf =
      """[PARSER]
        |    Name        syslog-local
        |    Format      regex
        |    Regex       /^\<(?<pri>[0-9]+)\>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<ident>[a-zA-Z0-9_\/\.\-]*): *(?<message>.*)$/
        |    Time_Key    time
        |    Time_Format %b %d %H:%M:%S
        |    Time_Keep   On
        |    Time_Offset -0600
        |""".stripMargin
    val p = ParserConfLoader.load(conf)("syslog-local")
    assert(p.timeOffsetSec == -21600)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val line = "<13>Feb 16 04:06:58 myapp: something happened"
    val df = Seq(line).toDF("raw")
    val row = df.select(p.parsed(col("raw")).as("p")).select("p.*").collect()(0)
    assert(row.getAs[String]("pri") == "13")
    assert(row.getAs[String]("message") == "something happened")
    // no-year + fixed offset → reference vector epoch (parser.c:69)
    val ts = df.select(unix_timestamp(p.eventTimeOf(p.parsedWithTime(col("raw")))).as("s"))
      .collect()(0)
    assert(ts.getLong(0) == 1487239618L)
  }

  test("shipped parsers.conf corpus: all 13 definitions load and match the Scala defs") {
    val text = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/parsers_shipped.conf"), "UTF-8").mkString
    val loaded = ParserConfLoader.load(text)
    val defs = graft.parsers.Parsers.all
    assert(loaded.keySet == defs.keySet)
    loaded.foreach { case (n, l) =>
      val d = defs(n)
      assert(l.format == d.format, s"$n format")
      assert(l.cleanRegex == d.cleanRegex, s"$n regex")
      assert(l.timeKey == d.timeKey, s"$n timeKey")
      assert(l.timeFormat == d.timeFormat, s"$n timeFormat (first Time_Format wins)")
      assert(l.timeKeep == d.timeKeep, s"$n timeKeep")
      assert(l.outputNames == d.outputNames, s"$n output keys")
      if (l.format == graft.parsers.RegexFormat)
        java.util.regex.Pattern.compile(l.cleanRegex) // Onigmo→Java compatible
    }
  }

  test("conf modify filter: sequential column rules + schema-decidable conditions") {
    val dir = Files.createTempDirectory("graft-conf-mod").toString
    Files.writeString(Paths.get(dir, "a.log"),
      "h - u [17/Jul/2017:20:17:03 +0000] \"GET /x HTTP/1.1\" 500 7\n")
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    logs.*
         |    Parser apache
         |
         |[FILTER]
         |    Name      modify
         |    Match     *
         |    Condition Key_exists code
         |    Rename    code status
         |    Add       env prod
         |    Remove    size
         |
         |[FILTER]
         |    Name      modify
         |    Match     *
         |    Condition Key_exists nope
         |    Set       env staging
         |
         |[OUTPUT]
         |    Name counter
         |    Match *
         |""".stripMargin
    val out = ConfPipeline.load(spark, conf, parsersConf).filtered
    assert(out.columns.contains("status") && !out.columns.contains("code"))
    assert(!out.columns.contains("size"))
    // second modify NOTOUCH'd (condition failed) → env stays 'prod'
    assert(out.select("env").distinct().collect().map(_.getString(0)).toSeq == Seq("prod"))
  }

  test("conf forward output writes wire-format frames (one per tag)") {
    val dir = Files.createTempDirectory("graft-conf-fwd").toString
    mkLog(dir, "app.log", Seq(200, 500))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    fw.*
         |    Parser apache
         |
         |[OUTPUT]
         |    Name  forward
         |    Match *
         |    Path  $dir/out_fw
         |""".stripMargin
    val loaded = ConfPipeline.load(spark, conf, parsersConf)
    val results = ConfPipeline.run(loaded, s"$dir/out").toMap
    assert(results("forward_0") == 2L) // entries framed
    val frames = spark.read.parquet(s"$dir/out_fw")
    val row = frames.select("n_entries", "frame").collect()(0)
    assert(row.getLong(0) == 2L)
    val frame = row.getAs[Array[Byte]](1)
    assert((frame(0) & 0xff) == 0x92) // fixarray 2: [tag, entries]
  }

  test("conf forward output: EventTime keeps sub-second time, the record leaves ts out") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conf-fwd-ns").toString
    Files.writeString(Paths.get(dir, "app.log"), "2017-07-17T20:17:03.123456 hello\n")
    val isoParser =
      """[PARSER]
        |    Name        iso
        |    Format      regex
        |    Regex       ^(?<time>[^ ]+) (?<msg>.*)$
        |    Time_Key    time
        |    Time_Format %Y-%m-%dT%H:%M:%S.%L
        |""".stripMargin
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    fw.ns
         |    Parser iso
         |
         |[OUTPUT]
         |    Name  forward
         |    Match *
         |    Path  $dir/out_fw
         |""".stripMargin
    val results = ConfPipeline.run(ConfPipeline.load(spark, conf, isoParser), s"$dir/out").toMap
    assert(results("forward_0") == 1L)
    val frame = spark.read.parquet(s"$dir/out_fw").select("frame").as[Array[Byte]].collect().head
    val (tag, entries) = graft.sinks.MsgpackDecode.unpackFrame(frame)
    assert(tag == "fw.ns")
    val e = entries.head
    assert((e.sec, e.nsec) == ((1500322623L, 123456000L)))
    assert(!e.record.contains("ts") && e.record.get("msg").contains("hello"), e.record)

    // a record with no value column frames as an empty map
    val bare = ConfPipeline.Loaded(
      Seq(("fw.bare", java.sql.Timestamp.valueOf("2017-07-17 20:17:03"))).toDF("tag", "ts"),
      Seq(ConfPipeline.OutputSpec("forward", "*", Map("path" -> s"$dir/out_bare"))))
    assert(ConfPipeline.run(bare, s"$dir/out").toMap == Map("forward_0" -> 1L))
    val bareFrame = spark.read.parquet(s"$dir/out_bare").select("frame").as[Array[Byte]]
      .collect().head
    assert(graft.sinks.MsgpackDecode.unpackFrame(bareFrame)._2.map(_.record) == Seq(Map.empty))
  }

  test("conf lua filter: registered Scala fn — drop / replace record+timestamp (lua.c:330-393)") {
    import org.apache.spark.sql.functions._
    graft.operators.Scripted.LuaRegistry.register("anon.lua:cb_anon", (_, ts, rec) => {
      rec.get("code") match {
        case Some("200")                    => (-1, ts, rec)  // skip record
        case Some(c) if c.startsWith("5")   =>                // replace rec AND ts
          (1, 1500000000.5, rec.updated("path", "/REDACTED"))
        case _                              => (0, ts, rec)   // keep original
      }
    })
    val dir = Files.createTempDirectory("graft-conf-lua").toString
    mkLog(dir, "app.log", Seq(200, 500, 404))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    logs.*
         |    Parser apache
         |
         |[FILTER]
         |    Name   lua
         |    Match  *
         |    script anon.lua
         |    call   cb_anon
         |
         |[OUTPUT]
         |    Name counter
         |    Match *
         |""".stripMargin
    val out = ConfPipeline.load(spark, conf, parsersConf).filtered
    val rows = out.select(col("code").cast("long"), col("path"),
        unix_micros(col("ts").cast("timestamp")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows.length == 2) // the 200 was dropped
    // 404: untouched — original path and the PARSED event time survive
    assert(rows(0) == ((404L, "/p/2", 1500322623000000L)))
    // 500: record replaced, ts replaced from the returned double seconds
    assert(rows(1) == ((500L, "/REDACTED", 1500000000500000L)))
  }

  private def mkLog(dir: String, name: String, codes: Seq[Int]): Unit = {
    val lines = codes.zipWithIndex.map { case (c, i) =>
      s"""h$i - u [17/Jul/2017:20:17:03 +0000] "GET /p/$i HTTP/1.1" $c ${i * 10}"""
    }
    Files.writeString(Paths.get(dir, name), lines.mkString("", "\n", "\n"))
    ()
  }

  test("grep rules keep .conf encounter order: Exclude before Regex is decisive first (grep.c:130-205)") {
    val dir = Files.createTempDirectory("graft-conf-order").toString
    val lines = Seq(
      """h0 - u [17/Jul/2017:20:17:03 +0000] "GET /healthz HTTP/1.1" 500 1""", // Exclude hits first → drop
      """h1 - u [17/Jul/2017:20:17:03 +0000] "GET /p/1 HTTP/1.1" 500 2""",     // kept by Regex
      """h2 - u [17/Jul/2017:20:17:03 +0000] "GET /p/2 HTTP/1.1" 200 3""")     // dropped by Regex
    Files.writeString(Paths.get(dir, "app.log"), lines.mkString("", "\n", "\n"))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    logs.*
         |    Parser apache
         |
         |[FILTER]
         |    Name    grep
         |    Match   *
         |    Exclude path ^/healthz
         |    Regex   code ^5
         |
         |[OUTPUT]
         |    Name   counter
         |    Match  *
         |""".stripMargin
    val loaded = ConfPipeline.load(spark, conf, parsersConf)
    val results = ConfPipeline.run(loaded, s"$dir/out").toMap
    // with the rebuilt all-Regex-then-all-Exclude order the /healthz 500
    // would be KEPT by the (decisive) Regex before Exclude ever ran → 2
    assert(results("counter_0") == 1L)
  }

  test("classic .conf end-to-end: tail + parser + grep + 2 outputs (SURVEY §7.3 slice)") {
    val dir = Files.createTempDirectory("graft-conf").toString
    val mk = (name: String, codes: Seq[Int]) => {
      val lines = codes.zipWithIndex.map { case (c, i) =>
        s"""h$i - u [17/Jul/2017:20:17:03 +0000] "GET /p/$i HTTP/1.1" $c ${i * 10}"""
      }
      Files.writeString(Paths.get(dir, name), lines.mkString("", "\n", "\n"))
    }
    mk("app_frontend.log", Seq(200, 500, 503, 404))
    mk("db_primary.log", Seq(500, 200))

    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    logs.*
         |    Parser apache
         |
         |[FILTER]
         |    Name   grep
         |    Match  *
         |    Regex  code ^5
         |
         |[OUTPUT]
         |    Name   counter
         |    Match  *
         |
         |[OUTPUT]
         |    Name   file
         |    Match  *app_frontend*
         |    Format json
         |    Path   $dir/out_app
         |
         |[OUTPUT]
         |    Name   forward
         |    Match  nomatch.*
         |    Path   $dir/out_none
         |""".stripMargin

    val loaded = ConfPipeline.load(spark, conf, parsersConf)
    val results = ConfPipeline.run(loaded, s"$dir/out").toMap
    assert(results("counter_0") == 3L) // 500,503 from app + 500 from db
    assert(results("file_1") == 2L) // only the app_frontend file's 5xx
    // an empty sink reports 0, also where AQE cuts its empty shuffle
    assert(results("forward_2") == 0L)
    // the file output landed with reference-exact json lines
    // (file.c:216-229): 'tag: [%f, {map}]', partitioned by tag
    val written = spark.read.text(s"$dir/out_app").select("value")
      .collect().map(_.getString(0))
    assert(written.length == 2)
    assert(written.forall(_.matches("""logs\..*: \[\d+\.\d{6}, \{("[^"]+":.*, )*"[^"]+":.*\}\]""")))
  }

  test("env var translation: ${VAR} from @SET, real env, HOSTNAME preset, unset→empty (flb_env.c:177-264, flb_meta.c:28-68)") {
    import graft.conf.ConfParser
    val env = new ConfParser.Env(real = Map("PORT" -> "5140").get)
    // hash (@SET) wins over the real environment; metas apply file-wide
    // even when they appear after the section (fluent-bit.c:386-391)
    val text =
      """[INPUT]
        |    Name  tcp
        |    Port  ${PORT}
        |    Tag   ${APP}.${UNSET_XYZ}in
        |@SET APP=front
        |""".stripMargin
    val s = ConfParser.parse(text, env).head
    assert(s.get("Port").contains("5140"))
    // unset var warns and substitutes empty; set var substitutes in-place
    assert(s.get("Tag").contains("front.in"))
    // HOSTNAME preset (flb_env.c:63-88) when the real env lacks it
    assert(env.translate("${HOSTNAME}").nonEmpty)
    // value that is ONLY an unset variable becomes the empty string
    assert(env.translate("${NOPE_ABC}") == "")
    // no variables → value untouched; unterminated ${ left as-is
    assert(env.translate("plain $HOME {x}") == "plain $HOME {x}")
    assert(env.translate("a${unterminated") == "a${unterminated")
    // @SET with no '=' is rejected, later @SET overrides earlier
    val e2 = new ConfParser.Env(real = _ => None)
    ConfParser.parse("@SET bad\n@SET k=1\n@SET k=2\n", e2)
    assert(e2.get("k").contains("2") && e2.get("bad").isEmpty)
  }

  test("env-parameterized .conf end-to-end: ${LOG_DIR} path + @SET tag prefix") {
    val dir = Files.createTempDirectory("graft-conf-env").toString
    Files.writeString(Paths.get(dir, "svc.log"), "alpha\nbeta\n")
    val conf =
      s"""@SET PREFIX=envtag
         |[INPUT]
         |    Name  tail
         |    Path  $${LOG_DIR}/*.log
         |    Tag   $${PREFIX}.*
         |
         |[OUTPUT]
         |    Name   counter
         |    Match  $${PREFIX}.*
         |""".stripMargin
    val env = new graft.conf.ConfParser.Env(real = Map("LOG_DIR" -> dir).get)
    val loaded = ConfPipeline.load(spark, conf, parsersConf, env)
    val results = ConfPipeline.run(loaded, s"$dir/out").toMap
    assert(results("counter_0") == 2L)
  }

  test("Buf_Size suffixes (flb_utils_size_to_bytes, flb_utils.c:312-376)") {
    import graft.run.ConfPipeline.sizeToBytes
    assert(sizeToBytes("256") == 256L)
    assert(sizeToBytes("16k") == 16000L)
    assert(sizeToBytes("16K") == 16000L)
    assert(sizeToBytes("2MB") == 2000000L)
    assert(sizeToBytes("1g") == 1000000000L)
    assert(sizeToBytes("5kb") == 5000L)
    // atoll numeric-prefix semantics: the reference reads "2.5M" as 2M
    // and bare "12.5" as 12 (flb_utils.c:329)
    assert(sizeToBytes("2.5M") == 2000000L)
    assert(sizeToBytes("12.5") == 12L)
    intercept[IllegalArgumentException](sizeToBytes("1x"))
    intercept[IllegalArgumentException](sizeToBytes("1KX"))
    intercept[IllegalArgumentException](sizeToBytes("kb"))
  }

  test("conf es + influxdb outputs write exact payload bytes (socket replaced by file)") {
    val dir = Files.createTempDirectory("graft-conf-ser").toString
    mkLog(dir, "app.log", Seq(500))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    sz.*
         |    Parser apache
         |
         |[OUTPUT]
         |    Name  es
         |    Match *
         |    Index logs
         |    Path  $dir/out_es
         |
         |[OUTPUT]
         |    Name  influxdb
         |    Match *
         |    Path  $dir/out_ifx
         |""".stripMargin
    val loaded = ConfPipeline.load(spark, conf, parsersConf)
    val results = ConfPipeline.run(loaded, s"$dir/out").toMap
    assert(results("es_0") == 1L && results("influxdb_1") == 1L)
    val esLines = spark.read.text(s"$dir/out_es").collect().map(_.getString(0))
    // one action+record pair per text row, NO blank lines — the file IS a
    // valid bulk NDJSON body (the chunk's own trailing newline is stripped
    // before the text writer adds its per-row one)
    assert(esLines.forall(_.nonEmpty))
    val es = esLines.mkString("\n")
    // chunk = action line + record json with @timestamp first
    assert(es.startsWith("{\"index\":{\"_index\":\"logs\",\"_type\":\"flb_type\"}}"))
    assert(es.contains("{\"@timestamp\":\"2017-07-17T20:17:03.0Z\", "))
    assert(es.contains("\"code\":500"))
    val ifx = spark.read.text(s"$dir/out_ifx").collect().map(_.getString(0))
    assert(ifx.length == 1)
    // head 'tag,_seq=0', null-skipped k=v fields, ns timestamp tail
    assert(ifx(0).startsWith("sz."))
    assert(ifx(0).contains(",_seq=0 "))
    assert(ifx(0).contains("code=500"))
    assert(ifx(0).endsWith(" 1500322623000000000"))
  }

  test("conf splunk/nats/http outputs write per-record payload lines") {
    val dir = Files.createTempDirectory("graft-conf-ser2").toString
    mkLog(dir, "app.log", Seq(500, 404))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    sz.*
         |    Parser apache
         |
         |[OUTPUT]
         |    Name  splunk
         |    Match *
         |    Path  $dir/out_spl
         |
         |[OUTPUT]
         |    Name  nats
         |    Match *
         |    Path  $dir/out_nats
         |
         |[OUTPUT]
         |    Name             http
         |    Match            *
         |    json_date_format iso8601
         |    Path             $dir/out_http
         |""".stripMargin
    val results = ConfPipeline.run(
      ConfPipeline.load(spark, conf, parsersConf), s"$dir/out").toMap
    assert(results("splunk_0") == 2L && results("nats_1") == 2L
      && results("http_2") == 2L)
    def lines(p: String) = spark.read.text(p).collect().map(_.getString(0))
    val spl = lines(s"$dir/out_spl")
    assert(spl.length == 2 && spl.forall(_.matches("""\{"time":\d+\.\d{6}, "event":\{.*\}\}""")))
    val nats = lines(s"$dir/out_nats")
    assert(nats.length == 2 &&
      nats.forall(_.matches("""\[\d+\.\d{6}, \{"tag":"sz\..*", .*\}\]""")))
    val http = lines(s"$dir/out_http")
    assert(http.length == 2 && http.forall(
      _.matches("""\{"date":"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z", .*\}""")))
  }

  test("run counts each output on its own write: one Spark job per output") {
    val dir = Files.createTempDirectory("graft-conf-jobs").toString
    mkLog(dir, "app.log", Seq(200, 500, 503))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    logs.*
         |    Parser apache
         |
         |[OUTPUT]
         |    Name   file
         |    Match  *
         |    Format json
         |    Path   $dir/out_json
         |
         |[OUTPUT]
         |    Name   file
         |    Match  *
         |    Format csv
         |    Path   $dir/out_csv
         |
         |[OUTPUT]
         |    Name   counter
         |    Match  *
         |""".stripMargin
    val loaded = ConfPipeline.load(spark, conf, parsersConf)
    val (results, counts) = JobCounts.of(spark, "conf-jobs-spec") {
      ConfPipeline.run(loaded, s"$dir/out").toMap
    }
    assert(results == Map("file_0" -> 3L, "file_1" -> 3L, "counter_2" -> 3L))
    // no recount after a write and no separate cache fill: the first
    // write fills the cache, and each output's count comes out of its write
    assert(counts.jobs == 3, s"${counts.jobs} Spark jobs for 3 outputs")
  }

  test("regex census: the conf input path matches the parser's pattern once per line") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.{FilterExec, UnionExec}
    val dir = Files.createTempDirectory("graft-conf-census").toString
    Files.createDirectories(Paths.get(dir, "web"))
    Files.createDirectories(Paths.get(dir, "api"))
    mkLog(s"$dir/web", "a.log", Seq(200, 500, 404))
    mkLog(s"$dir/api", "a.log", Seq(503, 200))
    // the conf_files benchmark's shape: two tails → apache → grep
    // Exclude → record_modifier
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/web/*.log
         |    Tag    web.access
         |    Parser apache
         |[INPUT]
         |    Name   tail
         |    Path   $dir/api/*.log
         |    Tag    api.access
         |    Parser apache
         |[FILTER]
         |    Name    grep
         |    Match   *
         |    Exclude code ^2
         |[FILTER]
         |    Name       record_modifier
         |    Match      *
         |    Remove_key file
         |    Record     env bench
         |""".stripMargin
    def census(s: SparkSession): Unit = {
      val filtered = ConfPipeline.load(s, conf, parsersConf).filtered
      val plan = PlanNodes.stripAQEPlan(filtered.queryExecution.executedPlan)
      val branches = plan.collect { case u: UnionExec => u.children }.flatten
        .map(_.collect { case n => n })
      assert(branches.size == 2, plan)
      assert(branches.map(PlanNodes.regexes) == Seq(1, 1), plan)
      // the time parses in one Strptime per branch, inside generated code:
      // no regexp_replace / regexp_extract / to_timestamp chain and no
      // interpreted expression anywhere on the path
      val fused = PlanNodes.codegenStages(filtered).flatten
      branches.foreach { b =>
        val n = PlanNodes.expressionClasses(b)
        assert(Seq("RegExpReplace", "RegExpExtract", "GetTimestamp", "ParseToTimestamp").map(n)
          == Seq(0, 0, 0, 0), plan)
        assert(n("Strptime") == 1, plan)
        val stamp = b.filter(p => PlanNodes.expressionClasses(Seq(p))("Strptime") > 0)
        assert(stamp.forall(fused.contains), plan)
        assert(PlanNodes.fallbacks(b).isEmpty, plan)
        // above the grep Filter: only the kept lines parse their time
        assert(stamp.forall(_.collectFirst { case f: FilterExec => f }.isDefined), plan)
      }
      // the 2xx lines are gone, every kept line carries its parsed time
      val rows = filtered.select("tag", "code", "ts").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
        Seq(("api.access", 503L), ("web.access", 404L), ("web.access", 500L)))
      assert(rows.forall(_.getTimestamp(2).getTime == 1500322623000L))
    }
    // a session with the rules installed (the repo's own mains) and one
    // built with the SQL extension alone
    census(spark)
    val extended = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try census(extended)
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("json census: a conf json input parses each line once, time included") {
    import org.apache.spark.sql.execution.UnionExec
    val dir = Files.createTempDirectory("graft-conf-json").toString
    Files.createDirectories(Paths.get(dir, "docker"))
    Files.createDirectories(Paths.get(dir, "app"))
    def line(i: Int) =
      s"""{"log":"line $i","stream":"stdout","time":"2017-07-17T20:17:03.$i"}"""
    Files.writeString(Paths.get(dir, "docker", "a.log"), Seq(1, 2).map(line).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(dir, "app", "a.log"), line(3) + "\n")
    // docker keeps the time key (Time_Keep On), json drops it
    val parsers =
      """[PARSER]
        |    Name        docker
        |    Format      json
        |    Time_Key    time
        |    Time_Format %Y-%m-%dT%H:%M:%S.%L
        |    Time_Keep   On
        |[PARSER]
        |    Name        json
        |    Format      json
        |    Time_Key    time
        |    Time_Format %Y-%m-%dT%H:%M:%S.%L
        |""".stripMargin
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/docker/*.log
         |    Tag    docker.log
         |    Parser docker
         |[INPUT]
         |    Name   tail
         |    Path   $dir/app/*.log
         |    Tag    app.log
         |    Parser json
         |""".stripMargin
    val filtered = ConfPipeline.load(spark, conf, parsers).filtered
    val plan = PlanNodes.stripAQEPlan(filtered.queryExecution.executedPlan)
    val branches = plan.collect { case u: UnionExec => u.children }.flatten
      .map(_.collect { case n => n })
    assert(branches.size == 2, plan)
    branches.foreach { b =>
      val n = PlanNodes.parses(b)
      assert((n("JsonToStructs"), n("GetJsonObject")) == ((1, 0)), plan)
    }
    val rows = filtered.select("tag", "log", "time", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)), r.getTimestamp(3).getTime))
    assert(rows.sortBy(_._2).toSeq == Seq(
      ("docker.log", "line 1", Some("2017-07-17T20:17:03.1"), 1500322623100L),
      ("docker.log", "line 2", Some("2017-07-17T20:17:03.2"), 1500322623200L),
      ("app.log", "line 3", None, 1500322623300L)))
  }

  test("flowcounter output returns its record count, not its bucket count") {
    val dir = Files.createTempDirectory("graft-conf-flow").toString
    // four records in one minute: one flowcounter bucket, four records
    mkLog(dir, "app.log", Seq(200, 500, 503, 404))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/*.log
         |    Tag    logs.*
         |    Parser apache
         |
         |[OUTPUT]
         |    Name   flowcounter
         |    Match  *
         |    Unit   minute
         |""".stripMargin
    val loaded = ConfPipeline.load(spark, conf, parsersConf)
    assert(loaded.filtered.columns.contains("ts")) // the bucketing column is there
    val results = ConfPipeline.run(loaded, s"$dir/out").toMap
    assert(results("flowcounter_0") == 4L)
  }

  // apache lines for `file`, one per (second of 20:17:xx, status code)
  private def accessLog(dir: String, file: String, hits: Seq[(Int, Int)]): Unit = {
    val lines = hits.zipWithIndex.map { case ((sec, code), i) =>
      f"""h$i - u [17/Jul/2017:20:17:$sec%02d +0000] "GET /p/$i HTTP/1.1" $code ${i * 10}"""
    }
    Files.writeString(Paths.get(dir, file), lines.mkString("", "\n", "\n"))
    ()
  }

  test("throttle honours Match: only matching tags are capped per pane, other tags pass") {
    val dir = Files.createTempDirectory("graft-conf-throttle").toString
    // a.log: 3 lines in second 03, 2 in second 04; b.log: 4 lines in
    // second 03, the same panes as a.log's
    accessLog(dir, "a.log", Seq(3 -> 200, 3 -> 500, 3 -> 404, 4 -> 200, 4 -> 503))
    accessLog(dir, "b.log", Seq(3 -> 200, 3 -> 201, 3 -> 202, 3 -> 203))
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/a.log
         |    Tag    a.log
         |    Parser apache
         |[INPUT]
         |    Name   tail
         |    Path   $dir/b.log
         |    Tag    b.log
         |    Parser apache
         |[FILTER]
         |    Name     throttle
         |    Match    a.*
         |    Rate     1
         |    Interval 1s
         |""".stripMargin
    val rows = ConfPipeline.load(spark, conf, parsersConf).filtered
      .select("tag", "ts", "line").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000 % 60, r.getString(2)))
    val byTag = rows.groupBy(_._1).withDefaultValue(Array.empty)
    // every b.log row survives, although a.log filled the same panes
    assert(byTag("b.log").length == 4)
    // a.log: Rate 1 per 1 s pane, first by (ts, line) in each second
    assert(byTag("a.log").map(r => (r._2, r._3)).sorted.toSeq == Seq(
      3L -> """h0 - u [17/Jul/2017:20:17:03 +0000] "GET /p/0 HTTP/1.1" 200 0""",
      4L -> """h3 - u [17/Jul/2017:20:17:04 +0000] "GET /p/3 HTTP/1.1" 200 30"""))
  }

  test("parser filter with Match parses matching tags only; nest then lift over the result") {
    val dir = Files.createTempDirectory("graft-conf-parser").toString
    accessLog(dir, "app.log", Seq(3 -> 500, 4 -> 200))
    Files.writeString(Paths.get(dir, "sys.log"), "kernel: eth0 up\n")
    val conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $dir/app.log
         |    Tag    app.log
         |[INPUT]
         |    Name   tail
         |    Path   $dir/sys.log
         |    Tag    sys.log
         |[FILTER]
         |    Name     parser
         |    Match    app.*
         |    Key_Name line
         |    Parser   apache
         |[FILTER]
         |    Name       nest
         |    Match      *
         |    Operation  nest
         |    Wildcard   method
         |    Wildcard   path
         |    Nest_under req
         |[FILTER]
         |    Name         nest
         |    Match        *
         |    Operation    lift
         |    Nested_under req
         |    Prefix_with  req_
         |""".stripMargin
    val df = ConfPipeline.load(spark, conf, parsersConf).filtered
    // the parser keeps `line` and drops its Time_Key; nest moved
    // method/path under req, and lift put them back with the prefix
    assert(df.columns.toSeq == Seq("line", "file", "tag", "host", "remote_user",
      "code", "size", "parse_ok", "req_method", "req_path"))
    val rows = df.select("tag", "code", "parse_ok", "req_method", "req_path", "line").collect()
    // matching rows are parsed
    val app = rows.filter(_.getString(0) == "app.log")
      .map(r => (r.getLong(1), r.getBoolean(2), r.getString(3), r.getString(4))).sortBy(_._1).toSeq
    assert(app == Seq((200L, true, "GET", "/p/1"), (500L, true, "GET", "/p/0")))
    // the other tag passes through: line unchanged, no parsed field set
    val Array(sys) = rows.filter(_.getString(0) == "sys.log")
    assert(sys.getString(5) == "kernel: eth0 up")
    assert((1 to 4).forall(sys.isNullAt))
  }

  // a free port found by binding ephemeral then releasing — the conf text
  // needs a concrete number before load() binds (tiny reuse race, but no
  // collision with a fixed constant another process may hold)
  private def freePort(): Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  // connect with retries: load() binds the listener partway through, after
  // parsers.conf parsing — the client must wait the bind out
  private def connectRetrying(port: Int): java.net.Socket = {
    var attempts = 0
    while (attempts < 200) {
      try return new java.net.Socket("127.0.0.1", port)
      catch { case _: java.net.ConnectException => attempts += 1; Thread.sleep(50) }
    }
    throw new IllegalStateException(
      s"listener on $port never came up (or load() failed before binding — check the Future's exception)")
  }

  test("conf tcp input: live socket drains into the standard line frame") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val port = freePort()
    val conf =
      s"""[INPUT]
         |    Name tcp
         |    Port $port
         |    Tag  net.0
         |""".stripMargin
    val fut = Future(ConfPipeline.load(spark, conf, parsersConf).filtered)
    val s = connectRetrying(port)
    s.getOutputStream.write("alpha\nbeta\n".getBytes("UTF-8"))
    s.close()
    val out = Await.result(fut, 30.seconds)
    assert(out.select("line").as[String].collect().toSet == Set("alpha", "beta"))
    assert(out.select("tag").distinct().as[String].collect().toSeq == Seq("net.0"))
  }

  test("conf syslog input Mode unix_udp: one datagram = one parsed record (syslog_conf.c:48-68)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    // udp needs no freePort dance for bind-vs-connect ordering, but the
    // conf text still needs a concrete number before load() binds
    val port = freePort()
    val conf =
      s"""[INPUT]
         |    Name   syslog
         |    Mode   unix_udp
         |    Port   $port
         |    Tag    sl.0
         |    Parser syslog-rfc3164
         |""".stripMargin
    val shippedParsers = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/parsers_shipped.conf"), "UTF-8").mkString
    val fut = Future(ConfPipeline.load(spark, conf, shippedParsers).filtered)
    val sock = new java.net.DatagramSocket()
    val addr = new java.net.InetSocketAddress("127.0.0.1", port)
    // datagrams race load()'s bind — resend until the drain picks them up
    val msgs = Seq(
      "<13>Jul 17 20:17:03 host-3 app7[42]: message 3",
      "<5>Jul 17 20:17:04 host-4 app8[43]: message 4")
    // 30 × 100 ms: every resend inside the covered window resets the
    // drain's 300 ms quiet clock, so load() cannot return before the
    // sender stops — the window must be long enough to cover the bind
    // race but no longer, because its full length is pure test wait
    // (the original 100-iteration loop cost ~10 s of it every run)
    val sender = new Thread(() => {
      (0 until 30).foreach { _ =>
        try msgs.foreach(m =>
          sock.send(new java.net.DatagramPacket(m.getBytes("UTF-8"), m.length, addr)))
        catch { case _: java.io.IOException => () }
        Thread.sleep(100)
      }
    })
    sender.setDaemon(true)
    sender.start()
    val out = Await.result(fut, 30.seconds)
    sock.close()
    // dedupe (the resend loop may land the pair several times): distinct
    // parsed records prove one-datagram-one-record and the parser chain
    val got = out.select("ident", "pid", "message").distinct()
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("app7", "42", "message 3"), ("app8", "43", "message 4")))
    assert(out.select("tag").distinct().as[String].collect().toSeq == Seq("sl.0"))
    // unknown Mode is a config error (syslog_conf.c:60-64); tcp has no Mode
    val bad = intercept[IllegalArgumentException](ConfPipeline.load(spark,
      s"[INPUT]\n    Name syslog\n    Mode carrier_pigeon\n    Port 1\n", parsersConf))
    assert(bad.getMessage.contains("Unknown syslog mode"))
    val bad2 = intercept[IllegalArgumentException](ConfPipeline.load(spark,
      s"[INPUT]\n    Name tcp\n    Mode udp\n    Port 1\n", parsersConf))
    assert(bad2.getMessage.contains("no Mode"))
  }

  test("input with an unknown NAMED Parser is a config error, not a silent fallback") {
    // the reference fails plugin init when flb_parser_get returns NULL;
    // falling back (stdin used to fall back to json) runs the WRONG
    // parser over the stream and hides the typo
    val tmp = java.nio.file.Files.createTempFile("graft-conf-badparser", ".log")
    java.nio.file.Files.writeString(tmp, "x\n")
    // tail exercises the shared inputParser helper used by every arm
    // (exec/stdin/tcp/syslog resolve through the same path)
    val e = intercept[IllegalArgumentException](ConfPipeline.load(spark,
      s"[INPUT]\n    Name tail\n    Path $tmp\n    Parser no_such\n", parsersConf))
    assert(e.getMessage.contains("unknown Parser 'no_such'"))
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("conf forward input: record keys 'tag' + literal '_tag' flatten without duplicate columns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val df = Seq(("fw.c", 1500000000L, 0,
      Map("tag" -> "inner", "_tag" -> "literal", "msg" -> "m"), 1L))
      .toDF("tag", "sec", "nsec", "record", "ord")
    val frame = graft.sinks.Forward.frames(df, "tag", "sec", "nsec", "record", "ord")
      .select("frame").as[Array[Byte]].head()
    val port = freePort()
    val conf = s"[INPUT]\n    Name forward\n    Port $port\n"
    val fut = Future(ConfPipeline.load(spark, conf, parsersConf).filtered)
    val s = connectRetrying(port)
    s.getOutputStream.write(frame)
    s.close()
    val out = Await.result(fut, 30.seconds)
    assert(out.columns.length == out.columns.distinct.length, out.columns.mkString(","))
    val row = out.select("tag", "__tag", "_tag", "msg").collect().head
    assert(row.getString(0) == "fw.c") // frame tag keeps the bare name
    assert(row.getString(1) == "inner") // record 'tag' re-prefixed past '_tag'
    assert(row.getString(2) == "literal")
    assert(row.getString(3) == "m")
  }

  test("conf forward input: msgpack frames over a live socket become typed columns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(("fw.a", 1500000000L, 500000000, Map("msg" -> "m1", "code" -> "7"), 1L))
      .toDF("tag", "sec", "nsec", "record", "ord")
    val frame = graft.sinks.Forward.frames(df, "tag", "sec", "nsec", "record", "ord")
      .select("frame").as[Array[Byte]].head()
    val port = freePort()
    val conf =
      s"""[INPUT]
         |    Name forward
         |    Port $port
         |""".stripMargin
    val fut = Future(ConfPipeline.load(spark, conf, parsersConf).filtered)
    val s = connectRetrying(port)
    s.getOutputStream.write(frame)
    s.close()
    val out = Await.result(fut, 30.seconds)
    val row = out.select(col("tag"), unix_micros(col("ts")), col("msg"), col("code"))
      .collect().head
    assert(row.getString(0) == "fw.a")
    assert(row.getLong(1) == 1500000000500000L) // sec + nsec/1e3 carried into ts
    assert(row.getString(2) == "m1" && row.getString(3) == "7")
  }
}
