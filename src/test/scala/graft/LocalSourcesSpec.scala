package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{ExecSource, HeadSource, StdinSource}

/** `in_head` / `in_exec` / `in_stdin` — the local-IO inputs beyond tail
  * (`plugins/in_head/in_head.c`, `plugins/in_exec/in_exec.c`,
  * `plugins/in_stdin/in_stdin.c`).
  */
class LocalSourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkFile(dir: String, name: String, text: String): Unit = {
    Files.writeString(Paths.get(dir, name), text)
    ()
  }

  test("head lines mode: first N lines per file, one record, composed tag") {
    val dir = Files.createTempDirectory("graft-head").toString
    mkFile(dir, "a.log", "l1\nl2\nl3\nl4\n")
    mkFile(dir, "b.log", "only\n")
    val got = HeadSource(spark, s"$dir/*.log", "h.*", lines = 2)
      .select(col("head"), col("tag")).as[(String, String)].collect().toMap
    assert(got.keySet == Set("l1\nl2", "only"))
    assert(got.values.forall(t => t.startsWith("h.") && t.endsWith(".log")))
  }

  test("head strips exactly ONE trailing newline — a final blank line survives") {
    val dir = Files.createTempDirectory("graft-headnl").toString
    mkFile(dir, "t.log", "a\n\n") // lines: ["a", ""]
    val got = HeadSource(spark, s"$dir/*.log", "h", lines = 2)
      .select("head").as[String].collect()(0)
    assert(got == "a\n")
    // zero lines AND zero bytes rejected with a clear error
    intercept[IllegalArgumentException](
      HeadSource(spark, s"$dir/*.log", "h", lines = 0, bytes = 0))
    // bare call uses the reference's 256-byte buffer default
    val dflt = HeadSource(spark, s"$dir/*.log", "h")
      .select("head").as[String].collect()(0)
    assert(dflt == "a\n\n")
  }

  test("head bytes mode counts BYTES; addPath appends the path (in_head.c:191-196)") {
    val dir = Files.createTempDirectory("graft-headb").toString
    mkFile(dir, "c.bin", "0123456789abcdef")
    val r = HeadSource(spark, s"$dir/*.bin", "h", bytes = 4, addPath = true)
      .select(col("head"), col("path")).collect()(0)
    assert(r.getString(0) == "0123")
    assert(r.getString(1).endsWith("c.bin"))
  }

  test("file globs expand once: no metadata-probe WARN, PATH_NOT_FOUND on no match, literal names") {
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = Files.createTempDirectory("graft-headglob").toString
    mkFile(dir, "a.log", "l1\nl2\n")
    mkFile(dir, "b[1].log", "m1\n")
    val reads: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "head lines" -> (g => HeadSource(spark, g, "h", lines = 1)),
      "head bytes" -> (g => HeadSource(spark, g, "h", bytes = 2)))
    // Spark's metadata probe of a literal glob warns through its
    // FileStreamSink logger, which the root logger's config serves
    val root = org.apache.logging.log4j.core.LoggerContext.getContext(false)
      .getConfiguration.getRootLogger
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("glob-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith(".FileStreamSink")) warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    root.addAppender(appender, null, null)
    try reads.foreach { case (what, read) =>
      // both files, the one with a glob metacharacter read literally
      val files = read(s"$dir/*.log").select("file").as[String].collect()
        .map(f => java.net.URLDecoder.decode(f.split('/').last, "UTF-8")).distinct.sorted
      assert(files.toSeq == Seq("a.log", "b[1].log"), what)
    } finally {
      root.removeAppender(appender.getName)
      appender.stop()
    }
    assert(warns.isEmpty, warns)
    // a glob matching nothing goes to Spark as it is, for its own error
    reads.foreach { case (what, read) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](read(s"$dir/*.nope"))
      assert(e.getCondition == "PATH_NOT_FOUND", s"$what: ${e.getMessage}")
    }
  }

  test("exec: one record per stdout line via sh -c (in_exec.c:46-100)") {
    val got = ExecSource(spark, "printf 'x 1\\ny 2\\n'", "cmd.0")
      .select("line", "tag").as[(String, String)].collect().toSeq
    assert(got == Seq(("x 1", "cmd.0"), ("y 2", "cmd.0")))
  }

  test("stdin: read to EOF, one record per line (in_stdin.c:88-180)") {
    val in = new java.io.ByteArrayInputStream("a 1\nb 2\n".getBytes("UTF-8"))
    val got = StdinSource(spark, in, "si.0")
      .select("line", "file", "tag").as[(String, String, String)].collect().toSeq
    assert(got == Seq(("a 1", "stdin", "si.0"), ("b 2", "stdin", "si.0")))
  }

  test("stdin: interior blank lines are records (tcp lineRows convention)") {
    val in = new java.io.ByteArrayInputStream("a\n\nb\n".getBytes("UTF-8"))
    val got = StdinSource(spark, in, "si.b").select("line").as[String].collect().toSeq
    assert(got == Seq("a", "", "b"))
  }

  test("conf stdin default mode is a newline-agnostic JSON-value stream (in_stdin.c:117-148)") {
    // one pretty-printed value across lines + two concatenated on one
    // line + an EOF-truncated tail (PART keeps the complete prefix)
    val json = "{\n  \"log\": \"keep A\",\n  \"stream\": \"stdout\"\n}\n" +
      """{"log":"keep B","stream":"stdout"} {"log":"drop C","stream":"stderr"}""" +
      "\n{\"log\":\"trunca"
    StdinSource.overrideStream = Some(new java.io.ByteArrayInputStream(json.getBytes("UTF-8")))
    try {
      val conf =
        """[INPUT]
          |    Name stdin
          |    Tag  si.stream
          |
          |[FILTER]
          |    Name   grep
          |    Match  *
          |    Regex  log ^keep
          |""".stripMargin
      val parsers =
        """[PARSER]
          |    Name   json
          |    Format json
          |""".stripMargin
      val out = graft.run.ConfPipeline.load(spark, conf, parsers).filtered
      assert(out.select("log").as[String].collect().toSet == Set("keep A", "keep B"))
    } finally StdinSource.overrideStream = None
  }

  test("conf surface: [INPUT] stdin defaults to the json parser (in_stdin default JSON mode)") {
    val json =
      """{"log":"keep 1","stream":"stdout","time":"x"}
        |{"log":"drop 2","stream":"stderr","time":"y"}
        |{"log":"keep 3","stream":"stdout","time":"z"}
        |""".stripMargin
    StdinSource.overrideStream = Some(new java.io.ByteArrayInputStream(json.getBytes("UTF-8")))
    try {
      val conf =
        """[INPUT]
          |    Name stdin
          |    Tag  si.json
          |
          |[FILTER]
          |    Name   grep
          |    Match  *
          |    Regex  log ^keep
          |""".stripMargin
      // parsers text includes the shipped-style json definition the
      // default mode resolves (schema-on-read docker fields)
      val parsers =
        """[PARSER]
          |    Name   json
          |    Format json
          |""".stripMargin
      val out = graft.run.ConfPipeline.load(spark, conf, parsers).filtered
      assert(out.columns.contains("log") && out.columns.contains("stream"))
      assert(out.select("log").as[String].collect().toSet == Set("keep 1", "keep 3"))
      assert(out.select("tag").distinct().as[String].collect().toSeq == Seq("si.json"))
    } finally StdinSource.overrideStream = None
  }

  test("conf surface: [INPUT] exec + grep filter end-to-end") {
    val conf =
      """[INPUT]
        |    Name    exec
        |    Command printf 'keep 5\ndrop 2\nkeep 7\n'
        |    Tag     exec.demo
        |
        |[FILTER]
        |    Name   grep
        |    Match  *
        |    Regex  line ^keep
        |
        |[OUTPUT]
        |    Name counter
        |    Match *
        |""".stripMargin
    val loaded = graft.run.ConfPipeline.load(spark, conf, "")
    assert(loaded.filtered.count() == 2)
  }
}
