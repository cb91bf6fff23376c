package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Grep
import graft.route.SinkSpec
import graft.run.PipelineSpec
import graft.sources.{Generators, TailSource, TokenTable}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Run a stream to completion over existing files: memory sink,
    * AvailableNow, blocking.
    */
  private def drainToMemory(df: DataFrame, name: String, outputMode: String = "append"): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  private val spec = PipelineSpec(
    grep = Seq(Grep.Regex("code", "^5")),
    sinks = Seq(SinkSpec("sink_app", "app.*"), SinkSpec("sink_all", "*")))

  test("streaming pipeline over files == batch pipeline (same transform)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    TokenTable.synthetic(spark, 5000, 4).write.mode("overwrite").parquet(dir)

    // batch reference
    val batch = graft.run.Pipeline.transform(spark.read.parquet(dir), spec)
      .groupBy("sink").agg(count(lit(1)).as("cnt"), sum("n_tok").as("s"))
      .as[(String, Long, Long)].collect().toSet

    // streaming: same transform chain under readStream
    val routed = graft.run.Pipeline.transform(TokenTable.tokenStream(spark, dir), spec)
      .groupBy("sink").agg(count(lit(1)).as("cnt"), sum("n_tok").as("s"))
    drainToMemory(routed, "routed_agg", outputMode = "complete")
    val streamed = spark.sql("SELECT * FROM routed_agg")
      .as[(String, Long, Long)].collect().toSet

    assert(streamed == batch)
  }

  test("streaming flowcounter: windowed counts with watermark") {
    val dir = Files.createTempDirectory("graft-stream-fc").toString
    TokenTable.synthetic(spark, 2000, 4)
      .withColumn("ts", to_timestamp(lit(TokenTable.BaseEpoch) + (col("seq") * 3) % 7200))
      .write.mode("overwrite").parquet(dir)
    val schema = TokenTable.tokenSchema
      .add("ts", org.apache.spark.sql.types.TimestampType)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withColumn("sink", lit("all"))
    val fc = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("sink"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("sum_val"))
    drainToMemory(fc, "fc_out", outputMode = "complete")
    val rows = spark.sql("SELECT window.start, cnt, sum_val FROM fc_out ORDER BY 1").collect()
    // base 20:17:03 + offsets [0, 5997] → hour panes 20:00 and 21:00
    assert(rows.length == 2)
    assert(rows.map(_.getLong(1)).sum == 2000L)
  }

  test("streaming ns envelope: event_time struct parsed in-stream, windowed on derived event_ts") {
    val dir = Files.createTempDirectory("graft-stream-ns").toString
    TokenTable.synthetic(spark, 2000, 4).write.mode("overwrite").parquet(dir)
    val nsSpec = spec.copy(grep = Nil, eventTimeNs = true)

    // batch reference: window on the µs timestamp DERIVED from the envelope
    val batch = graft.run.Pipeline.transform(spark.read.parquet(dir), nsSpec)
      .groupBy(window(col("event_ts"), "10 minutes"), col("sink"))
      .agg(count(lit(1)).as("cnt"), sum("n_tok").as("s"))
      .select(col("window.start"), col("sink"), col("cnt"), col("s"))
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet

    val routed = graft.run.Pipeline.transform(TokenTable.tokenStream(spark, dir), nsSpec)
    val fc = routed.withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "10 minutes"), col("sink"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("sum_val"))
    drainToMemory(fc, "ns_fc", outputMode = "complete")
    val streamed = spark.sql("SELECT window.start, sink, cnt, sum_val FROM ns_fc")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    assert(streamed == batch)
    // the envelope itself survived the stream transform (sec matches seq)
    drainToMemory(
      routed.select(col("seq"), col("event_time.sec").as("sec")), "ns_env")
    val env = spark.sql("SELECT seq, sec FROM ns_env").as[(Long, Long)].collect()
    assert(env.nonEmpty &&
      env.forall { case (seq, sec) => sec == TokenTable.BaseEpoch + seq % 3600 })
  }

  test("tail source: dotted-path dynamic tag + numbered lines for multiline") {
    // line numbers for multiline assembly come from the caller
    // (`Multiline.assemble` takes a line-number column); tail tags lines
    val dir = Files.createTempDirectory("graft-tail").toString
    Files.writeString(java.nio.file.Paths.get(dir, "app.log"), "l1\nl2\nl3\n")
    val got = TailSource.lines(spark, s"$dir/*.log", "tail.*").select("tag", "line").collect()
    assert(got.length == 3)
    assert(got.forall(_.getString(0).startsWith("tail.")))
    assert(got.forall(r => r.getString(0).endsWith(".app.log")))
    assert(got.map(_.getString(1)).toSet == Set("l1", "l2", "l3"))
  }

  test("tail lines (distributed variant): tag composed, content complete") {
    val dir = Files.createTempDirectory("graft-tail2").toString
    Files.writeString(java.nio.file.Paths.get(dir, "x.log"), "a\nb\n")
    Files.writeString(java.nio.file.Paths.get(dir, "y.log"), "c\n")
    val df = TailSource.lines(spark, s"$dir/*.log", "t.*")
    val got = df.select("line", "tag").as[(String, String)].collect().toSet
    assert(got.map(_._1) == Set("a", "b", "c"))
    assert(got.forall { case (_, t) => t.startsWith("t.") && t.endsWith(".log") })
    // a glob matching one file reads through the same expansion, naming
    // the file as Spark's own glob expansion does; a glob matching nothing
    // still fails as Spark's own path-not-found error
    val one = TailSource.lines(spark, s"$dir/y.*", "t.*")
    assert(one.select("line", "file").as[(String, String)].collect().toSeq ==
      spark.read.text(s"$dir/*.log").select(col("value"), input_file_name())
        .filter(col("value") === "c").as[(String, String)].collect().toSeq)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      TailSource.lines(spark, s"$dir/*.nope", "t.*"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    // a matched name holding a glob metacharacter is read literally
    val odd = Files.createTempDirectory("graft-tail3").toString
    Files.writeString(java.nio.file.Paths.get(odd, "a[1].log"), "d\n")
    assert(TailSource.lines(spark, s"$odd/*.log").select("line").as[String].collect().toSeq == Seq("d"))
  }

  test("dummy/random generators are deterministic") {
    val d1 = Generators.dummy(spark, 5, Map("message" -> "dummy")).collect()
    assert(d1.length == 5)
    assert(d1.forall(_.getMap[String, String](1)("message") == "dummy"))
    assert(Generators.dummy(spark, 5, Map("message" -> "dummy")).collect().toSeq == d1.toSeq)
  }

  test("streaming file sink emits the same reference-exact bytes as batch") {
    import graft.sinks.FileFormat
    val dir = Files.createTempDirectory("graft-stream-fmt").toString
    val rows = Seq(
      ("a.log", 1500000000L, 123456000L, "hello", 5L),
      ("b.log", 1500000001L, 0L, "wo\"rld", 7L)
    ).toDF("tag", "sec", "nsec", "msg", "code")
    rows.write.mode("overwrite").parquet(dir)
    val batchLines = rows
      .select(FileFormat.jsonLine(rows, "tag", "sec", "nsec", Seq("msg", "code")).as("line"))
      .as[String].collect().toSet
    val stream = spark.readStream.schema(rows.schema).parquet(dir)
    val streamed = stream
      .select(FileFormat.jsonLine(stream, "tag", "sec", "nsec", Seq("msg", "code")).as("line"))
    drainToMemory(streamed, "fmt_lines")
    val streamLines = spark.sql("SELECT line FROM fmt_lines").as[String].collect().toSet
    assert(streamLines == batchLines && batchLines.size == 2)
    // the escape path rode through the stream: quote inside a value
    assert(batchLines.exists(_.contains("wo\\\"rld")))
  }
}
