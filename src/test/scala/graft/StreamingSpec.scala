package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Grep
import graft.route.SinkSpec
import graft.run.PipelineSpec
import graft.sources.{Generators, TailSource, TokenTable}
import graft.streaming.StreamPipeline

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

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
    val routed = graft.run.Pipeline.transform(StreamPipeline.tokenStream(spark, dir), spec)
      .groupBy("sink").agg(count(lit(1)).as("cnt"), sum("n_tok").as("s"))
    StreamPipeline.drainToMemory(routed, "routed_agg", outputMode = "complete")
    val streamed = spark.sql("SELECT * FROM routed_agg")
      .as[(String, Long, Long)].collect().toSet

    assert(streamed == batch)
  }

  test("streaming flowcounter: windowed counts with watermark") {
    val dir = Files.createTempDirectory("graft-stream-fc").toString
    TokenTable.synthetic(spark, 2000, 4)
      .withColumn("ts", to_timestamp(lit(TokenTable.BaseEpoch) + (col("seq") * 3) % 7200))
      .write.mode("overwrite").parquet(dir)
    val schema = StreamPipeline.tokenSchema
      .add("ts", org.apache.spark.sql.types.TimestampType)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withColumn("sink", lit("all"))
    val fc = StreamPipeline.flowCounter(stream, "ts", "1 hour", "10 minutes", "n_tok")
    StreamPipeline.drainToMemory(fc, "fc_out", outputMode = "complete")
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

    val routed = graft.run.Pipeline.transform(StreamPipeline.tokenStream(spark, dir), nsSpec)
    val fc = StreamPipeline.flowCounter(routed, "event_ts", "10 minutes", "1 hour", "n_tok")
    StreamPipeline.drainToMemory(fc, "ns_fc", outputMode = "complete")
    val streamed = spark.sql("SELECT window.start, sink, cnt, sum_val FROM ns_fc")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    assert(streamed == batch)
    // the envelope itself survived the stream transform (sec matches seq)
    StreamPipeline.drainToMemory(
      routed.select(col("seq"), col("event_time.sec").as("sec")), "ns_env")
    val env = spark.sql("SELECT seq, sec FROM ns_env").as[(Long, Long)].collect()
    assert(env.nonEmpty &&
      env.forall { case (seq, sec) => sec == TokenTable.BaseEpoch + seq % 3600 })
  }

  test("streaming throttle: per-pane budget enforced across micro-batches") {
    import StreamPipeline.ThrottleIn
    val dir = Files.createTempDirectory("graft-stream-th").toString
    val rows = (0 until 100).map { i =>
      ThrottleIn(pane = i / 50, ts = new java.sql.Timestamp((TokenTable.BaseEpoch + i) * 1000L), key = i.toLong)
    }
    rows.toDF().write.mode("overwrite").parquet(dir)
    val ds = spark.readStream
      .schema(rows.toDF().schema).parquet(dir).as[ThrottleIn]
    val out = StreamPipeline.throttle(ds, cap = 10)
    StreamPipeline.drainToMemory(out.toDF(), "th_out")
    val kept = spark.sql("SELECT pane, count(*) FROM th_out GROUP BY 1 ORDER BY 1")
      .as[(Long, Long)].collect().toSeq
    assert(kept == Seq((0L, 10L), (1L, 10L))) // 50 offered per pane, 10 pass
  }

  test("streaming multiline: a record spanning micro-batches assembles via state") {
    import StreamPipeline.MlLine
    val dir = Files.createTempDirectory("graft-stream-ml").toString
    // one logical file, lines split across two input files → two batches
    // (maxFilesPerTrigger=1); record B starts in batch 1, ends in batch 2
    // one parquet file per chunk (coalesce) + distinct mod times: tail
    // reads are inherently in-order per file — the operator's contract
    Seq(MlLine("app.log", 1, "HEAD a"), MlLine("app.log", 2, "  a2"),
      MlLine("app.log", 3, "  a3"), MlLine("app.log", 4, "HEAD b"),
      MlLine("app.log", 5, "  b2"))
      .toDF().coalesce(1).write.parquet(s"$dir/part1")
    Thread.sleep(1100)
    Seq(MlLine("app.log", 6, "  b3"), MlLine("app.log", 7, "HEAD c"),
      MlLine("app.log", 8, "  c2"))
      .toDF().coalesce(1).write.parquet(s"$dir/part2")
    val stream = spark.readStream
      .schema(Seq.empty[MlLine].toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part*").as[MlLine]
    // timeoutMs = 0 → no wall-clock flush: a bounded AvailableNow drain
    // stays deterministic (C remains pending by design)
    val out = StreamPipeline.multiline(stream, "^HEAD", timeoutMs = 0)
    StreamPipeline.drainToMemory(out.toDF(), "ml_out")
    val got = spark.sql("SELECT firstLine, record FROM ml_out ORDER BY firstLine")
      .as[(Long, String)].collect().toSeq
    // A closed by B's head (same batch); B closed by C's head — ACROSS the
    // batch boundary, so its continuation lines came from batch 2's state.
    // C stays pending until Flush_MS (stream ended first) — reference
    // semantics, asserted absent.
    assert(got == Seq(1L -> "HEAD a\n  a2\n  a3", 4L -> "HEAD b\n  b2\n  b3"))
  }

  test("streaming as-of: dims arriving in an earlier batch enrich later events ≡ batch lastBefore") {
    import StreamPipeline.AsOfIn
    val dir = Files.createTempDirectory("graft-stream-asof").toString
    // dims: keys 0..2, ts 200/400/600 (µs), val = k*1000 + ts
    val dims = for (k <- 0L to 2L; t <- Seq(200L, 400L, 600L))
      yield AsOfIn(k, t, isDim = true, Some(k * 1000 + t), None)
    // events: before any dim (100), exact tie (400), between (450), after (900)
    val events = for (k <- 0L to 2L; (t, i) <- Seq(100L, 400L, 450L, 900L).zipWithIndex)
      yield AsOfIn(k, t, isDim = false, None, Some(k * 10 + i))
    dims.toDF().coalesce(1).write.parquet(s"$dir/part1")
    Thread.sleep(1100)
    events.toDF().coalesce(1).write.parquet(s"$dir/part2")
    val stream = spark.readStream.schema(dims.toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/part*").as[AsOfIn]
    StreamPipeline.drainToMemory(StreamPipeline.asOf(stream).toDF(), "asof_out")
    val got = spark.sql("SELECT eventId, dimVal FROM asof_out")
      .as[(Long, Option[Long])].collect().toMap
    // batch reference on the same rows
    val want = graft.operators.AsOfJoin.lastBefore(
        events.toDF().select(col("k"), col("tsUs").as("ts"), col("eventId")),
        "k", "ts",
        dims.toDF().select(col("k"), col("tsUs").as("ts_d"), col("dimVal").as("dv")),
        "k", "ts_d", "dv")
      .select(col("eventId"), col("dv"))
      .as[(Option[Long], Option[Long])].collect()
      .map { case (id, v) => id.get -> v }.toMap
    assert(got.size == 12 && got == want)
    // single-batch mixed arrival: in-batch (ts, dim-first) walk gives the
    // same answer — exact-tie inclusivity inside one batch
    val dir2 = Files.createTempDirectory("graft-stream-asof1").toString
    (dims ++ events).toDF().coalesce(1).write.parquet(s"$dir2/all")
    val stream2 = spark.readStream.schema(dims.toDF().schema)
      .parquet(s"$dir2/all").as[AsOfIn]
    StreamPipeline.drainToMemory(StreamPipeline.asOf(stream2).toDF(), "asof_out1")
    val got2 = spark.sql("SELECT eventId, dimVal FROM asof_out1")
      .as[(Long, Option[Long])].collect().toMap
    assert(got2 == want)
  }

  test("streaming dedup: duplicates dropped across micro-batches (bounded state)") {
    val dir = Files.createTempDirectory("graft-stream-dd").toString
    // two files → two potential batches; doc 1..50 duplicated in both
    val a = TokenTable.synthetic(spark, 100, 1)
      .withColumn("ts", to_timestamp(lit(TokenTable.BaseEpoch) + col("seq")))
    a.write.mode("overwrite").parquet(s"$dir/f1")
    a.filter(col("seq") < 50).write.mode("overwrite").parquet(s"$dir/f2")
    val schema = StreamPipeline.tokenSchema
      .add("ts", org.apache.spark.sql.types.TimestampType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/f*")
    val dd = StreamPipeline.streamingDedup(stream, Seq("seq"), "ts", "10 minutes")
    StreamPipeline.drainToMemory(dd, "dd_out")
    assert(spark.sql("SELECT count(*) FROM dd_out").collect()(0).getLong(0) == 100L)
    assert(spark.sql("SELECT count(DISTINCT seq) FROM dd_out").collect()(0).getLong(0) == 100L)
  }

  test("tail source: dotted-path dynamic tag + numbered lines for multiline") {
    val dir = Files.createTempDirectory("graft-tail").toString
    Files.writeString(java.nio.file.Paths.get(dir, "app.log"), "l1\nl2\nl3\n")
    val df = TailSource.linesNumbered(spark, s"$dir/*.log", "tail.*")
    val got = df.select("tag", "line_no", "line").collect()
    assert(got.length == 3)
    assert(got.forall(_.getString(0).startsWith("tail.")))
    assert(got.forall(r => r.getString(0).endsWith(".app.log")))
    assert(got.map(r => (r.getInt(1), r.getString(2))).toSet == Set((0, "l1"), (1, "l2"), (2, "l3")))
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
    val r1 = Generators.random(spark, 10).select("rand_value").as[Long].collect().toSeq
    val r2 = Generators.random(spark, 10).select("rand_value").as[Long].collect().toSeq
    assert(r1 == r2) // seeded
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
    StreamPipeline.drainToMemory(streamed, "fmt_lines")
    val streamLines = spark.sql("SELECT line FROM fmt_lines").as[String].collect().toSet
    assert(streamLines == batchLines && batchLines.size == 2)
    // the escape path rode through the stream: quote inside a value
    assert(batchLines.exists(_.contains("wo\\\"rld")))
  }
}
