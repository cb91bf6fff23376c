package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.operators.Grep
import graft.parsers.Parsers
import graft.route.{Router, SinkSpec}
import graft.run.{ConfPipeline, Pipeline, PipelineSpec}
import graft.sinks.FileFormat
import graft.sources.TailSource

/** One benchmark workload. A run calls [[prepare]] during set-up, then
  * [[expect]] once, [[reset]] (untimed) and [[pass]] (timed) once per pass, [[layers]]
  * once per traced round, and [[finish]] once at the end.
  */
abstract class Workload {
  def name: String
  /** Input rows one pass processes. */
  def rows: Long
  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit
  /** Expected outputs from plain loops over the generator; untimed. */
  def expect(seed: Long): Unit
  def reset(r: Run): Unit = ()
  def pass(r: Run): Unit
  /** Per-layer values of one traced round. */
  def layers(r: Run): Map[String, Double]
  /** End-of-run checks; per-layer values when tracing. */
  def finish(r: Run): Map[String, Double]
}

object Workloads {
  val all: Seq[Workload] = Seq(RouteAgg, ConfFiles)

  def writeLogs(spark: SparkSession, seed: Long, lo: Long, hi: Long, files: Int,
                out: Path): Unit =
    spark.range(lo, hi, 1, files)
      .map((i: java.lang.Long) => Gen.logRec(seed, i))(Encoders.product[Gen.LogRec])
      .write.mode("overwrite").parquet(out.toString)

  /** Pod metadata for the broadcast enrich, shaped as the repo's own
    * throughput bench builds it: one row per pod web-0 .. web-9 in
    * namespace default.
    */
  def kubeDim(spark: SparkSession): DataFrame =
    spark.range(0, Gen.KubePods)
      .select(concat(lit("web-"), col("id").cast("string"), lit("_default")).as("pod_key"),
        concat(lit("team-"), col("id").cast("string")).as("team"))

  def routeSpec(spark: SparkSession): PipelineSpec = PipelineSpec(
    grep = Seq(Grep.Regex("code", "^5")),
    sinks = Gen.Sinks.map { case (n, g) => SinkSpec(n, g) },
    enrichDim = Some(kubeDim(spark)))

  /** The layers of `Pipeline.transform`, called one by one so each prefix
    * can be timed as its own action.
    */
  final class RouteLayers(in: DataFrame, spec: PipelineSpec) {
    val parsed: DataFrame = in.withColumn("parsed", Parsers.apache.parsed(col("doc_id")))
    val kept: DataFrame = parsed.filter(Grep.keepPredicate(spec.grep,
      f => if (parsed.columns.contains(f)) col(f) else col("parsed").getField(f).cast("string")))
    val enriched: DataFrame = Enrich.kubernetes(kept, spec.tagCol, spec.enrichDim.get,
      applyExclude = false)
    val routed: DataFrame = Router.fanOut(enriched, spec.tagCol, spec.sinks)
  }

  def sinkAgg(routed: DataFrame): Map[String, (Long, Long)] =
    routed.groupBy(col("sink"))
      .agg(count(lit(1)), sum(col("n_tok").cast("long")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      .withDefaultValue((0L, 0L))

  def fill(m: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    Gen.Sinks.map { case (n, _) => n -> m(n) }.toMap

  /** Self time of each layer as a share of the last (full) prefix. */
  def shares(names: Seq[String], cumulative: Seq[Double]): Map[String, Double] = {
    val self = cumulative.head +: cumulative.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    names.zip(self).map { case (n, s) => n -> s / cumulative.last }.toMap
  }

  def mb(bytes: Long): Double = bytes / 1048576.0
}

import Workloads._

/** Parse → grep → enrich → fan-out over a BASELINE-shaped parquet table,
  * then a per-sink count and token sum. No writes.
  */
object RouteAgg extends Workload {
  val name = "route_agg"
  val rows = 1000000L
  private var spec: PipelineSpec = _
  private var expected: Map[String, (Long, Long)] = _

  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit = {
    writeLogs(spark, seed, 0, rows, 4 * spark.sparkContext.defaultParallelism, dir.resolve("in"))
    spec = routeSpec(spark)
  }

  private def input(r: Run) = r.spark.read.parquet(r.dir.resolve("in").toString)

  def expect(seed: Long): Unit = expected = Expect.sinkTotals(seed, 0, rows)

  def pass(r: Run): Unit = {
    val routed = r.tr.span("run.transform")(Pipeline.transform(input(r), spec))
    val got = r.tr.span("route.fanout_agg")(sinkAgg(routed))
    r.check("route_agg per-sink totals")(Expect.sameTotals("per-sink (rows, sum n_tok)", expected, fill(got)))
  }

  def layers(r: Run): Map[String, Double] = {
    val in = input(r)
    val l = new RouteLayers(in, spec)
    val times = Seq(
      r.tr.span("sources.scan")(r.noop(in.select("doc_id", "source", "n_tok"))),
      r.tr.span("parsers.parse")(r.noop(l.parsed.select(col("parsed.code"), col("source"), col("n_tok")))),
      r.tr.span("operators.grep")(r.noop(l.kept.select("source", "n_tok"))),
      r.tr.span("enrich.join")(r.noop(l.enriched.select("source", "n_tok", "kubernetes"))),
      r.tr.span("route.fanout_agg")(r.seconds(sinkAgg(l.routed))))
    shares(Seq("sources.scan_share", "parsers.parse_share", "operators.grep_share",
      "enrich.join_share", "route.fanout_agg_share"), times)
  }

  def finish(r: Run): Map[String, Double] = Map.empty
}

/** A classic fluent-bit conf through `ConfPipeline.load`/`run`: two `tail`
  * inputs → `parser apache` → `grep Exclude` → `record_modifier` →
  * `file` json + `file` csv + `counter`.
  */
object ConfFiles extends Workload {
  val name = "conf_files"
  val rows = 300000L
  private val half = rows / 2
  private var conf: String = _
  private var expected: Map[String, Long] = _

  /** Static tags keep the records independent of where the input lives. */
  def tagOf(i: Long): String = if (i < half) "web.access" else "api.access"

  val parsers: String =
    """[PARSER]
      |    Name   apache
      |    Format regex
      |    Regex  ^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?" (?<code>[^ ]*) (?<size>[^ ]*)(?: "(?<referer>[^\"]*)" "(?<agent>[^\"]*)")?$
      |    Time_Key time
      |    Time_Format %d/%b/%Y:%H:%M:%S %z
      |""".stripMargin

  private def relative(p: Path): String =
    java.nio.file.Paths.get("").toAbsolutePath.relativize(p.toAbsolutePath).toString

  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val files = spark.sparkContext.defaultParallelism
    Seq("web" -> 0L, "api" -> half).foreach { case (stream, lo) =>
      spark.range(lo, lo + half, 1, files)
        .map((i: java.lang.Long) => Gen.line(seed, i))(Encoders.STRING)
        .write.mode("overwrite").text(dir.resolve(s"in/$stream").toString)
    }
    val in = relative(dir.resolve("in"))
    val out = relative(dir.resolve("out"))
    conf =
      s"""[INPUT]
         |    Name   tail
         |    Path   $in/web/*.txt
         |    Tag    web.access
         |    Parser apache
         |[INPUT]
         |    Name   tail
         |    Path   $in/api/*.txt
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
         |[OUTPUT]
         |    Name   file
         |    Match  *
         |    Format json
         |    Path   $out/json
         |[OUTPUT]
         |    Name   file
         |    Match  web.*
         |    Format csv
         |    Path   $out/csv
         |[OUTPUT]
         |    Name   counter
         |    Match  *
         |""".stripMargin
  }

  def expect(seed: Long): Unit = {
    val web = Expect.countKept(seed, 0, half)
    val all = web + Expect.countKept(seed, half, rows)
    expected = Map("file_0" -> all, "file_1" -> web, "counter_2" -> all)
  }

  override def reset(r: Run): Unit = {
    Run.delete(r.dir.resolve("out"))
    Run.delete(r.dir.resolve("layers"))
  }

  def pass(r: Run): Unit = {
    val loaded = r.tr.span("conf.load")(ConfPipeline.load(r.spark, conf, parsers))
    val counts = r.tr.span("run.conf_run")(ConfPipeline.run(loaded, r.dir.resolve("out").toString))
    r.check("conf_files output record counts")(
      Expect.sameCounts("records per output", expected, counts.toMap))
  }

  /** ConfPipeline's flb_time framing of a record, for a stand-alone writeExact. */
  private def framed(rows: DataFrame): (DataFrame, Seq[String]) = {
    val valueCols = rows.columns.filterNot(c => c == "tag" || c == "ts").toSeq
    (rows.withColumn("_sec", col("ts").cast("long"))
      .withColumn("_nsec", (unix_micros(col("ts")) - col("ts").cast("long") * 1000000L) * 1000L),
      valueCols)
  }

  /** `ConfPipeline.run` caches `Loaded.filtered`, fills the cache with one
    * count and then, per output, writes and recounts. The layer prefixes
    * follow it: the cache fill, then `FileFormat.writeExact` per format over
    * the filled cache. What `run` spends beyond those three is its overhead:
    * the recounts, the counter output and the extra jobs.
    */
  def layers(r: Run): Map[String, Double] = {
    val out = r.dir.resolve("layers")
    var loaded: ConfPipeline.Loaded = null
    val load = r.seconds { loaded = r.tr.span("conf.load")(ConfPipeline.load(r.spark, conf, parsers)) }
    val in = relative(r.dir.resolve("in"))
    val scan = r.tr.span("sources.scan")(r.noop(
      TailSource.lines(r.spark, s"$in/web/*.txt", "web.access")
        .union(TailSource.lines(r.spark, s"$in/api/*.txt", "api.access"))))
    val cached = loaded.filtered.cache()
    val filtered = r.tr.span("run.conf_filtered")(r.seconds(cached.count()))
    val cachedBytes = r.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val (all, cols) = framed(cached)
    val json = r.tr.span("sinks.file_json")(r.seconds(FileFormat.writeExact(
      all, out.resolve("json").toString, "json", "tag", "_sec", "_nsec", cols)))
    val (web, webCols) = framed(cached.filter(col("tag").like("web.%")))
    val csv = r.tr.span("sinks.file_csv")(r.seconds(FileFormat.writeExact(
      web, out.resolve("csv").toString, "csv", "tag", "_sec", "_nsec", webCols)))
    cached.unpersist(blocking = true)
    val c0 = r.meter.now()
    val run = r.tr.span("run.conf_run")(r.seconds(ConfPipeline.run(loaded, out.resolve("run").toString)))
    val jobs = (r.meter.now() - c0).jobs
    val total = load + run
    Map(
      "conf.load_share" -> load / total,
      "sources.scan_share" -> scan / total,
      "run.conf_filtered_share" -> filtered / total,
      "sinks.file_json_share" -> json / total,
      "sinks.file_csv_share" -> csv / total,
      "run.conf_overhead_share" -> (run - filtered - json - csv) / total,
      "run.conf_jobs" -> jobs.toDouble,
      "run.conf_cached_mb" -> mb(cachedBytes))
  }

  def finish(r: Run): Map[String, Double] = {
    val out = r.dir.resolve("out")
    val json = Run.dataFiles(out.resolve("json"))
    val csv = Run.dataFiles(out.resolve("csv"))
    r.check("every out_file json line parses and matches its input line")(
      Expect.jsonLines(r.seed, json.iterator.flatMap(f => Files.readAllLines(f).asScala),
        tagOf, expected("file_0")))
    r.check("out_file csv line count")(
      Expect.sameCounts("csv lines", Map("csv" -> expected("file_1")),
        Map("csv" -> csv.map(f => Files.readAllLines(f).size.toLong).sum)))
    if (!r.tracing) Map.empty
    else {
      val bytes = (json ++ csv).map(Files.size).sum
      Map(
        "sinks.out_files" -> (json.size + csv.size).toDouble,
        "sinks.out_mb" -> mb(bytes),
        "sinks.out_bytes_per_row" -> bytes.toDouble / rows)
    }
  }
}
