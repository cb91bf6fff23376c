package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --work <dir>`
  *
  * Set-up (session start + input generation) runs three times and reports
  * the median. Six untimed warm-up passes follow, then timed passes
  * until `--seconds` have elapsed (at least three); rates are medians over
  * the timed passes. With `--trace 1` every round adds a traced pass and
  * the workload's layer prefixes, and the per-layer metrics replace the
  * end-to-end ones. The last line of standard output is the result JSON.
  */
object Main {
  val Setups = 3
  val WarmupPasses = 6
  val MinPasses = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rows_per_s" -> "rows/s",
    "cpu_s_per_mrow" -> "s/Mrow")

  /** Every traced run prints all of these (BENCHMARK.json's per_layer); a
    * layer the workload does not call reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "trace.rows_per_s" -> "rows/s",
    "trace.untraced_rows_per_s" -> "rows/s",
    "warmup.first_pass_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.peak_exec_mem_mb" -> "MB",
    "sources.scan_share" -> "ratio",
    "parsers.parse_share" -> "ratio",
    "operators.grep_share" -> "ratio",
    "enrich.join_share" -> "ratio",
    "route.fanout_agg_share" -> "ratio",
    "sinks.out_files" -> "count",
    "sinks.out_mb" -> "MB",
    "sinks.out_bytes_per_row" -> "B/row",
    "conf.load_share" -> "ratio",
    "run.conf_filtered_share" -> "ratio",
    "sinks.file_json_share" -> "ratio",
    "sinks.file_csv_share" -> "ratio",
    "run.conf_overhead_share" -> "ratio",
    "run.conf_jobs" -> "count",
    "run.conf_cached_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    if (args.headOption.contains("--selftest")) { SelfTest.run(); return }
    val wl = Workloads.all.find(_.name == need("workload"))
      .getOrElse(sys.error(s"unknown workload ${need("workload")}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val tracing = need("trace") == "1"
    val cores = need("cores").toInt
    val work = Paths.get(need("work")).toAbsolutePath
    val dir = work.resolve(wl.name)
    Run.delete(dir)
    Files.createDirectories(dir)

    var spark: SparkSession = null
    val setups = (0 until Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Run.session(cores, work)
      val t1 = System.nanoTime()
      wl.prepare(spark, seed, dir)
      val t2 = System.nanoTime()
      System.err.println(f"[perfbench] set-up: session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s")
      (t2 - t0) / 1e9
    }
    wl.expect(seed)
    val meter = Meter.install(spark)
    val tracer = new Tracer(s"${wl.name}-seed$seed-${System.currentTimeMillis}", meter)
    val r = new Run(spark, seed, dir, tracing, tracer, meter)
    val cacheManager = spark.sharedState.cacheManager

    /** (wall seconds, counts) of one pass; traced passes record a `pass` span. */
    def onePass(traced: Boolean): (Double, Counts) = {
      wl.reset(r)
      tracer.on = traced
      val c0 = meter.now()
      val t0 = System.nanoTime()
      tracer.span("pass")(wl.pass(r))
      val t = (System.nanoTime() - t0) / 1e9
      tracer.on = false
      val c = meter.now() - c0
      r.check("no cached plan survives a pass")(Expect.cacheEmpty(cacheManager.isEmpty))
      (t, c)
    }

    val first = onePass(traced = false)._1
    val warm = (1 until WarmupPasses).map(_ => onePass(traced = false)._1)
    System.err.println(f"[perfbench] warm-up passes: ${(first +: warm).map(t => f"$t%.2f").mkString(" ")} s")

    val plain = ArrayBuffer.empty[(Double, Counts)]
    val traced = ArrayBuffer.empty[(Double, Counts)]
    val layerRounds = ArrayBuffer.empty[Map[String, Double]]
    val start = System.nanoTime()
    while (plain.size < MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      plain += onePass(traced = false)
      if (tracing) {
        traced += onePass(traced = true)
        wl.reset(r)
        tracer.on = true
        layerRounds += wl.layers(r)
        tracer.on = false
        r.check("no cached plan survives the layer prefixes")(Expect.cacheEmpty(cacheManager.isEmpty))
      }
    }
    val finished = wl.finish(r)

    val rows = wl.rows.toDouble
    val passS = Run.median(plain.map(_._1).toSeq)
    val metrics: Seq[(String, String, Double)] =
      if (!tracing) {
        val values = Map(
          "setup_s" -> Run.median(setups),
          "rows_per_s" -> rows / passS,
          "cpu_s_per_mrow" -> Run.median(plain.map(_._2.cpuNs / 1e9 / (rows / 1e6)).toSeq))
        EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        val passSpans = tracer.named("pass")
        def med(f: Span => Double) = Run.median(passSpans.map(f))
        val layerKeys = layerRounds.flatMap(_.keys).distinct
        val values = Map(
          "trace.rows_per_s" -> rows / Run.median(traced.map(_._1).toSeq),
          "trace.untraced_rows_per_s" -> rows / passS,
          "warmup.first_pass_s" -> (first - passS),
          "spark.jobs" -> med(_.counts.jobs.toDouble),
          "spark.tasks" -> med(_.counts.tasks.toDouble),
          "spark.shuffle_write_mb" -> med(s => Workloads.mb(s.counts.shuffleWriteBytes)),
          "spark.spill_mb" -> med(s => Workloads.mb(s.counts.spillBytes)),
          "spark.executor_cpu_s" -> med(_.counts.cpuNs / 1e9),
          // mean over every timed pass, not a median: one pass may see no
          // collection at all
          "spark.gc_s" -> (plain ++ traced).map(_._2.gcMs / 1e3).sum / (plain.size + traced.size),
          "spark.peak_exec_mem_mb" -> med(s => Workloads.mb(s.peakMemBytes))) ++
          layerKeys.map(k => k -> Run.median(layerRounds.map(_(k)).toSeq)) ++ finished
        val unlisted = values.keySet -- PerLayer.map(_._1)
        require(unlisted.isEmpty, s"per-layer metrics missing from PerLayer: $unlisted")
        PerLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
      }

    if (tracing) {
      val out = work.resolve(s"traces/${wl.name}-seed$seed.json")
      tracer.write(out)
      System.err.println(s"[perfbench] spans written to $out")
    }
    spark.stop()

    val body = metrics.map { case (n, u, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    System.err.println(s"[perfbench] ${wl.name} seed=$seed timed passes (wall s/executor CPU s): " +
      plain.map(p => f"${p._1}%.2f/${p._2.cpuNs / 1e9}%.2f").mkString(" "))
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}""")
  }
}
