package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Grep
import graft.route.SinkSpec
import graft.run._
import graft.sources.TokenTable

/** spark-submit entry point: run the parse→grep→route→aggregate pipeline
  * over a directory of parquet snapshots with ledger-based resume.
  *
  * {{{
  *   runMain graft.RunPipeline <workDir> [--gen <rows> <snapshots>]
  * }}}
  *
  * `workDir/in/snapN/` parquet dirs are the input snapshots (registered in
  * the ledger on first run); `--gen` synthesizes them first (BASELINE
  * shape). Re-running resumes: committed (sink, snapshot) pairs are
  * skipped. Prints one status line per commit and a metrics summary that
  * counts the jobs of `Pipeline.run` alone (not the `--gen` writes).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val spark = Sessions.create("graft-pipeline")
    val ledger = new SnapshotLedger(workDir).init()

    if (args.length > 1 && args(1) == "--gen") {
      val rows = if (args.length > 2) args(2).toLong else 1000000L
      val nSnaps = if (args.length > 3) args(3).toInt else 3
      val per = rows / nSnaps
      (0 until nSnaps).foreach { i =>
        // last snapshot takes the division remainder — every seq in
        // [0, rows) lands in exactly one snapshot
        val hi = if (i == nSnaps - 1) rows else (i + 1) * per
        TokenTable.synthetic(spark, rows, 32)
          .filter(col("seq") >= i * per && col("seq") < hi)
          .write.mode("overwrite").parquet(s"$workDir/in/snap$i")
        val files = Files.list(Paths.get(s"$workDir/in/snap$i")).iterator.asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        ledger.writeSnapshot(Snapshot(i.toLong, files))
        println(s"[pipeline] generated snapshot $i: ${hi - i * per} rows, ${files.size} files")
      }
    }

    val spec = PipelineSpec(
      grep = Seq(Grep.Regex("code", "^5")),
      sinks = TokenTable.Sinks.map((SinkSpec.apply _).tupled))

    if (args.contains("--stream")) {
      // streaming mode: same transform chain under Structured Streaming,
      // AvailableNow over the input snapshots, per-sink aggregates to
      // console (one-shot drain; checkpointLocation makes re-runs resume)
      val stream = TokenTable.tokenStream(spark, s"$workDir/in/*")
      val agg = Pipeline.transform(stream, spec)
        .groupBy(col("sink")).agg(count(lit(1)).as("cnt"), sum(col("n_tok")).as("sum_n_tok"))
      val q = agg.writeStream
        .format("console").outputMode("complete")
        .option("checkpointLocation", s"$workDir/_stream_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println("[pipeline] streaming drain complete")
      spark.stop()
      return
    }

    val pendingBefore = ledger.pending(spec.sinks.map(_.name)).map(_.id)
    println(s"[pipeline] pending snapshots: ${pendingBefore.mkString(",")} " +
      s"(committed work is skipped: ledger resume)")
    val t0 = System.nanoTime()
    val (commits, counts) =
      JobCounts.of(spark, "graft-pipeline")(Pipeline.run(spark, ledger, spec, s"$workDir/out"))
    val sec = (System.nanoTime() - t0) / 1e9
    commits.foreach { c =>
      println(f"[pipeline] commit sink=${c.sink} snap=${c.snapshotId} rows=${c.rows} " +
        f"sum_n_tok=${c.sumNTok} lineage_files=${c.lineage.map(_.inputFile).distinct.size}")
    }
    println(f"[pipeline] done: ${commits.size} commits in $sec%.1f s")
    println(s"[pipeline] metrics: ${counts.metrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    spark.stop()
  }
}
