package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Grep
import graft.route.SinkSpec
import graft.run.{JobCounts, Pipeline, PipelineSpec, Snapshot, SnapshotLedger}
import graft.sources.TokenTable

/** End-to-end pipeline + snapshot ledger semantics: resume-after-kill
  * must not reprocess committed snapshots and final per-sink aggregates
  * must equal a single clean run (BASELINE resume-correctness row).
  */
class PipelineRunSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** Three uneven snapshots of the BASELINE-shape table (FIXTURES §1). */
  private def makeInput(root: String): SnapshotLedger = {
    val ledger = new SnapshotLedger(root).init()
    val ranges = Seq((0L, 300L), (300L, 400L), (400L, 1000L)) // uneven
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val df = TokenTable.synthetic(spark, hi, 4).filter(col("seq") >= lo)
      df.write.mode("overwrite").parquet(s"$root/in/snap$i")
      val files = Files.list(Paths.get(s"$root/in/snap$i")).iterator.asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      ledger.writeSnapshot(Snapshot(i.toLong, files))
    }
    ledger
  }

  private val spec = PipelineSpec(
    grep = Seq(Grep.Regex("code", "^[45]")),
    sinks = Seq(SinkSpec("sink_app", "app.*"), SinkSpec("sink_all", "*")))

  test("pipeline run commits every (sink, snapshot) with counts + lineage") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val ledger = makeInput(root)
    val commits = Pipeline.run(spark, ledger, spec, s"$root/out")
    assert(commits.size == 6) // 3 snapshots × 2 sinks
    assert(ledger.pending(spec.sinks.map(_.name)).isEmpty)
    // lineage names real input files and covers all rows
    val c = ledger.readCommit("sink_all", 2L).get
    assert(c.lineage.nonEmpty)
    assert(c.lineage.forall(_.inputFile.contains("/in/snap2/")))
    assert(c.lineage.map(_.rows).sum == c.rows)
    // routed rows actually landed per sink directory
    val appOut = spark.read.parquet(s"$root/out/data/snap=0/sink=sink_app")
    assert(appOut.count() == ledger.readCommit("sink_app", 0L).get.rows)
    deleteRec(Paths.get(root))
  }

  test("runSnapshot scans the input ONCE (observe-based lineage, no second pass)") {
    val root = Files.createTempDirectory("graft-pipe1j").toString
    val ledger = makeInput(root)
    val snap = ledger.pending(spec.sinks.map(_.name)).head
    val expected = spark.read.parquet(snap.files: _*).count()
    val (_, counts) = JobCounts.of(spark, "pipe-scan-once") {
      Pipeline.runSnapshot(spark, ledger, snap, spec, s"$root/out")
    }
    // the two-pass formulation read 2×expected; single-pass reads exactly 1×
    assert(counts.recordsIn == expected,
      s"expected one scan of $expected input rows, read ${counts.recordsIn}")
    deleteRec(Paths.get(root))
  }

  test("kill + resume: committed snapshots are skipped, aggregates unchanged") {
    val root = Files.createTempDirectory("graft-pipe2").toString
    val ledger = makeInput(root)

    // clean single run → reference totals
    Pipeline.run(spark, ledger, spec, s"$root/out")
    def totals = spec.sinks.map(_.name).map { s =>
      s -> (0L to 2L).flatMap(ledger.readCommit(s, _)).map(c => (c.rows, c.sumNTok))
        .foldLeft((0L, 0L)) { case ((r, t), (r2, t2)) => (r + r2, t + t2) }
    }.toMap
    val ref = totals

    // simulate a crash mid-run: drop the commit markers + output of snapshot 1
    Files.delete(Paths.get(root, "_commits", "sink_app", "snap-00001.json"))
    Files.delete(Paths.get(root, "_commits", "sink_all", "snap-00001.json"))
    deleteRec(Paths.get(root, "out", "data", "snap=1"))

    val redone = Pipeline.run(spark, ledger, spec, s"$root/out")
    assert(redone.map(_.snapshotId).toSet == Set(1L)) // ONLY the lost snapshot
    assert(totals == ref) // aggregates identical after resume

    // a second resume is a no-op
    assert(Pipeline.run(spark, ledger, spec, s"$root/out").isEmpty)
    deleteRec(Paths.get(root))
  }

  test("job counts mirror reference counters (records/bytes in, out ok)") {
    val root = Files.createTempDirectory("graft-pipe3").toString
    val ledger = makeInput(root)
    val (commits, counts) = JobCounts.of(spark, "pipe-counters") {
      Pipeline.run(spark, ledger, spec, s"$root/out")
    }
    val m = counts.metrics
    assert(m("records_in") == 1000) // the three snapshots, each scanned once
    assert(m("bytes_in") > 0)
    // the write's records are the routed rows the commits count, nothing more
    assert(m("out_ok_records") > 0 && m("out_ok_records") == commits.map(_.rows).sum)
    assert(m("out_ok_bytes") > 0)
    assert(m("out_errors") == 0)
    assert(m("retries") == 0 && m("retry_failed") == 0)
    deleteRec(Paths.get(root))
  }
}
