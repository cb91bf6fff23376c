package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.run.JobCounts

/** [[JobCounts]], the one reader of Spark's job counters, and the guard
  * that keeps hand-written listeners out of the program.
  */
class JobCountsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a failed job counts as out_errors and retry_failed, not as a retry") {
    // a local[4] session has spark.task.maxFailures 1: the failed attempt
    // is not run again, so the job fails
    val (failed, counts) = JobCounts.of(spark, "job-counts-failure") {
      Try(spark.range(0, 1, 1, 1).select(raise_error(lit("injected"))).collect())
    }
    assert(failed.isFailure)
    assert(counts.jobs == 1 && counts.failedJobs == 1)
    val m = counts.metrics
    assert(m("out_errors") == 1 && m("retry_failed") == 1 && m("retries") == 0, m)
  }

  test("counts only the group's jobs and restores the caller's group") {
    val sc = spark.sparkContext
    sc.setJobGroup("job-counts-outer", "outer")
    try {
      val (n, counts) =
        JobCounts.of(spark, "job-counts-inner")(spark.range(0, 100, 1, 2).collect().length)
      assert(n == 100)
      assert(counts.jobs == 1 && counts.jobData.forall(_.jobGroup.contains("job-counts-inner")))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "job-counts-outer")
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      // a second window under the same group name sees only its own jobs
      val (_, again) = JobCounts.of(spark, "job-counts-inner")(spark.range(0, 10).collect())
      assert(again.jobs == 1 && again.jobData.head.jobId > counts.jobData.head.jobId)
    } finally sc.clearJobGroup()
  }

  test("eviction check: the oldest job left may be the first one after the window opened") {
    assert(!JobCounts.evicted(newestBefore = 41, oldestAfter = 42))
    assert(JobCounts.evicted(newestBefore = 41, oldestAfter = 43))
    // a store that was empty before the window
    assert(!JobCounts.evicted(newestBefore = -1, oldestAfter = 0))
    assert(JobCounts.evicted(newestBefore = -1, oldestAfter = 1))
  }

  test("guard: no SparkListener is written or registered under src/main or src/test") {
    // jobs are counted from Spark's status store (JobCounts); `[L]` keeps
    // this pattern from matching its own source
    val listener = """addSpark[L]istener|extra[L]isteners|(extends|new)\s+[\w.]*Spark[L]istener\b""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(sources.nonEmpty, s"no sources under ${Paths.get("src").toAbsolutePath}")
    val hits = sources.filter(p => listener.findFirstIn(Files.readString(p)).isDefined)
    assert(hits.isEmpty, hits.mkString(", "))
  }
}
