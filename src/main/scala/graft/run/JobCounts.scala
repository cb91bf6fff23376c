package graft.run

import org.apache.spark.JobExecutionStatus.{FAILED, SUCCEEDED}
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.status.api.v1.{JobData, StageData, StageStatus}

/** What the Spark jobs of one job group did, read from Spark's status
  * store — the reference's per-instance counters
  * (`include/fluent-bit/flb_metrics.h:28-35`, summed at `flb_engine.c:195-213`):
  *
  * | reference                   | here                                        |
  * |-----------------------------|---------------------------------------------|
  * | FLB_METRIC_N_RECORDS/BYTES  | records_in / bytes_in (stage input)         |
  * | FLB_METRIC_OUT_OK_RECORDS   | out_ok_records (stage output)               |
  * | FLB_METRIC_OUT_OK_BYTES     | out_ok_bytes                                |
  * | FLB_METRIC_OUT_ERROR        | out_errors (failed task attempts)           |
  * | FLB_METRIC_OUT_RETRY        | retries (failed attempts, job succeeded)    |
  * | FLB_METRIC_OUT_RETRY_FAILED | retry_failed (failed jobs)                  |
  *
  * `jobData` holds the group's jobs, oldest first; `stageData` every
  * attempt of their stages, skipped ones included. Stage sums include what
  * a failed attempt read or wrote before it failed.
  */
final case class JobCounts(jobData: Seq[JobData], stageData: Seq[StageData]) {
  def jobs: Int = jobData.size
  def failedJobs: Int = jobData.count(_.status == FAILED)
  def failedTasks: Long = jobData.map(_.numFailedTasks.toLong).sum
  def retries: Long = jobData.filter(_.status == SUCCEEDED).map(_.numFailedTasks.toLong).sum

  /** Stage attempts that ran. A stage whose shuffle an earlier job wrote
    * (AQE runs each stage as a job) is `SKIPPED`, yet lists its `numTasks`. */
  def ran: Seq[StageData] =
    stageData.filter(s => s.status == StageStatus.COMPLETE || s.status == StageStatus.FAILED)
  def stages: Int = ran.size
  def tasks: Long = stageData.map(_.numCompleteTasks.toLong).sum
  def recordsIn: Long = stageData.map(_.inputRecords).sum

  /** The reference's counters, by the names of the table above. */
  def metrics: Map[String, Long] = Map(
    "records_in" -> recordsIn, "bytes_in" -> stageData.map(_.inputBytes).sum,
    "out_ok_records" -> stageData.map(_.outputRecords).sum,
    "out_ok_bytes" -> stageData.map(_.outputBytes).sum,
    "out_errors" -> failedTasks, "retries" -> retries, "retry_failed" -> failedJobs.toLong)
}

object JobCounts {
  private val JobGroup = "spark.jobGroup.id"

  /** Runs `body` under job group `group`, restores the caller's group, and
    * counts the group's jobs that started during `body`. The status store
    * keeps only the newest `spark.ui.retainedJobs` jobs and
    * `spark.ui.retainedStages` stages; past that this throws, not undercounts.
    */
  def of[T](spark: SparkSession, group: String)(body: => T): (T, JobCounts) = {
    val sc = spark.sparkContext
    val newestBefore = GraftShim.jobs(spark).headOption.fold(-1)(_.jobId)
    val saved = sc.getLocalProperty(JobGroup)
    sc.setLocalProperty(JobGroup, group)
    val result = try body finally sc.setLocalProperty(JobGroup, saved)
    val all = GraftShim.jobs(spark) // newest first
    def lost(what: String) = new IllegalStateException(
      s"${what}s of job group $group left Spark's status store: raise spark.ui.retained${what}s")
    if (all.lastOption.exists(j => evicted(newestBefore, j.jobId))) throw lost("Job")
    val jobData = all.reverse.filter(j => j.jobId > newestBefore && j.jobGroup.contains(group))
    val stageData = jobData.flatMap(_.stageIds).distinct.sorted.flatMap { id =>
      Some(GraftShim.stageAttempts(spark, id)).filter(_.nonEmpty).getOrElse(throw lost("Stage"))
    }
    (result, JobCounts(jobData, stageData))
  }

  /** Whether the store lost jobs that started after `newestBefore`: job ids
    * are consecutive, so the oldest job left must be at most the next id. */
  def evicted(newestBefore: Int, oldestAfter: Int): Boolean = oldestAfter > newestBefore + 1
}
