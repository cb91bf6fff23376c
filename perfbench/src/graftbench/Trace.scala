package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Cumulative Spark counts at one instant; differences give a span's share. */
final case class Counts(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long, taskSeq: Int) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    taskSeq - o.taskSeq)
}

/** The benchmark's own listener: job and task counts, executor CPU, GC,
  * shuffle and spill bytes, and each task's peak execution memory.
  */
final class Meter(spark: SparkSession) extends SparkListener {
  private val jobs, tasks, cpuNs, gcMs, shuffleW, spill = new AtomicLong
  private val peaks = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peaks.synchronized { peaks += m.peakExecutionMemory }
    }
  }

  /** Counts after every event queued so far has been delivered. */
  def now(): Counts = {
    BenchBus.drain(spark.sparkContext)
    Counts(jobs.get, tasks.get, cpuNs.get, gcMs.get, shuffleW.get, spill.get,
      peaks.synchronized(peaks.size))
  }

  /** Largest peak execution memory of the tasks that ended between two counts. */
  def peakBetween(a: Counts, b: Counts): Long = peaks.synchronized {
    (a.taskSeq until b.taskSeq).map(peaks(_)).foldLeft(0L)(math.max)
  }
}

object Meter {
  def install(spark: SparkSession): Meter = {
    val m = new Meter(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      counts: Counts, peakMemBytes: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program's layers. Kept in
  * memory and written as one JSON file when the run ends. While [[on]] is
  * false, [[span]] only runs its body.
  */
final class Tracer(val runId: String, meter: Meter) {
  var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = meter.now()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = meter.now()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, c1 - c0, meter.peakBetween(c0, c1))
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val rows = spans.map { s =>
      val c = s.counts
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""executor_cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes},"peak_exec_mem_bytes":${s.peakMemBytes}}"""
    }
    Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
