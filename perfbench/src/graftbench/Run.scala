package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftExtensions

/** State of one benchmark run: the session, the seed, the workload's
  * scratch directory, the tracer and the check tally.
  */
final class Run(val spark: SparkSession, val seed: Long, val dir: Path,
                val tracing: Boolean, val tr: Tracer, val meter: Meter) {
  var attempted = 0
  var failed = 0

  /** Count one check; a thrown exception fails it too. */
  def check(what: String)(result: => Option[String]): Unit = {
    attempted += 1
    val r = try result catch { case e: Exception => Some(e.toString) }
    r.foreach { m =>
      failed += 1
      System.err.println(s"[perfbench] check failed: $what: $m")
    }
  }

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds to compute every row of `df` and discard it. */
  def noop(df: DataFrame): Double =
    seconds(df.write.format("noop").mode("overwrite").save())
}

object Run {
  /** One session per set-up: `local[cores]`, one shuffle partition per
    * task slot, AQE on, with the repo's optimizer rules installed.
    */
  def session(cores: Int, scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // small splits: several tasks per slot keep one slow task from
      // setting the pass time
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.installRules(s)
    s
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** Data files a Spark writer left under `p` (no `_SUCCESS`, no checksums). */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator.asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq.sorted

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
