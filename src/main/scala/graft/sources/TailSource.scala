package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

/** `in_tail` (reference `plugins/in_tail/`): follow files by glob, split on
  * newlines, compose a per-file dynamic tag from the path.
  *
  * Tag composition (`tail_file.c:306-336`): the configured tag pattern's
  * `*` is replaced by the file path with `/` → `.` and leading dots
  * trimmed — `tail.0` style static tags work too. The SQLite offset
  * checkpoint (`tail_db.c:91-145`) maps to the snapshot ledger
  * ([[graft.run.SnapshotLedger]]): a committed file group is never re-read.
  *
  * [[lines]] reads with `spark.read.text` + `input_file_name()`: fully
  * distributed, large files split across tasks; no line numbers (the
  * stateless parse/filter pipelines need none).
  */
object TailSource {

  /** Dotted-path tag: `/var/log/app.log` → `var.log.app.log`, spliced into
    * the tag pattern at `*`.
    */
  def composeTag(tagPattern: String, file: Column): Column = {
    val dotted = regexp_replace(regexp_replace(file, "^file:/*", ""), "/", ".")
    val idx = tagPattern.indexOf('*')
    if (idx < 0) lit(tagPattern)
    else concat(
      lit(tagPattern.substring(0, idx)),
      dotted,
      lit(tagPattern.substring(idx + 1)))
  }

  /** A reader and the paths to load for a file glob.
    *
    * Expands the glob once with Hadoop's globber, as Spark's own reader
    * does (qualified pattern, qualified matches), and hands Spark the
    * matched files: given the literal glob, Spark probes it for a
    * streaming-sink `_spark_metadata` directory and logs the miss as a
    * WARN with a full stack trace on every read. `__globPaths__` is
    * Spark's own switch (its file-stream source sets it) that reads the
    * matches as literal paths, so a file name holding a glob
    * metacharacter is not globbed a second time. When nothing matches,
    * the glob goes through unchanged and Spark's path-not-found error
    * stays as it is.
    */
  private[sources] def globbed(spark: SparkSession, pathGlob: String): (DataFrameReader, Seq[String]) = {
    val glob = new Path(pathGlob)
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(fs.makeQualified(glob)))
      .toSeq.flatten.map(st => fs.makeQualified(st.getPath).toString)
    if (matched.isEmpty) (spark.read, Seq(pathGlob))
    else (spark.read.option("__globPaths__", "false"), matched)
  }

  def lines(spark: SparkSession, pathGlob: String, tagPattern: String = "*"): DataFrame = {
    val (reader, paths) = globbed(spark, pathGlob)
    reader.text(paths: _*).select(
      col("value").as("line"),
      input_file_name().as("file"),
      composeTag(tagPattern, input_file_name()).as("tag"))
  }
}

/** Deterministic synthetic input mirroring the reference's `in_dummy`,
  * which repeats a fixed record (`plugins/in_dummy/in_dummy.c:36-61`),
  * with sequenced timestamps — never wall clock.
  */
object Generators {
  /** n copies of a fixed JSON-ish record with sequenced timestamps. */
  def dummy(spark: SparkSession, n: Long, record: Map[String, String],
            baseEpoch: Long = TokenTable.BaseEpoch, ratePerSec: Long = 1): DataFrame = {
    val df = spark.range(n)
    val cols = record.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    df.select(
      to_timestamp(lit(baseEpoch) + col("id") / ratePerSec).as("ts"),
      map(cols: _*).as("record"))
  }
}
