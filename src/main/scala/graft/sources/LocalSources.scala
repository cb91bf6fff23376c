package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two non-network, non-device inputs beyond tail: `in_head` and
  * `in_exec`. Both read LOCAL state (a file prefix, a command's stdout) —
  * the reference polls them on an interval; batch semantics here are one
  * poll per job (the streaming wrapper re-runs per trigger).
  */
object HeadSource {

  /** `in_head` (`plugins/in_head/in_head.c:40-118, 247-310`): the first
    * `lines` lines (fgets loop) or first `bytes` bytes (read(2)) of each
    * matched file, ONE record per file under `key` (default "head",
    * `in_head.c:261-268`). `addPath` appends the file path
    * (`in_head.c:191-196`).
    *
    * Deviations (documented): line mode joins lines with a single `\n`
    * (no trailing newline); byte mode counts UTF-8 BYTES via the binary
    * reader, decoded to a string.
    */
  def apply(spark: SparkSession, pathGlob: String, tagPattern: String = "*",
            lines: Int = 0, bytes: Long = 256, key: String = "head",
            addPath: Boolean = false): DataFrame = {
    require(lines > 0 || bytes > 0,
      "head input needs lines > 0 or bytes > 0 (reference default: 256-byte buffer)")
    val (reader, paths) = TailSource.globbed(spark, pathGlob)
    val base =
      if (lines > 0)
        reader.option("wholetext", "true").text(paths: _*)
          .select(input_file_name().as("file"),
            // strip ONE trailing newline before splitting ("\n\\z", not
            // "\n$" — Java $ also matches BEFORE a final terminator and
            // would eat a trailing blank line too)
            concat_ws("\n", slice(split(regexp_replace(col("value"), "\n\\z", ""), "\n"),
              1, lines)).as(key))
      else
        reader.format("binaryFile").load(paths: _*)
          .select(col("path").as("file"),
            decode(substring(col("content"), 1, bytes.toInt), "UTF-8").as(key))
    val tagged = base.withColumn("tag", TailSource.composeTag(tagPattern, col("file")))
    if (addPath) tagged.withColumn("path", col("file")) else tagged
  }
}

object StdinSource {

  /** Conf-surface injection point: the CLI leaves it None (real stdin);
    * specs set a ByteArrayInputStream so tests never steal the JVM's
    * stdin. Cleared by the spec after use.
    */
  @volatile var overrideStream: Option[java.io.InputStream] = None
  def stream(): java.io.InputStream = overrideStream.getOrElse(System.in)

  /** `in_stdin` (`plugins/in_stdin/in_stdin.c:88-180`): read the stream
    * to EOF (the reference's collect loop reads until stdin closes and
    * then exits the engine), one record per newline-delimited segment in
    * the engine's (line, file, tag) frame, file = "stdin". Parsing is
    * the conf surface's job: the reference's default mode consumes a
    * newline-AGNOSTIC stream of JSON values (`flb_pack_json_state`,
    * multiple=TRUE, in_stdin.c:117-148) — the conf surface routes the
    * no-Parser default through `Serial.jsonStream` over the raw text,
    * not through this line splitter — and a configured Parser handles
    * each LINE from here instead (in_stdin.c:150-168).
    */
  def apply(spark: SparkSession, in: java.io.InputStream = System.in,
            tag: String = "stdin.0"): DataFrame = {
    import spark.implicits._
    val text = new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    // interior blank lines are records (the repo-wide tcp lineRows
    // convention); only the one trailing newline's empty segment is
    // stripped
    val segs = text.split("\n", -1).toIndexedSeq
    val lines = if (segs.nonEmpty && segs.last.isEmpty) segs.dropRight(1) else segs
    lines.toDF("line")
      .withColumn("file", lit("stdin"))
      .withColumn("tag", lit(tag))
  }
}

object ExecSource {

  /** `in_exec` (`plugins/in_exec/in_exec.c:46-100`): run `command` via the
    * shell (the reference's `popen`), one record per stdout line (record
    * key "exec", `in_exec.c:92-95`). The command runs ON THE DRIVER, like
    * the reference's single event loop; the output parallelizes from
    * there. Emitted as the engine's (line, file, tag) frame so the filter
    * chain applies unchanged.
    */
  def apply(spark: SparkSession, command: String, tag: String = "exec.0"): DataFrame = {
    import scala.sys.process._
    import spark.implicits._
    val out = Seq("/bin/sh", "-c", command).!!
    out.split("\n", -1).toIndexedSeq.filter(_.nonEmpty)
      .toDF("line")
      .withColumn("file", lit("exec"))
      .withColumn("tag", lit(tag))
  }
}
