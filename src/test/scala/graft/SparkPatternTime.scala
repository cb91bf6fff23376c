package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{FlbTime, TimeParse}

/** The strptime-subset parse as it was built from Spark column functions
  * before the byte-walking [[graft.functions.Strptime]] kernel replaced it,
  * frozen here as the differential oracle: it normalises the string with
  * `regexp_replace`s (space runs, `±HH:MM`, a trailing `Z`), pulls the
  * `%L` digits out with `regexp_extract`, and parses the rest with
  * `try_to_timestamp` through a translated Spark datetime pattern.
  *
  * It shares no code with the kernel, so agreeing with it row by row
  * means something. Where the two are meant to differ, TimeParseDiffSpec
  * lists the case and the reason.
  */
object SparkPatternTime {

  // permissive single-letter day/hour/min/sec variants: strptime accepts
  // both zero- and space-padded fields (syslog "%b %d" emits "Feb  6")
  private val strpMap: Seq[(String, String)] = Seq(
    "%Y" -> "yyyy", "%m" -> "M", "%d" -> "d", "%e" -> "d",
    "%H" -> "H", "%M" -> "m", "%S" -> "s", "%b" -> "MMM",
    "%B" -> "MMMM", "%y" -> "yy", "%j" -> "D",
    "%T" -> "H:m:s", "%z" -> "xx", "%Z" -> "zz"
  )

  /** Translate a strptime format to a Spark datetime pattern. `%L` must be
    * stripped by the caller (handled via fraction arithmetic).
    */
  def toSparkPattern(fmt: String): String = {
    // Escape pattern-letter literals (T etc.) by quoting every run of
    // characters that is not a %-directive or separator.
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val d = fmt.substring(i, i + 2)
        strpMap.find(_._1 == d) match {
          case Some((_, sp)) => out.append(sp)
          case None          => out.append(d.charAt(1)) // unknown directive: literal
        }
        i += 2
      } else {
        val c = fmt.charAt(i)
        if (c.isLetter) out.append('\'').append(c).append('\'')
        else out.append(c)
        i += 1
      }
    }
    out.toString.replace("''", "") // merge adjacent quoted literals
  }

  /** (whole-second timestamp, fractional-digit string). */
  private def parseParts(raw: Column, fmt: String, tzOffsetSec: Int): (Column, Column) = {
    val hasYear = fmt.contains("%Y") || fmt.contains("%y")
    val hasFrac = fmt.contains("%L")
    val hasTz = fmt.contains("%z")

    // 1. normalize the raw string: collapse multi-space (rfc3164 day
    //    padding), normalize tz ±HH:MM → ±HHMM and trailing Z → +0000.
    var s = regexp_replace(raw, "  +", " ")
    if (hasTz) {
      s = regexp_replace(s, "([+-]\\d{2}):(\\d{2})$", "$1$2")
      s = regexp_replace(s, "Z$", "+0000")
    }
    // 2. fractional seconds: pull out and strip
    val frac =
      if (hasFrac) coalesce(regexp_extract(s, "\\.(\\d+)", 1).cast("string"), lit(""))
      else lit("")
    if (hasFrac) s = regexp_replace(s, "\\.\\d+", "")

    // 3. year injection for no-%Y formats
    val (fmt2, s2) =
      if (hasYear) (fmt, s)
      else ("%Y " + fmt, concat(lit(s"${TimeParse.RefYear} "), s))
    val pattern = toSparkPattern(fmt2.replace(".%L", "").replace("%L", ""))

    val base = try_to_timestamp(s2, lit(pattern))
    val shifted =
      if (hasTz || tzOffsetSec == 0) base
      else timestamp_micros(unix_micros(base) - tzOffsetSec * 1000000L)
    (shifted, frac)
  }

  /** `TimeParse.parse` as it was: a µs TimestampType column. */
  def parse(raw: Column, fmt: String, tzOffsetSec: Int = 0): Column = {
    val (shifted, frac) = parseParts(raw, fmt, tzOffsetSec)
    if (fmt.contains("%L")) {
      val micros = (concat(lit("0."), when(frac === "", "0").otherwise(frac)).cast("double") * 1000000L).cast("long")
      timestamp_micros(unix_micros(shifted) + micros)
    } else shifted
  }

  /** `TimeParse.parseNs` as it was: the `struct<sec, nsec>` envelope. */
  def parseNs(raw: Column, fmt: String, tzOffsetSec: Int = 0): Column = {
    val (shifted, frac) = parseParts(raw, fmt, tzOffsetSec)
    val nsec =
      if (!fmt.contains("%L")) lit(0L)
      else when(frac === "", 0L)
        .otherwise(rpad(substring(frac, 1, 9), 9, "0").cast("long"))
    FlbTime(unix_seconds(shifted), nsec)
  }
}
