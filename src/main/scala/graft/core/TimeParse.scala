package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** strptime-subset → Spark timestamp parsing.
  *
  * The reference parses record time with `strptime` plus three quirks
  * (reference `src/flb_parser.c:610-719`):
  *   1. a format without `%Y` gets the CURRENT year injected
  *      (`flb_parser.c:640-672`) — non-deterministic; here the injected
  *      year is a pinned reference year (tests pin 2017, matching the
  *      reference's internal test vectors `tests/internal/parser.c:55-99`);
  *   2. fractional seconds `%L` are hand-parsed (`flb_parser.c:679-709`);
  *   3. `%z` accepts ±HH:MM, ±HHMM and `Z` (`flb_parser.c:562-608`), or a
  *      fixed `Time_Offset` config.
  *
  * Everything compiles to built-in column expressions (`to_timestamp`,
  * `regexp_extract`, `timestampadd`) — codegen'd, no UDF.
  */
object TimeParse {

  /** Pinned "current year" for no-%Y formats — determinism over wall clock. */
  val RefYear = 2017

  /** Scalar port of `flb_parser_tzone_offset` (`src/flb_parser.c:562-608`)
    * for config-time `Time_Offset` values: ±HH:MM, ±HHMM, `Z`. Invalid →
    * 0 (the reference warns and keeps 0). Note: the reference's own test
    * table contains a wrong expectation (−21000 for "-0600") that its
    * loop never exercises (`tests/internal/parser.c:129` indexes [0]
    * constantly); the implementation computes hour·3600+min·60 = −21600,
    * which this port mirrors.
    */
  def parseTzOffset(s0: String): Int = {
    val s = s0.trim
    if (s.isEmpty || s == "Z") return 0
    if (s(0) != '+' && s(0) != '-') return 0
    val neg = s(0) == '-'
    val p = s.substring(1)
    try {
      val (h, m) =
        if (p.length == 5 && p(2) == ':') (p.substring(0, 2).toInt, p.substring(3, 5).toInt)
        else (p.substring(0, 2).toInt, p.substring(2, 4).toInt)
      if (h < 0 || h > 59 || m < 0 || m > 59) 0
      else { val v = h * 3600 + m * 60; if (neg) -v else v }
    } catch { case _: Exception => 0 }
  }

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

  /** Shared parse core: (whole-second timestamp, fractional-digit string).
    * The fraction keeps its raw digits so callers pick their resolution
    * (µs for Spark timestamps, ns for the flb_time envelope).
    */
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
      else ("%Y " + fmt, concat(lit(s"$RefYear "), s))
    val pattern = toSparkPattern(fmt2.replace(".%L", "").replace("%L", ""))

    // a time that does not parse gives null, not a failed job (ANSI
    // `to_timestamp` throws): the record keeps going without a parsed time
    val base = try_to_timestamp(s2, lit(pattern))
    val shifted =
      if (hasTz || tzOffsetSec == 0) base
      else timestamp_micros(unix_micros(base) - tzOffsetSec * 1000000L)
    (shifted, frac)
  }

  /** Parse `raw` with strptime format `fmt`.
    *
    * @param fmt       strptime format, possibly containing `%L` and/or
    *                  lacking `%Y`.
    * @param tzOffsetSec fixed UTC offset seconds applied when the format
    *                  carries no `%z` (reference `Time_Offset`,
    *                  `flb_parser.c:588-608`); 0 = UTC.
    * @return TimestampType column (µs precision — Spark's native
    *         resolution; [[parseNs]] carries the full flb_time envelope).
    */
  def parse(raw: Column, fmt: String, tzOffsetSec: Int = 0): Column = {
    val (shifted, frac) = parseParts(raw, fmt, tzOffsetSec)
    if (fmt.contains("%L")) {
      val micros = (concat(lit("0."), when(frac === "", "0").otherwise(frac)).cast("double") * 1000000L).cast("long")
      timestamp_micros(unix_micros(shifted) + micros)
    } else shifted
  }

  /** Parse to the full-precision `struct<sec:long, nsec:int>` envelope
    * (`struct flb_time`, reference `include/fluent-bit/flb_time.h:30-38`):
    * `%L` digits are kept at NANOSECOND resolution (`flb_parser.c:679-709`
    * hand-parses up to 9 fraction digits), which µs `TimestampType` would
    * truncate. Derive a windowing timestamp with [[FlbTime.toTimestamp]].
    */
  def parseNs(raw: Column, fmt: String, tzOffsetSec: Int = 0): Column = {
    val (shifted, frac) = parseParts(raw, fmt, tzOffsetSec)
    val nsec =
      if (!fmt.contains("%L")) lit(0L)
      else when(frac === "", 0L)
        .otherwise(rpad(substring(frac, 1, 9), 9, "0").cast("long"))
    FlbTime(unix_seconds(shifted), nsec)
  }
}
