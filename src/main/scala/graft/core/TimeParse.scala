package graft.core

import org.apache.spark.sql.Column

import graft.functions.Strptime

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
  * Both readers are one [[graft.functions.Strptime]] expression: the
  * format compiles once into a directive array and each row is one
  * generated-code walk over the time string's bytes. The time is read as
  * UTC plus its `%z` or `Time_Offset`, whatever the session time zone
  * says.
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
  def parse(raw: Column, fmt: String, tzOffsetSec: Int = 0): Column =
    Strptime(raw, fmt, tzOffsetSec, nanos = false)

  /** Parse to the full-precision `struct<sec:long, nsec:int>` envelope
    * (`struct flb_time`, reference `include/fluent-bit/flb_time.h:30-38`):
    * `%L` digits are kept at NANOSECOND resolution (`flb_parser.c:679-709`
    * hand-parses up to 9 fraction digits), which µs `TimestampType` would
    * truncate. Null when the time does not parse. Derive a windowing
    * timestamp with [[FlbTime.toTimestamp]].
    */
  def parseNs(raw: Column, fmt: String, tzOffsetSec: Int = 0): Column =
    Strptime(raw, fmt, tzOffsetSec, nanos = true)
}
