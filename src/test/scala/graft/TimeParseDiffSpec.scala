package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.core.TimeParse
import graft.parsers.Parsers

/** [[TimeParse]] (the byte-walking [[graft.functions.Strptime]] kernel)
  * against [[SparkPatternTime]] (the `regexp_replace` + `try_to_timestamp`
  * chain it replaced), row by row, for `parse` and `parseNs`.
  *
  * The seeded corpus renders each format from random fields (padded and
  * unpadded numbers, doubled spaces, any-case month names, 1 to 12 `%L`
  * digits or none, every `%z` form, impossible dates and times) and then
  * mutates a share of the strings by deleting, inserting or replacing one
  * character, or adding a space or a newline at either end. Mutations add
  * no digits, signs or `.` and delete no `.`: those would build the
  * intended divergences below (`01.7` less its `.` reads as second 17 to
  * the chain), which the edge-case table pins one by one instead.
  *
  * Intended divergences (kernel, then the old chain):
  *   1. A time that does not parse: `parseNs` is null; the chain built
  *      `{sec: null, nsec: n}` around a null second.
  *   2. A number with more digits than its field, by leading zeros
  *      (`2017-007-17`, `Feb 006`): null, as strptime reads at most two
  *      digits (`%j` three); java.time read any run of digits.
  *   3. Adjacent fields with no separator (`%Y%m%d` over `20170717`):
  *      parsed; java.time's `yyyy` took all eight digits and failed.
  *   4. `.digits` away from the `%L` position: null; the chain deleted
  *      every `.digits` run in the string and took the first as the
  *      fraction.
  *   5. `±HH:MM` or `Z` for a `%z` that is not at the end of the string:
  *      parsed; the chain rewrote them only at the end.
  *   6. A directive outside the subset (`%a`, `%Z`): the constructor
  *      throws; the chain read `%a` as the letter `a`, so every row gave
  *      null, and `%Z` as a zone name.
  *   7. A format without `%z` is read as UTC plus `Time_Offset`; the chain
  *      read it in the session time zone (the same in a UTC session).
  *   8. `parse` of a `%L` fraction: the kernel truncates the digits to µs,
  *      as `FlbTime.toMicros(parseNs)` does; the chain multiplied a double
  *      by 1e6 and cast, which lands 1 µs low for some fractions
  *      (`.257835` gave 257834 µs).
  *   9. A sign before the year: null, as the kernel reads digits only;
  *      java.time read `-2017` as the year 2018 BCE.
  *  10. `%y` of 69 to 99: the years 1969 to 1999, as glibc's `strptime`
  *      (which the reference calls) reads them; java.time's `yy` reads
  *      every two digits as 2000 to 2099. 00 to 68 are 2000 to 2068 in
  *      both.
  */
class TimeParseDiffSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Every Time_Format of the shipped parsers and of TimeParseSpec's vectors. */
  val formats: Seq[String] = (Parsers.all.values.flatMap(_.timeFormat).toSeq ++ Seq(
    "%b %d %H:%M:%S.%L", "%b %d %H:%M:%S %z", "%b %d %H:%M:%S.%L %z",
    "%m/%d/%Y %H:%M:%S %z", "%m/%d/%Y %H:%M:%S.%L %z", "%m/%d/%Y %H:%M:%S",
    "%m/%d/%Y %H:%M:%S.%L", "%m/%d/%Y %H:%M:%SZ", "%m/%d/%Y %H:%M:%S.%LZ")).distinct.sorted

  private val Months = Seq("January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December")

  /** One string in `fmt` from random fields, some of them impossible. */
  private def render(fmt: String, r: Random): String = {
    def rare = r.nextInt(40) == 0
    def num(v: Int): String = if (v < 10 && r.nextBoolean()) v.toString else f"$v%02d"
    def anyCase(s: String): String = r.nextInt(4) match {
      case 0 => s.toLowerCase
      case 1 => s.toUpperCase
      case _ => s
    }
    val year = if (rare) r.nextInt(10000) else 1970 + r.nextInt(68)
    val month = 1 + r.nextInt(12)
    val day = 1 + r.nextInt(31)
    val hour = r.nextInt(if (rare) 30 else 24)
    val minute = r.nextInt(if (rare) 70 else 60)
    val second = r.nextInt(if (rare) 70 else 60)
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '.' && fmt.startsWith("%L", i + 1) && r.nextInt(6) == 0) i += 3 // no fraction
      else if (c == '%') {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append(f"$year%04d")
          case 'y' => sb.append(f"${year % 100}%02d")
          case 'm' => sb.append(num(month))
          case 'd' | 'e' => sb.append(num(day))
          case 'H' => sb.append(num(hour))
          case 'M' => sb.append(num(minute))
          case 'S' => sb.append(num(second))
          case 'b' => sb.append(anyCase(Months(month - 1).take(3)))
          case 'L' => sb.append(Seq.fill(1 + r.nextInt(12))(r.nextInt(10)).mkString)
          case 'z' =>
            if (r.nextInt(8) == 0) sb.append('Z')
            else {
              val hh = f"${r.nextInt(if (rare) 25 else 19)}%02d"
              val mm = f"${if (rare) 60 else Seq(0, 0, 30, 45, r.nextInt(60))(r.nextInt(5))}%02d"
              sb.append(if (r.nextBoolean()) '+' else '-').append(hh)
                .append(if (r.nextBoolean()) ":" else "").append(mm)
            }
        }
        i += 2
      } else {
        sb.append(if (c == ' ' && r.nextInt(5) == 0) "  " else c.toString)
        i += 1
      }
    }
    sb.toString
  }

  private val Mutations = "aZzTtJ:/ \n\t,x"

  private def mutate(s: String, r: Random): String = {
    def at = r.nextInt(s.length + 1)
    def ch = Mutations.charAt(r.nextInt(Mutations.length))
    r.nextInt(8) match {
      case 0 => s + "\n"
      case 1 => s + " "
      case 2 => " " + s
      case 3 =>
        val ks = s.indices.filter(s(_) != '.')
        if (ks.isEmpty) s else s.patch(ks(r.nextInt(ks.size)), "", 1)
      case 4 => s.patch(at, ch.toString, 0)
      case 5 => if (s.isEmpty) s else { val k = r.nextInt(s.length); s.patch(k, ch.toString, 1) }
      case 6 => s.take(at)
      case _ => ""
    }
  }

  /** At least 10k strings in `fmt`, a third mutated, plus a few nulls. */
  private def corpus(fmt: String, seed: Long): Seq[String] = {
    val r = new Random(seed)
    Seq.fill(12000) {
      val s = render(fmt, r)
      if (r.nextInt(3) == 0) mutate(s, r) else s
    } ++ Seq(null, null)
  }

  /** The µs that the chain's `("0." + digits).cast(double) * 1e6` cast to
    * long lost against the digits themselves (divergence 8).
    */
  private def doubleLoss(s: String): Long =
    "\\.(\\d+)".r.findFirstMatchIn(s).map(_.group(1)).fold(0L) { frac =>
      frac.take(6).padTo(6, '0').toLong - (("0." + frac).toDouble * 1000000L).toLong
    }

  private def envelope(row: Row, i: Int): Option[(Long, Int)] =
    if (row.isNullAt(i)) None
    else {
      val t = row.getStruct(i)
      if (t.isNullAt(0)) None else Some((t.getLong(0), t.getInt(1)))
    }

  private def micros(row: Row, i: Int): Option[Long] =
    if (row.isNullAt(i)) None else Some(row.getLong(i))

  /** Per string: kernel and chain for `parse` (µs) and `parseNs`. */
  private def compare(fmt: String, strings: Seq[String], offset: Int)
      : Seq[(String, Option[Long], Option[Long], Option[(Long, Int)], Option[(Long, Int)])] = {
    val t = col("t")
    strings.toDF("t").repartition(4).select(t,
      unix_micros(TimeParse.parse(t, fmt, offset)),
      unix_micros(SparkPatternTime.parse(t, fmt, offset)),
      TimeParse.parseNs(t, fmt, offset),
      SparkPatternTime.parseNs(t, fmt, offset))
      .collect().toSeq
      .map(r => (r.getString(0), micros(r, 1), micros(r, 2), envelope(r, 3), envelope(r, 4)))
  }

  test("kernel equals the old chain row by row over a seeded corpus of every Time_Format") {
    formats.zipWithIndex.foreach { case (fmt, k) =>
      val strings = corpus(fmt, 1000L + k)
      Seq(0, -21600).foreach { offset =>
        val rows = compare(fmt, strings, offset)
        assert(rows.size == strings.size)
        var parsed = 0
        rows.foreach { case (s, kUs, oUs, kNs, oNs) =>
          val what = s"$fmt offset $offset '${String.valueOf(s).replace("\n", "\\n")}'"
          assert(kUs.isDefined == oUs.isDefined, s"parse: $what")
          assert(kUs.zip(oUs).forall { case (k, o) => k - o == doubleLoss(s) }, s"parse: $what")
          assert(kNs == oNs, s"parseNs: $what")
          // parse truncates the envelope to µs
          assert(kUs == kNs.map { case (sec, ns) => sec * 1000000L + ns / 1000 }, what)
          if (kUs.isDefined) parsed += 1
        }
        // the corpus reaches both sides of the parse
        assert(parsed > rows.size / 3 && parsed < rows.size, s"$fmt: $parsed of ${rows.size} parse")
      }
    }
  }

  private val iso = "%Y-%m-%dT%H:%M:%S.%L"
  private val clf = "%d/%b/%Y:%H:%M:%S %z"
  private val t0 = 1500322623000000L // 2017-07-17T20:17:03Z

  /** (format, input, µs) on which kernel and chain agree. */
  private val edges: Seq[(String, String, Option[Long])] = Seq(
    // single-digit and space-padded fields
    (iso, "2017-7-7T2:7:3.5", Some(1499393223500000L)),
    (clf, "7/Jul/2017:20:17:03 +0000", Some(1499458623000000L)),
    ("%b %d %H:%M:%S", "Feb  6 04:06:58", Some(1486354018000000L)),
    ("%b %d %H:%M:%S", "Feb 6 04:06:58", Some(1486354018000000L)),
    ("%b %e %H:%M:%S", "Feb  6 04:06:58", Some(1486354018000000L)),
    (clf, "17/Jul/2017:20:17:03  +0000", Some(t0)),
    // month names in any case; full names only for %B
    (clf, "17/jul/2017:20:17:03 +0000", Some(t0)),
    (clf, "17/JUL/2017:20:17:03 +0000", Some(t0)),
    (clf, "17/July/2017:20:17:03 +0000", None),
    ("%B %d %H:%M:%S", "FEBRUARY 6 04:06:58", Some(1486354018000000L)),
    ("%B %d %H:%M:%S", "Feb 6 04:06:58", None),
    // %L of 1, 6, 9 and 12 digits, and none
    (iso, "2017-07-17T20:17:03.5", Some(t0 + 500000L)),
    (iso, "2017-07-17T20:17:03.123456", Some(t0 + 123456L)),
    (iso, "2017-07-17T20:17:03.123456789", Some(t0 + 123456L)),
    (iso, "2017-07-17T20:17:03.123456789012", Some(t0 + 123456L)),
    (iso, "2017-07-17T20:17:03", Some(t0)),
    (iso, "2017-07-17T20:17:03.", None),
    // %z forms
    (clf, "17/Jul/2017:20:17:03 +05:30", Some(t0 - 19800000000L)),
    (clf, "17/Jul/2017:20:17:03 -0600", Some(t0 + 21600000000L)),
    (clf, "17/Jul/2017:20:17:03 Z", Some(t0)),
    (clf, "17/Jul/2017:20:17:03 z", None),
    (clf, "17/Jul/2017:20:17:03 -18:00", Some(t0 + 64800000000L)),
    (clf, "17/Jul/2017:20:17:03 +1801", None),
    (clf, "17/Jul/2017:20:17:03 +0560", None),
    (clf, "17/Jul/2017:20:17:03 +05", None),
    (clf, "17/Jul/2017:20:17:03+0000", None),
    // Feb 29 in leap and non-leap years, Jun 31, 24:00, :60
    (iso, "2016-02-29T00:00:00.0", Some(1456704000000000L)),
    (iso, "2017-02-29T00:00:00.0", None),
    ("%b %d %H:%M:%S", "Feb 29 04:06:58", None), // no %Y: 2017
    (iso, "2017-06-31T00:00:00.0", None),
    (iso, "2017-07-17T24:00:00.0", None),
    (iso, "2017-07-17T23:59:60.0", None),
    (iso, "0000-03-01T00:00:00.0", Some(-62162035200000000L)),
    (iso, "9999-12-31T23:59:59.999999999", Some(253402300799999999L)),
    // the whole string parses: trailing newline or space, leading space
    (iso, "2017-07-17T20:17:03.5\n", None),
    (clf, "17/Jul/2017:20:17:03 +05:30\n", None),
    ("%b %d %H:%M:%S", "Feb 6 04:06:58 ", None),
    (iso, " 2017-07-17T20:17:03.5", None),
    (iso, "", None),
    (iso, null, None),
    // literal letters in any case, %y, %j, %T, %%
    (iso, "2017-07-17t20:17:03.5", Some(t0 + 500000L)),
    ("%y-%m-%d %T", "17-07-17 20:17:03", Some(t0)),
    ("%y-%m-%d %T", "7-07-17 20:17:03", None),
    ("%y-%m-%d %T", "68-07-17 20:17:03", Some(3109781823000000L)),
    ("%Y %j %T", "2017 198 20:17:03", Some(t0)),
    ("%Y %j %T", "2016 366 00:00:00", Some(1483142400000000L)),
    ("%Y %j %T", "2017 366 00:00:00", None),
    ("%H%%%M", "20%17", Some(1483301820000000L)))

  /** (format, input, kernel µs, chain µs): divergences 2 to 5 and 8 to 10. */
  private val divergences: Seq[(String, String, Option[Long], Option[Long])] = Seq(
    (iso, "2017-007-17T20:17:03.5", None, Some(t0 + 500000L)),
    ("%b %d %H:%M:%S", "Feb 006 04:06:58", None, Some(1486354018000000L)),
    ("%Y%m%d", "20170717", Some(1500249600000000L), None),
    (iso, "2017-07-17T20:1.7:03.5", None, Some(t0 - 16 * 60000000L + 700000L)),
    ("%z %Y-%m-%d", "+05:30 2017-07-17", Some(1500249600000000L - 19800000000L), None),
    ("%z %Y-%m-%d", "Z 2017-07-17", Some(1500249600000000L), None),
    (iso, "2017-07-17T20:17:03.257835", Some(t0 + 257835L), Some(t0 + 257834L)),
    (clf, "17/Jul/-2017:20:17:03 +0000", None, Some(-125800486977000000L)),
    ("%y-%m-%d %T", "99-07-17 20:17:03", Some(932242623000000L), Some(4088002623000000L)),
    ("%y-%m-%d %T", "69-07-17 20:17:03", Some(-14442177000000L), Some(3141317823000000L)))

  test("edge cases and the listed divergences, value by value") {
    (edges.map { case (f, s, us) => (f, s, us, us) } ++ divergences).foreach {
      case (fmt, s, want, old) =>
        val (_, kUs, oUs, kNs, _) = compare(fmt, Seq(s), 0).head
        val what = s"$fmt '${String.valueOf(s).replace("\n", "\\n")}'"
        assert(kUs == want, what)
        assert(oUs == old, s"old chain: $what")
        assert(kUs == kNs.map { case (sec, ns) => sec * 1000000L + ns / 1000 }, what)
    }
    // %L keeps 9 digits at ns; the envelope is null as a whole on a miss
    // (divergence 1: the chain gave {null, 500000000})
    val ns = compare(iso, Seq("2017-07-17T20:17:03.123456789012", "2017-02-30T01:00:00.5"), 0)
    assert(ns.map(_._4) == Seq(Some((1500322623L, 123456789)), None))
    val oldNs = Seq("2017-02-30T01:00:00.5").toDF("t")
      .select(SparkPatternTime.parseNs(col("t"), iso).as("e"))
      .select(col("e").isNull, col("e.sec").isNull, col("e.nsec")).as[(Boolean, Boolean, Int)]
      .collect().head
    assert(oldNs == ((false, true, 500000000)))
  }

  test("a directive outside the subset throws at construction and names itself") {
    // divergence 6: the chain read these as literals or a zone name
    Seq("%a %b %d %H:%M:%S" -> "%a", "%Y-%m-%d %Z" -> "%Z", "%H:%M:%S%" -> "'%'").foreach {
      case (fmt, named) =>
        val e = intercept[IllegalArgumentException](TimeParse.parse(lit("x"), fmt))
        assert(e.getMessage.contains(named), e.getMessage)
    }
    assert(Seq("Mon Feb 06").toDF("t").select(SparkPatternTime.parse(col("t"), "%a %b %d"))
      .collect().head.isNullAt(0))
  }

  test("Time_Offset applies only without %z; the session time zone does not matter") {
    val s: Column = lit("07/17/2017 20:17:03")
    val z: Column = lit("07/17/2017 20:17:03 +0200")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val r = spark.range(1).select(
        unix_micros(TimeParse.parse(s, "%m/%d/%Y %H:%M:%S", 7200)),
        unix_micros(TimeParse.parse(z, "%m/%d/%Y %H:%M:%S %z", 7200)),
        unix_micros(TimeParse.parse(s, "%m/%d/%Y %H:%M:%S"))).as[(Long, Long, Long)].collect().head
      assert(r == ((1500322623000000L - 7200000000L, 1500322623000000L - 7200000000L,
        1500322623000000L)))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
