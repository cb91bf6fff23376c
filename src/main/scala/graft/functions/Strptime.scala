package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.annotation.switch

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{FlbTime, TimeParse}

/** A record's time parsed in one walk over its bytes: the reference's
  * `strptime` subset plus its hand-parsed `%L` and `%z`
  * (`src/flb_parser.c:562-719`) as ONE expression. The format compiles
  * once, at construction, into a directive array; each row is one pass
  * over the input `UTF8String`'s bytes with no decode, no copy and no
  * allocation, then plain calendar arithmetic.
  *
  * Directives: `%Y` (4 digits), `%y` (2 digits; 69–99 are 19yy and 00–68
  * are 20yy, as glibc reads them), `%m %d %e %H %M %S` (1 or 2 digits),
  * `%j` (1 to 3 digits), `%b` / `%B` (short / full English month name, any
  * case), `%T` (`%H:%M:%S`), `%z` (`±HHMM`, `±HH:MM` or
  * `Z`, at most ±18:00), `%L` (fraction digits, first 9 kept at ns) and
  * `%%`. `.%L` is optional as a whole: a time without a fraction parses
  * with nsec 0. A space matches one or more spaces (rfc3164's `Feb  6`).
  * Other characters match themselves, letters in any case. Any other
  * directive makes the constructor throw.
  *
  * Null when the input is null, leaves bytes unparsed (a trailing `\n`
  * too), or names an impossible date or time (Feb 30, 24:00). A format
  * without `%Y`/`%y` takes [[TimeParse.RefYear]]. `tzOffsetSec`
  * (`Time_Offset`) applies only to a format without `%z`.
  *
  * `nanos = false` gives a µs `TimestampType` (fraction truncated);
  * `nanos = true` the `struct<sec, nsec>` envelope of [[graft.core.FlbTime]],
  * null as a whole when the time does not parse.
  */
case class Strptime(child: Expression, format: String, tzOffsetSec: Int, nanos: Boolean)
    extends UnaryExpression {
  import Strptime._

  private val ops: Array[Int] = compile(format)
  private val hasDayOfYear = ops.contains(DayOfYear)
  private val hasMonthDay = ops.exists(Set(Month, Day, MonthAbbr, MonthFull))

  override def dataType: DataType = if (nanos) FlbTime.Type else TimestampType
  override def nullable: Boolean = true

  /** Parses `s`. On success writes the epoch second to `out(0)` and the
    * nanosecond to `out(1)` and returns true; false when `s` does not
    * parse. Shared by interpreted eval and generated code.
    */
  def parse(s: UTF8String, out: Array[Long]): Boolean = {
    val n = s.numBytes
    var i = 0
    var year = TimeParse.RefYear
    var month = 1
    var day = 1
    var dayOfYear = 0
    var hour = 0
    var minute = 0
    var second = 0
    var nano = 0
    var offset = tzOffsetSec
    var k = 0
    while (k < ops.length) {
      val op = ops(k)
      k += 1
      (op: @switch) match {
        case Year | Year2 | Month | Day | Hour | Minute | Second | DayOfYear =>
          val w = maxWidth(op)
          val minW = if (op == Year || op == Year2) w else 1
          var v = 0
          var d = 0
          while (d < w && i < n && isDigit(s.getByte(i))) {
            v = v * 10 + (s.getByte(i) - '0'); i += 1; d += 1
          }
          if (d < minW) return false
          (op: @switch) match {
            case Year      => year = v
            case Year2     => year = if (v < 69) 2000 + v else 1900 + v
            case Month     => month = v
            case Day       => day = v
            case Hour      => hour = v
            case Minute    => minute = v
            case Second    => second = v
            case _         => dayOfYear = v
          }
        case MonthAbbr =>
          if (i + 3 > n) return false
          val key = (fold(s.getByte(i)) << 16) | (fold(s.getByte(i + 1)) << 8) | fold(s.getByte(i + 2))
          val m = AbbrKeys.indexOf(key)
          if (m < 0) return false
          month = m + 1; i += 3
        case MonthFull =>
          var m = 0
          while (m < 12 && !matchesFolded(s, i, FullNames(m))) m += 1
          if (m == 12) return false
          month = m + 1; i += FullNames(m).length
        case DotFrac | Frac =>
          if (op == DotFrac && (i >= n || s.getByte(i) != '.')) {
            // no fraction: the whole `.%L` is absent
          } else {
            if (op == DotFrac) i += 1
            val start = i
            var scale = 100000000
            while (i < n && isDigit(s.getByte(i))) {
              nano += (s.getByte(i) - '0') * scale; scale /= 10; i += 1
            }
            if (i == start) return false
          }
        case Zone =>
          if (i >= n) return false
          val sign = s.getByte(i)
          if (sign == 'Z') { offset = 0; i += 1 }
          else if (sign == '+' || sign == '-') {
            val colon = i + 3 < n && s.getByte(i + 3) == ':'
            val end = if (colon) i + 6 else i + 5
            if (end > n) return false
            val hh = twoDigits(s, i + 1)
            val mm = twoDigits(s, end - 2)
            if (hh < 0 || mm < 0 || mm > 59 || hh * 60 + mm > 18 * 60) return false
            offset = if (sign == '-') -(hh * 3600 + mm * 60) else hh * 3600 + mm * 60
            i = end
          } else return false
        case Spaces =>
          if (i >= n || s.getByte(i) != ' ') return false
          while (i < n && s.getByte(i) == ' ') i += 1
        case _ =>
          if (i >= n) return false
          val lit = (op - Lit).toByte
          val c = s.getByte(i)
          if (c != lit && !(isLetter(lit) && fold(c) == fold(lit))) return false
          i += 1
      }
    }
    if (i != n) return false
    if (month < 1 || month > 12 || day < 1 || day > monthLength(year, month) ||
        hour > 23 || minute > 59 || second > 59) return false
    var epochDay = daysFromCivil(year, month, day)
    if (hasDayOfYear) {
      if (dayOfYear < 1 || dayOfYear > (if (isLeap(year)) 366 else 365)) return false
      val fromYear = daysFromCivil(year, 1, 1) + dayOfYear - 1
      if (hasMonthDay && fromYear != epochDay) return false
      epochDay = fromYear
    }
    out(0) = epochDay * 86400L + hour * 3600 + minute * 60 + second - offset
    out(1) = nano
    true
  }

  /** The [[graft.core.FlbTime]] envelope of `s`, or null. */
  def envelope(s: UTF8String, out: Array[Long]): InternalRow =
    if (parse(s, out)) new GenericInternalRow(Array[Any](out(0), out(1).toInt)) else null

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val out = new Array[Long](2)
    if (nanos) envelope(s, out)
    else if (parse(s, out)) out(0) * 1000000L + out(1) / 1000L
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("strptime", this, classOf[Strptime].getName)
    // one scratch pair per generated class (one task thread)
    val out = ctx.addMutableState("long[]", "strptimeOut", v => s"$v = new long[2];",
      forceInline = true)
    nullSafeCodeGen(ctx, ev, input =>
      if (nanos)
        s"""
           |${ev.value} = $ref.envelope($input, $out);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      else
        s"""
           |if ($ref.parse($input, $out)) {
           |  ${ev.value} = $out[0] * 1000000L + $out[1] / 1000L;
           |} else {
           |  ${ev.isNull} = true;
           |}
         """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Strptime {
  def apply(c: Column, format: String, tzOffsetSec: Int, nanos: Boolean): Column =
    GraftShim.column(Strptime(GraftShim.expression(c), format, tzOffsetSec, nanos))

  // directive ops; a literal byte b is Lit + (b & 0xff)
  private final val Year = 0
  private final val Year2 = 1
  private final val Month = 2
  private final val Day = 3
  private final val Hour = 4
  private final val Minute = 5
  private final val Second = 6
  private final val DayOfYear = 7
  private final val MonthAbbr = 8
  private final val MonthFull = 9
  private final val DotFrac = 10
  private final val Frac = 11
  private final val Zone = 12
  private final val Spaces = 13
  private final val Lit = 256

  private val maxWidth: Array[Int] = Array(4, 2, 2, 2, 2, 2, 2, 3)

  private val FullNames: Array[Array[Byte]] =
    Array("january", "february", "march", "april", "may", "june", "july",
      "august", "september", "october", "november", "december").map(_.getBytes(UTF_8))

  /** The first three letters of each month, folded to lower case and
    * packed into one int.
    */
  private val AbbrKeys: Array[Int] =
    FullNames.map(b => (b(0) << 16) | (b(1) << 8) | b(2))

  /** The format as directive ops. Throws on a directive outside the subset. */
  private def compile(format: String): Array[Int] = {
    val b = format.getBytes(UTF_8)
    val ops = Array.newBuilder[Int]
    var i = 0
    while (i < b.length) {
      if (b(i) == '%') {
        require(i + 1 < b.length, s"Time_Format '$format': a lone '%' at the end")
        b(i + 1) match {
          case 'Y' => ops += Year
          case 'y' => ops += Year2
          case 'm' => ops += Month
          case 'd' | 'e' => ops += Day
          case 'H' => ops += Hour
          case 'M' => ops += Minute
          case 'S' => ops += Second
          case 'j' => ops += DayOfYear
          case 'b' => ops += MonthAbbr
          case 'B' => ops += MonthFull
          case 'T' => ops ++= Seq(Hour, Lit + ':', Minute, Lit + ':', Second)
          case 'z' => ops += Zone
          case 'L' => ops += Frac
          case '%' => ops += Lit + '%'
          case c => throw new IllegalArgumentException(
            s"Time_Format '$format': %${c.toChar} is not supported " +
              "(supported: %Y %y %m %d %e %H %M %S %j %b %B %T %z %L %%)")
        }
        i += 2
      } else if (b(i) == '.' && i + 2 < b.length && b(i + 1) == '%' && b(i + 2) == 'L') {
        ops += DotFrac
        i += 3
      } else {
        ops += (if (b(i) == ' ') Spaces else Lit + (b(i) & 0xff))
        i += 1
      }
    }
    ops.result()
  }

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  private def isLetter(c: Byte): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** ASCII lower case for letters; other bytes stay apart from every letter. */
  private def fold(c: Byte): Int = (c | 0x20) & 0xff

  private def matchesFolded(s: UTF8String, i: Int, lower: Array[Byte]): Boolean = {
    if (i + lower.length > s.numBytes) return false
    var j = 0
    while (j < lower.length) {
      if (fold(s.getByte(i + j)) != lower(j)) return false
      j += 1
    }
    true
  }

  /** Two digits at `i` as a number, or -1. */
  private def twoDigits(s: UTF8String, i: Int): Int = {
    val a = s.getByte(i)
    val b = s.getByte(i + 1)
    if (isDigit(a) && isDigit(b)) (a - '0') * 10 + (b - '0') else -1
  }

  private def isLeap(y: Int): Boolean = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0

  private def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date (H. Hinnant's
    * `days_from_civil`).
    */
  private def daysFromCivil(y0: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468
  }
}
