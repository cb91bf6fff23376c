package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One field of a [[RegexParse]]: a named capture group plus its `Types`
  * cast (reference `src/flb_parser.c:301-353`): `string`, `integer`,
  * `float`, `bool`, `hex`. `out` is the struct field name — it may differ
  * from the group when the original key is not a legal java.util.regex
  * group name (Onigmo allows `_`, Java does not).
  */
final case class ParsedField(group: String, cast: String = "string", out: String = null) {
  def outName: String = if (out == null) group else out
  def dataType: DataType = cast match {
    case "integer" => LongType
    case "float"   => DoubleType
    case "bool"    => BooleanType
    case "hex"     => LongType
    case _         => StringType
  }
}

/** The full parser hot path as ONE expression: a single compiled-regex
  * match per row producing the final TYPED struct (extraction + `Types`
  * casts fused). This is what keeps the reference's "compile the regex
  * once, walk the groups once" property (`src/flb_parser.c:151-158`,
  * `src/flb_parser_regex.c:101-211`) — building the struct from N
  * `getField` copies of a regex expression would re-run the match N times
  * per row (visible as N `regexextractstruct` calls in the physical plan).
  *
  * Cast failures yield null fields (the documented deviation from the
  * reference's keep-string-and-warn, which a fixed-width schema cannot
  * represent; `flb_parser.c:827-831`).
  */
case class RegexParse(child: Expression, pattern: String, fields: Seq[ParsedField])
    extends UnaryExpression {

  override def dataType: DataType =
    StructType(fields.map(f => StructField(f.outName, f.dataType, nullable = true)))

  override def nullable: Boolean = true

  @transient private lazy val compiled: Pattern = Pattern.compile(pattern)
  @transient private lazy val fieldArr: Array[ParsedField] = fields.toArray
  // matcher reuse per thread: Matcher allocation per row is pure GC load
  // (the expression object is shared across an executor's task threads)
  @transient private lazy val localMatcher: ThreadLocal[java.util.regex.Matcher] =
    ThreadLocal.withInitial(() => compiled.matcher(""))

  /** Shared by interpreted eval and generated code: one find(), one pass
    * over the groups, casts fused. Returns null when the pattern misses.
    *
    * ASCII fast path: log lines are overwhelmingly ASCII; matching over a
    * zero-copy byte-view avoids the per-row String + char[] allocation
    * (visible as GC pressure limiting multi-core scaling). Non-ASCII rows
    * fall back to the exact `toString` decode.
    */
  def convert(input: UTF8String): InternalRow = {
    val m = localMatcher.get()
    val cs: CharSequence =
      if (input.isFullAscii) new RegexParse.AsciiSeq(input) else input.toString
    m.reset(cs)
    if (!m.find()) return null
    val vals = new Array[Any](fieldArr.length)
    var i = 0
    while (i < fieldArr.length) {
      vals(i) = RegexParse.castGroup(m.group(fieldArr(i).group), fieldArr(i).cast)
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def nullSafeEval(input: Any): Any = convert(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("parser", this, classOf[RegexParse].getName)
    nullSafeCodeGen(ctx, ev, input => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r = $ref.convert($input);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-field projection of a [[RegexParse]]: the same one-compiled-
  * regex, one-`find()` semantics, but only the consumed group is
  * extracted and cast — none of the other groups' String/UTF8String
  * copies are made. Produced by [[graft.plans.PruneRegexParseFields]]
  * when the optimizer leaves a `GetStructField` directly over an inlined
  * parse (the shape predicate pushdown creates for grep-style filters
  * that consume exactly one parsed field); not written by hand.
  *
  * Value-identical to `RegexParse(...).getField(field.outName)`: null on
  * pattern miss, null on absent group, casts via the SHARED
  * [[RegexParse.castGroup]].
  */
case class RegexParseField(child: Expression, pattern: String, field: ParsedField)
    extends UnaryExpression {

  override def dataType: DataType = field.dataType
  override def nullable: Boolean = true

  @transient private lazy val compiled: Pattern = Pattern.compile(pattern)
  @transient private lazy val localMatcher: ThreadLocal[java.util.regex.Matcher] =
    ThreadLocal.withInitial(() => compiled.matcher(""))

  def convert(input: UTF8String): Any = {
    val m = localMatcher.get()
    val cs: CharSequence =
      if (input.isFullAscii) new RegexParse.AsciiSeq(input) else input.toString
    m.reset(cs)
    if (!m.find()) return null
    RegexParse.castGroup(m.group(field.group), field.cast)
  }

  override def nullSafeEval(input: Any): Any = convert(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("parser", this, classOf[RegexParseField].getName)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
    val unbox = dataType match {
      case LongType    => ".longValue()"
      case DoubleType  => ".doubleValue()"
      case BooleanType => ".booleanValue()"
      case _           => ""
    }
    nullSafeCodeGen(ctx, ev, input => {
      val o = ctx.freshName("o")
      s"""
         |Object $o = $ref.convert($input);
         |if ($o == null) { ${ev.isNull} = true; } else { ${ev.value} = (($boxed) $o)$unbox; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexParse {
  private val NamedGroup = "\\(\\?<([a-zA-Z][a-zA-Z0-9]*)>".r

  /** Named capture groups in source order (what the reference turns into
    * record keys, `flb_parser_regex.c:44-99`).
    */
  def groupNamesOf(pattern: String): Seq[String] =
    NamedGroup.findAllMatchIn(pattern).map(_.group(1)).toSeq

  def apply(c: Column, pattern: String, fields: Seq[ParsedField]): Column =
    GraftShim.column(RegexParse(GraftShim.expression(c), pattern, fields))

  /** The `Types` cast applied to one extracted group — ONE renderer shared
    * by the full-struct parse and the pruned single-field parse so the
    * type-switch cannot drift between them (cast failure → null, the
    * documented deviation; `flb_parser.c:827-831`).
    */
  private[functions] def castGroup(g: String, cast: String): Any =
    if (g == null) null
    else cast match {
      case "integer" =>
        try java.lang.Long.valueOf(g.trim.toLong) catch { case _: NumberFormatException => null }
      case "float" =>
        try java.lang.Double.valueOf(g.trim.toDouble) catch { case _: NumberFormatException => null }
      case "bool" => java.lang.Boolean.valueOf(g.regionMatches(true, 0, "true", 0, 4))
      case "hex" =>
        try java.lang.Long.valueOf(java.lang.Long.parseUnsignedLong(g.trim, 16))
        catch { case _: NumberFormatException => null }
      case _ => UTF8String.fromString(g)
    }

  /** Zero-copy CharSequence over an all-ASCII UTF8String (byte == char).
    * Only valid while the backing buffer is stable — consumed entirely
    * within one `convert` call.
    */
  private[functions] final class AsciiSeq(s: UTF8String) extends CharSequence {
    private[this] val n = s.numBytes()
    override def length(): Int = n
    override def charAt(i: Int): Char = (s.getByte(i) & 0x7f).toChar
    override def subSequence(a: Int, b: Int): CharSequence = {
      val arr = new Array[Char](b - a)
      var i = 0
      while (i < arr.length) { arr(i) = charAt(a + i); i += 1 }
      new String(arr)
    }
    override def toString: String = s.toString
  }
}
