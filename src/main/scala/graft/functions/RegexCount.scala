package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count of non-overlapping matches of `pattern` in the input — value-
  * identical to `size(regexp_extract_all(text, pattern, 0))` (both walk
  * the same java.util.regex `find()` loop) but WITHOUT materializing an
  * array of match strings per row just to take its length: the built-in
  * form allocates every match as a UTF8String plus the array cell, which
  * is pure GC load on a count-only consumer (the BPE token counter scans
  * ~1 match per 4 input chars). Pattern compiled once per expression,
  * matcher reused per thread.
  */
case class RegexCount(child: Expression, pattern: String) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  @transient private lazy val compiled: Pattern = Pattern.compile(pattern)
  @transient private lazy val localMatcher: ThreadLocal[Matcher] =
    ThreadLocal.withInitial(() => compiled.matcher(""))

  def count(input: UTF8String): Int = {
    val m = localMatcher.get()
    m.reset(input.toString)
    var c = 0
    while (m.find()) c += 1
    c
  }

  override def nullSafeEval(input: Any): Any = count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rc", this, classOf[RegexCount].getName)
    defineCodeGen(ctx, ev, input => s"$ref.count($input)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexCount {
  def apply(c: Column, pattern: String): Column =
    GraftShim.column(RegexCount(GraftShim.expression(c), pattern))
}
