package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The guard that keeps test-only code out of the program: every public
  * def of a top-level object under src/main must be named by the program
  * itself (src/main or the benchmark under perfbench/src) somewhere other
  * than a declaration of a def of that name. A def that only specs call is
  * either deleted or, when a spec compares other code against it, narrowed
  * to `private[graft]` (the "reference formulation … (spec cross-check)"
  * idiom).
  *
  * The check is by name, over code with comments and literal text blanked
  * out: a mention in a doc comment or a string is not a use, a use through
  * a same-named def of another object is.
  */
class ReachableDefsSpec extends AnyFunSuite {
  import ReachableDefsSpec._

  test("guard: every public object def under src/main is named by the program outside its declarations") {
    val main = scalaFiles("src/main/scala")
    assert(main.nonEmpty, s"no sources under ${Paths.get("src/main/scala").toAbsolutePath}")
    val program = (main ++ scalaFiles("perfbench/src")).map(p => p -> code(Files.readString(p)))
    val lines = program.flatMap { case (_, c) => c.split("\n", -1) }
    val unused = program.filter(_._1.startsWith("src")).flatMap { case (p, c) =>
      publicObjectDefs(c).filterNot { case (_, _, name) =>
        val q = java.util.regex.Pattern.quote(name)
        val decl = ("\\bdef\\s+" + q + "(?![\\w$])").r
        val word = ("(?<![\\w$])" + q + "(?![\\w$])").r
        lines.exists(l => l.contains(name) && word.findFirstIn(decl.replaceAllIn(l, "")).isDefined)
      }.map { case (line, obj, name) => s"$p:$line $obj.$name" }
    }
    if (unused.nonEmpty) fail(unused.mkString("only specs reach:\n", "\n", ""))
  }

  test("guard reader: comments and literal text are blanked, interpolated code and line breaks stay") {
    val src = "object A { // def x\n  /* a /* nested */ def y */ val s = s\"k=${f(\"}\")} $g\"\n" +
      "  val c = '\"'; val t = \"\"\"def z\n\"\"\" }\nobject B {\n  def h = 1\n  private def p = 2\n}\n"
    val c = code(src)
    assert(c.count(_ == '\n') == src.count(_ == '\n'))
    assert(!c.contains("def x") && !c.contains("def y") && !c.contains("def z") && !c.contains("k="))
    assert(c.contains("f(") && c.contains(" g ") && c.count(_ == '{') == c.count(_ == '}'))
    assert(publicObjectDefs(c) == Seq((6, "B", "h")))
  }
}

object ReachableDefsSpec {

  def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Nil
    else Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
  }

  /** `src` with comments and the text of string and char literals blanked
    * out, line breaks kept (so line numbers hold); the `${…}` and `$name`
    * parts of interpolated strings stay, since they are code.
    */
  def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    def newlines(from: Int, until: Int): Unit =
      out ++= src.substring(from, until).filter(_ == '\n')
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        i = if (e < 0) n else e
      } else if (src.startsWith("/*", i)) { // block comments nest in Scala
        var depth = 0
        var j = i
        while (j < n && (depth > 0 || j == i)) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        newlines(i, j)
        i = j
      } else if (src(i) == '"') {
        val interpolated = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
        val triple = src.startsWith("\"\"\"", i)
        var j = i + (if (triple) 3 else 1)
        var open = true
        out += ' '
        while (open && j < n) {
          if (triple && src.startsWith("\"\"\"", j)) {
            j += 3
            while (j < n && src(j) == '"') j += 1
            open = false
          } else if (!triple && src(j) == '"') { j += 1; open = false }
          else if (!triple && src(j) == '\\') j += 2
          else if (interpolated && src.startsWith("$$", j)) j += 2
          else if (interpolated && src.startsWith("${", j)) {
            var depth = 1
            var e = j + 2
            while (e < n && depth > 0) {
              src(e) match {
                case '{' => depth += 1
                case '}' => depth -= 1
                case '"' => e = src.indexOf('"', e + 1) max e // a string in the expression
                case _ =>
              }
              e += 1
            }
            out ++= " " ++= code(src.substring(j + 2, e - 1)) ++= " "
            j = e
          } else if (interpolated && src(j) == '$' && j + 1 < n &&
                     (src(j + 1).isLetter || src(j + 1) == '_')) {
            var e = j + 1
            while (e < n && (src(e).isLetterOrDigit || src(e) == '_')) e += 1
            out ++= " " ++= src.substring(j + 1, e) ++= " "
            j = e
          } else {
            if (src(j) == '\n') out += '\n'
            j += 1
          }
        }
        i = j
      } else if (src(i) == '\'' && i + 2 < n && (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a char literal: 'c', or an escape such as '\'' or '\n'
        val e = if (src(i + 1) == '\\') src.indexOf('\'', i + 3) + 1 else i + 3
        out ++= "' '"
        i = if (e <= 0) n else e
      } else {
        out += src(i)
        i += 1
      }
    }
    out.result()
  }

  private val TopLevel = """^\s*(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(object|class|trait)\s+(\w+)""".r.unanchored
  private val Def = """^\s*((?:@\w+\s+|(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|inline\s+)*)def\s+([^\s(\[:=]+)""".r.unanchored

  /** (line, object, name) of each public, non-override def declared
    * directly in a top-level object of `code`; `main` is left out, since
    * the JVM calls it.
    */
  def publicObjectDefs(code: String): Seq[(Int, String, String)] = {
    var depth = 0
    var obj: Option[String] = None
    code.split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, idx) =>
      if (depth == 0) line match {
        case TopLevel(kind, name) => obj = if (kind == "object") Some(name) else None
        case _ =>
      }
      val found = (obj, line) match {
        case (Some(o), Def(mods, name)) if depth == 1 && name != "main" &&
            !mods.contains("private") && !mods.contains("protected") && !mods.contains("override") =>
          Seq((idx + 1, o, name))
        case _ => Nil
      }
      depth += line.count(_ == '{') - line.count(_ == '}')
      found
    }
  }
}
