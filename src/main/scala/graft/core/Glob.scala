package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fluent Bit tag-routing glob semantics.
  *
  * The reference's only wildcard is `*` (matches any run of characters,
  * including the empty run; consecutive `*` collapse); matching is
  * case-sensitive and anchored at both ends. See the reference
  * implementation at `src/flb_router.c:32-72` (`flb_router_match`).
  *
  * Two faces:
  *   - [[Glob.matches]] — a literal Scala port of the C routine, used as
  *     the test oracle (never on the hot path).
  *   - [[Glob.toLikePattern]] / [[Glob.tagMatches]] — compile the glob once
  *     at plan-build time to a SQL `LIKE` pattern. `LIKE` is a built-in,
  *     codegen'd, pushdown-eligible Catalyst expression, so routing
  *     predicates reach the parquet scan for free.
  */
object Glob {

  /** Literal port of `flb_router_match` (reference `src/flb_router.c:32-72`).
    * Kept recursive exactly like the C code; only used as a test oracle and
    * for driver-side route planning over a handful of sink specs.
    */
  def matches(tag: String, pattern: String): Boolean = {
    var t = 0 // index into tag
    var m = 0 // index into pattern
    while (true) {
      if (m < pattern.length && pattern.charAt(m) == '*') {
        m += 1
        while (m < pattern.length && pattern.charAt(m) == '*') m += 1 // collapse
        if (m == pattern.length) return true // trailing '*'
        // find occurrences of pattern.charAt(m) in the remaining tag and
        // recurse from each (same backtracking shape as the C code)
        val c = pattern.charAt(m)
        var pos = tag.indexOf(c, t)
        while (pos >= 0) {
          if (matches(tag.substring(pos), pattern.substring(m))) return true
          t = pos + 1
          pos = tag.indexOf(c, t)
        }
        return false
      } else if (t >= tag.length) {
        // end of tag: match only if pattern also exhausted
        return m >= pattern.length
      } else if (m >= pattern.length || tag.charAt(t) != pattern.charAt(m)) {
        return false
      } else {
        t += 1
        m += 1
      }
    }
    false // unreachable
  }

  /** Compile a Fluent Bit match glob to an ANSI `LIKE` pattern:
    * `*` → `%`; literal `%`/`_` are escaped with `\` (Spark's default LIKE
    * escape char, also DuckDB's). The compilation is exact: both languages
    * describe "anchored match with any-run wildcards".
    */
  def toLikePattern(glob: String): String = {
    val sb = new StringBuilder(glob.length + 4)
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        // a run of `*` is one `%` (cosmetic; semantics identical); collapsing
        // here, not over the output, leaves an escaped `\%` before it alone
        case '*'  => if (i == 0 || glob.charAt(i - 1) != '*') sb.append('%')
        case '%'  => sb.append("\\%")
        case '_'  => sb.append("\\_")
        case '\\' => sb.append("\\\\")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Routing predicate as a Catalyst column: compiled once at plan build,
    * evaluated by the built-in `LIKE` (whole-stage codegen, pushdown).
    */
  def tagMatches(tag: Column, glob: String): Column =
    if (glob == "*") lit(true) else tag.like(toLikePattern(glob))

  /** SQL text of the same predicate — for building DuckDB oracle SQL. */
  def toSqlPredicate(colName: String, glob: String): String =
    if (glob == "*") "TRUE"
    else s"$colName LIKE '${toLikePattern(glob).replace("'", "''")}'"
}
