package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row/record-level filter operators — Spark restatements of the reference
  * filter plugins (contract `include/fluent-bit/flb_filter.h:26-44`). Each
  * is a pure `DataFrame => DataFrame`, config-struct driven, built only
  * from codegen'd column expressions.
  */
object Grep {
  /** One rule: `Regex <field> <pat>` / `Exclude <field> <pat>`
    * (reference `plugins/filter_grep/grep.c:120-209`).
    */
  sealed trait Rule { def field: String; def pattern: String }
  final case class Regex(field: String, pattern: String) extends Rule
  final case class Exclude(field: String, pattern: String) extends Rule

  /** Regex metacharacters (java.util.regex). A pattern containing none of
    * these matches literally under unanchored find.
    */
  private val Meta: Set[Char] = "\\^$.|?*+()[]{}".toSet

  /** `rlike` ⇔ unanchored java-regex find; for metacharacter-free patterns
    * the search collapses to codegen'd `StartsWith`/`Contains` — identical
    * null semantics (null input → null), no regex machinery per row. The
    * hot headline rule `^5` becomes one `startsWith` byte compare.
    * `$`-anchored forms are deliberately NOT folded: default-mode `$` also
    * matches before a trailing line terminator (`"abc$"` finds in
    * `"abc\n"`), which `endsWith` cannot mirror.
    *
    * Known deviation from the reference: Onigmo's `^` is a LINE anchor (it
    * also matches right after a `\n` inside the value), while Java's
    * default-mode `^` in `rlike` matches only at input start. The
    * `startsWith` fold keeps the `rlike` semantics on purpose — it must
    * not be "fixed" toward multiline, or the folded and unfolded forms of
    * the same rule would disagree.
    */
  private[graft] def searchColumn(c: Column, pattern: String): Column =
    if (pattern.nonEmpty && pattern.head == '^' && pattern.tail.forall(!Meta(_)))
      c.startsWith(pattern.tail)
    else if (pattern.forall(!Meta(_))) c.contains(pattern)
    else c.rlike(pattern)

  /** Exact decision chain of `grep_filter_data` (`grep.c:130-205`), rules
    * in order, first decisive rule wins:
    *   - key missing (here: null column):  Regex rule → drop, Exclude → keep;
    *   - regex match is an unanchored SEARCH (`flb_regex_do`), which is
    *     exactly Spark's `rlike`;
    *   - Regex rules are always decisive (match → keep, no match → drop);
    *   - Exclude match → drop, no match → next rule; rules exhausted → keep.
    *
    * Expression-count note: each rule references its field column exactly
    * ONCE per decision where possible — when the field is an expensive
    * derived expression (a fused regex parse pushed into the filter),
    * every extra reference re-evaluates it per row. For Regex rules
    * `keep ⇔ (key exists ∧ match)` collapses to `rlike <=> true` (null
    * rlike → false); Exclude needs the three-way null/match/no-match
    * split, costing a second reference.
    */
  def keepPredicate(rules: Seq[Rule], field: String => Column): Column =
    rules.foldRight(lit(true)) { (rule, rest) =>
      val c = field(rule.field)
      val matched = searchColumn(c, rule.pattern)
      rule match {
        case Regex(_, _) =>
          matched <=> lit(true) // null (missing key) and no-match both drop
        case Exclude(_, _) =>
          when(c.isNull, lit(true)).otherwise(when(matched, lit(false)).otherwise(rest))
      }
    }

  def apply(rules: Seq[Rule])(df: DataFrame): DataFrame =
    df.filter(keepPredicate(rules, df.col))
}

/** `record_modifier` (`plugins/filter_record_modifier/filter_modifier.c`):
  * key removal / whitelisting with trailing-`*` prefix match and
  * CASE-INSENSITIVE key compare (`filter_modifier.c:58-67,224-230`);
  * `Record k v` appends static pairs (`:318-329`).
  */
object RecordModifier {
  private def keyMatches(col: String, spec: String): Boolean = {
    val c = col.toLowerCase
    val s = spec.toLowerCase
    if (s.endsWith("*")) c.startsWith(s.dropRight(1)) else c == s
  }

  def removeKeys(specs: Seq[String])(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(c => specs.exists(keyMatches(c, _))): _*)

  def whitelistKeys(specs: Seq[String])(df: DataFrame): DataFrame =
    df.select(df.columns.filter(c => specs.exists(keyMatches(c, _))).map(col): _*)

  def addRecords(pairs: Seq[(String, String)])(df: DataFrame): DataFrame =
    pairs.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
}

/** `modify` (`plugins/filter_modify/modify.c`): conditions (ALL must hold,
  * `modify.c:582-601`) guard a list of rules applied SEQUENTIALLY, each
  * seeing the previous rule's output (`modify.c:915-1040`).
  *
  * Implemented over a `map<string,string>` record column — the faithful
  * dynamic-schema carrier (per-row key membership matters for RENAME/ADD
  * guards). Built from `map_filter`/`map_concat`/`map_contains_key` only.
  */
object Modify {
  sealed trait Condition
  final case class KeyExists(k: String) extends Condition
  final case class KeyDoesNotExist(k: String) extends Condition
  final case class KeyValueEquals(k: String, v: String) extends Condition
  final case class KeyValueDoesNotEqual(k: String, v: String) extends Condition

  sealed trait Rule
  final case class Rename(from: String, to: String) extends Rule      // skip if dest exists (modify.c:603-639)
  final case class HardRename(from: String, to: String) extends Rule  // overwrite dest (:641-693)
  final case class Copy(from: String, to: String) extends Rule        // skip if dest exists (:695-739)
  final case class HardCopy(from: String, to: String) extends Rule    // overwrite (:741-807)
  final case class Add(k: String, v: String) extends Rule             // only if absent (:809-826)
  final case class Set(k: String, v: String) extends Rule             // upsert (:828-851)
  final case class Remove(k: String) extends Rule                     // (:851-866)
  final case class RemoveWildcard(prefix: String) extends Rule        // prefix strncmp (:868-884)

  private def without(m: Column, k: String): Column =
    map_filter(m, (key, _) => key =!= k)
  private def put(m: Column, k: String, v: Column): Column =
    map_concat(without(m, k), map(lit(k), v))
  private def has(m: Column, k: String): Column = map_contains_key(m, k)

  def condition(m: Column, c: Condition): Column = c match {
    case KeyExists(k)                => has(m, k)
    case KeyDoesNotExist(k)          => !has(m, k)
    case KeyValueEquals(k, v)        => has(m, k) && element_at(m, k) === v
    // NOT(KEY_VALUE_EQUALS): TRUE when the key is missing (modify.c:553-559)
    case KeyValueDoesNotEqual(k, v)  => !condition(m, KeyValueEquals(k, v))
  }

  def applyRule(m: Column, r: Rule): Column = r match {
    case Rename(from, to) =>
      when(has(m, from) && !has(m, to), put(without(m, from), to, element_at(m, from)))
        .otherwise(m)
    case HardRename(from, to) =>
      when(has(m, from), put(without(m, from), to, element_at(m, from))).otherwise(m)
    case Copy(from, to) =>
      when(has(m, from) && !has(m, to), put(m, to, element_at(m, from))).otherwise(m)
    case HardCopy(from, to) =>
      when(has(m, from), put(m, to, element_at(m, from))).otherwise(m)
    case Add(k, v)  => when(!has(m, k), put(m, k, lit(v))).otherwise(m)
    case Set(k, v)  => put(m, k, lit(v))
    case Remove(k)  => without(m, k)
    case RemoveWildcard(p) => map_filter(m, (key, _) => !key.startsWith(p))
  }

  /** Apply the guarded rule chain — ONE fused pass per row
    * ([[graft.functions.ModifyChain]]); the per-rule column fold below
    * materialized n intermediate maps per row.
    */
  def apply(recordCol: String, conditions: Seq[Condition], rules: Seq[Rule])(df: DataFrame): DataFrame =
    df.withColumn(recordCol, org.apache.spark.sql.GraftShim.column(
      graft.functions.ModifyChain(
        org.apache.spark.sql.GraftShim.expression(col(recordCol)), conditions, rules)))

  /** Reference column formulation (spec cross-check): fold one
    * map_filter/map_concat layer per rule, guarded by the conjunction of
    * conditions (a record failing the conditions is NOTOUCH'd).
    */
  private[graft] def applyColumns(recordCol: String, conditions: Seq[Condition],
                                  rules: Seq[Rule])(df: DataFrame): DataFrame = {
    val m0 = col(recordCol)
    val guard = conditions.map(condition(m0, _)).reduceOption(_ && _).getOrElse(lit(true))
    val transformed = rules.foldLeft(m0)(applyRule)
    df.withColumn(recordCol, when(guard, transformed).otherwise(m0))
  }
}

/** `nest` (`plugins/filter_nest/nest.c`): `Operation nest` moves keys
  * matching a wildcard under a new sub-struct (`nest.c:361-402`);
  * `Operation lift` splices a sub-struct's keys to top level with an
  * optional prefix (`nest.c:277-359`). Schema-level restatement: columns →
  * `struct()`, `select("s.*")` with aliases.
  */
object Nest {
  private def matches(c: String, w: String): Boolean =
    if (w.endsWith("*")) c.startsWith(w.dropRight(1)) else c == w

  def nest(wildcards: Seq[String], nestUnder: String)(df: DataFrame): DataFrame = {
    val moved = df.columns.filter(c => wildcards.exists(matches(c, _)))
    if (moved.isEmpty) df
    else {
      val kept = df.columns.filterNot(moved.contains(_))
      df.select(kept.map(col) :+ struct(moved.map(col): _*).as(nestUnder): _*)
    }
  }

  def lift(nestedUnder: String, prefixWith: String = "")(df: DataFrame): DataFrame = {
    if (!df.columns.contains(nestedUnder)) return df
    val sub = df.schema(nestedUnder).dataType match {
      case s: org.apache.spark.sql.types.StructType => s
      case _ => return df // non-map value under the key → warn and skip (nest.c:244-249)
    }
    val kept = df.columns.filterNot(_ == nestedUnder).map(col)
    val lifted = sub.fieldNames.map(f => col(s"$nestedUnder.$f").as(s"$prefixWith$f"))
    df.select(kept ++ lifted: _*)
  }
}

/** `throttle` (`plugins/filter_throttle/`): sliding-window global rate
  * limit — drop when windowed average ≥ rate (`throttle.c:89-99`). The
  * reference ticks panes with a wall-clock pthread (`throttle.c:190-194`),
  * which is non-deterministic; this is the deterministic EVENT-TIME
  * reformulation (SURVEY §2.4.8): keep the first `rate × interval` records
  * per tumbling interval pane, ordered by (ts, tiebreak).
  */
object Throttle {
  import org.apache.spark.sql.expressions.Window

  /** Exact single-phase formulation: one window per pane. A hot pane is
    * ranked on ONE task — fine when panes are short relative to rate, a
    * straggler when a single pane holds billions of rows; use [[scalable]]
    * there (identical output).
    */
  def apply(tsCol: String, tieBreak: String, intervalSec: Int, ratePerSec: Double)(df: DataFrame): DataFrame = {
    val pane = (unix_timestamp(col(tsCol)) / intervalSec).cast("long")
    val w = Window.partitionBy(pane).orderBy(col(tsCol), col(tieBreak))
    val cap = math.max(1L, (ratePerSec * intervalSec).toLong)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= cap)
      .drop("_rn")
  }

  /** Scale-safe two-phase variant — EXACTLY equivalent to [[apply]]:
    *
    * Phase 1 ranks within (pane, salt) — `salts`-way parallel per pane —
    * and keeps each salt group's first `cap` rows: any row in the pane's
    * global first `cap` has fewer than `cap` rows before it in its OWN
    * salt group, so every global survivor survives phase 1 (the quota
    * never cuts a true survivor). Phase 2 re-ranks the ≤ salts·cap
    * survivors per pane — a bounded window, never a billion-row task.
    *
    * Shuffle cost: two exchanges of (pane,salt)/(pane) keys, but the
    * second input is capped at salts·cap rows per pane.
    */
  def scalable(tsCol: String, tieBreak: String, intervalSec: Int,
               ratePerSec: Double, salts: Int = 32)(df: DataFrame): DataFrame = {
    val pane = (unix_timestamp(col(tsCol)) / intervalSec).cast("long")
    val cap = math.max(1L, (ratePerSec * intervalSec).toLong)
    val salt = pmod(xxhash64(col(tieBreak)), lit(salts.toLong))
    val w1 = Window.partitionBy(pane, salt).orderBy(col(tsCol), col(tieBreak))
    val survivors = df.withColumn("_rn1", row_number().over(w1))
      .filter(col("_rn1") <= cap).drop("_rn1")
    val w2 = Window.partitionBy(pane).orderBy(col(tsCol), col(tieBreak))
    survivors.withColumn("_rn", row_number().over(w2))
      .filter(col("_rn") <= cap)
      .drop("_rn")
  }
}
