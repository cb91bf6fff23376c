package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Glob

/** Tag-based routing with Fluent Bit's FAN-OUT semantics: a record is
  * duplicated into EVERY sink whose match glob matches its tag — routes are
  * a bitmask over all outputs, not a first-match switch (reference
  * `src/flb_task.c:255-277`). A `when/case` exclusive chain is only correct
  * for provably-disjoint patterns; the general planner must duplicate.
  *
  * Two physical strategies, both built at plan time from globs compiled
  * once to `LIKE` predicates ([[Glob.toLikePattern]], mirroring the boot-time
  * static route precomputation `src/flb_router.c:97-172`):
  *
  *   - [[fanOut]] — single pass: `explode` an array holding, per sink in
  *     config order, its name when its glob matches and null otherwise, then
  *     drop the nulls. Generate and Filter both codegen, so the fan-out runs
  *     inside the parse/enrich whole-stage codegen stage and feeds the
  *     partial aggregate in the same loop. One scan, then
  *     `groupBy(sink)`/`partitionBy(sink)` downstream. Preferred when most
  *     sinks match few rows or aggregates per sink follow.
  *   - [[perSinkFrames]] — N filtered views over one (optionally cached)
  *     DataFrame. Preferred when each sink gets its own write job; the
  *     filter is pushdown-eligible all the way to the scan.
  *
  *   - [[exclusiveSink]] — the when/case fast path, ONLY valid when globs
  *     are pairwise disjoint (checked structurally by [[disjoint]]).
  */
final case class SinkSpec(name: String, matchGlob: String)

object Router {

  /** Single-pass duplication: one row per (record, matching sink), sinks
    * in config order. Rows matching no sink are dropped (a task with zero
    * routes is destroyed, `src/flb_engine_dispatch.c:140-150`). Nulls are
    * dropped by a Filter, not a `filter(array, x -> …)` lambda: higher-order
    * functions are `CodegenFallback` and take the Generate out of
    * whole-stage codegen.
    */
  def fanOut(df: DataFrame, tagCol: String, sinks: Seq[SinkSpec]): DataFrame = {
    val tag = col(tagCol)
    df.withColumn("sink",
        explode(array(sinks.map(s => when(Glob.tagMatches(tag, s.matchGlob), lit(s.name))): _*)))
      .filter(col("sink").isNotNull)
  }

  /** Per-sink filtered views (caller may `.cache()` df first when writing
    * several sinks in separate jobs).
    */
  def perSinkFrames(df: DataFrame, tagCol: String, sinks: Seq[SinkSpec]): Seq[(String, DataFrame)] =
    sinks.map(s => s.name -> df.filter(Glob.tagMatches(col(tagCol), s.matchGlob)))

  /** Structural disjointness check for the exclusive fast path: globs with
    * distinct literal prefixes up to the first `*` and no prefix-of-prefix
    * relation cannot both match a tag.
    */
  def disjoint(globs: Seq[String]): Boolean = {
    val prefixes = globs.map(_.takeWhile(_ != '*'))
    // full-literal patterns (no '*') are disjoint iff unequal; otherwise
    // require that no prefix is a prefix of another
    prefixes.combinations(2).forall {
      case Seq(a, b) => !a.startsWith(b) && !b.startsWith(a)
      case _         => true
    }
  }

  /** Exclusive router: `when/case` chain producing a single `sink` column.
    * Only call after [[disjoint]] holds (or when first-match semantics are
    * explicitly wanted).
    */
  def exclusiveSink(tag: Column, sinks: Seq[SinkSpec]): Column =
    sinks.foldRight(lit(null).cast("string")) { (s, rest) =>
      when(Glob.tagMatches(tag, s.matchGlob), lit(s.name)).otherwise(rest)
    }
}
