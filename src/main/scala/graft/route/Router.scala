package graft.route

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Glob

/** Tag-based routing with Fluent Bit's FAN-OUT semantics: a record is
  * duplicated into EVERY sink whose match glob matches its tag — routes are
  * a bitmask over all outputs, not a first-match switch (reference
  * `src/flb_task.c:255-277`). A `when/case` exclusive chain is only correct
  * for provably-disjoint patterns; the general planner must duplicate.
  *
  * One strategy, [[fanOut]], built at plan time from globs compiled once to
  * `LIKE` predicates ([[Glob.toLikePattern]], mirroring the boot-time
  * static route precomputation `src/flb_router.c:97-172`): `explode` an
  * array holding, per sink in config order, its name when its glob matches
  * and null otherwise, then drop the nulls. Generate and Filter both
  * codegen, so the fan-out runs inside the parse/enrich whole-stage codegen
  * stage and feeds the partial aggregate in the same loop. One scan, then
  * `groupBy(sink)`/`partitionBy(sink)` downstream; a caller that writes
  * each sink in its own job filters by the sink's glob itself
  * (`ConfPipeline.run`).
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
}
