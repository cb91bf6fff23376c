package graft.run

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.operators.Grep
import graft.parsers.{ParserDef, Parsers}
import graft.route.{Router, SinkSpec}

/** The end-to-end job: parse → filter → (enrich) → tag-route fan-out →
  * per-sink write + aggregates, executed per input SNAPSHOT with
  * idempotent commits — the Spark restatement of the reference's
  * ingestion→flush dispatch loop (`src/flb_engine_dispatch.c:114-185`,
  * chunk tasks + per-route coroutines → here: one write job per snapshot,
  * `partitionBy(sink)` laying out every route in a single pass).
  *
  * Scale shape:
  *   - the transform chain is NARROW (parse/grep/enrich broadcast) — no
  *     shuffle until the per-sink aggregate;
  *   - fan-out duplicates rows via `explode` of a per-sink name-or-null
  *     array plus a null filter (Fluent Bit duplication semantics,
  *     `src/flb_task.c:255-277`), inside the parse/enrich codegen stage;
  *   - the write partitions by sink directory; per-sink aggregates ride
  *     a `groupBy(sink)` whose input is already sink-exploded — one
  *     exchange of small pre-aggregated rows (partial aggregation);
  *   - a killed run resumes from the ledger: committed (sink, snapshot)
  *     pairs are skipped, uncommitted snapshots re-write their own output
  *     directories (overwrite = idempotent).
  */
final case class PipelineSpec(
    tagCol: String = "source",
    parseCol: String = "doc_id",
    parser: ParserDef = Parsers.apache,
    grep: Seq[Grep.Rule] = Nil,
    sinks: Seq[SinkSpec] = Nil,
    enrichDim: Option[DataFrame] = None,
    // carry the ns-fidelity struct<sec,nsec> envelope (`event_time`) plus
    // a derived µs `event_ts` for windowing; derived from the SAME parse
    // (ParserDef.parsedWithTime — no second regex run)
    eventTimeNs: Boolean = false)

object Pipeline {

  /** The pure transform: input rows → sink-exploded rows (column `sink`
    * appended; `parsed` struct appended; grep applied on parsed fields or
    * raw columns).
    */
  def transform(df: DataFrame, spec: PipelineSpec): DataFrame = {
    val parser = spec.parser
    val target =
      if (spec.eventTimeNs)
        df.withColumn("parsed", parser.parsedWithTime(col(spec.parseCol)))
          .withColumn("event_time", parser.eventTimeNsOf(col("parsed")))
          .withColumn("event_ts", graft.core.FlbTime.toTimestamp(col("event_time")))
          .withColumn("parsed", col("parsed").dropFields(s"`${ParserDef.TimeField}`"))
      else df.withColumn("parsed", parser.parsed(col(spec.parseCol)))
    val kept =
      if (spec.grep.isEmpty) target
      else target.filter(Grep.keepPredicate(spec.grep,
        f => if (target.columns.contains(f)) col(f) else col("parsed").getField(f).cast("string")))
    val enriched = spec.enrichDim match {
      case Some(dim) => Enrich.kubernetes(kept, spec.tagCol, dim, applyExclude = false)
      case None      => kept
    }
    Router.fanOut(enriched, spec.tagCol, spec.sinks)
  }

  /** Process one snapshot: read it through the table seam
    * ([[ParquetSnapshotTable]]), transform, write per-sink
    * output under `outDir/data/snap=<id>/sink=<name>/`, and commit each
    * sink with row counts + per-partition lineage.
    *
    * ONE job per snapshot: the write action carries a `Dataset.observe`
    * aggregate ([[Lineage.agg]]) that accumulates (sink × file ×
    * partition) → (rows, sum_n_tok) in-flight, so the commit metadata
    * comes out of the SAME scan that writes the data — no recompute of
    * the transform, no second pass over the input.
    */
  def runSnapshot(spark: SparkSession, ledger: SnapshotLedger, snap: Snapshot,
                  spec: PipelineSpec, outDir: String): Seq[SinkCommit] = {
    val in = new ParquetSnapshotTable(ledger).read(spark, snap)
      .withColumn("_input_file", input_file_name())
    val routed = transform(in, spec)
      .withColumn("_pid", spark_partition_id())

    val nTok: Column =
      if (routed.columns.contains("n_tok")) col("n_tok").cast("long") else lit(0L)
    val obs = org.apache.spark.sql.Observation(s"graft-lineage-${snap.id}")
    routed
      .observe(obs, Lineage.agg(col("sink"), col("_input_file"), col("_pid"), nTok).as("lineage"))
      .drop("parsed")
      .write.mode("overwrite")
      .partitionBy("sink")
      .parquet(s"$outDir/data/snap=${snap.id}")

    val stats = Lineage.fromObservation(obs.get("lineage"))
    val bySink = stats.groupBy(_.sink)
    spec.sinks.map { s =>
      val cells = bySink.getOrElse(s.name, Seq.empty)
      val commit = SinkCommit(
        sink = s.name,
        snapshotId = snap.id,
        rows = cells.map(_.rows).sum,
        sumNTok = cells.map(_.sumNTok).sum,
        lineage = cells.map(c => LineageEntry(c.file, c.pid, c.rows)))
      ledger.commit(commit)
      commit
    }
  }

  /** Run all snapshots not yet committed by every sink. Returns the
    * commits performed (empty = nothing to do, fully resumed).
    */
  def run(spark: SparkSession, ledger: SnapshotLedger, spec: PipelineSpec,
          outDir: String): Seq[SinkCommit] =
    ledger.pending(spec.sinks.map(_.name)).flatMap { snap =>
      runSnapshot(spark, ledger, snap, spec, outDir)
    }
}
