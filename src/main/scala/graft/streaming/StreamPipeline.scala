package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming wrapper (SURVEY §1.3: the reference is an
  * incremental streamer; every operator here is a pure function of
  * (tag, ts, record), so the SAME column-level transform chain,
  * `Pipeline.transform`, runs under `readStream` unchanged — batch-first,
  * streaming as a wrapper).
  *
  * `Trigger.AvailableNow` + the file source's own checkpoint reproduces
  * the reference's chunk-flush cadence (`flb_engine.c:434-442`); the
  * ledger covers batch resume, the streaming checkpointLocation covers
  * stream resume.
  */
object StreamPipeline {

  /** BASELINE input shape for schema-required streaming reads. */
  val tokenSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType)))

  def tokenStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(tokenSchema).parquet(dir)

  /** `out_flowcounter` as a streaming windowed aggregate: tumbling window
    * counts + sums with a watermark (event_based mode,
    * `out_flowcounter.c:150-231`).
    */
  def flowCounter(stream: DataFrame, tsCol: String, window: String,
                  watermark: String, sumCol: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col("sink"))
      .agg(count(lit(1)).as("cnt"), sum(col(sumCol)).as("sum_val"))

  /** Streaming exact dedup: drop duplicate keys ACROSS micro-batches with
    * bounded state (`dropDuplicatesWithinWatermark` — late duplicates
    * beyond the watermark age out; the streaming face of
    * [[graft.operators.Dedup.exactRows]]).
    */
  def streamingDedup(stream: DataFrame, keyCols: Seq[String],
                     tsCol: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  // ------------------------------------------------------------- throttle
  final case class ThrottleIn(pane: Long, ts: java.sql.Timestamp, key: Long)
  final case class PaneState(emitted: Long)

  /** `filter_throttle` as stateful streaming: per event-time pane, pass
    * records until the pane's budget (`rate × interval`) is spent — the
    * streaming face of the deterministic batch reformulation
    * (`throttle.c:89-99`; state = the reference's ring pane counter).
    */
  def throttle(ds: Dataset[ThrottleIn], cap: Long): Dataset[ThrottleIn] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.pane)
      .flatMapGroupsWithState[PaneState, ThrottleIn](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[ThrottleIn], state: GroupState[PaneState]) =>
          val already = state.getOption.map(_.emitted).getOrElse(0L)
          val budget = math.max(0L, cap - already)
          val taken = rows.take(budget.toInt).toSeq
          state.update(PaneState(already + taken.size))
          taken.iterator
      }
  }

  // --------------------------------------------------------------- as-of
  final case class AsOfIn(k: Long, tsUs: Long, isDim: Boolean,
                          dimVal: Option[Long], eventId: Option[Long])
  final case class AsOfOut(k: Long, tsUs: Long, eventId: Long, dimVal: Option[Long])
  final case class AsOfState(ts: List[Long], vs: List[Option[Long]])

  /** Streaming as-of enrich over a MERGED keyed stream of events and dims
    * — the stateful face of [[graft.operators.AsOfJoin.lastBefore]]'s
    * union shape. Per key the state is the dim timeline seen so far; each
    * micro-batch's rows are walked in (ts, dim-first) order, so in-batch
    * semantics match the batch window exactly (≥ bound: a dim at an
    * event's exact ts wins), and dims persist across batches.
    *
    * Append-only contract: an event is enriched with the dims ARRIVED by
    * its batch — a later out-of-order dim does not retroactively rewrite
    * an already-emitted event (the approximation every append-mode as-of
    * stream makes; the batch operator is the exact replay).
    *
    * @param maxDims state-size dial: keep only the LATEST n dims per key
    *                (old entries can no longer win any future lookup once
    *                newer dims exist, unless events arrive further out of
    *                order than the retained window)
    */
  def asOf(ds: Dataset[AsOfIn], maxDims: Int = 1024): Dataset[AsOfOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.k)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[AsOfIn], state: GroupState[AsOfState]) =>
          val st = state.getOption.getOrElse(AsOfState(Nil, Nil))
          // ascending-ts timeline as parallel DESCENDING lists (head = latest)
          var ts = st.ts
          var vs = st.vs
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
          rows.toSeq.sortBy(r => (r.tsUs, !r.isDim)).foreach { r =>
            if (r.isDim) {
              if (ts.isEmpty || r.tsUs >= ts.head) { ts = r.tsUs :: ts; vs = r.dimVal :: vs }
              else {
                // out-of-order dim: splice into position (rare path)
                val (newer, older) = ts.zip(vs).span(_._1 > r.tsUs)
                val spliced = newer ::: ((r.tsUs, r.dimVal) :: older)
                ts = spliced.map(_._1); vs = spliced.map(_._2)
              }
              if (ts.length > maxDims) { ts = ts.take(maxDims); vs = vs.take(maxDims) }
            } else {
              val m = ts.zip(vs).find(_._1 <= r.tsUs).map(_._2)
              out += AsOfOut(k, r.tsUs, r.eventId.getOrElse(-1L), m.flatten)
            }
          }
          state.update(AsOfState(ts, vs))
          out.iterator
      }
  }

  // ------------------------------------------------------------ multiline
  final case class MlLine(file: String, lineNo: Long, line: String)
  final case class MlPending(startLine: Long, buf: String)
  final case class MlRecord(file: String, firstLine: Long, record: String)

  /** Streaming `tail` multiline: firstline-anchored record assembly with
    * state that carries a PARTIAL record across micro-batches — the
    * reference buffers exactly this in `struct flb_tail_file`
    * (`tail_multiline.c:250-313`); a record whose continuation lines
    * arrive in a later chunk must still assemble.
    *
    * A pending record closes when the next head arrives. The LAST record
    * of a stream stays pending until its key times out
    * (`timeoutMs` ≈ the reference's `Flush_MS` wall-clock flush;
    * `timeoutMs <= 0` disables the flush — pending records then only close
    * on the next head, which keeps bounded drains deterministic) — an
    * inherent property of head-anchored assembly, not an implementation
    * gap.
    *
    * Contract: lines of one file arrive in order ACROSS micro-batches
    * (within a batch they are sorted by lineNo) — the tail source reads
    * files sequentially, so this matches the reference's input model;
    * an out-of-order source would need a watermark-buffered sort first.
    */
  def multiline(ds: Dataset[MlLine], firstlineRegex: String,
                timeoutMs: Long = 4000): Dataset[MlRecord] = {
    import ds.sparkSession.implicits._
    val re = firstlineRegex.r
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(_.file)
      .flatMapGroupsWithState[MlPending, MlRecord](
        OutputMode.Append, timeoutConf) {
        (file: String, rows: Iterator[MlLine], state: GroupState[MlPending]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // Flush_MS fired: emit whatever is buffered
            val out = state.getOption.map(p => MlRecord(file, p.startLine, p.buf)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.lineNo)
            var pending = state.getOption
            val out = Seq.newBuilder[MlRecord]
            sorted.foreach { l =>
              if (re.findFirstIn(l.line).isDefined) {
                pending.foreach(p => out += MlRecord(file, p.startLine, p.buf))
                pending = Some(MlPending(l.lineNo, l.line))
              } else pending = pending.map(p => p.copy(buf = p.buf + "\n" + l.line))
              // leading continuations before any head are dropped (batch ≡)
            }
            pending match {
              case Some(p) =>
                state.update(p)
                if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
      }
  }

  /** Run a stream to completion over existing files (test/batch-drain
    * mode): memory sink, AvailableNow, blocking.
    */
  def drainToMemory(df: DataFrame, name: String, outputMode: String = "append"): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
