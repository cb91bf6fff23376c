package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining — the "concatenate and chunk"
  * layout: documents are laid out in a deterministic order (ascending id,
  * each followed by `sepTokens` separator slots) and the resulting token
  * stream is cut into fixed `ctxLen` training windows. Emits each
  * document's placement: its absolute starting token offset and the
  * [first_chunk, last_chunk] window range it overlaps — the doc→window
  * index a packed-pretraining loader and attribution tooling need.
  *
  * Scale design: the global prefix sum is TWO-PHASE —
  *   1. rows bucket by driver-computed quantile ranges of the id (a
  *      DETERMINISTIC column expression; `spark_partition_id()` could be
  *      re-evaluated on the wrong side of a later exchange), and each
  *      bucket's running sum is a per-bucket window — all buckets in
  *      parallel, ONE exchange of (id, eff) pairs;
  *   2. per-bucket totals (≤ `buckets` rows) collect to the driver, their
  *      prefix offsets broadcast back as a tiny join.
  * A bare `Window.orderBy(id)` without partitioning would put the WHOLE
  * table in one task — the thing this exists to avoid.
  *
  * All arithmetic is integer (IntegralDivide, not double `/` — exact past
  * 2⁵³ total tokens), so the DuckDB oracle reproduces every value.
  */
object Packing {

  private def longDiv(a: Column, b: Long): Column = graft.core.Arith.longDiv(a, b)

  /** @return (idCol, start_tok, first_chunk, last_chunk) — chunk ids are
    *         null for zero-length documents (possible only when
    *         `sepTokens = 0` and `nTokCol` is 0)
    */
  def packedSpans(df: DataFrame, idCol: String, nTokCol: String,
                  ctxLen: Long, sepTokens: Long = 0, buckets: Int = 32): DataFrame = {
    require(ctxLen > 0, s"ctxLen=$ctxLen")
    val spark = df.sparkSession
    val eff = col(nTokCol).cast("long") + lit(sepTokens)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds =
      if (buckets <= 1) Array.empty[Double]
      else df.stat.approxQuantile(idCol, probs, 0.0001).distinct.sorted
    val bucketCol = bounds.foldLeft(lit(0): Column)((acc, b) =>
      acc + when(col(idCol).cast("double") > b, 1).otherwise(0))
    val w = Window.partitionBy(col("_b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    // localCheckpoint: the window result feeds BOTH the totals collect and
    // the returned frame — without it the shuffle re-runs per downstream
    // action, and the driver-baked offsets could meet a re-computed _lcum.
    // LAZY: the totals collect right below is the materializing action, so
    // no separate checkpoint job runs
    val local = df.select(col(idCol), eff.as("_eff"))
      .withColumn("_b", bucketCol)
      .withColumn("_lcum", sum(col("_eff")).over(w))
      .localCheckpoint(eager = false)
    val totals = local.groupBy(col("_b")).agg(max(col("_lcum")).as("_tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var running = 0L
    val offs = totals.map { case (b, tot) => val o = running; running += tot; (b, o) }
    import spark.implicits._
    val offDf = offs.toSeq.toDF("_b", "_off")
    val start = col("_lcum") + col("_off") - col("_eff")
    local.join(broadcast(offDf), Seq("_b"))
      .select(col(idCol),
        start.as("start_tok"),
        when(col("_eff") > 0, longDiv(start, ctxLen)).as("first_chunk"),
        when(col("_eff") > 0,
          longDiv(col("_lcum") + col("_off") - 1, ctxLen)).as("last_chunk"))
  }
}
