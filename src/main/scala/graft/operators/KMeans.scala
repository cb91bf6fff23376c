package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.VecMathFunctions

/** Deterministic Lloyd k-means over an integer-quantized embedding
  * column — the trainer for the IVF centroid table
  * ([[Similarity.ivfTopK]]'s "at scale they come from a sampled k-means").
  *
  * Scale shape per iteration:
  *   - assignment: the fused [[graft.functions.NearestCells]] argmin over
  *     the current centroids as plan literals — NARROW, zero shuffle;
  *   - update: a k-bounded vector-sum [[Aggregator]] with map-side combine
  *     — the only exchange ships k × dim partial sums per task, never
  *     vectors.
  *
  * Determinism: init = the k smallest-id vectors (sorted collect); sums
  * are integer and means floor-divide, so centroids and assignments are
  * bit-identical across runs and engines. Empty cells keep their previous
  * centroid.
  */
object KMeans {

  private class VecMeanIntAgg(dim: Int)
      extends Aggregator[Seq[Long], (Array[Long], Long), Seq[Long]] {
    def zero: (Array[Long], Long) = (new Array[Long](dim), 0L)
    def reduce(b: (Array[Long], Long), v: Seq[Long]): (Array[Long], Long) = {
      require(v.length == dim, s"ragged vector: length ${v.length} != dim $dim")
      var i = 0
      while (i < dim) { b._1(i) += v(i); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(a: (Array[Long], Long), b: (Array[Long], Long)): (Array[Long], Long) = {
      var i = 0
      while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    // FLOOR-division mean (Math.floorDiv, not `/`): DuckDB's `//` floors,
    // Long `/` truncates toward zero — they differ on negative sums, so a
    // vector below the offset contract would silently diverge from the
    // oracle with truncation. floorDiv keeps Scala ≡ SQL on all inputs.
    def finish(b: (Array[Long], Long)): Seq[Long] =
      if (b._2 == 0) Seq.empty else b._1.toSeq.map(Math.floorDiv(_, b._2))
    def bufferEncoder: Encoder[(Array[Long], Long)] =
      Encoders.product[(Array[Long], Long)]
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Fully ORACLE-CHECKABLE Lloyd k-means over INTEGER-QUANTIZED vectors
    * (float per-cell means are parallel sums, not bit-reproducible across
    * engines — integer sums and floor-division means are): fused
    * [[graft.functions.NearestCells]] assignment (integer values are exact
    * in doubles far below 2⁵³), k-bounded integer-sum aggregator with
    * map-side combine, k centroids collected per iteration.
    *
    * Contract: `vecCol` is `array<long>` of NON-NEGATIVE quantized values
    * (offset-shift before calling — k-means is translation-invariant);
    * empty cells keep their previous centroid; ties in the assignment
    * break to the smallest cell id. Every step is integer-exact, so any
    * engine reproduces centroids AND assignments bit-for-bit
    * (sim_kmeans_cells' DuckDB oracle re-runs the full unrolled Lloyd).
    */
  def fitInt(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val spark = df.sparkSession
    import spark.implicits._
    val seed = df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Number](0).map(_.longValue).toArray)
    require(seed.length == k, s"need at least $k vectors, found ${seed.length}")
    val dim = seed.head.length
    val centIds = Array.tabulate(k)(_.toLong)
    var cents = seed

    for (_ <- 0 until iters) {
      val cd = cents.map(_.map(_.toDouble))
      val assigned = df.select(
        element_at(VecMathFunctions.nearestCells(
          col(vecCol).cast("array<double>"), centIds, cd, 1), 1).as("cell"),
        col(vecCol).as("v"))
      val means = assigned.groupBy(col("cell"))
        .agg(udaf(new VecMeanIntAgg(dim), ExpressionEncoder[Seq[Long]]())(col("v")).as("c"))
        .as[(Long, Seq[Long])].collect().toMap
      cents = centIds.map(i => means.get(i).filter(_.nonEmpty).map(_.toArray)
        .getOrElse(cents(i.toInt)))
    }
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cent_id", "qvec")
  }
}
