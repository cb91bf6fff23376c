package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the reproducibility requirement of a
  * training-data pipeline: the same row set survives on every run, on any
  * cluster size, with disjoint complements (no RNG, no per-partition
  * state; contrast `df.sample`, which depends on partitioning).
  */
object Sampling {

  /** Keep a row iff the multiplicative hash of its int64 key,
    * `pmod(key·2654435761, 100) < pct`, holds — any engine reproduces the
    * exact row set, and the complement is exactly the other rows (weaker
    * mixing than xxhash64, fine for ids without adversarial structure).
    * pmod keeps NEGATIVE keys correctly sampled (C-style % would put every
    * negative key's remainder below pct). Portable domain: |key| < 2³¹
    * (the product must not overflow in engines that error on int64
    * overflow — DuckDB does; Java wraps). For non-negative keys the
    * expression equals plain `%`, so SQL oracles can use either.
    */
  def hashSamplePortable(df: DataFrame, keyCol: String, pct: Int): Column =
    pmod(col(keyCol) * 2654435761L, lit(100L)) < pct

  def samplePortable(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(hashSamplePortable(df, keyCol, pct))

  /** Stratified per-source sampling — data-MIXTURE construction: each
    * source keeps its own deterministic rate (web 10%, curated 100%, …),
    * the standard way training mixes are weighted. Same portable
    * multiplicative hash as [[samplePortable]], so (a) any engine
    * reproduces the exact row set, (b) samples NEST across rates (a
    * source's 10% sample is a subset of its 30% sample — raising a
    * source's weight only ADDS rows, it never churns the ones already
    * in the mix), and (c) complements stay disjoint. `pctBySource` is
    * applied as a deterministic CASE chain (sorted by source so the plan
    * is stable); unlisted sources fall back to `defaultPct`.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, sourceCol: String,
                       pctBySource: Map[String, Int],
                       defaultPct: Int = 0): DataFrame = {
    val pct = pctBySource.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (src, p)) => when(col(sourceCol) === src, lit(p)).otherwise(acc)
    }
    df.filter(pmod(col(keyCol) * 2654435761L, lit(100L)) < pct)
  }
}
