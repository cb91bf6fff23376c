package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling for hot tags (SURVEY §7.5.6: `app.frontend` is 55% of
  * rows by design — FIXTURES §1).
  *
  * Where skew actually bites and what we do:
  *   - per-key `count/sum` aggregates: Spark's partial (map-side)
  *     aggregation already neutralizes key skew — no salting needed; the
  *     fan-out pipeline relies on this (one tiny exchange of
  *     pre-aggregated rows).
  *   - aggregates WITHOUT partial pushdown (`collect_list`, exact
  *     `distinct` per key): two-phase salted aggregation ([[saltedAgg]]).
  *   - joins keyed on the hot column: AQE skew-join
  *     (`spark.sql.adaptive.skewJoin.enabled`, on by default). VERIFIED
  *     LIMIT (AqeSkewSpec): OptimizeSkewedJoin only matches
  *     SMJ(Sort(Shuffle), Sort(Shuffle)) — an aggregate (e.g.
  *     `.distinct()`) between a side's shuffle and the join blocks the
  *     split, so at scale MATERIALIZE derived dimension tables before
  *     joining them against skewed facts.
  */
object Skew {

  /** Deterministic uniform salt in [0, n) derived from a per-row column
    * (never `rand()` — re-computation under task retry must agree).
    */
  def salt(from: Column, n: Int): Column = pmod(xxhash64(from), lit(n.toLong))

  /** Two-phase aggregation for skewed keys: phase 1 aggregates per
    * (keys, salt) — spreading each hot key over `n` reducers — phase 2
    * merges the partials per key. Returns count + sums for `sumCols`.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltFrom: Column, n: Int,
                sumCols: Seq[String]): DataFrame = {
    val phase1 = df
      .withColumn("_salt", salt(saltFrom, n))
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_cnt"),
        sumCols.map(c => sum(col(c)).as(s"_sum_$c")): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_cnt")).as("cnt"),
        sumCols.map(c => sum(col(s"_sum_$c")).as(s"sum_$c")): _*)
  }
}
