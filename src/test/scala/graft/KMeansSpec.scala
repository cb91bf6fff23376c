package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Similarity}

/** Lloyd k-means trainer for the IVF centroid table, over integer-quantized
  * vectors: integer sums and floor-division means make every run
  * bit-identical, so the contracts here are exact: blob recovery on
  * separated data, deterministic assignments, non-increasing SSE on the
  * fixture, empty-cell survival, floor means.
  */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // two well-separated blobs in 4-d with deterministic jitter
  private def blobs = (0L until 200L).map { i =>
    val center = if (i % 2 == 0) 10f else -10f
    (i, Seq.tabulate(4)(d => center + ((i * 7 + d * 3) % 5).toFloat / 10f))
  }

  // the blobs quantized like sim_kmeans_cells: half-up floor ×1000, plus
  // an offset that keeps every value non-negative (fitInt's contract)
  private def quantized = blobs.toDF("vec_id", "embedding").select(col("vec_id"),
    transform(col("embedding"),
      x => floor(x.cast("double") * 1000d + 0.5d) + 20000L).as("qv"))

  private def cells(df: DataFrame, cents: DataFrame) =
    Similarity.ivfAssign(df, "vec_id", "qv",
        cents.select(col("cent_id"), col("qvec").cast("array<double>").as("cvec")))
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap

  test("recovers two separated blobs exactly; assignments deterministic across runs") {
    val df = quantized
    val cents = KMeans.fitInt(df, "vec_id", "qv", 2, 3)
    assert(cents.count() == 2)
    val assign = cells(df, cents)
    // every even id (blob +10) in one cell, every odd id in the other
    val evenCells = assign.filter(_._1 % 2 == 0).values.toSet
    val oddCells = assign.filter(_._1 % 2 == 1).values.toSet
    assert(evenCells.size == 1 && oddCells.size == 1 && evenCells != oddCells)
    // deterministic: a second fit lands every vector in the same cell
    assert(cells(df, KMeans.fitInt(df, "vec_id", "qv", 2, 3)) == assign)
    // centroids sit at the blob means (±0.5 jitter window, ×1000, offset)
    val cs = cents.orderBy("cent_id").select("qvec").as[Seq[Long]].collect()
    assert(cs.forall(c => c.forall(x => math.abs(math.abs(x - 20000L) - 10200L) < 500L)), cs.toSeq)
  }

  test("SSE is non-increasing over Lloyd iterations") {
    val df = quantized
    val sses = (0 to 3).map { it =>
      val cents = KMeans.fitInt(df, "vec_id", "qv", 4, it)
      val cs = cents.select("cent_id", "qvec").as[(Long, Seq[Long])].collect().toMap
      val v = df.select("vec_id", "qv").as[(Long, Seq[Long])].collect().toMap
      cells(df, cents).map { case (id, cell) =>
        v(id).zip(cs(cell)).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
    }
    sses.sliding(2).foreach { case Seq(a, b) => assert(b <= a, sses) }
  }

  test("k=1 converges to the global mean (ulp-tolerance)") {
    val df = quantized
    val c = KMeans.fitInt(df, "vec_id", "qv", 1, 1)
      .select("qvec").as[Seq[Long]].collect()(0)
    // integer sums, floor-division mean: exact, no tolerance needed
    val want = df.select(posexplode(col("qv")).as(Seq("d", "x")))
      .groupBy("d").agg(sum(col("x")).as("s"), count(lit(1)).as("n")).orderBy("d")
      .select("s", "n").as[(Long, Long)].collect().map { case (s, n) => Math.floorDiv(s, n) }
    assert(c == want.toSeq)
  }

  test("fitInt: integer Lloyd recovers blobs, floor-division means, bit-stable across runs") {
    val df = quantized
    val cents = KMeans.fitInt(df, "vec_id", "qv", 2, 3)
    val assign = cells(df, cents)
    val evenCells = assign.filter(_._1 % 2 == 0).values.toSet
    val oddCells = assign.filter(_._1 % 2 == 1).values.toSet
    assert(evenCells.size == 1 && oddCells.size == 1 && evenCells != oddCells)
    // bit-stable: integer sums + floor-division means leave NO float
    // nondeterminism — a second fit yields IDENTICAL centroids
    val c1 = cents.orderBy("cent_id").select("qvec").as[Seq[Long]].collect().toSeq
    val c2 = KMeans.fitInt(df, "vec_id", "qv", 2, 3)
      .orderBy("cent_id").select("qvec").as[Seq[Long]].collect().toSeq
    assert(c1 == c2)
    // centroid components are exact floor-division means: blob +10 →
    // values near 30000+200 window, all within the jitter span
    assert(c1.forall(_.forall(v => v > 9000 && v < 31000)))
  }

  test("duplicate seed vectors: the shadowed cell stays on its seed (no crash, no NaN)") {
    // ids 0 and 1 share a vector → ties go to cent 0, cell 1 gets no members
    val df = (Seq((0L, Seq(5f, 5f)), (1L, Seq(5f, 5f))) ++
      (2L until 50L).map(i => (i, Seq(100f + i % 3, 100f)))).toDF("vec_id", "embedding")
    val cents = KMeans.fitInt(
        df.select(col("vec_id"), transform(col("embedding"), x => x.cast("long")).as("qv")),
        "vec_id", "qv", 2, 2)
      .orderBy("cent_id").select("qvec").as[Seq[Long]].collect()
    // cell 1 keeps its seed vector: an empty cell is not divided by zero
    assert(cents.length == 2 && cents(1) == Seq(5L, 5L), cents.toSeq)
  }

  test("fitInt means FLOOR on negative sums (DuckDB // semantics, not Long /)") {
    // one cell, two vectors: sums (-7, 7, -1) over count 2 must floor to
    // (-4, 3, -1), where truncating division would give (-3, 3, 0)
    val df = Seq(
      (0L, Seq(-3L, 4L, 0L)),
      (1L, Seq(-4L, 3L, -1L))
    ).toDF("vec_id", "qvec")
    val cents = KMeans.fitInt(df, "vec_id", "qvec", 1, 1)
      .select("qvec").collect()(0).getSeq[Long](0)
    assert(cents == Seq(-4L, 3L, -1L))
  }
}
