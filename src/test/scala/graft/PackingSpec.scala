package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.operators.Packing

/** Concat-and-chunk sequence packing: placement arithmetic vs a driver
  * reference, boundary-straddling docs, and the no-single-partition plan
  * contract of the two-phase prefix sum.
  */
class PackingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("packedSpans equals the sequential driver reference (non-contiguous shuffled ids)") {
    val rnd = new scala.util.Random(7L)
    val docs = rnd.shuffle((0 until 500).map(i => (i * 3L + 17, (rnd.nextInt(100) + 1).toLong)))
    val df = docs.toDF("id", "n")
    val got = Packing.packedSpans(df, "id", "n", ctxLen = 128, sepTokens = 1, buckets = 8)
      .select(col("id"), col("start_tok"), col("first_chunk"), col("last_chunk"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    var cum = 0L
    val want = docs.sortBy(_._1).map { case (id, n) =>
      val eff = n + 1
      val start = cum
      cum += eff
      (id, start, start / 128, (cum - 1) / 128)
    }
    assert(got == want)
  }

  test("no single-partition global window in the plan (two-phase prefix sum)") {
    val df = spark.range(0, 10000).select(col("id"), (col("id") % 64 + 1).as("n"))
    val out = Packing.packedSpans(df, "id", "n", ctxLen = 256, buckets = 8)
    out.collect()
    val single = PlanNodes.sections(out).flatten.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
    }
    assert(single.isEmpty, single)
  }

  test("chunkMembers: one row per overlapped window, count = last-first+1 summed") {
    val df = Seq((1L, 100L), (2L, 100L), (3L, 500L), (4L, 10L)).toDF("id", "n")
    val spans = Packing.packedSpans(df, "id", "n", ctxLen = 128, sepTokens = 0, buckets = 2)
      .as[(Long, Long, Long, Long)].collect()
    val expected = spans.map { case (_, _, f, l) => l - f + 1 }.sum
    val members = Packing.chunkMembers(df, "id", "n", ctxLen = 128, sepTokens = 0, buckets = 2)
    assert(members.count() == expected)
    // doc 3 (500 tokens from offset 200) overlaps windows 1..5
    val d3 = members.filter(col("id") === 3L).select("chunk_id").as[Long].collect().sorted
    assert(d3.sameElements(Array(1L, 2L, 3L, 4L, 5L)))
  }
}
