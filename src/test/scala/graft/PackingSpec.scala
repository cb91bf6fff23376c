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
}
