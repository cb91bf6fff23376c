package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TopK

class TopKSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bounded-buffer top-k equals the window formulation, rides partial aggregation") {
    val o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    val viaAgg = TopK.perGroup(o, "o_custkey", "o_totalprice", "o_orderkey", 3)
      .select(col("o_custkey").cast("long"), col("o_orderkey").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_custkey").cast("long"), col("o_orderkey").cast("long"), col("rn"))
      .as[(Long, Long, Int)].collect().toSet
    assert(viaAgg == viaWindow)
    // map-side combine: the plan carries a PARTIAL aggregate before the
    // exchange (the whole point — k-bounded state, no full-group sort)
    PlanNodes.sections(TopK.perGroup(o, "o_custkey", "o_totalprice", "o_orderkey", 3))
      .foreach { nodes =>
        val names = nodes.map(_.nodeName)
        assert(nodes.exists {
          case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
          case _ => false
        }, names)
        assert(!nodes.exists(_.isInstanceOf[WindowExec]), names)
      }
  }

  test("perGroupWithOrd rejects non-integral id columns with a clear error") {
    val df = Seq(("g", 1.0, "a")).toDF("g", "v", "id")
    val ex = intercept[IllegalArgumentException] {
      TopK.perGroupWithOrd(df, "g", "v", "id", 2)
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("one giant group: buffer stays k-bounded (no group-wide sort state)") {
    val df = spark.range(0, 100000).select(lit(1L).as("g"),
      (col("id") * 7919 % 100000).cast("double").as("v"), col("id").as("k"))
    val top = TopK.perGroup(df, "g", "v", "k", 5)
      .select("rank", "k").as[(Int, Long)].collect().sortBy(_._1)
    assert(top.length == 5)
    // ranks 1..5 are the 5 largest v values with deterministic ties
    val expect = (0L until 100000L).map(i => ((i * 7919 % 100000).toDouble, i))
      .sortBy { case (v, k) => (-v, k) }.take(5).map(_._2)
    assert(top.map(_._2).toSeq == expect)
  }
}
