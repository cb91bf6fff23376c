package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.sources.TokenTable

/** Co-located joins via bucketing: two tables bucketed+sorted on the join
  * key join with ZERO exchanges — the pre-shuffle pattern for repeated
  * large-table joins at 100 TB (SURVEY §7: "bucketing for co-located
  * joins").
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("bucketed tables join without any Exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
      TokenTable.synthetic(spark, 2000, 4)
        .write.bucketBy(8, "source").sortBy("source").saveAsTable("graft_bucket_a")
      TokenTable.synthetic(spark, 1000, 4)
        .select(col("source"), col("n_tok").as("n2"))
        .write.bucketBy(8, "source").sortBy("source").saveAsTable("graft_bucket_b")

      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "source")
      PlanNodes.sections(joined).foreach { nodes =>
        val names = nodes.map(_.nodeName)
        assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]), names)
        assert(!nodes.exists(_.isInstanceOf[Exchange]), s"bucketed join must not shuffle: $names")
      }
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }
}
