package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.sources.TokenTable

/** AQE skew-join engagement on the deliberately hot `source` tag (55%
  * `app.frontend` by construction, FIXTURES §1): with thresholds scaled to
  * local data sizes, the runtime re-plan must mark the hot partition as
  * skewed and split it — the mechanism the 100 TB plan relies on before
  * manual salting (SURVEY §7.5.6).
  */
class AqeSkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("AQE splits the hot-tag join partition (skew=true in the final plan)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.shuffle.partitions"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.shuffle.partitions", "16") // median partition ≪ hot one

      val fact = TokenTable.synthetic(spark, 200000, 8)
        .select(col("source"), col("n_tok"), col("doc_id"))
      // NOTE: no aggregation between the dim's shuffle and the join —
      // OptimizeSkewedJoin matches SMJ(Sort(Shuffle), Sort(Shuffle)) only
      import spark.implicits._
      val dim = Seq("app.frontend", "app.backend", "db.primary", "sys.kern")
        .toDF("source").withColumn("label", lit("x"))
      val joined = fact.join(dim, Seq("source")).select(col("source"))
      assert(joined.collect().nonEmpty) // collect() executes THIS QueryExecution
      val nodes = PlanNodes.of(joined)
      assert(nodes.exists { case j: SortMergeJoinExec => j.isSkewJoin; case _ => false },
        s"expected AQE skew split: ${nodes.map(_.nodeName)}")
    } finally {
      saved.foreach { case (k, v) =>
        v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
      }
    }
  }
}
