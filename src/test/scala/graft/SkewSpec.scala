package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.route.Skew
import graft.sources.TokenTable

class SkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedAgg == plain groupBy on the skewed source tag") {
    val t = TokenTable.synthetic(spark, 5000, 4)
    val plain = t.groupBy("source")
      .agg(count(lit(1)).as("cnt"), sum("n_tok").as("sum_n_tok"))
      .as[(String, Long, Long)].collect().toSet
    val salted = Skew.saltedAgg(t, Seq("source"), col("seq"), 16, Seq("n_tok"))
      .as[(String, Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("salted phase-1 actually spreads the hot key over n reducers") {
    val t = TokenTable.synthetic(spark, 2000, 4)
    val spread = t.withColumn("_salt", Skew.salt(col("seq"), 16))
      .filter(col("source") === "app.frontend")
      .select(countDistinct(col("_salt"))).collect()(0).getLong(0)
    assert(spread == 16) // hot tag hits every salt bucket
  }

  test("salt is deterministic under recomputation (task-retry safety)") {
    val t = TokenTable.synthetic(spark, 100, 4).withColumn("s", Skew.salt(col("seq"), 8))
    val a = t.select("seq", "s").as[(Long, Long)].collect().toSet
    val b = t.select("seq", "s").as[(Long, Long)].collect().toSet
    assert(a == b)
    assert(a.map(_._2).forall(s => s >= 0 && s < 8))
  }
}
