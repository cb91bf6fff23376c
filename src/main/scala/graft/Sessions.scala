package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The session builder of the production mains (`RunConf`, `RunPipeline`).
  * Every session it returns carries the engine's optimizer rules
  * ([[GraftExtensions.installRules]]), so production runs the plans
  * `Bench` measures. `Bench` and `Verify` keep their own builders.
  */
object Sessions {

  /** Local core count when no master is configured (`SPARK_GRAFT_CPUS`, default 32). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Master and shuffle partitions to set on the builder. A master that is
    * already configured (spark-submit's `--master`, or a running context)
    * wins, and so does the partition count that goes with it; only a bare
    * JVM falls back to `local[cpus]` with one shuffle partition per core.
    * A master set on the builder would override `--master`.
    */
  private[graft] def placement(observed: SparkConf, cpus: Int): Map[String, String] =
    if (observed.contains("spark.master")) Map.empty
    else Map("spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString)

  def create(appName: String): SparkSession = {
    val observed = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.getConf)
      .getOrElse(new SparkConf()) // loads the spark.* properties spark-submit sets
    val spark = SparkSession.builder()
      .appName(appName)
      .config(placement(observed, cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.installRules(spark)
    spark
  }
}
