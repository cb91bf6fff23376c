package graft

import java.nio.file.{Files, Paths}

import graft.run.ConfPipeline

/** Run a classic fluent-bit-style config on Spark:
  *
  * {{{
  *   runMain graft.RunConf <pipeline.conf> <parsers.conf> [outDir]
  * }}}
  *
  * The switch path for a reference user: same `[INPUT]/[FILTER]/[OUTPUT]`
  * sections, same `[PARSER]` definitions, executed as one Catalyst plan
  * per output over a shared cached core (SURVEY §3.3).
  */
object RunConf {
  def main(args: Array[String]): Unit = {
    val confPath = args(0)
    val parsersPath = args(1)
    val outDir = if (args.length > 2) args(2) else "target/conf_out"
    val spark = Sessions.create("graft-conf")

    val loaded = ConfPipeline.load(spark,
      Files.readString(Paths.get(confPath)),
      Files.readString(Paths.get(parsersPath)))
    val results = ConfPipeline.run(loaded, outDir)
    results.foreach { case (sink, n) => println(s"[conf] output $sink: $n records") }
    spark.stop()
  }
}
