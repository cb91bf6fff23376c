package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.status.api.v1.StageData

import graft.operators.{Dedup, Multiline, Similarity}
import graft.run.JobCounts
import graft.sources.{TailFixture, TokenTable}

/** Dev probes behind one main: `sbt "runMain graft.Probe <mode> [args]"`.
  * Every mode runs on `Bench.session(SPARK_GRAFT_CPUS)`, so its numbers are
  * comparable with Bench's, and reads the sf tables from
  * `SPARK_GRAFT_SF_DIR` (default: the sf0.1 tables, as in Bench). Bench
  * and Verify stay the measured surfaces; these modes are for finding out
  * why.
  *
  *   - `query <name> [explain]`: time one `SparkEntry.queries` entry 3×
  *     (query construction plus a noop sink write, as Bench times it)
  *     with a per-run job/stage/task census ([[graft.run.JobCounts]]);
  *     `explain` first prints the formatted physical plan. `QDEBUG_JOBS=1`
  *     logs every job and stage.
  *   - `seq [n] [k]`: cross-query interference — replay the first `n`
  *     queries alphabetically (warm-up + timed, Bench phase-1 shape), then
  *     re-time the first `k` at the end. A re-run slower than its first
  *     timing means earlier queries' session residue (persisted blocks,
  *     JIT queue, GC pressure) taxes later ones.
  *   - `big`: the headline pipeline at `GRAFT_PROBE_ROWS` rows (default
  *     300M, ~10× the steady input) on Bench's input cache and timing
  *     helper; one JSON line.
  *   - `round [star|neardup-verify|multiline]`: the formatted plan of one
  *     iterative-operator round body, which the final plan of the full
  *     query cannot show (by then the edges are a checkpointed RDD scan).
  *   - `growth`: one JSON line auditing `dedup_embed_pairs`, the one
  *     super-linear query of the growth map. Its 10× input duplicates every
  *     embedding 10×, so each SRP bucket is 10× denser and the pair output
  *     grows quadratically while runtime stays ~12×. Reports pairs at 1×
  *     and 10× and how many buckets the production cap
  *     (`Similarity.DefaultMaxBucket`) truncates on each input.
  */
object Probe {
  private val usage =
    "usage: graft.Probe query <name> [explain] | seq [n] [k] | big | round [star|neardup-verify|multiline] | growth"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val run: SparkSession => Unit = args.toList match {
      case "query" :: name :: rest => query(_, sfDir, name, rest.contains("explain"))
      case "seq" :: rest =>
        seq(_, sfDir, rest.headOption.fold(30)(_.toInt), rest.lift(1).fold(8)(_.toInt))
      case "big" :: Nil => big
      case "round" :: rest => round(_, sfDir, rest.headOption.getOrElse("star"))
      case "growth" :: Nil => growth(_, sfDir)
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = Bench.session(Sessions.cpus)
    try run(spark) finally spark.stop()
  }

  /** Times building `df` AND its noop write, as Bench does: eager
    * operators (iterative loops, driver collects) run while the query is
    * built, so timing only the write would miss them. */
  private def noopWrite(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def query(spark: SparkSession, dir: String, name: String, explain: Boolean): Unit = {
    // iterative operators' wall time is usually job-count-bound, so the
    // job census is the first dial
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, dir).explain("formatted")
    (1 to 3).foreach { i =>
      val (sec, c) = JobCounts.of(spark, s"graft-probe-$name-$i")(noopWrite(fn(spark, dir)))
      if (sys.env.contains("QDEBUG_JOBS")) logStore(c)
      System.err.println(f"[qdebug] $name run $i: $sec%.3f s " +
        s"(jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks})")
    }
  }

  /** Each job with its stages' task counts, then each stage attempt that
    * ran with its wall time, from the status store. */
  private def logStore(c: JobCounts): Unit = {
    def label(s: StageData, n: Int) = s.name.takeWhile(_ != '\n').take(n)
    val byId = c.stageData.groupBy(_.stageId)
    c.jobData.foreach { j =>
      System.err.println(s"[qdebug-job] ${j.jobId}: " + j.stageIds.sorted.map(byId(_).head)
        .map(s => s"${label(s, 60)}(${s.numTasks}t)").mkString(" | "))
    }
    c.ran.foreach { s =>
      val ms = for {a <- s.completionTime; b <- s.submissionTime} yield a.getTime - b.getTime
      System.err.println(f"[qdebug-stage] ${s.stageId}%3d ${ms.getOrElse(-1L)}%6d ms " +
        s"${s.numTasks}t ${label(s, 70)}")
    }
  }

  private def seq(spark: SparkSession, dir: String, n: Int, k: Int): Unit = {
    TailFixture.ensure(spark, dir, useAlt = false)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1).take(n)
    val first = qs.map { case (name, fn) =>
      noopWrite(fn(spark, dir)) // warmup
      val t = noopWrite(fn(spark, dir))
      System.err.println(f"[seqprobe] $name%-28s $t%8.3f s")
      name -> t
    }.toMap
    System.err.println("[seqprobe] ---- re-run of the first queries at sequence end ----")
    qs.take(k).foreach { case (name, fn) =>
      val t = noopWrite(fn(spark, dir))
      val t0 = first(name)
      System.err.println(f"[seqprobe] $name%-28s $t%8.3f s (was $t0%.3f, x${t / t0}%.2f)")
    }
  }

  private def big(spark: SparkSession): Unit = {
    val rows = sys.env.getOrElse("GRAFT_PROBE_ROWS", "300000000").toLong
    // if ensureInput is about to BUILD the parquet in-process, the first
    // pass reads files the writer just left resident in page cache — only
    // a pre-existing input gives an honestly cold first pass
    val preexisting = Files.exists(Paths.get(s"target/bench_input_$rows", "_SUCCESS"))
    val path = Bench.ensureInput(spark, rows)
    val first = Bench.pipelineThroughput(spark, path, rows)
    val warm = Bench.pipelineThroughput(spark, path, rows)
    // pre-existence is all we can assert: a pre-existing input may still
    // be page-cache resident from a PRIOR run, so no "cold" claim is made
    println(s"""{"metric":"bigprobe_rows_per_sec","rows":$rows,"first_pass":$first,"input_preexisted":$preexisting,"value":$warm}""")
  }

  private def round(spark: SparkSession, dir: String, body: String): Unit = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val plan = body match {
      case "star" =>
        val edges = d.filter(col("doc_id") % 5 =!= 4)
          .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
          .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        Dedup.starRound(edges)
      case "neardup-verify" =>
        // the curate_neardup candidate-verify subplan (CC consumes it
        // eagerly before the query returns)
        val base = d.select(col("doc_id").as("id"),
          TokenTable.tokensFor(col("doc_id") - col("doc_id") % 2).as("tokens"))
        Dedup.lshCandidatePairs(base, "id", "tokens", numHashes = 8, rowsPerBand = 2)
          .join(base.select(col("id").as("id_a"), col("tokens").as("ta")), Seq("id_a"))
          .join(base.select(col("id").as("id_b"), col("tokens").as("tb")), Seq("id_b"))
          .filter(col("ta") === col("tb"))
          .select(col("id_a"), col("id_b"))
      case "multiline" =>
        val lines = d.select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("i0", "w")))
          .select(col("doc_id"), (col("i0") + 1).as("line_no"), col("w"))
        Multiline.assemble(lines, "doc_id", "line_no", "w", "^the$")
      case other => sys.error(s"unknown round body: $other")
    }
    plan.explain("formatted")
  }

  private def growth(spark: SparkSession, sfDir: String): Unit = {
    val cap = Similarity.DefaultMaxBucket
    val scaledDir = s"target/bench_scaled_${new java.io.File(sfDir).getName}_x10"
    def pairsOut(dir: String): Long =
      SparkEntry.queries("dedup_embed_pairs")(spark, dir).count()
    def bucketAudit(dir: String): (Long, Long, Long) = {
      val st = Similarity
        .srpBucketStats(spark.read.parquet(s"$dir/embeddings.parquet"), "embedding",
          planes = 8, maxBucket = cap)
        .agg(count(lit(1)), sum(when(col("truncated"), 1L).otherwise(0L)), max(col("n")))
        .collect()(0)
      (st.getLong(0), st.getLong(1), st.getLong(2))
    }
    val p1 = pairsOut(sfDir)
    val (b1, t1, m1) = bucketAudit(sfDir)
    val has10 = Files.exists(Paths.get(scaledDir, "_GRAFT_SCALED_OK"))
    val (p10, b10, t10, m10) =
      if (has10) {
        val p = pairsOut(scaledDir)
        val (b, t, m) = bucketAudit(scaledDir)
        (p, b, t, m)
      } else (-1L, -1L, -1L, -1L)
    val ratio = if (has10 && p1 > 0) p10.toDouble / p1 else -1.0
    println(
      s"""{"metric":"embed_pairs_audit","pairs_1x":$p1,"pairs_10x":$p10,""" +
        s""""embed_pairs_out_ratio":${math.round(ratio * 10) / 10.0},""" +
        s""""buckets_1x":$b1,"buckets_10x":$b10,""" +
        s""""truncated_at_cap${cap}_1x":$t1,"truncated_at_cap${cap}_10x":$t10,""" +
        s""""max_bucket_1x":$m1,"max_bucket_10x":$m10}""")
  }
}
