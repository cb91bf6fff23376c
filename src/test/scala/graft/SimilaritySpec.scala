package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Every node of every plan section of `df` that matches `p`. */
  private def nodes(df: DataFrame)(p: PartialFunction[SparkPlan, Boolean]): Seq[SparkPlan] =
    PlanNodes.sections(df).flatten.filter(p.applyOrElse(_, (_: SparkPlan) => false))

  private val exchange: PartialFunction[SparkPlan, Boolean] = {
    case _: Exchange | _: ReusedExchangeExec => true
  }

  test("cosine: identical vectors → 1.0, orthogonal → 0.0, zero vector → null") {
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(0f, 0f, 0f), Seq(1f, 1f, 1f))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).getDouble(0) == 0.0)
    assert(got(2).isNullAt(0))
  }

  test("bruteForceTopK returns k nearest by cosine with deterministic ties") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.1f)), (2L, Seq(0.9f, 0.05f)),
      (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f)))
    val cands = vecs.toDF("cid", "cvec")
    val qs = vecs.filter(_._1 == 0L).toDF("qid", "qvec")
    val got = Similarity.bruteForceTopK(qs, "qid", "qvec", cands, "cid", "cvec", 2)
      .orderBy("rank").select("cid").as[Long].collect().toSeq
    assert(got == Seq(2L, 1L)) // cos(0,2) > cos(0,1) > others
  }

  test("srpBucket: same vector → same bucket; bucket in [0, 2^planes)") {
    val df = Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(1f, 2f, 3f)), (3L, Seq(-9f, 4f, 0.5f)))
      .toDF("id", "v")
    val b = df.select(col("id"), Similarity.srpBucket(col("v"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L))
    assert(b.values.forall(x => x >= 0 && x < 256))
  }

  test("fused vector math is BIT-IDENTICAL to the zip_with/aggregate column formulations") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val a = e.as("a"); val b = e.as("b")
    val paired = a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
    val diff = paired.select(
      (Similarity.dot(col("a.embedding"), col("b.embedding")) <=>
        Similarity.dotColumns(col("a.embedding"), col("b.embedding"))).as("d"),
      (Similarity.cosine(col("a.embedding"), col("b.embedding")) <=>
        Similarity.cosineColumns(col("a.embedding"), col("b.embedding"))).as("c"),
      (Similarity.l2sq(col("a.embedding"), col("b.embedding")) <=>
        Similarity.l2sqColumns(col("a.embedding"), col("b.embedding"))).as("l"),
      (Similarity.srpBucket(col("a.embedding"), 8) <=>
        Similarity.srpBucketColumns(col("a.embedding"), 8)).as("s"))
    assert(diff.filter(!col("d") || !col("c") || !col("l") || !col("s")).count() == 0)
    // degenerate inputs: zero vector → null cosine; empty → bucket 0
    import spark.implicits._
    val z = Seq((Seq(0f, 0f), Seq(1f, 1f)), (Seq.empty[Float], Seq.empty[Float])).toDF("x", "y")
    val got = z.select(Similarity.cosine(col("x"), col("y")).as("c"),
      Similarity.srpBucket(col("x"), 4).as("b")).collect()
    assert(got(0).isNullAt(0) && got(0).getLong(1) == 0L)
    assert(got(1).isNullAt(0) && got(1).getLong(1) == 0L)
  }

  test("embeddingNearDupPairs finds an exact duplicate vector pair") {
    val dup = Seq(0.5f, -1f, 2f, 0.25f)
    val rows = (0 until 20).map(i => (i.toLong, Seq.tabulate(4)(d => (i * 4 + d + 1).toFloat))) ++
      Seq((100L, dup), (101L, dup))
    val df = rows.toDF("id", "v")
    val pairs = Similarity.embeddingNearDupPairs(df, "id", "v", 0.999999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 101L)))
  }

  test("embeddingNearDupPairs: degenerate bucket capped — no B² blowup on an all-identical corpus") {
    val same = Seq(1f, 2f, -0.5f, 3f)
    val df = (0 until 200).map(i => (i.toLong, same)).toDF("id", "v")
    val pairs = Similarity.embeddingNearDupPairs(df, "id", "v", 0.0, maxBucket = 50)
    // C(50,2) = 1225 pairs from the kept prefix — NOT C(200,2) = 19900
    assert(pairs.count() == 1225L)
    // deterministic kept prefix: the 50 smallest ids
    val maxId = pairs.agg(max(col("id_b"))).as[Long].collect()(0)
    assert(maxId == 49L)
    // and the audit surface reports the truncation
    val stats = Similarity.srpBucketStats(df, "v", 8, 50)
      .filter(col("truncated")).as[(Long, Long, Boolean)].collect()
    assert(stats.length == 1 && stats(0)._2 == 200L)
  }

  test("embeddingNearDupPairs equals the naive same-bucket self-join when no bucket hits the cap") {
    val vecs = (0 until 60).map(i => (i.toLong, Seq.tabulate(6)(d => math.sin(i * 6 + d).toFloat)))
    val df = vecs.toDF("id", "v")
    val got = Similarity.embeddingNearDupPairs(df, "id", "v", -1.0, planes = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val b = df.withColumn("_b", Similarity.srpBucket(col("v"), 4))
    val expected = b.as("l").join(b.as("r"),
        col("l._b") === col("r._b") && col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id")).as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("ivfAssign picks the nearest centroid; ivfTopK searches only the cell") {
    // centroids at (1,0) and (0,1); vectors cluster around each
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("cent_id", "cvec")
    val vecs = Seq(
      (10L, Seq(0.9f, 0.1f)), (11L, Seq(0.8f, 0.2f)), // cell 0
      (20L, Seq(0.1f, 0.9f)), (21L, Seq(0.2f, 0.8f))  // cell 1
    ).toDF("vec_id", "embedding")
    val cells = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cells == Map(10L -> 0L, 11L -> 0L, 20L -> 1L, 21L -> 1L))

    val qs = Seq((10L, Seq(0.9f, 0.1f))).toDF("qid", "qvec")
    val topk = Similarity.ivfTopK(qs, "qid", "qvec",
      vecs.select(col("vec_id").as("cid"), col("embedding").as("cvec2")), "cid", "cvec2",
      cents.select(col("cent_id"), col("cvec")), k = 3)
    val neighbors = topk.select("cid").as[Long].collect().toSet
    assert(neighbors == Set(11L)) // only the same-cell candidate (nprobe=1)
  }

  test("int8 quantization: codes in [-127,127], round-trip error ≤ scale/2") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val checked = e.withColumn("qz", Similarity.quantizeInt8(col("embedding")))
      .withColumn("deq", transform(col("qz.q"), q => q.cast("double") * col("qz.scale")))
      .select(
        aggregate(col("qz.q"), lit(true), (ok, q) => ok && abs(q) <= 127).as("in_range"),
        aggregate(zip_with(col("embedding"), col("deq"),
          (x, d) => abs(x.cast("double") - d)), lit(0.0),
          (m, err) => greatest(m, err)).as("max_err"),
        (col("qz.scale") / 2.0 + lit(1e-12)).as("bound"))
    assert(checked.filter(!col("in_range") || col("max_err") > col("bound")).count() == 0)
    // zero vector → scale 0, all-zero codes
    import spark.implicits._
    val z = Seq(Seq(0f, 0f, 0f)).toDF("v")
      .select(Similarity.quantizeInt8(col("v")).as("qz"))
      .select(col("qz.scale"), col("qz.q")).as[(Double, Seq[Int])].collect()(0)
    assert(z == ((0.0, Seq(0, 0, 0))))
  }

  test("ivfTopK with nprobe = #centroids recovers the exact brute-force neighbors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val qs = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cands = e.select(col("vec_id").as("cid"), col("embedding").as("cvec2"))
    val exact = Similarity.bruteForceTopK(qs, "qid", "qvec", cands, "cid", "cvec2", 3)
      .select("qid", "cid", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfTopK(qs, "qid", "qvec", cands, "cid", "cvec2", cents, 3, nprobe = 4)
      .select("qid", "cid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == exact)
    // nprobe=1 is a subset of the probed-everything result
    val n1 = Similarity.ivfTopK(qs, "qid", "qvec", cands, "cid", "cvec2", cents, 3, nprobe = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(n1.nonEmpty && n1.size <= exact.size)
  }

  test("ivfAssign is a NARROW projection: zero Exchange, no join, no window (plan-asserted)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val out = Similarity.ivfAssign(
      e.select(col("vec_id"), col("embedding")), "vec_id", "embedding", cents)
    out.collect() // finalize the AQE plan before inspecting it
    val plan = out.queryExecution.executedPlan
    assert(nodes(out)(exchange).isEmpty, plan)
    assert(nodes(out) { case _: BaseJoinExec => true }.isEmpty, plan)
    assert(nodes(out) { case _: WindowExecBase | _: WindowGroupLimitExec => true }.isEmpty, plan)
    // nprobe variant: still exchange-free (explode is narrow)
    val outN = Similarity.ivfAssignN(
      e.select(col("vec_id"), col("embedding")), "vec_id", "embedding", cents, 3)
    outN.collect()
    assert(nodes(outN)(exchange).isEmpty, outN.queryExecution.executedPlan)
  }

  test("fused ivfAssignN matches the broadcast-join + window formulation row-for-row") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val fused = Similarity.ivfAssignN(e, "vec_id", "embedding", cents, 3)
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toSet
    // the former formulation, inlined as the independent oracle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("_dist"), col("cent_id"))
    val window = e.join(broadcast(cents))
      .withColumn("_dist", Similarity.l2sq(col("embedding"), col("cvec")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 3)
      .select(col("vec_id"), col("cent_id").as("cell"))
      .as[(Long, Long)].collect().toSet
    assert(fused == window)
    // nearest-first: the first exploded cell equals the nprobe=1 assignment
    val first = Similarity.ivfCells(col("embedding"), cents, 3)
    val agree = e.select(element_at(first, 1).as("c1"),
        element_at(Similarity.ivfCells(col("embedding"), cents, 1), 1).as("c0"))
      .filter(!(col("c1") <=> col("c0")))
    assert(agree.count() == 0)
  }

  test("fused quantizeInt8 is bit-identical to the column formulation") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cmp = e.select(Similarity.quantizeInt8(col("embedding")).as("f"),
        Similarity.quantizeInt8Columns(col("embedding")).as("c"))
      .filter(!(col("f.scale") <=> col("c.scale")) || !(col("f.q") <=> col("c.q")))
    assert(cmp.count() == 0)
    // reading BOTH struct fields through the alias keeps ONE eval/row:
    // CollapseProject must not inline a non-cheap custom expression twice
    val plan = e.withColumn("qz", Similarity.quantizeInt8(col("embedding")))
      .select(col("qz.scale"), col("qz.q"))
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert("quantizeint8".r.findAllIn(plan).size == 1, plan)
  }

  test("top-k paths EXCLUDE null-scored candidates (zero-norm vectors) — pinned contract") {
    val cands = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 0f))).toDF("cid", "cvec")
    val qs = Seq((0L, Seq(1f, 0f))).toDF("qid", "qvec")
    val got = Similarity.bruteForceTopK(qs, "qid", "qvec", cands, "cid", "cvec", 5)
      .select("cid").as[Long].collect().toSeq
    // the zero-norm candidate has null cosine → excluded; the result set
    // shrinks below k (a window formulation would rank it last instead)
    assert(got == Seq(1L))
  }

  test("randomProject: sign bits of the raw projections == srpBucket; narrow plan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val both = e.select(col("vec_id"),
      Similarity.randomProject(col("embedding"), 8).as("rp"),
      Similarity.srpBucket(col("embedding"), 8).as("bucket"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rp = r.getSeq[Double](1)
      val bucket = r.getLong(2)
      val fromSigns = rp.zipWithIndex.collect { case (v, p) if v > 0 => 1L << p }.sum
      assert(fromSigns == bucket, s"vec ${r.getLong(0)}")
    }
    // projection is a narrow per-row pass: no Exchange in the plan
    assert(nodes(both)(exchange).isEmpty, both.queryExecution.executedPlan)
  }
}
