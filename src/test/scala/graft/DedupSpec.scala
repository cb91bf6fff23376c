package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("exactRows keeps one representative per identical content") {
    // the dedup_exact query: one (min-id keeper, copies) row per content
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-exact").toString
    Seq((1L, "aaa"), (2L, "aaa"), (3L, "bbb")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dedup_exact")(spark, dir)
    assert(out.as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 1L)))
  }

  test("minhash signature: identical token arrays → identical signatures") {
    val df = Seq(
      (1L, Seq(10, 20, 30, 40)), (2L, Seq(10, 20, 30, 40)), (3L, Seq(9, 9, 9, 9))
    ).toDF("id", "tokens")
    val sig = df.select(col("id"), Dedup.minhashSigArray(col("tokens"), 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("minhash signature of short rows (<3 tokens) is the sentinel P") {
    val df = Seq((1L, Seq(5))).toDF("id", "tokens")
    val sig = df.select(Dedup.minhashSigArray(col("tokens"), 2)).collect()(0).getSeq[Long](0)
    assert(sig == Seq(Dedup.P, Dedup.P))
  }

  test("lshCandidatePairs recovers manufactured duplicate pairs") {
    // rows 2k and 2k+1 share tokens → every (2k, 2k+1) must be a candidate
    val df = spark.range(0, 40).select(col("id"),
      graft.sources.TokenTable.tokensFor(col("id") - col("id") % 2).as("tokens"))
    val pairs = Dedup.lshCandidatePairs(df, "id", "tokens", 8, 2)
      .as[(Long, Long)].collect().toSet
    val expectedDups = (0L until 40L by 2).map(k => (k, k + 1))
      .filter { case (k, _) => 1 + k % 64 >= 3 } // short rows are excluded
    expectedDups.foreach(p => assert(pairs.contains(p), s"missing dup pair $p"))
  }

  test("simhash: identical tokens → equal; hamming distance small for near-identical") {
    val base = (1 to 50).toSeq
    val df = Seq((1L, base), (2L, base), (3L, base.updated(0, 9999)))
      .toDF("id", "tokens")
    val h = df.select(col("id"), Dedup.simhash(col("tokens"), 16).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    val hamming = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(hamming <= 6, s"hamming=$hamming") // 1/50 tokens changed
  }

  test("ngram overlap: identical text → inter == union; disjoint → inter 0") {
    val df = Seq(("a b c d", "a b c d"), ("a b c d", "x y z w")).toDF("ta", "tb")
    val (inter, uni) = Dedup.ngramOverlap(col("ta"), col("tb"), 3)
    val rows = df.select(inter.as("i"), uni.as("u")).as[(Int, Int)].collect()
    assert(rows(0) == ((2, 2)))
    assert(rows(1) == ((0, 4)))
  }

  test("fused NgramOverlap equals the composable formulation on real documents") {
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val a = d.as("a"); val b = d.as("b")
    val paired = a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
    val (inter, uni) = Dedup.ngramOverlap(col("a.text"), col("b.text"), 3)
    val mism = paired
      .withColumn("ov", Dedup.ngramOverlapStruct(col("a.text"), col("b.text"), 3))
      .filter(col("ov.inter") =!= inter || col("ov.uni") =!= uni)
      .count()
    assert(mism == 0)
    // short-text edge: fewer than n words → empty gram set on that side
    val e = Seq(("a b", "a b c")).toDF("ta", "tb")
      .select(Dedup.ngramOverlapStruct(col("ta"), col("tb"), 3).as("ov"))
      .select("ov.inter", "ov.uni").as[(Int, Int)].collect()(0)
    assert(e == ((0, 1)))
  }

  test("connectedComponents equals driver-side union-find on a deterministic graph") {
    // edges: chains (i, i+1) broken at i%7==6, plus long-range links
    // (i, i+13) when i%11==0 — merges chains into larger components
    val edges = (0L until 200L).flatMap { i =>
      val chain = if (i % 7 != 6 && i + 1 < 200) Seq((i, i + 1)) else Nil
      val far = if (i % 11 == 0 && i + 13 < 200) Seq((i, i + 13)) else Nil
      chain ++ far
    }
    // driver union-find reference
    val parent = scala.collection.mutable.Map((0L until 200L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val want = inEdges.map(i => i -> find(i)).toMap

    val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("star round body: window passes, no joins, bounded exchanges (r7 plan pin)") {
    // the round-7 rewrite attaches each star's group minimum via a window
    // over u instead of groupBy+join-back; a regression to the join shape
    // shows up as Join nodes and extra exchanges in the round plan
    val edges = Seq((5L, 1L), (4L, 2L), (9L, 4L), (7L, 5L)).toDF("u", "v")
    val round = Dedup.starRound(edges)
    val nodes = PlanNodes.of(round)
    def plan = round.queryExecution.executedPlan
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), s"star round must be join-free:\n$plan")
    val windows = nodes.count(_.isInstanceOf[WindowExec])
    assert(windows >= 2, s"expected the two star window passes:\n$plan")
    // dir-by-u, folded dedup+window, trailing distinct — plus the
    // canon-into repartition; anything above 5 is a new shuffle
    val ex = nodes.count {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }
    assert(ex <= 5, s"star round grew to $ex exchanges:\n$plan")
  }

  test("connectedComponentsStar ≡ connectedComponents ≡ union-find; converges on a 300-node PATH") {
    // same mixed graph as above: star variant must agree with both
    val edges = (0L until 200L).flatMap { i =>
      val chain = if (i % 7 != 6 && i + 1 < 200) Seq((i, i + 1)) else Nil
      val far = if (i % 11 == 0 && i + 13 < 200) Seq((i, i + 13)) else Nil
      chain ++ far
    }
    val viaProp = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.connectedComponentsStar(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp)
    // the high-diameter case the variant exists for: a 300-link path needs
    // ~300 min-label rounds but only O(log) star rounds — maxIter 12 must
    // fully collapse it to comp 0
    val path = (0L until 300L).map(i => (i, i + 1))
    val star = Dedup.connectedComponentsStar(path.toDF("a", "b"), "a", "b", maxIter = 12)
      .as[(Long, Long)].collect()
    assert(star.length == 301 && star.forall(_._2 == 0L))
    // empty input → empty labels (no crash on the fixpoint probe)
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponentsStar(noPairs, "a", "b").count() == 0)
    assert(Dedup.connectedComponents(noPairs, "a", "b").count() == 0)
    // a node whose ONLY pair is a self-loop stays a singleton component
    // (canon's u≠v filter must not lose it — parity with the propagation
    // variant, which keeps (9,9) through its symmetric-union distinct)
    val selfy = Seq((1L, 2L), (9L, 9L)).toDF("a", "b")
    val lbl = Dedup.connectedComponentsStar(selfy, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
    assert(lbl == Dedup.connectedComponents(selfy, "a", "b").as[(Long, Long)].collect().toMap)
  }

  test("CC rounds free their checkpoints without the truncated-lineage WARN") {
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // `RDD.unpersist` warns once per locally checkpointed RDD it frees —
    // once per round, through the RDD class's logger the root config serves
    val root = org.apache.logging.log4j.core.LoggerContext.getContext(false)
      .getConfiguration.getRootLogger
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("cc-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("locally checkpointed")) warns.add(m)
      }
    }
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    val held = spark.sparkContext.getPersistentRDDs.size
    appender.start()
    root.addAppender(appender, null, null)
    try {
      val labels = Dedup.connectedComponents(path, "a", "b").as[(Long, Long)].collect()
      assert(labels.length == 7 && labels.forall(_._2 == 0L))
      // the blocks are still freed: only the returned labels' checkpoint stays
      assert(spark.sparkContext.getPersistentRDDs.size - held <= 1)
      assert(Dedup.connectedComponentsStar(path, "a", "b").count() == 7)
    } finally {
      root.removeAppender(appender.getName)
      appender.stop()
    }
    assert(warns.isEmpty, warns)
  }

  test("decontamination: twins of benchmark docs flagged; corpus side joins via broadcast") {
    val base = spark.range(0, 200).select(col("id").as("seq"),
      graft.sources.TokenTable.tokensFor(col("id") - col("id") % 2).as("tokens"))
    val bench = base.filter(col("seq") % 50 === 0) // 0, 50, 100, 150 (all even)
    val out = Dedup.contaminatedIds(base, "seq", "tokens", bench, "tokens")
    val got = out.as[Long].collect().toSet
    // benchmark docs and their odd twins share all shingles; doc 0/1 have
    // n_tok = 1 → no shingles → NOT contaminated
    assert(Set(50L, 51L, 100L, 101L, 150L, 151L).subsetOf(got))
    assert(!got.contains(0L) && !got.contains(1L))
    assert(PlanNodes.of(out).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      out.queryExecution.executedPlan)
  }

  test("lsh plan shuffles only (band, key, id) pairs — no full-row exchange") {
    val df = spark.range(0, 100).select(col("id"),
      graft.sources.TokenTable.tokensFor(col("id")).as("tokens"))
    val pairs = Dedup.lshCandidatePairs(df, "id", "tokens", 8, 2)
    // the exchange operates on the exploded (id, band, key) projection,
    // tokens are projected away before the shuffle
    assert(!PlanNodes.of(pairs).exists {
      case e: Exchange => e.output.exists(_.name == "tokens")
      case _ => false
    }, pairs.queryExecution.executedPlan)
  }

  test("star CC: non-convergence within maxIter fails loudly, not silently") {
    // a 300-link path needs ~9 star rounds; 2 cannot reach the fixpoint,
    // and emitting non-star labels silently would be wrong answers
    val path = (0L until 300L).map(i => (i, i + 1))
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsStar(path.toDF("a", "b"), "a", "b", maxIter = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    // min-label propagation needs ~300 rounds on it: 2 rounds leave most
    // labels wrong, which must fail the same way
    val exProp = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(path.toDF("a", "b"), "a", "b", maxIter = 2)
    }
    assert(exProp.getMessage.contains("did not converge"))
  }

  test("crossDocRepeatedSpans flags shared boilerplate positions, skips short rows") {
    val docs = Seq(
      (1L, "a b c d e unique one two three"),
      (2L, "x a b c d e other words here!"),
      (3L, "totally different text body words milk toast jam"),
      (4L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocRepeatedSpans(docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // 'a b c d e' starts at word 1 of doc 1 and word 2 of doc 2
    assert(got == Set((1L, 1, "a b c d e"), (2L, 2, "a b c d e")))
  }

  test("crossDocRepeatedSpansHashed ≡ string-key form; maxOcc cap drops hot grams") {
    // mix of shared boilerplate, a hot gram (repeated in many docs), and
    // unique text — uncapped hashed output must be row-identical to the
    // string-key oracle face
    val hot = "hot gram one two three"
    val docs = (Seq(
      (1L, s"a b c d e unique one two three"),
      (2L, s"x a b c d e other words here!")) ++
      (10L until 20L).map(i => (i, s"doc$i pad$i $hot")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val stringKey = rows(Dedup.crossDocRepeatedSpans(docs, "doc_id", "text", 5))
    val hashed = rows(Dedup.crossDocRepeatedSpansHashed(docs, "doc_id", "text", 5))
    assert(hashed == stringKey)
    // hot gram occurs 10× (docs 10..19); cap 9 drops it, keeps 'a b c d e'
    val capped = rows(Dedup.crossDocRepeatedSpansHashed(docs, "doc_id", "text", 5,
      maxOcc = 9L))
    assert(capped == Set((1L, 1, "a b c d e"), (2L, 2, "a b c d e")))
  }

  test("stripRepeatedSpans keeps the canonical occurrence, rewrites the rest") {
    val docs = Seq(
      (1L, "a b c d e unique one two three"),
      (2L, "x a b c d e other words here!"),
      (3L, "independent text stays fully intact")
    ).toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // doc 1 holds the canonical 'a b c d e' (min doc, min pos) — unchanged;
    // doc 2 loses exactly those five words; doc 3 untouched
    assert(got(1L) == "a b c d e unique one two three")
    assert(got(2L) == "x other words here!")
    assert(got(3L) == "independent text stays fully intact")
    // hashed-key removal ≡ string-key removal (uncapped)
    val hashed = Dedup.stripRepeatedSpansHashed(docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hashed == got)
    // capped: the shared gram occurs twice; cap 1 leaves it IN PLACE
    val capped = Dedup.stripRepeatedSpansHashed(docs, "doc_id", "text", 5,
      maxOcc = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(capped(2L) == "x a b c d e other words here!")
  }

  test("strip reassembly edges: fully-covered doc drops, overlap unions, spacing survives") {
    // doc 2 is EXACTLY the repeated 3-gram → every word covered → row gone;
    // doc 3's two occurrences overlap in doc 1's text ordering edge; doc 4
    // carries a double space (split yields an empty word) and no repeats —
    // reconstruction must return the text byte-identical
    val docs = Seq(
      (1L, "p q r tail words beyond"),
      (2L, "p q r"),
      (3L, "head p q r p q r close"),
      (4L, "solo  double space text here")
    ).toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "p q r tail words beyond") // canonical keeper (min doc, min pos)
    assert(!got.contains(2L))                    // all words covered → dropped
    assert(got(3L) == "head close")              // both occurrences stripped
    assert(got(4L) == "solo  double space text here") // byte-identical rebuild
    val hashed = Dedup.stripRepeatedSpansHashed(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(hashed == got)
  }
}
