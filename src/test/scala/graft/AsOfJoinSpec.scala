package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** ASOF semantics: latest dim ≤ event ts per key, inclusive bound, null
  * (left-join) before the first dim — the DuckDB ASOF JOIN contract.
  */
class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("latest-at-or-before per key; inclusive tie; null before first dim") {
    val events = Seq(
      (1L, ts(100), "e1"), // before any dim → null
      (1L, ts(200), "e2"), // exactly at dim(200) → inclusive
      (1L, ts(250), "e3"), // between 200 and 300 → 200's value
      (1L, ts(999), "e4"), // after the last dim → 300's value
      (2L, ts(500), "e5")  // other key → its own dim
    ).toDF("k", "ts", "event_id")
    val dims = Seq(
      (1L, ts(200), "v200"), (1L, ts(300), "v300"), (2L, ts(400), "w400")
    ).toDF("k", "ts_d", "v")
    val got = AsOfJoin.lastBefore(events, "k", "ts", dims, "k", "ts_d", "v")
      .select("event_id", "v").as[(String, Option[String])].collect().toMap
    assert(got == Map(
      "e1" -> None, "e2" -> Some("v200"), "e3" -> Some("v200"),
      "e4" -> Some("v300"), "e5" -> Some("w400")))
  }

  test("a NULL-valued dim row is still the latest dim (no skip-back); valCol collision rejected") {
    val events = Seq((1L, ts(300), "e1")).toDF("k", "ts", "event_id")
    val dims = Seq((1L, ts(100), Some("v100")), (1L, ts(200), None))
      .toDF("k", "ts_d", "v")
    val got = AsOfJoin.lastBefore(events, "k", "ts", dims, "k", "ts_d", "v")
      .select("v").collect()(0)
    assert(got.isNullAt(0)) // ASOF returns the ts(200) row's null, not v100
    intercept[IllegalArgumentException](
      AsOfJoin.lastBefore(events.withColumn("v", lit("mine")), "k", "ts",
        dims, "k", "ts_d", "v"))
  }

  test("lastBeforeScalable ≡ lastBefore on a hot key spanning many buckets (incl. edge cases)") {
    // one hot key with 2000 events over 20 buckets, dims every 70 ticks;
    // a key with NO dims; events before the first dim; dim-less buckets;
    // a dim exactly on a bucket boundary and an event at the same tick
    val events = spark.range(0, 2000).select(
        when(col("id") % 100 === 99, 2L).otherwise(1L).as("k"),
        timestamp_micros(col("id") * 1000000L).as("ts"),
        col("id").as("event_id"))
    val dims = spark.range(0, 25).select(
        lit(1L).as("k"),
        timestamp_micros((col("id") * 70 + 100) * 1000000L).as("ts_d"),
        col("id").as("v"))
      .unionByName(Seq((1L, ts(1000), 777L)).toDF("k", "ts_d", "v")) // on a boundary
    val bucket = (t: org.apache.spark.sql.Column) =>
      (unix_micros(t.cast("timestamp")) / lit(100000000L)).cast("long") // 100 s buckets
    val base = AsOfJoin.lastBefore(events, "k", "ts", dims, "k", "ts_d", "v")
      .select("event_id", "v").as[(Long, Option[Long])].collect().toMap
    val scalable = AsOfJoin.lastBeforeScalable(events, "k", "ts", dims, "k", "ts_d", "v" :: Nil, bucket)
      .select("event_id", "v").as[(Long, Option[Long])].collect().toMap
    assert(scalable.size == 2000 && scalable == base)
    // windows partition by (key, bucket) — the hot key's sort is split
    val q = AsOfJoin.lastBeforeScalable(events, "k", "ts", dims, "k", "ts_d", "v" :: Nil, bucket)
    PlanNodes.sections(q).foreach { nodes =>
      val specs = nodes.collect { case w: WindowExec => w.partitionSpec.flatMap(_.references.map(_.name)) }
      assert(specs.exists(spec => spec.contains("k") && spec.contains("_b")),
        s"no window partitions by (k, _b): $specs\n${q.queryExecution.executedPlan}")
    }
  }

  test("lastBeforeBroadcast ≡ lastBefore; events stay UNSHUFFLED (no hash Exchange)") {
    val events = spark.range(0, 2000).select(
        (col("id") % 7).as("k"), timestamp_micros(col("id") * 1000000L).as("ts"),
        col("id").as("event_id"))
    val dims = spark.range(0, 50).select(
        (col("id") % 7).as("k"), timestamp_micros(col("id") * 17000000L).as("ts_d"),
        col("id").as("v"))
    val base = AsOfJoin.lastBefore(events, "k", "ts", dims, "k", "ts_d", "v")
      .select("event_id", "v").as[(Long, Option[Long])].collect().toMap
    val bcast = AsOfJoin.lastBeforeBroadcast(events, "k", "ts", dims, "k", "ts_d", Seq("v"))
      .select("event_id", "v").as[(Long, Option[Long])].collect().toMap
    assert(bcast.size == 2000 && bcast == base)
    // pre-first-dim events + exact-tie inclusivity carry over
    val e2 = Seq((1L, ts(100), "e1"), (1L, ts(200), "e2")).toDF("k", "ts", "event_id")
    val d2 = Seq((1L, ts(200), "v200")).toDF("k", "ts_d", "v")
    val got = AsOfJoin.lastBeforeBroadcast(e2, "k", "ts", d2, "k", "ts_d", Seq("v"))
      .select("event_id", "v").as[(String, Option[String])].collect().toMap
    assert(got == Map("e1" -> None, "e2" -> Some("v200")))
    // zero-shuffle EVENTS: between the asoflookup projection and the event
    // scan there is no Exchange (the tiny dim side may shuffle for its
    // dropDuplicates; the payload attach is a broadcast join)
    val out = AsOfJoin.lastBeforeBroadcast(events, "k", "ts", dims, "k", "ts_d", Seq("v"))
    out.collect()
    val plan = out.queryExecution.executedPlan
    // the final plan's nodes in the order the plan prints them
    val nodes = PlanNodes.of(out)
    val lookup = nodes.indexWhere(_.expressions.exists(_.exists(_.isInstanceOf[AsOfJoin.AsOfLookup])))
    val scan = nodes.indexWhere({
      case r: RangeExec => r.start == 0 && r.end == 2000
      case _ => false
    }, lookup)
    assert(lookup >= 0 && scan > lookup, plan)
    assert(!nodes.slice(lookup, scan).exists {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    }, plan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan)
  }

  test("lastBeforeBroadcast on INTEGRAL µs-count ts columns ≡ lastBefore (no seconds-cast overflow)") {
    // epoch-µs longs: cast(long as timestamp) would read these as SECONDS
    // and overflow — integral ts must be compared raw
    val base = 1723000000000000L
    val events = Seq((1L, base + 100L, 10L), (1L, base + 250L, 11L), (2L, base + 50L, 20L))
      .toDF("k", "tus", "event_id")
    val dims = Seq((1L, base + 100L, 7L), (1L, base + 200L, 8L), (2L, base + 999L, 9L))
      .toDF("k", "tus_d", "v")
    val viaSort = AsOfJoin.lastBefore(events, "k", "tus", dims, "k", "tus_d", "v")
      .select("event_id", "v").as[(Long, Option[Long])].collect().toMap
    val viaBcast = AsOfJoin.lastBeforeBroadcast(events, "k", "tus", dims, "k", "tus_d", Seq("v"))
      .select("event_id", "v").as[(Long, Option[Long])].collect().toMap
    assert(viaBcast == Map(10L -> Some(7L), 11L -> Some(8L), 20L -> None))
    assert(viaBcast == viaSort)
  }

  test("one exchange per input side (sort-based, no per-event probe)") {
    val events = spark.range(0, 1000).select(
      (col("id") % 7).as("k"), timestamp_micros(col("id") * 1000000L).as("ts"),
      col("id").as("event_id"))
    val dims = spark.range(0, 50).select(
      (col("id") % 7).as("k"), timestamp_micros(col("id") * 17000000L).as("ts_d"),
      col("id").as("v"))
    val out = AsOfJoin.lastBefore(events, "k", "ts", dims, "k", "ts_d", "v")
    val plan = out.queryExecution.executedPlan
    PlanNodes.sections(out).foreach { nodes =>
      assert(PlanNodes.hashShuffleKeys(nodes).size <= 2, plan)
      assert(!nodes.exists {
        case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }, plan)
    }
    assert(out.count() == 1000)
  }

  test("lastBeforeBroadcast: null dim keys/timestamps dropped, not NPE") {
    val e = Seq((1L, ts(300), "e1")).toDF("k", "ts", "event_id")
    val d = Seq(
      (Option(1L), Option(ts(200)), "ok"),
      (Option.empty[Long], Option(ts(100)), "nullk"),
      (Option(1L), Option.empty[java.sql.Timestamp], "nullts")
    ).toDF("k", "ts_d", "v")
    val got = AsOfJoin.lastBeforeBroadcast(e, "k", "ts", d, "k", "ts_d", Seq("v"))
      .select("event_id", "v").as[(String, Option[String])].collect().toMap
    assert(got == Map("e1" -> Some("ok")))
  }
}
