package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.enrich.Enrich

/** Kubernetes-style enrichment: broadcast join + annotation-driven exclude
  * (reference `plugins/filter_kubernetes/kubernetes.c:338-434`).
  */
class EnrichSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val hex = "a" * 64
  private def tag(pod: String, ns: String) =
    s"var.log.containers.${pod}_${ns}_nginx-$hex.log"

  test("enrich merges dim metadata under `kubernetes`; missing key → null labels") {
    val facts = Seq(
      (tag("web-1", "default"), 1),
      (tag("web-2", "default"), 2), // not in dim
      ("app.frontend", 3) // non-kube tag
    ).toDF("tag", "v")
    val dim = Seq(
      ("web-1_default", Map("team" -> "core"), Map.empty[String, String])
    ).toDF("pod_key", "labels", "annotations")

    val out = Enrich.kubernetes(facts, "tag", dim)
    val rows = out.select("v", "kubernetes").collect().map(r => r.getInt(0) -> r).toMap
    assert(rows(1).getStruct(1).getAs[String]("pod_name") == "web-1")
    assert(rows(1).getStruct(1).getAs[Map[String, String]]("labels")("team") == "core")
    assert(rows(2).getStruct(1).getAs[Map[String, String]]("labels") == null) // left-join miss
    assert(rows(3).isNullAt(1)) // non-kube row untouched
  }

  test("annotation fluentbit.io/exclude drops the row (kube_property.c)") {
    val facts = Seq((tag("web-1", "default"), 1), (tag("web-2", "default"), 2))
      .toDF("tag", "v")
    val dim = Seq(
      ("web-1_default", Map.empty[String, String], Map("fluentbit.io/exclude" -> "true")),
      ("web-2_default", Map.empty[String, String], Map.empty[String, String])
    ).toDF("pod_key", "labels", "annotations")
    val out = Enrich.kubernetes(facts, "tag", dim)
    assert(out.select("v").as[Int].collect().toSet == Set(2))
  }

  test("enrich plan uses a broadcast hash join (no shuffle of the fact side)") {
    val facts = Seq((tag("web-1", "default"), 1)).toDF("tag", "v")
    val dim = Seq(("web-1_default", Map.empty[String, String], Map.empty[String, String]))
      .toDF("pod_key", "labels", "annotations")
    val nodes = PlanNodes.of(Enrich.kubernetes(facts, "tag", dim))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), nodes.map(_.nodeName))
  }
}
