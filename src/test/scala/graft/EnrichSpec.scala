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

  test("Merge_Log: unescape + JSON-parse the log field, flatten or nest (kubernetes.c:67-147)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("level", StringType), StructField("msg", StringType)))
    val df = Seq(
      (1, """{\"level\":\"warn\",\"msg\":\"disk\"}"""), // escaped JSON (docker-style)
      (2, "plain text line")
    ).toDF("id", "log")
    val flat = Enrich.mergeLog(df, "log", schema)
    val rows = flat.select("id", "level", "msg").collect().map(r => r.getInt(0) -> r).toMap
    assert(rows(1).getString(1) == "warn" && rows(1).getString(2) == "disk")
    assert(rows(2).isNullAt(1)) // non-JSON log: record passes, fields null
    val nested = Enrich.mergeLog(df, "log", schema, mergeJsonKey = Some("log_processed"))
    assert(nested.filter($"id" === 1).select("log_processed.level").as[String].collect()(0) == "warn")
  }

  test("fluentbit.io/parser annotation selects a per-pod parser (kube_property.c)") {
    val clf = """h - u [17/Jul/2017:20:17:03 +0000] "GET /x HTTP/1.1" 200 7"""
    val df = Seq(
      (1, clf, Map("fluentbit.io/parser" -> "apache")),
      (2, clf, Map.empty[String, String]),
      (3, clf, Map("fluentbit.io/parser" -> "nope"))
    ).toDF("id", "raw", "annotations")
      .withColumn("kubernetes", struct(col("annotations")))
    val out = Enrich.annotationParser(df, "raw", Map("apache" -> graft.parsers.Parsers.apache))
    val got = out.select("id", "parsed_by_annotation").collect()
      .map(r => r.getInt(0) -> Option(r.getMap[String, String](1)).map(_.toMap)).toMap
    assert(got(1).get("code") == "200")
    assert(got(2).isEmpty)
    assert(got(3).isEmpty)
  }

  test("annotation parser keys are the parse's output keys: aliased groups, json without its time key") {
    import graft.parsers.Parsers
    val kube = "var.log.containers.web-3_default_nginx-" + hex + ".log"
    val json = """{"log":"hi","stream":"stdout","time":"17/Jul/2017:20:17:03 +0000"}"""
    val df = Seq(
      (1, kube, Map("fluentbit.io/parser" -> "kube")),
      (2, json, Map("fluentbit.io/parser" -> "json"))
    ).toDF("id", "raw", "annotations")
      .withColumn("kubernetes", struct(col("annotations")))
    val out = Enrich.annotationParser(df, "raw",
      Map("kube" -> Parsers.kubeTag, "json" -> Parsers.jsonGeneric))
    val got = out.select("id", "parsed_by_annotation").collect()
      .map(r => r.getInt(0) -> r.getMap[String, String](1).toMap).toMap
    assert(got(1) == Map("pod_name" -> "web-3", "namespace_name" -> "default",
      "container_name" -> "nginx", "docker_id" -> hex))
    // Time_Keep off: the time key is not a record key
    assert(got(2) == Map("log" -> "hi", "stream" -> "stdout"))
  }

  test("enrich plan uses a broadcast hash join (no shuffle of the fact side)") {
    val facts = Seq((tag("web-1", "default"), 1)).toDF("tag", "v")
    val dim = Seq(("web-1_default", Map.empty[String, String], Map.empty[String, String]))
      .toDF("pod_key", "labels", "annotations")
    val nodes = PlanNodes.of(Enrich.kubernetes(facts, "tag", dim))
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), nodes.map(_.nodeName))
  }
}
