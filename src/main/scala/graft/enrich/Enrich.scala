package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.parsers.Parsers

/** Kubernetes-style metadata enrichment (reference
  * `plugins/filter_kubernetes/`): extract `(pod_name, namespace,
  * container_name, docker_id)` from the TAG via the kube regex
  * (`kube_regex.h:26`, applied `kube_meta.c:539-546`), look the pod up in a
  * metadata cache and merge the result under a `kubernetes` sub-map
  * (`kubernetes.c:338-384`).
  *
  * Spark-first restatement: the reference's LRU hash cache over the K8s API
  * (`kube_meta.c:760-781`) IS a broadcast hash join — the dimension table
  * (pod metadata) is small, so `broadcast(dim)` replicates it to every
  * executor exactly like the per-process cache, with zero shuffle of the
  * fact stream.
  */
object Enrich {

  /** Tag-metadata struct (null for non-kube tags). */
  def kubeMeta(tag: Column): Column = Parsers.kubeTag.parsed(tag)

  /** Enrich `df` with pod metadata.
    *
    * @param dim dimension table keyed `pod_key = "<pod_name>_<namespace>"`,
    *            carrying `labels`/`annotations` maps (FIXTURES §6).
    *            An annotation `fluentbit.io/exclude = "true"` drops the row
    *            post-join (reference `kube_property.c`, applied
    *            `kubernetes.c:425-434`).
    */
  def kubernetes(df: DataFrame, tagCol: String, dim: DataFrame,
                 applyExclude: Boolean = true): DataFrame = {
    // metadata payload = every dim column except the join key
    val metaCols = dim.columns.filterNot(_ == "pod_key").toSeq
    val meta = kubeMeta(col(tagCol))
    val withKey = df
      .withColumn("_kmeta", meta)
      .withColumn("pod_key",
        when(col("_kmeta").isNotNull,
          concat(col("_kmeta.pod_name"), lit("_"), col("_kmeta.namespace_name"))))
    val joined = withKey
      .join(broadcast(dim), Seq("pod_key"), "left")
      .withColumn("kubernetes",
        when(col("_kmeta").isNotNull, struct(
          Seq(
            col("_kmeta.pod_name").as("pod_name"),
            col("_kmeta.namespace_name").as("namespace_name"),
            col("_kmeta.container_name").as("container_name"),
            col("_kmeta.docker_id").as("docker_id")) ++ metaCols.map(col): _*)))
      .drop("_kmeta" +: metaCols: _*)
    if (applyExclude && metaCols.contains("annotations"))
      joined.filter(
        coalesce(element_at(col("kubernetes.annotations"), "fluentbit.io/exclude"), lit("false")) =!= "true")
    else joined
  }
}
