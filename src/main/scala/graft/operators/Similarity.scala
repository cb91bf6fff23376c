package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: brute-force top-k is the exact baseline — a broadcast of
  * the (small) query set against a full scan of candidates, embarrassingly
  * parallel, one shuffle for the per-query top-k. The LSH (sign-random-
  * projection) variant buckets candidates once (narrow projection), then
  * probes only matching buckets — the 100 TB path where a full scan per
  * query batch is too slow.
  *
  * Dot products fold left-to-right over the array (`aggregate`), so results
  * are bit-reproducible across engines that fold in the same order.
  */
object Similarity {

  /** Production cap on SRP bucket size for [[embeddingNearDupPairs]]. */
  val DefaultMaxBucket = 1000

  /** Σ aᵢ·bᵢ as a sequential left fold (deterministic fp order). Fused
    * one-pass expression — the composable [[dotColumns]] is a
    * CodegenFallback higher-order function, interpreted per element;
    * values are bit-identical (same fold order).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecMathFunctions.dot(a, b)

  /** Cosine similarity (null when either norm is 0) — dot and both norms
    * accumulated in ONE fused pass.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecMathFunctions.cosine(a, b)

  /** Reference column formulation of [[dot]] (spec cross-check). */
  private[graft] def dotColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Reference column formulation of [[cosine]] (spec cross-check). */
  private[graft] def cosineColumns(a: Column, b: Column): Column = {
    val d = dotColumns(a, b)
    val na = sqrt(dotColumns(a, a))
    val nb = sqrt(dotColumns(b, b))
    when(na > 0 && nb > 0, d / (na * nb))
  }

  /** Exact brute-force top-k neighbors for each query vector.
    *
    * Contract (inherited from [[TopK.perGroupWithOrd]], same for
    * [[ivfTopK]]): candidate ids must be INTEGRAL — they are cast to long
    * and returned as LongType (a non-numeric id casts to null and is
    * rejected up front). Candidates whose cosine is null (zero-norm
    * vectors, length mismatches) are EXCLUDED — a window formulation would
    * rank them last; a k-bounded buffer has no slot for "unordered". On
    * non-null scores the result is row-identical to the window form
    * (shared oracle q_window_topk/ann_topk).
    *
    * @param queries  small DataFrame (qid, qvec) — broadcast side
    * @param cands    large DataFrame (cid, cvec) — scanned once
    */
  def bruteForceTopK(queries: DataFrame, qid: String, qvec: String,
                     cands: DataFrame, cid: String, cvec: String,
                     k: Int, excludeSelf: Boolean = true): DataFrame = {
    val joined = cands.join(broadcast(queries),
      if (excludeSelf) col(qid) =!= col(cid) else lit(true))
    val scored = joined.withColumn("cos", cosine(col(qvec), col(cvec)))
    // k-bounded per-query aggregation (map-side combine) — not a window:
    // a window sorts EVERY (query × candidate) score; the aggregator
    // carries k entries per query per partition (null scores excluded)
    TopK.perGroupWithOrd(scored.select(col(qid), col("cos"), col(cid)),
        qid, "cos", cid, k)
      .select(col(qid), col(cid), col("cos"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane p, dim d):
    * integer-arithmetic in [-1000, 1000] / 1000 — engine-portable, no RNG.
    */
  def planeWeight(p: Int, d: Column): Column =
    ((((lit(p.toLong) * 8191L + d) * 2654435761L) % 2001L) - 1000L).cast("double") / 1000.0

  /** Sign-random-projection LSH bucket id over `planes` hyperplanes:
    * bit p = [Σ_d v_d · w(p,d) > 0]. Fused: ONE pass over the vector
    * accumulates every plane's projection (per-plane fold order unchanged
    * → bit-identical to [[srpBucketColumns]] and the DuckDB oracle).
    */
  def srpBucket(vec: Column, planes: Int): Column =
    graft.functions.VecMathFunctions.srpBucket(vec, planes)

  /** Random-projection d→k REDUCTION (the same hyperplanes as
    * [[srpBucket]], raw projections instead of sign bits): the cheap
    * pre-ANN shrink at scale — project once in a narrow fused pass, then
    * index/search in k dims. Sequential per-plane folds → bit-exact in
    * any engine (oracle sim_rp_reduce).
    */
  def randomProject(vec: Column, planes: Int): Column =
    graft.functions.VecMathFunctions.randomProject(vec, planes)

  /** Reference column formulation of [[srpBucket]] (spec cross-check). */
  private[graft] def srpBucketColumns(vec: Column, planes: Int): Column = {
    val terms = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0L), size(vec).cast("long") - 1L),
          (x, d) => x.cast("double") * planeWeight(p, d)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  /** Squared L2 distance (sequential fold — engine-portable like [[dot]]). */
  def l2sq(a: Column, b: Column): Column = graft.functions.VecMathFunctions.l2sq(a, b)

  /** Reference column formulation of [[l2sq]] (spec cross-check). */
  private[graft] def l2sqColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** Collect a small centroid table to a driver-side literal, sorted by id
    * — the centroid set is the same size class as a broadcast dim, but a
    * LITERAL rides into the task without even a broadcast exchange, and the
    * per-row argmin needs no join at all. Ids must be integral (cast to
    * long; [[ivfAssign]] casts the output cell back to the source id type).
    */
  private def collectCentroids(centroids: DataFrame, centId: String,
                               centVec: String): (Array[Long], Array[Array[Double]]) = {
    val rows = centroids
      .select(col(centId).cast("long").as("_id"), col(centVec).as("_v"))
      .collect()
      .sortBy(_.getLong(0))
    (rows.map(_.getLong(0)),
      rows.map(_.getSeq[Number](1).map(_.doubleValue).toArray))
  }

  /** The nprobe nearest cells of a vector column as ONE narrow per-row
    * expression (array<long>, nearest first; ties → smallest centroid id)
    * — zero exchanges between scan and cell output. Distance arithmetic is
    * the [[l2sq]] sequential fold, bit-identical to the former broadcast-
    * join + window formulation (same oracle stays green).
    */
  def ivfCells(vec: Column, centroids: DataFrame, nprobe: Int,
               centId: String = "cent_id", centVec: String = "cvec"): Column = {
    val (ids, vecs) = collectCentroids(centroids, centId, centVec)
    graft.functions.VecMathFunctions.nearestCells(vec, ids, vecs, nprobe)
  }

  /** IVF cell assignment: nearest centroid by L2 (ties → smallest centroid
    * id). Centroids are a SMALL table `(cent_id, cvec)` — at scale they
    * come from a sampled k-means; any deterministic set works for the
    * index structure itself. The assignment is a narrow projection (no
    * join, no shuffle — plan-asserted in SimilaritySpec).
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, centId: String = "cent_id",
                centVec: String = "cvec"): DataFrame = {
    val idType = centroids.schema(centId).dataType
    df.withColumn("cell",
      element_at(ivfCells(col(vecCol), centroids, 1, centId, centVec), 1).cast(idType))
  }

  /** Assign each row to its `nprobe` nearest cells (ties → smallest
    * centroid id) — one output row per (row, probed cell), nearest first.
    * Narrow: explode of a per-row array, still no join or shuffle.
    */
  def ivfAssignN(df: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame, nprobe: Int,
                 centId: String = "cent_id", centVec: String = "cvec"): DataFrame = {
    val idType = centroids.schema(centId).dataType
    df.withColumn("_cell_l", explode(ivfCells(col(vecCol), centroids, nprobe, centId, centVec)))
      .withColumn("cell", col("_cell_l").cast(idType))
      .drop("_cell_l")
  }

  /** IVF top-k: candidates live in their ONE nearest cell; each query
    * probes its `nprobe` nearest cells — the scan-cost/recall dial at
    * scale (nprobe = #centroids degenerates to exact brute force).
    * Returns per-query top-k among candidates in the probed cells.
    */
  def ivfTopK(queries: DataFrame, qid: String, qvec: String,
              cands: DataFrame, cid: String, cvec: String,
              centroids: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qCells = ivfAssignN(queries, qid, qvec, centroids, nprobe)
    val cCells = ivfAssign(cands, cid, cvec, centroids)
    val joined = cCells.join(broadcast(qCells), Seq("cell")).filter(col(qid) =!= col(cid))
    val scored = joined.withColumn("cos", cosine(col(qvec), col(cvec)))
    TopK.perGroupWithOrd(scored.select(col(qid), col("cos"), col(cid)),
        qid, "cos", cid, k)
      .select(col(qid), col(cid), col("cos"), col("rank"))
  }

  /** Embedding near-duplicate pairs: same-bucket pairs with cosine above a
    * threshold — the embedding-cosine dedup path (bucket grouping, never an
    * all-pairs product).
    *
    * Scale shape mirrors [[graft.operators.Dedup.lshCandidatePairs]]: ONE
    * shuffle groups (id, vec) per bucket, pairs expand inside each bucket,
    * and `maxBucket` caps degenerate buckets — with only 2^planes buckets
    * an all-similar corpus would otherwise go B² in its hottest bucket
    * (each kept bucket yields ≤ maxBucket·(maxBucket−1)/2 pairs, a hard
    * bound independent of corpus size). Rows beyond the cap are DROPPED
    * from pairing (sorted by id, so the kept prefix is deterministic);
    * audit truncation with [[srpBucketStats]] before relying on recall.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Int = 8,
                            maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("_bucket", srpBucket(col("v"), planes))
    val buckets = b
      .groupBy(col("_bucket"))
      .agg(array_sort(collect_list(struct(col("id"), col("v")))).as("items"))
      .filter(size(col("items")) > 1)
      .withColumn("items", slice(col("items"), 1, maxBucket))
    buckets
      .select(explode(flatten(transform(col("items"), (a, i) =>
        transform(slice(col("items"), i + 2, lit(maxBucket)), bb =>
          struct(a.getField("id").as("id_a"), bb.getField("id").as("id_b"),
            a.getField("v").as("va"), bb.getField("v").as("vb")))))).as("p"))
      .withColumn("cos", cosine(col("p.va"), col("p.vb")))
      .filter(col("cos") >= threshold)
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("cos"))
  }

  /** Symmetric int8 embedding quantization — the storage-compression step
    * of a large-scale vector pipeline (4× smaller than float32 before
    * columnar encoding). Per-row scale = max|vᵢ| / 127; code qᵢ =
    * ⌊vᵢ/scale + 0.5⌋ (explicit half-up — identical arithmetic in every
    * engine, unlike round() whose half-rule differs across systems).
    * Zero vectors quantize to all-zero codes with scale 0.
    *
    * Fused one-pass expression — the column formulation
    * ([[quantizeInt8Columns]]) embeds `array_max` inside the `transform`
    * lambda; lambda bodies get no CSE, so each of the d elements re-scanned
    * the d-element max → O(d²) per row (measured 4× slower at d=128).
    *
    * @return struct(scale: double, q: array<int> in [-127, 127])
    */
  def quantizeInt8(vec: Column): Column =
    graft.functions.VecMathFunctions.quantizeInt8(vec)

  /** Reference column formulation of [[quantizeInt8]] (spec cross-check;
    * O(d²) per row — see [[quantizeInt8]]).
    */
  private[graft] def quantizeInt8Columns(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = mx / 127.0
    val q = when(mx > 0,
      transform(vec, x => floor(x.cast("double") / scale + 0.5).cast("int")))
      .otherwise(transform(vec, x => lit(0)))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Bucket-size audit for the SRP paths: (bucket, n, truncated) — run
    * before [[embeddingNearDupPairs]] to see how much a `maxBucket` cap
    * would drop (the no-silent-caps companion).
    */
  def srpBucketStats(df: DataFrame, vecCol: String, planes: Int,
                     maxBucket: Int): DataFrame =
    df.select(srpBucket(col(vecCol), planes).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .withColumn("truncated", col("n") > maxBucket)
}
