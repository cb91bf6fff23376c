package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.GraftShim.freeLocalCheckpoint
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, over
  * pre-tokenized sequences (`tokens: array<int>`) and raw text.
  *
  * Scale notes (the 100 TB story):
  *   - exact dedup (the `dedup_exact` query) shuffles (hash64, id)
  *     pairs — never full rows;
  *   - MinHash/LSH: the signature is computed NARROW (no shuffle, pure
  *     column expressions per row); only the exploded (band_key, id) pairs
  *     shuffle, which is `bands × rows` small fixed-width rows; candidate
  *     pairs come from a per-bucket self-join, never an all-pairs product;
  *   - SimHash is a single narrow projection; near-dup search joins on the
  *     exact 16-bit bucket (or Hamming-ball neighbors).
  *
  * All hash arithmetic is plain int64 math (no engine-specific hash
  * functions) so results are reproducible across engines — the DuckDB
  * oracles recompute them exactly.
  */
object Dedup {

  val P: Long = 1000000007L

  /** Token-shingle hash: s_i = ((t_i·31 + t_{i+1})·31 + t_{i+2}) mod P over
    * 3-shingles of the token array. Engine-portable arithmetic (≤ 5·10⁷
    * before mod — no overflow).
    */
  def shingles(tokens: Column): Column =
    // guard: Spark `sequence(1, n)` turns DESCENDING for n < 1 — short rows
    // must yield an empty shingle set, not out-of-bounds indices
    when(size(tokens) >= 3,
      transform(
        sequence(lit(1), size(tokens) - 2),
        i => ((element_at(tokens, i).cast("long") * 31L
          + element_at(tokens, i + 1)) * 31L
          + element_at(tokens, i + 2)) % P))
      .otherwise(array().cast("array<long>"))

  /** MinHash signature as ONE fused array expression (tight JVM loop —
    * the higher-order-function formulation is CodegenFallback-interpreted
    * and ~20× slower; formulas identical). Rows with fewer than 3 tokens
    * get P (an impossible hash) in every slot.
    *
    * Use the two-projection pattern to read slots without duplicating the
    * expression: `.withColumn("sig", minhashSigArray(...)) .select(
    * col("sig").getItem(j)…)` — the alias barrier keeps one eval/row.
    */
  def minhashSigArray(tokens: Column, numHashes: Int): Column =
    graft.functions.MinHashSig(tokens, numHashes)

  /** LSH banding: band key b = a portable combine of `rowsPerBand`
    * consecutive signature slots. Returns array<long> of band keys.
    */
  def lshBandKeys(sigCols: Seq[Column], rowsPerBand: Int): Column = {
    val bands = sigCols.grouped(rowsPerBand).toSeq
    array(bands.zipWithIndex.map { case (slots, bi) =>
      slots.foldLeft(lit(bi.toLong): Column)((acc, s) => (acc * 31L + s) % P)
    }: _*)
  }

  /** Band keys from a signature ARRAY column (the two-projection path). */
  def lshBandKeysFromArray(sig: Column, numHashes: Int, rowsPerBand: Int): Column =
    lshBandKeys((0 until numHashes).map(j => element_at(sig, j + 1)), rowsPerBand)

  /** Candidate near-dup pairs from MinHash LSH: explode band keys, ONE
    * shuffle to group ids per (band, key) bucket, then expand pairs
    * inside each bucket with array expressions. Output: (idA, idB) with
    * idA < idB, distinct.
    *
    * Deliberately NOT a self-join: a self-join re-computes the (expensive)
    * signature for both sides and either broadcasts it or shuffles twice;
    * the groupBy computes signatures once and shuffles only fixed-width
    * (band, key, id) triples. Bucket sizes are small by LSH construction;
    * `maxBucket` caps degenerate buckets (everything-identical corpora)
    * so a hot bucket cannot explode into B² pairs — the standard skew
    * guard for LSH pair generation.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, tokensCol: String,
                        numHashes: Int = 16, rowsPerBand: Int = 2,
                        maxBucket: Int = 10000): DataFrame = {
    val keyed = df
      .filter(size(col(tokensCol)) >= 3)
      .select(col(idCol).as("id"), minhashSigArray(col(tokensCol), numHashes).as("sig"))
      .select(col("id"),
        posexplode(lshBandKeysFromArray(col("sig"), numHashes, rowsPerBand)).as(Seq("band", "key")))
    val buckets = keyed
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .withColumn("ids", slice(col("ids"), 1, maxBucket))
    buckets
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, lit(maxBucket)), b =>
          struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Benchmark decontamination: ids of docs sharing at least one token
    * shingle with a (small) benchmark set — the train/test-overlap check
    * every training-data pipeline runs before a model sees the corpus.
    *
    * Scale shape: benchmark grams are BROADCAST (benchmarks are tiny next
    * to the corpus); the corpus side is a narrow shingle explode +
    * broadcast semi-join — no corpus shuffle at all. The distinct on doc
    * ids shuffles only 8-byte survivors.
    */
  def contaminatedIds(docs: DataFrame, idCol: String, tokensCol: String,
                      bench: DataFrame, benchTokensCol: String): DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(col(benchTokensCol))).as("g")).distinct()
    docs.select(col(idCol), explode(shingles(col(tokensCol))).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** The fixpoint loop both connected-components variants run. Each round
    * steps the state and checkpoints it LAZILY (lineage truncation without
    * an extra materialization job); `probe`'s one aggregate Row is the
    * round's only Spark action, and it computes and caches that checkpoint.
    * The previous round's checkpoint blocks are then freed eagerly
    * ([[org.apache.spark.sql.GraftShim.freeLocalCheckpoint]]), so an
    * N-round run holds one snapshot, not N. RDD-level checkpoints never
    * register with the session's CacheManager, so a later identical
    * invocation can never be served from this one's state — every run
    * recomputes from its inputs.
    *
    * Converged means two successive probes are equal. A state that has
    * not reached its fixpoint is a wrong answer, so running out of
    * `maxIter` rounds fails loudly instead of returning it.
    */
  private def fixpoint(init: DataFrame, maxIter: Int, what: String)
                      (step: DataFrame => DataFrame)
                      (probe: DataFrame => Row): DataFrame = {
    var state = init.localCheckpoint(eager = false)
    var sig = probe(state)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = step(state).localCheckpoint(eager = false)
      val s = probe(next)
      freeLocalCheckpoint(state)
      state = next
      converged = s == sig
      sig = s
      i += 1
    }
    require(converged, s"$what did not converge within $maxIter rounds — " +
      "raise maxIter (the rounds needed grow with the max component diameter)")
    state
  }

  /** Round cap shared by both connected-components variants: propagation
    * covers component diameters up to 29, star rounds far beyond that. */
  private val CcMaxIter = 30

  /** Connected components over candidate near-dup pairs — the clustering
    * step between [[lshCandidatePairs]] / embedding pairs and keeper
    * selection (every member of a component dedups to the component's
    * MINIMUM id).
    *
    * Iterative min-label propagation: each round every vertex takes the
    * smallest label among itself and its neighbors, as ONE union + groupBy
    * over fixed-width (long, long) rows. A component of diameter d needs
    * d rounds plus one to see the fixpoint, and a run that does not reach
    * it within `maxIter` rounds throws "did not converge". The probe is
    * `sum(comp)`: labels only decrease, so an unchanged sum is an
    * unchanged labelling. Empty pairs give empty labels.
    *
    * Dedup components are near-cliques, where this beats
    * [[connectedComponentsStar]] on constants. At sf0.1 on a 4-core
    * local[4] host, query construction plus a noop write (median of the
    * warm runs in fresh JVMs) took 2.90 s for dedup_cc against 3.20 s
    * with the star variant, and 3.53 s against 4.84 s for curate_neardup.
    *
    * @return (id, comp) — comp = min id reachable from id
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = CcMaxIter): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .union(pairs.select(col(bCol).cast("long").as("a"), col(aCol).cast("long").as("b")))
      .distinct()
      .localCheckpoint(eager = false)
    val init = edges.select(col("a").as("id")).distinct().withColumn("comp", col("id"))
    // the first probe also materializes the edges' checkpoint
    val labels = fixpoint(init, maxIter, "connectedComponents") { cur =>
      // min over {self} ∪ neighbors as ONE union + groupBy — every id keeps
      // its own label via the union arm; under AQE each exchange is its own
      // stage job, so exchange count is the round's fixed cost
      edges.join(cur, edges("b") === cur("id"))
        .select(edges("a").as("id"), col("comp"))
        .unionByName(cur)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
    }(_.agg(sum(col("comp"))).collect()(0))
    freeLocalCheckpoint(edges)
    labels
  }

  private def canonStar(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()

  /** Attach larger neighbors to min(Γ(u) ∪ {u}): emit (v, m(u)) for v > u.
    *
    * m(u) arrives via `min(v) OVER (PARTITION BY u)` — ONE exchange + sort
    * of the directed edges, where the former `groupBy(u).agg(min)` +
    * join-back shape paid a second full exchange of `dir` for the join
    * probe (the aggregate's exchange carries only partial-agged group
    * rows, so the two subtrees never merge into a reused exchange). Rows
    * and values are identical: the inner join attached each group's `mn`
    * to every member (aggregate keys ⊆ dir keys — lossless), exactly what
    * the window computes. Skew class unchanged — a hot node's neighbor
    * list occupies one (spillable) window group, the same single-task
    * fan-in the SMJ probe had.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val dir = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    dir.withColumn("mn", min(col("v")).over(w))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
  }

  /** Attach smaller neighbors AND u itself to m = min(Γ≤(u) ∪ {u}); input
    * canonical (u > v), so every neighbor is already smaller. Same
    * window-for-join-back trade as [[largeStar]]; the "one (u, m) row per
    * u" arm (the aggregate's own output in the old shape) falls out of
    * the SAME sorted window pass as `row_number() == 1` — with (u, v)
    * rows distinct by canon, the first row by v IS the group minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u")).orderBy(col("v"))
    val wAll = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val marked = e
      .withColumn("m", min(col("v")).over(wAll))
      .withColumn("rn", row_number().over(w))
    marked.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(marked.filter(col("rn") === 1)
        .select(col("u"), col("m").as("v")))
  }

  /** Canonicalize + dedup WITHOUT a dedicated exchange pair: repartition
    * by `u` alone and dropDuplicates on (u, v) — HashPartitioning(u)
    * satisfies the aggregate's ClusteredDistribution(u, v) (equal (u, v)
    * ⇒ equal u ⇒ colocated) AND the following star window's
    * ClusteredDistribution(u), so the dedup aggregate and the window
    * share ONE exchange where `distinct()` + window paid two ((u,v)-hash
    * then u-hash, back to back). Trade: the shuffle carries pre-dedup
    * rows (distinct()'s partial aggregate would shrink them first) —
    * star outputs carry bounded duplication (one emit per directed edge),
    * so the fold wins on exchange count.
    */
  private def canonInto(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .repartition(col("u"))
      .dropDuplicates("u" :: "v" :: Nil)

  /** One large-star/small-star round — exposed for plan capture and specs. */
  private[graft] def starRound(e: DataFrame): DataFrame =
    canonStar(smallStar(canonInto(largeStar(e))))

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond" — a
    * published algorithm, restated on DataFrames):
    *
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: every node attaches its smaller-or-equal neighbors
    *     (its parent candidates) and itself to that minimum.
    *
    * Each round is two window passes over fixed-width (u, v) pairs, and
    * the edge set converges to per-component STARS rooted at the minimum
    * id in O(log diameter) rounds — the variant for HIGH-DIAMETER graphs
    * where [[connectedComponents]]' min-label propagation needs
    * O(diameter) rounds (a 10⁶-link chain: ~20 rounds vs 10⁶). On dedup's
    * near-clique components it loses on constants (see
    * [[connectedComponents]]). A run that does not reach the fixpoint
    * within `maxIter` rounds throws "did not converge".
    *
    * Output identical to [[connectedComponents]]: (id, comp = min id of
    * the component) — shares its oracle (dedup_cc_star) and an
    * equivalence spec.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = CcMaxIter): DataFrame = {
    val init = canonStar(pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v")))
    // change detection: (count, Σ xxhash64(u,v)) — order-independent and
    // collision-resistant where a (count, Σu, Σv) triple lets distinct
    // edge sets alias (e.g. {(5,1),(4,2)} vs {(4,1),(5,2)}); decimal(38)
    // sum keeps the aggregate exact under ANSI (long sum would overflow)
    val edges = fixpoint(init, maxIter, "connectedComponentsStar")(starRound)(
      _.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0))
    // fixpoint = stars: non-roots point straight at their component min;
    // roots never appear on the left side (edges is the final round's
    // materialized checkpoint — both reads below hit its cache)
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(edges.select(col("v")).distinct()
        .select(col("v").as("id"), col("v").as("comp")))
    // nodes whose only pairs were self-loops vanish in canon's u≠v filter
    // but are components of their own ([[connectedComponents]] keeps them)
    val allNodes = pairs.select(col(aCol).cast("long").as("id"))
      .union(pairs.select(col(bCol).cast("long").as("id"))).distinct()
    labels.unionByName(
      allNodes.join(labels, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("comp")))
  }

  /** SimHash over token ids (`bits`-wide): bit b set iff
    * Σ_tokens (bit_b(h(t))·2 − 1) > 0, h(t) = t·2654435761 mod 2³².
    * One fused expression, one pass over the array per row.
    */
  def simhash(tokens: Column, bits: Int = 16): Column =
    graft.functions.SimHash64(tokens, bits)

  /** Cross-document repeated span DETECTION — the "dedup the substrings,
    * not just the documents" pass of training-data pipelines (exact
    * doc-level dedup misses boilerplate shared across otherwise-distinct
    * pages): every word `n`-gram position whose gram text occurs in MORE
    * THAN ONE distinct document. Output (id, pos — 1-based word offset,
    * gram). The shuffle key is the gram itself (≈50 bytes at n=8; a
    * production variant shuffles xxhash64(gram) — string keys kept here
    * so the DuckDB oracle re-derives the op verbatim). Rows shorter than
    * `n` words contribute nothing.
    */
  def crossDocRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    flaggedSpans(gramPositions(df, idCol, textCol, n), "gram", idCol, 0L)
      .select(col(idCol), col("pos"), col("gram"))

  /** (id, pos, gram) — one row per word n-gram position. Fused gram
    * construction (functions.WordGrams): the higher-order transform+slice
    * formulation is CodegenFallback-interpreted per element — 5× slower
    * measured; short rows yield an empty array (posexplode emits nothing).
    */
  private def gramPositions(df: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.WordGrams(col(textCol), n)).as(Seq("_p0", "gram")))
      .select(col(idCol), (col("_p0") + 1).as("pos"), col("gram"))

  /** The shared span-flagging core: repeated-ness, the occurrence cap and
    * the canonical keeper are all PER-GRAM-GROUP properties, so one
    * window pass over the gram key computes them together —
    *
    *   - repeated ⇔ "more than one distinct doc" ⇔ min(id) ≠ max(id);
    *   - cap: count(*) over the group ≤ maxOcc (0 disables);
    *   - `_k` = min(struct(id, pos)) — the canonical occurrence.
    *
    * ONE gram explode + ONE exchange + ONE sort replace the former
    * aggregate + flag-back join shape (TWO gram explodes and exchanges,
    * plus the join). Skew: a hot gram's group buffers in one window task
    * (spillable) — the same single-partition pressure the old join's
    * probe fan-in had; the hashed face's `maxOcc` cap bounds it there.
    * Unused window columns (e.g. `_k` in the detection-only queries) are
    * pruned by Catalyst.
    */
  private def flaggedSpans(positioned: DataFrame, keyCol: String,
                           idCol: String, maxOcc: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val rep = positioned
      .withColumn("_mn", min(col(idCol)).over(w))
      .withColumn("_mx", max(col(idCol)).over(w))
      .withColumn("_occ", count(lit(1)).over(w))
      .withColumn("_k", min(struct(col(idCol), col("pos"))).over(w))
      .filter(col("_mn") =!= col("_mx"))
    (if (maxOcc > 0L) rep.filter(col("_occ") <= maxOcc) else rep)
      .drop("_mn", "_mx", "_occ")
  }

  /** Production variant of [[crossDocRepeatedSpans]] — identical output,
    * scale-safe shuffle. Two changes for 100 TB:
    *
    *  1. the shuffle key is `xxhash64(gram)` (8 bytes) instead of the raw
    *     ~50-byte gram string — the flagging window keys on the hash; the
    *     gram text rides as payload only where the output needs it. A
    *     hash collision merges two distinct grams:
    *     with the cap disabled that only ever ADDS flags (a unique gram
    *     can read as repeated — conservative over-removal); with a cap,
    *     merged occurrence counts can also push a legitimately-repeated
    *     gram OVER the cap and drop it. Either way the error rate is the
    *     collision rate: ~3·10^4 expected colliding gram pairs at 10^12
    *     grams (birthday over 2^64), i.e. ~10^-8 of positions.
    *  2. an optional per-gram occurrence cap `maxOcc` (analogous to
    *     [[Similarity.embeddingNearDupPairs]]'s `maxBucket`): a gram with
    *     more than `maxOcc` occurrences corpus-wide is dropped from the
    *     repeated set entirely, so one ubiquitous boilerplate gram cannot
    *     fan the downstream removal out by its full occurrence count.
    *     `maxOcc = 0` disables the cap (exact parity with the string-key
    *     form — DedupSpec asserts row identity).
    */
  def crossDocRepeatedSpansHashed(df: DataFrame, idCol: String,
                                  textCol: String, n: Int,
                                  maxOcc: Long = 0L): DataFrame =
    flaggedSpans(hashedGramPositions(df, idCol, textCol, n), "_gh", idCol, maxOcc)
      .select(col(idCol), col("pos"), col("gram"))

  /** (id, pos, gram, _gh=xxhash64(gram)) — shared spine of the hashed
    * span ops (callers prune `gram` before any shuffle that must not
    * carry the string).
    */
  private def hashedGramPositions(df: DataFrame, idCol: String,
                                  textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
        posexplode(graft.functions.WordGrams(col(textCol), n)).as(Seq("_p0", "gram")))
      .select(col(idCol), (col("_p0") + 1).as("pos"), col("gram"),
        xxhash64(col("gram")).as("_gh"))

  /** Covered word offsets of every NON-canonical flagged span occurrence:
    * the keeper `_k` arrives precomputed from [[flaggedSpans]]' single
    * window pass; every non-keeper occurrence explodes to its n covered
    * offsets. Duplicate offsets from overlapping spans are fine — the
    * consumer treats them as a set. Shared by both strip variants
    * (string key vs hash key).
    */
  private def dropOffsetsFor(spans: DataFrame, idCol: String,
                             n: Int): DataFrame =
    spans
      .filter(!(col(idCol) === col(s"_k.$idCol") && col("pos") === col("_k.pos")))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("w"))

  /** Rebuild (id, clean_text) dropping the given (id, w) word offsets.
    * The drop set aggregates to ONE array per affected doc (collect_set —
    * bounded by the doc's own word count) and re-attaches with a single
    * join by id; the text is rebuilt per row with
    * `array_except(1..n_words, drops)` + positional `transform` — word
    * order preserved (array_except keeps first-array order), identical to
    * the former explode + anti-join + collect/sort reassembly, which
    * shuffled EVERY word of EVERY document twice where this moves each
    * text once and only drop offsets otherwise. Docs whose every word is
    * covered drop out (empty keep-set filter), as before.
    */
  private def stripByOffsets(df: DataFrame, idCol: String, textCol: String,
                             dropOffsets: DataFrame): DataFrame = {
    val drops = dropOffsets.groupBy(col(idCol))
      .agg(collect_set(col("w")).as("_drop"))
    df.join(drops, Seq(idCol), "left")
      .select(col(idCol), split(col(textCol), " ").as("_ws"),
        coalesce(col("_drop"), array().cast("array<int>")).as("_d"))
      .select(col(idCol), col("_ws"),
        array_except(sequence(lit(1), size(col("_ws"))), col("_d")).as("_keep"))
      .filter(size(col("_keep")) > 0)
      .select(col(idCol),
        array_join(transform(col("_keep"),
          i => element_at(col("_ws"), i)), " ").as("clean_text"))
  }

  /** Production variant of [[stripRepeatedSpans]] — the whole removal
    * pipeline keyed on `xxhash64(gram)`: detection, the canonical-keeper
    * aggregate, and the covered-offset join all shuffle an 8-byte hash,
    * and the gram STRING never leaves the map side at all (removal needs
    * positions, not text). With `maxOcc > 0`, grams over the occurrence
    * cap are left in place (not removed).
    * Collision semantics follow [[crossDocRepeatedSpansHashed]]; a
    * collision here can additionally merge two grams' keeper elections
    * (one extra occurrence removed) — same ~10^-8 rate. DedupSpec asserts
    * row identity with the string-key form on fixtures.
    */
  def stripRepeatedSpansHashed(df: DataFrame, idCol: String, textCol: String,
                               n: Int, maxOcc: Long = 0L): DataFrame = {
    // removal needs positions, not text — the gram string never shuffles
    // (dropped before the one flagging window); detection + cap + keeper
    // all come out of that single pass, so the whole strip is one
    // streaming DAG with no joins on the gram key at all
    val spans = flaggedSpans(
      hashedGramPositions(df, idCol, textCol, n).drop("gram"), "_gh", idCol, maxOcc)
    stripByOffsets(df, idCol, textCol, dropOffsetsFor(spans, idCol, n))
  }

  /** Repeated-span REMOVAL — the rewrite step over
    * [[crossDocRepeatedSpans]]: every flagged gram keeps its canonical
    * occurrence (lexicographically smallest (doc, pos)) and every OTHER
    * occurrence's words are dropped; overlapping flagged grams union
    * their covered offsets. Returns (id, clean_text). Reassembly is a
    * per-doc sort_array over (pos, word) structs — no window, one
    * groupBy — so a doc's words never serialize through a single global
    * partition. A doc whose every word is covered by non-canonical spans
    * drops out entirely (it was all boilerplate).
    */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    // detection + keeper election come out of flaggedSpans' single window
    // pass — the whole strip is one streaming DAG with no joins on the
    // gram key at all
    val spans = flaggedSpans(gramPositions(df, idCol, textCol, n), "gram", idCol, 0L)
    stripByOffsets(df, idCol, textCol, dropOffsetsFor(spans, idCol, n))
  }

  /** Word n-gram set (distinct) of a text column, '|'-joined grams. */
  def wordNgrams(text: Column, n: Int): Column = {
    val words = split(text, " ")
    when(size(words) >= n,
      array_distinct(transform(
        sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws("|", (0 until n).map(o => element_at(words, i + o)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** n-gram Jaccard similarity components between two texts as ONE fused
    * struct(inter, uni) expression (see [[graft.functions.NgramOverlap]];
    * the composable form below is 4 interpreted HOF evaluations per row).
    * Read both fields through an alias barrier to keep one eval per row.
    */
  def ngramOverlapStruct(a: Column, b: Column, n: Int): Column =
    graft.functions.NgramOverlap(a, b, n)

  /** Composable-column formulation (spec cross-check): returns
    * (intersection size, union size) — integer-exact; callers derive the
    * ratio. union = |A| + |B| − |A∩B|.
    */
  private[graft] def ngramOverlap(a: Column, b: Column, n: Int): (Column, Column) = {
    val (ga, gb) = (wordNgrams(a, n), wordNgrams(b, n))
    val inter = size(array_intersect(ga, gb))
    (inter, size(ga) + size(gb) - inter)
  }
}
