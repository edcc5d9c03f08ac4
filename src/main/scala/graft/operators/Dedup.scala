package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.plans.VectorExprs

/** Deduplication operators for training-data pipelines (beyond-parity
  * extensions, SURVEY.md §7). Five families: exact, MinHash+LSH, SimHash,
  * exact n-gram Jaccard, and embedding-cosine. Each is a pure DataFrame
  * transformation — Catalyst plans the shuffles, AQE handles skew.
  *
  * Scale design notes are on each operator; the common principles:
  *   - hash early: shuffles carry 64-bit keys, not document text;
  *   - candidate generation is always sub-quadratic (LSH bands / inverted
  *     index / bit-chunk pigeonhole), never a cross join;
  *   - verification joins candidates back to per-doc state by id, so the
  *     wide payload (shingle sets) moves once.
  */
object Dedup {

  /** Exact dedup, keep-first-per-key: the survivor of each duplicate group
    * is the row with the smallest `tieBreak`. One shuffle on the key.
    * At 100 TB, partition counts must follow data size (AQE coalesces);
    * group keys are arbitrary expressions, e.g. `xxhash64(text)` to keep
    * sort keys narrow.
    */
  def exactDedup(df: DataFrame, keys: Seq[Column], tieBreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(tieBreak: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Keep-first dedup as an aggregation (`min_by` of the whole row over
    * the tie-break) — same result as [[exactDedup]] when the tie-break is
    * an ascending unique ordering, but the 100 TB shape: partial map-side
    * combine reduces every partition to one row per key BEFORE the shuffle,
    * where the window formulation shuffles and sorts the full table.
    * (Struct buffers plan as SortAggregate, not hash — the partial combine
    * is what matters.)
    * Use [[exactDedup]] instead when the ordering is mixed asc/desc (struct
    * `min_by` compares fields ascending) or when a tie-break value can be
    * NULL: `min_by` skips null ordering keys, while the window ranks nulls
    * first — different survivor.
    */
  def exactDedupAgg(df: DataFrame, keys: Seq[Column], tieBreak: Seq[Column]): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(keys: _*)
      .agg(min_by(all, struct(tieBreak: _*)).alias("__row"))
      .select("__row.*")
  }

  /** Exact-dup groups as (survivor_id, dup_id) pairs — the "what would be
    * removed" report form. GroupBy + min is partial-aggregated map-side, so
    * the shuffle carries one (key, min_id) pair per map partition per key.
    */
  def exactDupMap(df: DataFrame, key: Column, id: Column): DataFrame = {
    val keyed = df.select(key.alias("__k"), id.alias("__id"))
    val survivors = keyed.groupBy(col("__k")).agg(min(col("__id")).alias("survivor_id"))
    keyed
      .join(survivors, "__k")
      .filter(col("__id") =!= col("survivor_id"))
      .select(col("survivor_id"), col("__id").alias("dup_id"))
  }

  /** MinHash+LSH band bucket keys (fused native expression — see
    * [[graft.plans.VectorExprs.MinHashBuckets]] for why the HOF formulation
    * is catastrophically slower). Element j of the result is band j's
    * 64-bit bucket; two docs collide on a band iff that band of the
    * signature matches exactly — P[candidate] = 1 - (1 - j^r)^b.
    */
  def minhashBandBuckets(shingleHashes: Column, k: Int, bands: Int): Column =
    VectorExprs.minhashBuckets(shingleHashes, k, bands)

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Pipeline: shingle -> minhash -> band -> explode -> self-join on
    * (band, bucket) -> distinct candidate id pairs -> join back to shingle
    * sets -> exact Jaccard filter. Returns (id_a, id_b, jaccard), id_a < id_b.
    *
    * Defaults k=128, bands=32 (r=4): P[miss] for j >= 0.8 is
    * (1 - 0.8^4)^32 ~= 5e-9 — the exact-verify step then makes the output
    * equal to the exact-Jaccard pair set with near-certainty.
    *
    * Scale: the exploded band frame is 32 longs/doc; the self-join is an
    * equi-join Catalyst hash-partitions on bucket. Mega-buckets (skew) are
    * AQE-split; `maxBucket` caps pathological buckets (a bucket of m docs
    * yields m^2 pairs — a cap of 2000 bounds any bucket's contribution
    * while keeping recall for real near-dup clusters).
    */
  def minhashLshPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      ngram: Int = 3,
      k: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxBucket: Int = 2000
  ): DataFrame = minhashLshPairsReleasable(df, id, text, ngram, k, bands, threshold, maxBucket)._1

  /** As [[minhashLshPairs]], additionally returning the persisted per-doc
    * state frame. The pipeline caches that state (id + shingle hashes — it
    * feeds the band explode and both verification joins); the cache is NOT
    * released when the result is consumed, because release timing belongs to
    * the caller (Spark evaluation is lazy). Long-lived sessions running many
    * dedups should use this form and `.unpersist()` the second element after
    * the action completes; the simple form leaves eviction to Spark's LRU
    * (or a `spark.catalog.clearCache()`).
    */
  def minhashLshPairsReleasable(
      df: DataFrame,
      id: Column,
      text: Column,
      ngram: Int = 3,
      k: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxBucket: Int = 2000
  ): (DataFrame, DataFrame) = {
    val (candidates, docs) =
      minhashLshCandidates(df, id, text, ngram, k, bands, maxBucket)
    (verifyJaccard(candidates, docs.select(col("id"), col("sh")), threshold), docs)
  }

  /** The candidate-generation stage of [[minhashLshPairs]] on its own:
    * (distinct candidate id pairs, persisted per-doc shingle state).
    * Counting it gives the pre-verification pair volume — the number
    * that explains whether a time curve bends because the DATA has more
    * near-dups or because the PLAN degraded.
    */
  def minhashLshCandidates(
      df: DataFrame,
      id: Column,
      text: Column,
      ngram: Int = 3,
      k: Int = 128,
      bands: Int = 32,
      maxBucket: Int = 2000
  ): (DataFrame, DataFrame) = {
    // Persisted: this narrow per-doc state (id + shingle hashes) is
    // referenced by the band explode AND twice by the verification joins;
    // without persistence Spark recomputes the shingling for each reference.
    // At scale this is ~1 KB/doc — far smaller than the corpus it derives
    // from, and exactly what MLlib's LSH caches too.
    val docs = Relational.spread(df)
      .select(id.alias("id"), TextFns.shingleHashes(text, ngram).alias("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val bandsDf = docs
      .select(col("id"), posexplode(minhashBandBuckets(col("sh"), k, bands)).as(Seq("band", "bucket")))

    // Cap pathological buckets (scale guard; no-op on sane data).
    val bucketSizes = bandsDf.groupBy("band", "bucket").count()
    val capped = bandsDf
      .join(bucketSizes.filter(col("count") <= maxBucket), Seq("band", "bucket"))
      .select("id", "band", "bucket")

    val a = capped.alias("a")
    val b = capped.alias("b")
    val candidates = a
      .join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
      .distinct()
    (candidates, docs)
  }

  /** Estimated INPUT bytes of a frame: the sum of its leaf (scan) sizes.
    * The quadratic-operator guards use this instead of the optimized plan's
    * root estimate — Catalyst multiplies row estimates through joins, so a
    * pipeline-built frame (e.g. a gate + dedup join over a 6 MB table) can
    * carry a "45 GB" root estimate while actually reading megabytes. Leaf
    * sizes are file/relation sizes — the number the guard means.
    */
  private def leafInputBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** Join candidate id pairs back to shingle sets and keep exact Jaccard >=
    * threshold. Shingle sets move through two id-keyed joins (narrow keys,
    * wide payload moves once per side).
    */
  private def verifyJaccard(pairs: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val da = docs.select(col("id").alias("id_a"), col("sh").alias("sh_a"))
    val db = docs.select(col("id").alias("id_b"), col("sh").alias("sh_b"))
    pairs
      .join(da, "id_a")
      .join(db, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard pairs via inverted index: explode shingles ->
    * self-join on shingle -> count intersections per pair (the join rows ARE
    * the intersection elements, so no per-pair set materialization) -> join
    * sizes -> filter. Shuffles carry only (id, hash) longs.
    *
    * Cost is sum(df(g)^2) over shingle document frequencies. PPJoin-style
    * prefix filtering (index only the |x| - ceil(t|x|) + 1 globally-smallest
    * shingles) was measured here and LOST: in a near-dup-heavy corpus the
    * prefixes collide almost as much as the full sets, while its verify step
    * must re-attach both full shingle arrays per candidate pair — 2x slower
    * than counting from the index. Prefix filtering wins instead when df is
    * heavy-tailed and qualifying pairs are rare; at 100 TB the default is
    * the LSH path above, with this as the ground-truth oracle.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      ngram: Int = 3,
      threshold: Double = 0.8,
      maxInputBytes: Long = 4L << 30
  ): DataFrame = {
    // Guard against silent misuse as the default dedup path: cost grows as
    // sum(df(g)^2) — superlinear on near-dup-heavy corpora. The linear
    // sibling is minhashLshPairs; this operator is its exact ground truth.
    val est = leafInputBytes(df)
    require(est <= maxInputBytes,
      s"ngramJaccardPairs cost grows superlinearly (sum of squared shingle doc-freqs): " +
        s"estimated input $est bytes > $maxInputBytes. Use minhashLshPairs for scale, " +
        s"or raise maxInputBytes to force a ground-truth run.")
    val docs = Relational.spread(df)
      .select(id.alias("id"), TextFns.shingleHashes(text, ngram).alias("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = docs.select(col("id"), explode(col("sh")).alias("g"))
    val a = inv.alias("a"); val b = inv.alias("b")
    val inter = a
      .join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
      .agg(count(lit(1)).cast("double").alias("inter"))
    val sizes = docs.select(col("id"), size(col("sh")).alias("n"))
    inter
      .join(sizes.select(col("id").alias("id_a"), col("n").alias("n_a")), "id_a")
      .join(sizes.select(col("id").alias("id_b"), col("n").alias("n_b")), "id_b")
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT shingle-CONTAINMENT pairs — the asymmetric sibling of
    * [[ngramJaccardPairs]]: keep (inner, outer) where
    * `|inner ∩ outer| / |inner| >= threshold`, i.e. the inner doc's
    * shingles are mostly inside the outer's. Catches what Jaccard misses:
    * a wire article embedded in a much longer page has tiny Jaccard (the
    * union is dominated by the page) but containment ~1. The standard
    * news/quote/wrapper dedup signal.
    *
    * The pair is emitted ONCE, oriented: `id_in` is the contained
    * (smaller-or-equal set, ties by id) side. Same inverted-index shape,
    * same sum(df²) cost model, same size guard and LSH-first advice as
    * [[ngramJaccardPairs]].
    */
  def containmentPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      ngram: Int = 3,
      threshold: Double = 0.9,
      maxInputBytes: Long = 4L << 30
  ): DataFrame = {
    val est = leafInputBytes(df)
    require(est <= maxInputBytes,
      s"containmentPairs cost grows superlinearly (sum of squared shingle doc-freqs): " +
        s"estimated input $est bytes > $maxInputBytes. Generate candidates with " +
        s"minhashLshPairs at scale, or raise maxInputBytes for a ground-truth run.")
    val docs = Relational.spread(df)
      .select(id.alias("id"), TextFns.shingleHashes(text, ngram).alias("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = docs.select(col("id"), explode(col("sh")).alias("g"))
    val a = inv.alias("a"); val b = inv.alias("b")
    val inter = a
      .join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
      .agg(count(lit(1)).cast("double").alias("inter"))
    val sizes = docs.select(col("id"), size(col("sh")).alias("n"))
    inter
      .join(sizes.select(col("id").alias("id_a"), col("n").alias("n_a")), "id_a")
      .join(sizes.select(col("id").alias("id_b"), col("n").alias("n_b")), "id_b")
      // orient: the smaller set is the contained side (ties -> id_a, which
      // the join already made the smaller id)
      .withColumn("id_in",
        when(col("n_a") <= col("n_b"), col("id_a")).otherwise(col("id_b")))
      .withColumn("id_out",
        when(col("id_in") === col("id_a"), col("id_b")).otherwise(col("id_a")))
      .withColumn("n_in", least(col("n_a"), col("n_b")))
      .withColumn("containment", col("inter") / col("n_in"))
      .filter(col("containment") >= threshold)
      .select(col("id_in"), col("id_out"), col("containment"))
  }

  /** SimHash fingerprint column (64-bit) over a document's tokens.
    * `portable = true` uses FNV-1a token hashes (cross-engine verifiable)
    * instead of xxhash64.
    */
  def simhash(text: Column, portable: Boolean = false): Column =
    VectorExprs.simhash64(graft.plans.TextExprs.tokenHashes(text, portable))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * Candidate generation is EXACT for maxHamming <= 3 by pigeonhole: the
    * 64-bit fingerprint is cut into 4 x 16-bit chunks; <= 3 differing bits
    * leave at least one chunk identical, so an equi-join per chunk finds
    * every qualifying pair. Verification = bit_count(xor) (builtin).
    * Same shape as LSH banding — narrow keys, hash joins, no cross join.
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column, maxHamming: Int = 3,
      maxBucket: Int = 1 << 20, portable: Boolean = false): DataFrame =
    simhashPairsReleasable(df, id, text, maxHamming, maxBucket, portable)._1

  /** As [[simhashPairs]], additionally returning the persisted fingerprint
    * frame for caller-controlled release — same contract as
    * [[minhashLshPairsReleasable]].
    */
  def simhashPairsReleasable(df: DataFrame, id: Column, text: Column, maxHamming: Int = 3,
      maxBucket: Int = 1 << 20, portable: Boolean = false): (DataFrame, DataFrame) = {
    // Persisted like the minhash doc state: the per-doc fingerprint feeds
    // (via the chunk explode) the bucket-size aggregation AND both
    // self-join sides — without it the corpus is re-tokenized and
    // re-simhashed three times.
    val docs = Relational.spread(df)
      .select(id.alias("id"), simhash(text, portable).alias("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (hamming64Pairs(docs, col("id"), col("sim"), maxHamming, maxBucket), docs)
  }

  /** Near-dup pairs under Hamming distance over ANY 64-bit fingerprint
    * column (SimHash text prints, dHash image prints, sign-LSH sketches …):
    * the 4 x 16-bit chunk pigeonhole join extracted from [[simhashPairs]].
    * EXACT for maxHamming <= 3 — <= 3 differing bits leave at least one
    * chunk identical, so the per-chunk equi-joins see every qualifying
    * pair. Narrow keys, hash joins, bucket-size cap — never a cross join.
    */
  def hamming64Pairs(df: DataFrame, id: Column, sig: Column, maxHamming: Int = 3,
      maxBucket: Int = 1 << 20): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole is exact only for hamming <= 3")
    // persisted: the (id, sim) frame is consumed by THREE plan branches
    // (bucket sizes, both sides of the candidate self-join), and `sig` is
    // typically an expensive codec/fingerprint UDF chain — without the
    // persist each branch re-decodes the corpus (the multimodal neardup
    // queries paid the decode up to 3x; the frame itself is 16 bytes/row)
    val docs = df.select(id.alias("id"), sig.alias("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkArr = array((0 until 4).map { j =>
      struct(lit(j).alias("chunk"), shiftrightunsigned(col("sim"), j * 16).bitwiseAND(lit(0xffffL)).alias("key"))
    }: _*)
    val exploded = docs
      .select(col("id"), col("sim"), explode(chunkArr).alias("ck"))
      .select(col("id"), col("sim"), col("ck.chunk").alias("chunk"), col("ck.key").alias("key"))
    // Scale guard (same rationale as minhash maxBucket): a degenerate
    // chunk key — e.g. the all-zero chunk that every near-empty doc shares —
    // would contribute |bucket|^2 candidate pairs. Capping drops only such
    // pathological buckets; the default never triggers on sane corpora.
    val bucketSizes = exploded.groupBy("chunk", "key").count()
    val chunks = exploded
      .join(bucketSizes.filter(col("count") <= maxBucket), Seq("chunk", "key"))
      .select("id", "sim", "chunk", "key")
    val a = chunks.alias("a"); val b = chunks.alias("b")
    val pairs = a
      .join(b, col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(
        col("a.id").alias("id_a"),
        col("b.id").alias("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).alias("hamming")
      )
      .distinct()
      .filter(col("hamming") <= maxHamming)
    pairs
  }

  /** Exact sparse-vector cosine pairs over an inverted index: input is a
    * sparse matrix (id, bucket, w) — [[graft.operators.Corpus.hashedTfIdf]]
    * rows, integer weights — and output is every i<j pair whose cosine
    * meets `thresholdThousandths`/1000, WITHOUT any square root: cos ≥ t
    * over non-negative dots ⟺ dot²·10⁶ ≥ t²·‖a‖²·‖b‖², all integer
    * (DECIMAL(38,0) products), so the TF-IDF document-similarity join
    * replays bit-for-bit. The lexical sibling of [[embeddingCosinePairs]]
    * — but LINEAR in shared-bucket co-occurrence instead of quadratic:
    * pairs sharing no bucket never materialize.
    *
    * Returns (id_a, id_b, dot, n2_a, n2_b, cos2_ppm) with cos2_ppm =
    * floor(dot²·10⁶ / (n2_a·n2_b)) — the SQUARED cosine in ppm (monotone
    * in cosine on the dot>0 branch, so thresholds and rankings agree).
    *
    * `maxBucket` caps hub buckets (the stop-word bucket every doc hits
    * would contribute |bucket|² candidates); dropped buckets lose their
    * dot contribution, so leave the default unless a profile
    * ([[graft.operators.Graph.degreeStats]] on the bucket graph) shows
    * degenerate hubs — with IDF weighting those buckets carry the least
    * signal. Overflow contract: per-doc Σw² and any dot must stay below
    * 2⁶³ (the norm/dot accumulators are LONGS — whole-stage-codegen'd
    * hash aggregates, measured ~3x over DECIMAL sums on the 73M-candidate
    * bench corpus); only the final dot²·10⁶ product goes through
    * DECIMAL(38,0), bounding dot at ~10¹⁵. Pick hashedTfIdf's `scale`
    * accordingly.
    *
    * Scale shape: one norm groupBy, one bucket-keyed self equi-join, one
    * pair partial agg, two norm lookup joins. The prefix-filtered exact
    * form at high thresholds is [[ppJoinPairs]]; this one handles
    * arbitrary integer weights.
    */
  def sparseCosinePairs(vecs: DataFrame, thresholdThousandths: Int,
      maxBucket: Int = 1 << 20): DataFrame = {
    require(thresholdThousandths >= 1 && thresholdThousandths <= 1000,
      s"thresholdThousandths must be in [1, 1000], got $thresholdThousandths")
    val (cand, n2) = sparseCosineStage(vecs, maxBucket)
    val t2 = thresholdThousandths.toLong * thresholdThousandths
    cand
      .groupBy(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
      .agg(sum(col("a.w") * col("b.w")).alias("dot"))
      .join(n2.select(col("id").alias("id_a"), col("n2").alias("n2_a")), Seq("id_a"))
      .join(n2.select(col("id").alias("id_b"), col("n2").alias("n2_b")), Seq("id_b"))
      .filter(col("dot") > 0 &&
        expr("CAST(dot AS DECIMAL(38,0)) * dot * 1000000 >= " +
          s"CAST(n2_a AS DECIMAL(38,0)) * n2_b * ${t2}L"))
      .select(col("id_a"), col("id_b"),
        expr("CAST((CAST(dot AS DECIMAL(38,0)) * dot * 1000000) DIV " +
          "(CAST(n2_a AS DECIMAL(38,0)) * n2_b) AS BIGINT)").alias("cos2_ppm"),
        col("dot"), col("n2_a"), col("n2_b"))
  }

  /** Front half of [[sparseCosinePairs]]: the hub-capped inverted index
    * and its bucket-keyed candidate self-join (aliases `a`/`b`,
    * id_a < id_b), plus the UNCAPPED norm frame (dropped hub buckets lose
    * dot contribution, never norm mass). The candidate frame is the
    * pre-aggregation pair volume, the place to count candidates.
    */
  private def sparseCosineStage(vecs: DataFrame,
      maxBucket: Int): (DataFrame, DataFrame) = {
    // persisted: the sparse-vector frame is consumed FOUR times (norms,
    // bucket sizes, both candidate-join sides), and its upstream is the
    // whole tokenize->hash->tf-idf pipeline; column pruning specializes
    // each consumer's subtree (different ReadSchema), so exchange reuse
    // does NOT dedup them — measured: the tokenize+explode stage ran 3x
    // and the tf-idf aggregate 2x per q304 execution without the persist.
    val v = vecs.toDF("id", "bucket", "w")
      .select(col("id"), col("bucket"), col("w").cast("long").alias("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n2 = v.groupBy("id").agg(sum(col("w") * col("w")).alias("n2"))
    val bucketSizes = v.groupBy("bucket").count()
    val kept = Relational.spreadBy(
      v.join(bucketSizes.filter(col("count") <= maxBucket)
        .select("bucket"), Seq("bucket")), col("bucket"))
    val cand = kept.alias("a")
      .join(kept.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
    (cand, n2)
  }

  /** Weighted (multiset) Jaccard near-dup pairs over token bags:
    * `wJ(a,b) = Σ_t min(tf_a(t), tf_b(t)) / Σ_t max(tf_a(t), tf_b(t))` —
    * the tf-aware refinement of set Jaccard (a doc that repeats "the
    * cat" 50 times no longer looks identical to one mentioning it once).
    * Computed integer-exact via the identity `Σ max = n_a + n_b − Σ min`
    * (n = total tokens), so only the SHARED tokens ever join; the ratio
    * is reported as floor ppm, one integer division both engines agree
    * on.
    *
    * Scale shape (the [[sparseCosinePairs]] discipline): tf frames are
    * one partial-agg groupBy; candidate pairs come from an inverted-index
    * EQUI-join on token, cost ∝ Σ_t df(t)², never corpus². The `maxDf`
    * cap drops hub tokens (stopword-like, df > cap) from pair GENERATION
    * only — their mass still counts in n_a/n_b, so reported similarity
    * is then a lower bound, the same contract as sparseCosinePairs'
    * maxBucket. Returns (id_a, id_b, inter, uni, wjacc_ppm).
    */
  def weightedJaccardPairs(docs: DataFrame, id: Column, text: Column,
      minPpm: Long, maxDf: Int = 1 << 20): DataFrame = {
    require(minPpm >= 1 && minPpm <= 1000000L,
      s"minPpm must be in [1, 1000000], got $minPpm")
    val tf = Relational.spread(docs).select(id.alias("id"),
        explode(graft.functions.TextFns.tokens(text)).alias("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).alias("tf"))
    val dfreq = tf.groupBy("tok").count()
    val kept = tf.join(dfreq.filter(col("count") <= maxDf).select("tok"), Seq("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // totals over the KEPT multiset, not the raw one: pruning a ubiquitous
    // token from the intersection but not the union would push true
    // near-dups BELOW threshold — df-capping must shrink both sides (the
    // similarity is then "over informative tokens", the production
    // stopword-pruning semantics). The cap also bounds the inverted-index
    // fan-out (sum over tokens of df^2 <= maxDf * corpus tf mass) — the
    // uncapped q327 cost 128 s at sf0.1; capped at 64 it is sub-second.
    val tot = kept.groupBy("id").agg(sum("tf").alias("n"))
    kept.alias("a")
      .join(kept.alias("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
      .agg(sum(least(col("a.tf"), col("b.tf"))).alias("inter"))
      .join(tot.select(col("id").alias("id_a"), col("n").alias("n_a")), Seq("id_a"))
      .join(tot.select(col("id").alias("id_b"), col("n").alias("n_b")), Seq("id_b"))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .withColumn("wjacc_ppm", expr("(inter * 1000000) DIV uni"))
      .filter(col("wjacc_ppm") >= minPpm)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"), col("wjacc_ppm"))
  }

  /** Robust-winnowing fingerprint selection (Schleimer/Wilkerson/Aiken's
    * MOSS): over each document's POSITIONAL token k-gram sequence, hash
    * every k-gram with the portable FNV-1a64 and, for every window of
    * `w` consecutive k-grams, select the minimum hash — rightmost
    * position on ties (the "robust" rule: re-selecting the same
    * occurrence across overlapping windows, so shared substrings yield
    * shared fingerprints). Returns distinct `(doc_id, pos, h)`.
    * Guarantees: ≥1 fingerprint per w consecutive k-grams; any match of
    * length ≥ w+k−1 tokens between two documents shares ≥1 fingerprint —
    * the plagiarism/near-dup screening sketch with tunable density 2/(w+1).
    *
    * Docs with fewer than w k-grams emit nothing (no full window) —
    * lower `w` or fall back to [[minhashLshPairs]] for short docs.
    *
    * Fully declarative in both engines: the rightmost-min is
    * `min(struct(h, −pos))` over a (CURRENT ROW, w−1 FOLLOWING) frame —
    * per-doc windows partition by doc_id, never globally, and the shuffle
    * carries (doc, pos, hash) triples only; the per-doc dedup then REUSES
    * that same doc_id partitioning (groupBy doc_id + collect_set), so the
    * whole sketch costs exactly ONE shuffle. FNV (not xxhash) keeps every
    * fingerprint value SQL-replayable cross-engine.
    *
    * Why not a zero-shuffle array-domain scan: any formulation that
    * references the per-doc hash array from inside a higher-order-function
    * lambda gets the whole tokenize→gram→hash subtree inlined into the
    * lambda by CollapseProject, and HOF eval is interpreted
    * (CodegenFallback) with no subexpression reuse — the subtree re-runs
    * per (window, element), turning O(m·w) into O(m²·w) with a regex
    * re-tokenize in the inner loop (measured: 14 s → >320 s at sf0.1).
    * One doc_id shuffle of narrow triples is the honest, scale-safe cost.
    */
  def winnowFingerprints(docs: DataFrame, id: Column, text: Column,
      k: Int, w: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 2, s"w must be >= 2, got $w")
    // spread BEFORE the tokenize→gram→hash projection (which stays ABOVE
    // the exchange so the shuffle carries raw narrow rows): the whole
    // per-doc fingerprint pipeline otherwise fuses into a single-split
    // scan and runs on one core (measured q331: 1 task, 5k docs → 260k
    // gram rows, 2.9 s of a 4.5 s query)
    val base = Relational.spread(docs.select(id.alias("doc_id"), text.alias("__wtext")))
    val tk = graft.functions.TextFns.tokens(col("__wtext"))
    // grams via zip_with over k shifted slices — the iterated arrays are
    // evaluated-once ARGUMENTS; a transform lambda referencing the
    // computed tk subtree would re-tokenize per gram under interpreted
    // HOF eval (O(m²) — see TextFns.wordNgrams)
    val mOut = size(tk) - (k - 1)
    var joined = slice(tk, lit(1), mOut)
    for (j <- 1 until k)
      joined = zip_with(joined, slice(tk, lit(j + 1), mOut),
        (a, b) => concat(a, lit(" "), b))
    val grams = when(mOut <= 0, array().cast("array<string>"))
      .otherwise(joined)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    base.select(col("doc_id"), grams.alias("grams"))
      .select(col("doc_id"), size(col("grams")).alias("m"),
        posexplode(col("grams")).as(Seq("pos", "g")))
      .withColumn("h", graft.plans.TextExprs.fnv64(col("g")))
      .withColumn("wmin", min(struct(col("h"), (-col("pos")).alias("np"))).over(win))
      .filter(col("pos") <= col("m") - w)
      // per-doc dedup on the window's existing doc_id partitioning — no
      // second shuffle (a global distinct() would re-hash on all 3 cols)
      .groupBy(col("doc_id"))
      .agg(collect_set(struct((-col("wmin.np")).cast("long").alias("pos"),
        col("wmin.h").alias("h"))).alias("fps"))
      .select(col("doc_id"), explode(col("fps")).alias("fp"))
      .select(col("doc_id"), col("fp.pos"), col("fp.h"))
  }

  /** Embedding-cosine near-dup pairs, brute force (exact): all i<j pairs
    * with cosine >= threshold. Quadratic AND broadcasts the whole corpus —
    * correct tool only for verifying or for corpora small enough to
    * broadcast one side. The scale path is [[embeddingLshPairs]].
    *
    * Guarded: refuses when the input's estimated size exceeds
    * `maxInputBytes` (default 512 MB — under Spark's 8 GB broadcast hard
    * limit with generous margin), so the verify-only tool cannot be
    * silently misused as the default path on a large corpus.
    */
  def embeddingCosinePairs(df: DataFrame, id: Column, vec: Column, threshold: Double,
      maxInputBytes: Long = 512L << 20): DataFrame = {
    val est = leafInputBytes(df)
    require(est <= maxInputBytes,
      s"embeddingCosinePairs is O(n^2) with a full-corpus broadcast: estimated input " +
        s"$est bytes > $maxInputBytes. Use embeddingLshPairs (linear shuffle) for scale, " +
        s"or raise maxInputBytes to force a bounded verify run.")
    val e = df.select(id.alias("id"), vec.alias("v"))
    // repartition the PROBE side: the nested-loop scoring is O(n^2) work
    // that otherwise runs fused into the input's split count (measured on
    // q37: 2000 vectors scored on 1 task, twice — the range sampler
    // re-runs the exchange-free pipeline); the broadcast side stays the
    // raw scan. Unconditional rather than the `spread` partition probe:
    // the maxInputBytes guard above bounds this instrument's input to a
    // handful of splits, and spread's plan->RDD partition check costs
    // ~0.5 s of driver time per call (measured) — more than the exchange
    // it would sometimes skip.
    val a = e.repartition(e.sparkSession.sparkContext.defaultParallelism)
      .alias("a")
    val b = e.alias("b")
    val cos = VectorExprs.cosine(col("a.v"), col("b.v"))
    // The threshold lives INSIDE the join condition: the nested-loop join
    // then emits only qualifying pairs instead of materializing all O(n^2)
    // candidate rows (each carrying both vectors) for a downstream filter —
    // measured 2x on the bench. Survivors re-evaluate the cosine once in
    // the projection (bit-identical expression, negligible count).
    a.join(broadcast(b), col("a.id") < col("b.id") && cos >= threshold)
      .select(
        col("a.id").alias("id_a"),
        col("b.id").alias("id_b"),
        cos.alias("cosine")
      )
  }

  /** Incremental (append-only ingestion) dedup: drop batch rows whose `key`
    * already exists in the historical `seenKeys` set, then keep-first within
    * the batch by `tieBreak` — the batch form of continuous corpus
    * ingestion (the streaming sibling is
    * [[graft.streaming.EventStreams.dedupStream]], whose state is bounded
    * by the watermark; this one checks against ALL history).
    *
    * `seenKeys` must be a single-column frame of the historical keys
    * (typically `xxhash64(text)` values, deduped at write time).
    *
    * Scale shape: at 100 TB the history is the big side — write it BUCKETED
    * on the key ([[graft.Engine.writeBucketed]]) so each batch's anti join
    * co-locates against existing buckets without reshuffling history; the
    * batch side shuffles only itself. The intra-batch pass is the
    * partial-agg `min_by` ([[exactDedupAgg]]), not a window.
    */
  def incrementalDedup(batch: DataFrame, key: Column, tieBreak: Seq[Column],
      seenKeys: DataFrame): DataFrame = {
    require(seenKeys.columns.length == 1,
      s"seenKeys must have exactly one column, got ${seenKeys.columns.length}")
    val seen = seenKeys.select(col(seenKeys.columns.head).alias("__seen_k"))
    val fresh = batch.withColumn("__k", key)
      .join(seen, col("__k") === col("__seen_k"), "left_anti")
    exactDedupAgg(fresh, Seq(col("__k")), tieBreak).drop("__k")
  }

  /** Edit-distance near-dup pairs over SHORT strings (titles, entity
    * names, URLs): all unordered pairs of distinct values with
    * `levenshtein <= maxDist`. The fuzzy-match primitive for entity/record
    * dedup where token-set similarity is too coarse.
    *
    * Scale shape — two levers keep this off the n² cliff:
    *   - distinct-first: pairs are generated over DISTINCT strings, so a
    *     value repeated a million times costs one row, not 10^12 pairs;
    *   - complete length blocking: `|len(a)-len(b)| > maxDist` implies
    *     `levenshtein > maxDist`, so candidates come from an EQUI-join on
    *     length bands of width `maxDist+1` (the shorter side probes its own
    *     band and the next — any qualifying pair differs by < one band
    *     width, so the two bands cover every case exactly once). No
    *     cartesian, no theta join; the O(len²) DP runs only on candidates.
    *     CAVEAT: on a UNIFORM-length dictionary (fixed-width codes,
    *     generated names) one band holds everything and this is the n²
    *     cross join in disguise — use [[deletionNeighborhoodPairs]]
    *     there; its candidate set never depends on the length histogram.
    * Ordering anchor: (len, string) ascending pins each pair to one output
    * row. Returns (sa, sb, dist).
    */
  def editDistancePairs(df: DataFrame, str: Column, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val w = maxDist + 1
    val s = df.select(str.alias("s")).filter(col("s").isNotNull).distinct()
      .withColumn("len", length(col("s")))
      .withColumn("band", floor(col("len") / w).cast("long"))
    val a = s.select(col("s").alias("sa"), col("len").alias("la"),
      explode(array(col("band"), col("band") + 1)).alias("cband"))
    val b = s.select(col("s").alias("sb"), col("len").alias("lb"), col("band"))
    a.join(b, col("cband") === col("band") &&
        (col("la") < col("lb") || (col("la") === col("lb") && col("sa") < col("sb"))) &&
        col("lb") - col("la") <= maxDist &&
        levenshtein(col("sa"), col("sb")) <= maxDist)
      .select(col("sa"), col("sb"),
        levenshtein(col("sa"), col("sb")).cast("long").alias("dist"))
  }

  /** Jaro-Winkler fuzzy-match pairs under caller-supplied blocking — the
    * classic entity-resolution shape (Fellegi-Sunter style blocking +
    * scoring): all unordered pairs of distinct (block, string) values in
    * the SAME block with `jaro_winkler >= minSim`. Unlike
    * [[editDistancePairs]]' complete length blocking, a JW threshold
    * admits no sound algebraic blocking key, so the block column IS the
    * recall contract (pairs straddling blocks are unscored by design —
    * pick the key accordingly: phonetic code, brand, first token).
    *
    * Scale shape: distinct-first, then an EQUI-join on the block key —
    * candidate pairs never leave the block's partition, skewed hot blocks
    * are AQE's skew-join case. The scorer is a generated native expression
    * ([[graft.plans.TextExprs.JaroWinklerExpr]]) evaluated once per
    * candidate inside the joined stage. Ordering anchor `sa < sb` pins
    * each pair to one row. Returns (blk, sa, sb, sim).
    */
  def jaroWinklerPairs(df: DataFrame, str: Column, block: Column,
      minSim: Double): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, s"minSim must be in (0,1], got $minSim")
    val s = df.select(block.alias("blk"), str.alias("s"))
      .filter(col("s").isNotNull && col("blk").isNotNull).distinct()
    val a = s.select(col("blk"), col("s").alias("sa"))
    val b = s.select(col("blk").alias("__blkb"), col("s").alias("sb"))
    a.join(b, col("blk") === col("__blkb") && col("sa") < col("sb"))
      .withColumn("sim", graft.plans.TextExprs.jaroWinkler(col("sa"), col("sb")))
      .filter(col("sim") >= minSim)
      .select(col("blk"), col("sa"), col("sb"), col("sim"))
  }

  /** Connected components over an undirected near-dup pair graph
    * (`id_a`, `id_b` columns): returns (id, component_id) where
    * component_id = the minimum id reachable from `id`. This is the
    * transitive-closure step real fuzzy dedup needs — pairwise output
    * alone under-removes (a~b, b~c but a!~c must still collapse to one
    * survivor).
    *
    * Two-phase algorithm, tuned to the two graph shapes this engine
    * actually meets:
    *
    * Phase 1 — min-label propagation with pointer jumping. Near-dup
    * graphs are unions of small dense cliques (diameter 2-3 in practice)
    * and converge here in 2-3 cheap rounds (one edge join + one
    * partial-agg min per round). The phase ends ADAPTIVELY: while the
    * changed-label count collapses geometrically (halves per round) the
    * graph is a converging shallow blob and propagation is the cheapest
    * finisher; once the count stalls (a constant-size frontier walking a
    * deep structure — the O(diameter) signature) it switches to phase 2
    * rather than walk the front one hop per round. Hard cap 8 rounds.
    *
    * Phase 2 — if phase 1 did not converge (deep tree/chain structure:
    * pointer jumping stops doubling on trees because a node's label
    * chases the minimum of whatever side branch it currently points
    * into — measured 25 rounds on q349's depth-~30 purchase graph), the
    * graph is CONTRACTED by the current labels (all shallow regions
    * collapse to supernodes) and the remainder runs large-star/small-star
    * alternation (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): each round rewrites the EDGE set toward a star per
    * component, O(log² n) rounds worst case, a handful in practice —
    * star contraction moves whole neighborhoods up the tree instead of
    * labels down it, which is why it keeps its bound where jumping loses
    * it. Final labels compose: comp(id) = star(label(id)).
    *
    * Scale shape, phase 2 per half-round: one partial-agg min per node
    * (skew-safe) + one equi-join of edges against that per-node min (AQE
    * broadcasts the min table when small, splits skewed partitions when
    * not) + one edge dedup — all on 64-bit pairs, never a window over a
    * hub's neighborhood. Convergence = edge set checksum unchanged over
    * a full round (count + two independent XOR hash folds on freshly
    * checkpointed edges; one 1-row driver collect per round — bounded).
    *
    * `checkpointDir`: per-round state is localCheckpoint'ed by default
    * (executor-local — lost on executor death at cluster scale); pass a
    * cluster-visible dir for reliable checkpointing on long 100 TB runs
    * (see [[Iterative.truncate]] for the trade).
    */
  def nearDupComponents(pairs: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None,
      maxLocalEdges: Long = 4L << 20): DataFrame = {
    val labelRoundsCap = 8
    // pre-partitioned by the label-join key before caching: the cached
    // relation keeps its outputPartitioning, so each phase-1 round's join
    // reads edges exchange-free (only the label table re-shuffles)
    // null endpoints dropped up front: the label-propagation joins would
    // never match them (equi-join semantics) and the driver union-find
    // keys on getLong — both tiers must see the same edge set.
    // symmetrized in ONE scan (Relational.bothDirections): the union form
    // instantiated the caller's pair plan twice, and the pair generator is
    // typically the query's most expensive stage (measured on q51: the
    // 819k-row shingle explode+shuffle ran 2x per materialization)
    val edges = Relational.bothDirections(
        pairs
          .filter(col("id_a").isNotNull && col("id_b").isNotNull)
          .select(col("id_a").alias("src"), col("id_b").alias("dst")),
        "src", "dst")
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the whole iteration runs under try/finally: starComponents can throw
    // its non-convergence require, and the cached symmetric edge list must
    // not leak into the rest of the session on that path
    try {
    // Step-0 hybrid (the bfsDistances move): when the WHOLE input fits —
    // a quarter of maxLocalEdges, since this collect carries raw pairs
    // where the post-contraction one carries an already-collapsed
    // quotient — skip label propagation entirely and run the driver
    // union-find on the persisted symmetric edges. The count both gates
    // and materializes the cache the distributed rounds would have
    // materialized anyway; at sf0.1 this turns 2 label rounds + a
    // contraction + the quotient collect (~2.8 s) into one collect
    // (~0.3 s). Long ids only (the union-find keys on getLong — same
    // assumption the quotient finish already makes); other id types and
    // corpus-scale inputs take the distributed phases unchanged — and,
    // via Graph.plausiblyDriverSized's free leaf pre-check, never pay a
    // gate count at all (the first label round materializes the cache
    // instead). The budget is heap-aware (Graph.driverRowBudget): the
    // collected rows are boxed, so the bound self-lowers on small
    // drivers.
    // pre-check on the RAW caller frame: `edges` is persisted, and an
    // InMemoryRelation's pre-materialization stats are the child plan's
    // join-inflated root estimate (measured: q349's MB-scale pair frame
    // reported huge, disabling the hybrid) — `pairs`' leaves are real
    // file/relation sizes.
    val compBudget = Graph.driverRowBudget(maxLocalEdges / 2)
    if (edges.schema.head.dataType ==
          org.apache.spark.sql.types.LongType &&
        Graph.plausiblyDriverSized(pairs, compBudget) &&
        edges.count() <= compBudget) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      edges.collect().foreach { r =>
        val (ru, rv) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ru != rv) {
          // union by min: the smaller root stays root, so every root IS
          // its tree's minimum id at all times
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      import scala.jdk.CollectionConverters._
      val ids = new java.util.HashSet[Long]()
      parent.keySet().asScala.foreach(ids.add)
      edges.select(col("src")).distinct().collect()
        .foreach(r => ids.add(r.getLong(0)))
      val mapping = ids.asScala.toSeq.map(x => (x, find(x)))
      return pairs.sparkSession.createDataFrame(mapping)
        .toDF("id", "component_id")
    }
    // Each round's result is eagerly checkpointed: an iterative
    // dataflow MUST truncate lineage per round, or the logical plan doubles
    // every iteration (persist alone short-circuits execution but not plan
    // analysis/stringification — exponential plan trees OOM the driver).
    var labels = Iterative.truncate(
      edges.select(col("src").alias("id")).distinct()
        .withColumn("comp", col("id")),
      checkpointDir)
    var it = 0
    var roundT0 = System.nanoTime()
    var converged = edges.isEmpty
    var prevChanged = Long.MaxValue
    var stalled = false
    while (!converged && !stalled && it < labelRoundsCap) {
      // propagate each node's label to its neighbors, keep the minimum;
      // also adopt the label OF the current label (pointer jumping —
      // comp(comp(id)), always defined since labels are node ids).
      val prop = edges
        .join(labels.withColumnRenamed("id", "dst_id"), col("dst") === col("dst_id"))
        .select(col("src").alias("id"), col("comp"),
          lit(false).alias("own"))
      val withNeighbors = labels.select(col("id"), col("comp"),
        lit(true).alias("own")).union(prop)
      val candidates =
        if (it < 2) withNeighbors
        else withNeighbors.union(
          labels.alias("x")
            .join(labels.alias("y"), col("x.comp") === col("y.id"))
            .select(col("x.id").alias("id"), col("y.comp").alias("comp"),
              lit(false).alias("own")))
      // the node's OLD label rides through the same aggregate (each id has
      // exactly one own=true row), so convergence/stall detection is one
      // count over the freshly checkpointed blocks instead of a join per
      // iteration
      val next = Iterative.truncate(
        candidates.groupBy(col("id")).agg(min(col("comp")).alias("comp"),
          max(when(col("own"), col("comp"))).alias("old")),
        checkpointDir)
      val changed = next.filter(col("comp") =!= col("old")).count()
      System.err.println(f"[components] label round=$it changed=$changed t=${(System.nanoTime() - roundT0) / 1e9}%.2fs")
      roundT0 = System.nanoTime()
      converged = changed == 0L
      // stall rule: a shallow blob's change count at least halves per
      // round; a count that doesn't is a frontier walking a deep
      // structure — hand it to the contraction finish. Checked from
      // round 1 (not 2): with the hybrid local finish an early handoff
      // costs one bounded collect, while a wasted propagation round
      // costs two jobs — the asymmetric price favors leaving early
      stalled = !converged && it >= 1 && changed * 2 >= prevChanged
      prevChanged = changed
      labels = next.select(col("id"), col("comp"))
      it += 1
    }
    val out =
      if (converged) labels
      else {
        // contract by current labels and finish with star alternation on
        // the (much smaller) quotient graph; supernode ids are label
        // values = original node ids, so the star minimum IS the true
        // component minimum
        val la = labels.select(col("id").alias("src"), col("comp").alias("ca"))
        val lb = labels.select(col("id").alias("dst"), col("comp").alias("cb"))
        val contracted = Iterative.truncate(
          edges.join(la, Seq("src")).join(lb, Seq("dst"))
            .filter(col("ca") =!= col("cb"))
            .select(greatest(col("ca"), col("cb")).alias("u"),
              least(col("ca"), col("cb")).alias("v"))
            .distinct(), checkpointDir)
        val m = contracted.count()
        // Hybrid finish — the standard iterate-until-it-fits pattern: the
        // label phase has already collapsed every shallow region, so the
        // quotient is typically orders of magnitude smaller than the
        // input. Below `maxLocalEdges` (default 4M edges = ~64 MB of
        // longs, one bounded collect) a driver union-find finishes in
        // milliseconds what star alternation spends 6-12 shuffle stages
        // per round on; above it, the distributed star path keeps the
        // O(log² n) bound. Same fixed point either way: comp = component
        // minimum, exact.
        val starred =
          if (m <= maxLocalEdges) {
            val parent = new java.util.HashMap[Long, Long]()
            def find(x0: Long): Long = {
              var x = x0
              var p = parent.getOrDefault(x, x)
              while (p != x) { // path halving
                val gp = parent.getOrDefault(p, p)
                parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
              }
              x
            }
            contracted.collect().foreach { r =>
              val (ru, rv) = (find(r.getLong(0)), find(r.getLong(1)))
              // union by min: the smaller root stays root, so every
              // root IS its tree's minimum id at all times
              if (ru != rv) {
                if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
              }
            }
            import scala.jdk.CollectionConverters._
            // non-roots only: roots (comp minima) fall through the caller's
            // coalesce, exactly like the star path's fixed point
            val mapping = parent.keySet().asScala.toSeq.map(x => (x, find(x)))
            contracted.sparkSession.createDataFrame(mapping)
              .toDF("id", "component_id")
          } else starComponents(contracted, maxIter - it, checkpointDir)
        labels.join(starred.withColumnRenamed("id", "comp"), Seq("comp"), "left")
          .select(col("id"),
            coalesce(col("component_id"), col("comp")).alias("comp"))
      }
    // checkpointed (materialized, lineage-free) state — the caller's
    // action reads the checkpoint blocks (plus at most one compose join)
    out.select(col("id"), col("comp").alias("component_id"))
    } finally { edges.unpersist(); () }
  }

  /** Large-star/small-star alternation over an oriented, deduped edge
    * list (u > v): returns (id, component_id = component minimum) for
    * every node incident to an edge. See [[nearDupComponents]] phase 2
    * for the cost model and why this beats label propagation on deep
    * graphs.
    */
  private def starComponents(oriented: DataFrame, maxIter: Int,
      checkpointDir: Option[String]): DataFrame = {
    var edges = Iterative.truncate(oriented, checkpointDir)
    // set checksum (edges are distinct'd): count + XOR of two independent
    // 64-bit hashes — order-independent and overflow-free under ANSI mode
    // (sum would throw ARITHMETIC_OVERFLOW on long hash sums)
    def checksum(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))"), expr("bit_xor(xxhash64(v, u, 7L))"))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var prev = checksum(edges)
    var it = 0
    var starT0 = System.nanoTime()
    var converged = prev._1 == 0L
    // one large-star + small-star alternation over an oriented edge list
    def starPass(in: DataFrame): DataFrame = {
      // large-star: for each center c of the SYMMETRIC graph with
      // m = min(neighbors ∪ {c}), re-attach every larger neighbor x > c
      // to m. Output stays oriented (x > c >= m). No dedup here:
      // duplicates ((x,m) via two centers sharing m) are bounded within
      // the round (|ls| <= 2|E|) and the small-star output dedups.
      val sym = in.select(col("u"), col("v"))
        .union(in.select(col("v").alias("u"), col("u").alias("v"))) // u = center
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).alias("mv"))
      val ls = sym.join(lsMin, Seq("u"))
        .select(col("v").alias("x"), col("u").alias("c"),
          least(col("mv"), col("u")).alias("m"))
        .filter(col("x") > col("c"))
        .select(col("x").alias("u"), col("m").alias("v"))
      // small-star: edges already oriented u > v; for each u with
      // m = min of its smaller neighbors, attach u and every other
      // smaller neighbor to m.
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).alias("m"))
      val withM = ls.join(ssMin, Seq("u"))
      withM.filter(col("v") =!= col("m"))
        .select(col("v").alias("u"), col("m").alias("v"))
        .union(ssMin.select(col("u"), col("m").alias("v")))
        .distinct()
    }
    while (!converged) {
      require(it < maxIter,
        s"starComponents did not converge in $maxIter rounds — " +
          "raise maxIter (star alternation needs O(log^2 n) rounds worst " +
          "case, single digits in practice)")
      // TWO alternations per materialize+checksum: the loop is round-
      // dominated (each round costs one truncate job + one checksum job
      // over a shrinking edge list), and the fixed point is stable under
      // extra passes, so doubling the per-round contraction halves the
      // ONE starPass per materialize. The bfs/dag batching pattern does
      // NOT transfer here and was reverted after measurement: a starPass
      // is itself ~4 shuffle stages (two groupBy mins + joins), so an
      // un-materialized inner pass re-executes those shuffles inside the
      // outer pass's job — unlike the narrow hop/relax steps the pattern
      // was built for, the recompute costs more than the driver round it
      // saves (chain scale series: single-pass 10.3 s vs doubled 14.5 s
      // at 12.5k nodes, same answers).
      edges = Iterative.truncate(starPass(edges), checkpointDir)
      val cur = checksum(edges)
      System.err.println(f"[components] star round=$it edges=${cur._1} t=${(System.nanoTime() - starT0) / 1e9}%.2fs")
      starT0 = System.nanoTime()
      converged = cur == prev
      prev = cur
      it += 1
    }
    // fixed point: every non-root points at its component root (= the
    // component minimum — each star op only ever attaches to a smaller
    // id reachable in the component, and a star is stable only when its
    // center is the minimum); roots have no outgoing oriented edge.
    edges.select(col("u").alias("id"), col("v").alias("component_id"))
      .union(edges.select(col("v").alias("id"), col("v").alias("component_id"))
        .distinct())
  }

  /** Random-hyperplane (sign) LSH bucket keys for embedding vectors:
    * element t of the array is table t's bucket — `planes` sign bits from
    * deterministic splitmix-derived hyperplanes (no RNG state, reproducible
    * across runs and executors; collision prob per bit = 1 - angle/pi).
    * Native expression — see [[graft.plans.VectorExprs.SignLshBuckets]].
    */
  def embeddingLshBuckets(vec: Column, dims: Int, planes: Int, tables: Int): Column =
    VectorExprs.signLshBuckets(vec, dims, planes, tables)

  /** Embedding near-dup pairs via sign-LSH candidates + exact cosine
    * verification. Approximate recall (tunable via planes/tables); linear
    * shuffle volume — the 100 TB path.
    */
  def embeddingLshPairs(
      df: DataFrame,
      id: Column,
      vec: Column,
      dims: Int,
      threshold: Double,
      planes: Int = 12,
      tables: Int = 6
  ): DataFrame = {
    val e = df.select(id.alias("id"), vec.alias("v"))
    val bucketed = e
      .select(col("id"), col("v"),
        posexplode(embeddingLshBuckets(col("v"), dims, planes, tables)).as(Seq("table", "bucket")))
    val a = bucketed.alias("a"); val b = bucketed.alias("b")
    a.join(b, col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").alias("id_a"), col("b.id").alias("id_b"), VectorExprs.cosine(col("a.v"), col("b.v")).alias("cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
  }

  /** Pick each near-dup component's representative by BEST SCORE (ties to
    * the smaller id) instead of [[graft.operators.Pipeline.cleanCorpus]]'s
    * min-id rule — the "keep the longest / highest-quality copy" policy
    * real cleaning pipelines want (the truncated or boilerplate-wrapped
    * variant of a page should lose to the complete one regardless of which
    * crawled first).
    *
    * `comps` is [[nearDupComponents]] output (id, component_id); `scores`
    * is (id, score). Returns (id, component_id, rep_id, kept) for every
    * doc appearing in `comps` — singletons never enter the pair graph and
    * are implicitly kept by the caller.
    *
    * Scale shape: one narrow id join plus a partial-aggregating max of a
    * (score, -id) struct per component — the shuffle carries one struct
    * per component per partition, no window over the corpus.
    */
  def componentRepresentatives(comps: DataFrame, scores: DataFrame): DataFrame = {
    val joined = comps.join(scores.select(col("id"), col("score")), "id")
    val reps = joined
      .groupBy(col("component_id"))
      .agg(max(struct(col("score"), (lit(0L) - col("id")).alias("nid"))).alias("m"))
      .select(col("component_id"), (lit(0L) - col("m.nid")).alias("rep_id"))
    joined.join(reps, "component_id")
      .select(col("id"), col("component_id"), col("rep_id"),
        (col("id") === col("rep_id")).alias("kept"))
  }

  /** Leakage-safe train/eval split: assign documents to splits BY NEAR-DUP
    * COMPONENT, not by document — the classic eval-contamination bug is a
    * near-duplicate of a training doc landing in the test set, which a
    * per-doc random split does in proportion to the corpus's dup rate.
    * Hashing the component label sends every member of a near-dup cluster
    * to the same side.
    *
    * `comps` is [[nearDupComponents]] output; docs absent from it (never
    * in any pair) are their own singleton component. The hash is the
    * multiplicative-Knuth rule from
    * [[graft.operators.Corpus.deterministicShuffle]] — rerun-, engine- and
    * layout-independent, so the split is reproducible forever from ids
    * alone. trainPermille of 800 ≈ 80/20.
    *
    * Returns (id, component_id, split) with split in {"train", "eval"}.
    * One left join against the (small) component map plus a narrow hash —
    * no extra shuffle beyond the component computation itself.
    */
  def componentSplit(df: DataFrame, id: Column, comps: DataFrame,
      trainPermille: Int = 800, salt: Long = 0L): DataFrame = {
    require(trainPermille >= 0 && trainPermille <= 1000,
      s"trainPermille must be in [0,1000], got $trainPermille")
    val base = df.select(id.alias("id"))
    val labeled = base.join(comps, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component_id"), col("id")).alias("component_id"))
    val h = pmod(col("component_id").cast("long") * lit(2654435761L) + lit(salt),
      lit(4294967296L))
    labeled.select(col("id"), col("component_id"),
      when(h * 1000L < lit(trainPermille) * lit(4294967296L), lit("train"))
        .otherwise(lit("eval")).alias("split"))
  }

  /** Reusable MinHash-LSH index over a corpus: per doc, its shingle-hash
    * set and its band bucket keys — the state an ingestion pipeline
    * persists between batches (write it bucketed on `id`, or explode and
    * write bucketed on `bucket`, via [[graft.Engine.writeBucketed]]) so
    * history is NEVER re-shingled at ingest time.
    */
  def lshIndex(df: DataFrame, id: Column, text: Column, ngram: Int = 3,
      k: Int = 128, bands: Int = 32): DataFrame =
    df.select(id.alias("id"), TextFns.shingleHashes(text, ngram).alias("sh"))
      .withColumn("bands", minhashBandBuckets(col("sh"), k, bands))

  /** Incremental NEAR-dup ingestion: drop batch docs that near-duplicate
    * (exact Jaccard >= threshold, LSH-generated candidates) either any
    * indexed history doc or a smaller-id doc within the batch — the
    * MinHash sibling of [[incrementalDedup]]'s exact-key check, with
    * [[minhashLshPairs]]'s candidate discipline. Single-pass keep-first
    * semantics as in [[semanticDedup]]: domination by ANY smaller id
    * counts, even if that doc was itself dropped.
    *
    * `index` is [[lshIndex]]'s output for the history corpus (same ngram /
    * k / bands — the minhash seeds are deterministic, so an index written
    * months ago still joins correctly).
    *
    * Scale shape: only the batch is shingled at ingest; candidate
    * generation is equi-joins on (band, bucket) — batch x history and
    * batch x batch — so shuffle volume is proportional to the BATCH, not
    * history (history band rows stream through the join pre-bucketed when
    * the index was written bucketed). `maxBucket` caps degenerate history
    * buckets exactly as in [[minhashLshPairs]].
    *
    * Returns every batch id with (id, kept, dup_of); dup_of is the
    * smallest dominating id across history and batch (null iff kept).
    */
  def incrementalLshDedup(batch: DataFrame, id: Column, text: Column,
      index: DataFrame, ngram: Int = 3, k: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucket: Int = 2000): DataFrame = {
    val b = batch
      .select(id.alias("id"), TextFns.shingleHashes(text, ngram).alias("sh"))
      .withColumn("bands", minhashBandBuckets(col("sh"), k, bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val explodeBands = (d: DataFrame) => d
      .select(col("id"), col("sh"), posexplode(col("bands")).as(Seq("band", "bucket")))
      .select(col("id"), col("band"), col("bucket"))
    val hBand = {
      val e = explodeBands(index)
      val sizes = e.groupBy("band", "bucket").count()
      e.join(sizes.filter(col("count") <= maxBucket), Seq("band", "bucket"))
        .select("id", "band", "bucket")
    }
    val bBand = explodeBands(b)

    val hb = bBand.alias("b")
      .join(hBand.alias("h"),
        col("b.band") === col("h.band") && col("b.bucket") === col("h.bucket"))
      .select(col("b.id").alias("id_b"), col("h.id").alias("id_a"))
      .distinct()
    val bb = bBand.alias("x")
      .join(bBand.alias("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").alias("id_a"), col("y.id").alias("id_b"))
      .distinct()

    val verify = (cands: DataFrame, aSide: DataFrame) =>
      verifyJaccard(
        cands.select(col("id_a"), col("id_b")),
        // verifyJaccard joins both ids against one doc frame
        aSide, threshold)
    val histDocs = index.select(col("id"), col("sh"))
      .union(b.select(col("id"), col("sh")))
    val hbHits = verify(hb, histDocs).select(col("id_b").alias("id"), col("id_a"))
    val bbHits = verify(bb, b.select(col("id"), col("sh")))
      .select(col("id_b").alias("id"), col("id_a"))
    val dominated = hbHits.union(bbHits)
      .groupBy(col("id")).agg(min(col("id_a")).alias("dup_of"))
    b.select(col("id"))
      .join(dominated, Seq("id"), "left_outer")
      .select(col("id"), col("dup_of").isNull.alias("kept"), col("dup_of"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): partition
    * the embedding space with k-means cells, then prune near-duplicates by
    * exact pairwise cosine WITHIN each cell only. A vector is dropped iff
    * some LOWER-id vector in the same cell has cosine >= threshold with it
    * (one deterministic pass — NOT the iterated "similar to a kept doc"
    * rule, so a chain a~b~c with a!~c drops both b and c; documented
    * divergence, same keep-first spirit as [[exactDedupAgg]]).
    *
    * `centroids` is a (cid, cv) frame — typically
    * [[Similarity.kmeansFit]]'s output, or any deterministic seeding for
    * replayable runs.
    *
    * Scale shape: the cell assignment broadcasts k centroids and never
    * shuffles the corpus ([[Similarity.assignToCentroids]]); the pairwise
    * stage shuffles once on cid and is quadratic only in CELL size — with
    * k ~ sqrt(n) cells the total compare count is ~n^1.5 instead of n^2,
    * and growing k holds cell size constant as the corpus grows. The
    * `maxCell` guard makes a degenerate clustering (one giant cell) loud
    * instead of silently quadratic.
    *
    * Returns every input id with its cell and verdict:
    * (id, cid, kept, dup_of) where dup_of is the smallest dominating id
    * (null iff kept).
    */
  def semanticDedup(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, threshold: Double,
      maxCell: Long = 1L << 20): DataFrame =
    semanticDedupReleasable(df, id, vec, centroids, threshold, maxCell)._1

  /** As [[semanticDedup]], additionally returning the persisted (id, v,
    * cid) assignment frame for caller-controlled release (the
    * [[minhashLshPairsReleasable]] contract). Persisted because the
    * assignment — a broadcast nearest-centroid argmin over the corpus — is
    * referenced three times (guard count, both sides of the pairwise join).
    * The `maxCell` guard runs one cheap count over the persisted
    * assignment BEFORE the quadratic stage can start.
    */
  def semanticDedupReleasable(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, threshold: Double,
      maxCell: Long = 1L << 20): (DataFrame, DataFrame) = {
    val corpus = df.select(id.alias("id"), vec.alias("v"))
    val assigned = corpus
      .join(Similarity.assignToCentroids(corpus, centroids).select(col("id"), col("cid")), "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val guard = assigned.groupBy(col("cid")).agg(count(lit(1)).alias("n"))
      .agg(max(col("n")).alias("mx")).collect()
    val biggest = if (guard.isEmpty || guard(0).isNullAt(0)) 0L else guard(0).getLong(0)
    require(biggest <= maxCell,
      s"semanticDedup: largest cell has $biggest vectors (> maxCell=$maxCell); " +
        s"pairwise cost within that cell is quadratic. Refit k-means with more " +
        s"cells, or raise maxCell deliberately.")
    val a = assigned.alias("a"); val b = assigned.alias("b")
    val cos = VectorExprs.cosine(col("a.v"), col("b.v"))
    // threshold inside the join condition, as in embeddingCosinePairs
    val dominated = a
      .join(b, col("a.cid") === col("b.cid") && col("a.id") < col("b.id") && cos >= threshold)
      .groupBy(col("b.id").alias("id"))
      .agg(min(col("a.id")).alias("dup_of"))
    val out = assigned.select(col("id"), col("cid"))
      .join(dominated, Seq("id"), "left_outer")
      .select(col("id"), col("cid"), col("dup_of").isNull.alias("kept"), col("dup_of"))
    (out, assigned)
  }

  /** Exact duplicated-substring spans — the token-level sibling of document
    * dedup (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": repeated substrings above a length floor are memorization
    * fuel even when the DOCUMENTS differ). Instead of their suffix array
    * (single-machine construction), the distributed formulation: every
    * k-token window is a position-stamped shingle; a shingle occurring more
    * than once ANYWHERE in the corpus marks all its positions duplicated;
    * per document, overlapping/adjacent duplicated windows merge into
    * maximal spans (gaps-and-islands over a PER-DOCUMENT window — never a
    * global sort). A maximal span of length L means an exact L-token
    * substring that appears at least twice in the corpus.
    *
    * Returns one row per span: (id, span_start, span_end, span_tokens)
    * with 1-based token positions, end exclusive.
    *
    * Scale shape: one partial-aggregated groupBy over shingles for the
    * duplicate set, one semi join back to positions (both hash on the
    * shingle — the exchange is shared), then per-doc windows. With
    * `hashShingles = true` the shuffle key is xxhash64 of the shingle text
    * (8 bytes instead of ~k words — the 100 TB default; a 64-bit collision
    * falsely marks one window duplicated, acceptable for corpus hygiene).
    * The exact-text key is the oracle-replayable instrument.
    */
  def dupSubstrSpans(df: DataFrame, id: Column, terms: Column, k: Int,
      hashShingles: Boolean = false): DataFrame = {
    require(k >= 2, s"window width k must be >= 2, got $k")
    val base = Relational.spread(df).select(id.alias("id"), terms.alias("toks"))
      .withColumn("n_tokens", size(col("toks")))
    val pos = base.filter(col("n_tokens") >= k)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(1, n_tokens - $k + 1), " +
          s"i -> concat_ws(' ', slice(toks, i, $k)))")))
      .select(col("id"), (col("pos") + 1).cast("long").alias("i"),
        (if (hashShingles) xxhash64(col("col")) else col("col")).alias("sh"))
    val dupsh = pos.groupBy(col("sh")).agg(count(lit(1)).alias("c"))
      .filter(col("c") > 1).select(col("sh"))
    val dp = pos.join(dupsh, Seq("sh"), "left_semi").select(col("id"), col("i"))
    val w = Window.partitionBy(col("id")).orderBy(col("i"))
    // same-width intervals sorted by start: a new island begins when the
    // gap to the previous start exceeds k (end = start + k, so gap > k
    // means the windows neither overlap nor touch)
    dp.withColumn("brk",
        when(lag(col("i"), 1).over(w).isNull ||
          col("i") - lag(col("i"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("id"), col("island"))
      .agg(min(col("i")).alias("span_start"),
        (max(col("i")) + k).alias("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).alias("span_tokens"))
  }

  /** Per-document rollup of [[dupSubstrSpans]], reported over EVERY
    * non-empty document (zero rows for clean docs — the frame downstream
    * filters consume): span count, duplicated token total, longest span,
    * and integer parts-per-million duplicated ratio. The removal policy
    * (drop spans, drop docs over a ppm threshold) stays with the caller —
    * this is the measurement.
    */
  def dupSubstrStats(df: DataFrame, id: Column, terms: Column,
      k: Int, hashShingles: Boolean = false): DataFrame = {
    val base = df.select(id.alias("id"), terms.alias("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .select(col("id"), col("n_tokens"))
    val agg = dupSubstrSpans(df, id, terms, k, hashShingles)
      .groupBy(col("id"))
      .agg(count(lit(1)).alias("n_spans"),
        sum(col("span_tokens")).alias("dup_tokens"),
        max(col("span_tokens")).cast("long").alias("longest_span"))
    base.join(agg, Seq("id"), "left_outer")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).alias("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).alias("dup_tokens"),
        coalesce(col("longest_span"), lit(0L)).alias("longest_span"))
      .withColumn("dup_ppm", expr("dup_tokens * 1000000L DIV n_tokens"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo): rank the
    * corpus by a LONG sort key (fingerprint, SimHash value, normalized-key
    * hash — anything that places near-duplicates nearby in its order) and
    * emit every pair within a sliding window of `w` consecutive ranks.
    * Candidate volume is exactly `(w-1) * n - (w-1)w/2` — linear in the
    * corpus where blocking keys can go quadratic inside hot blocks.
    *
    * Returns (id_a, id_b, key_a, key_b, d) with `d` = rank distance in
    * [1, w-1], id_a at the lower rank; total order (key, id) makes ranks —
    * and therefore the pair set — engine- and layout-independent.
    *
    * Scale shape: the global rank is two-level, the [[graft.operators.Corpus.packSequences]]
    * pattern — rows bucket by the key's top bits (monotone in the signed
    * order, so bucket boundaries respect it), rank locally per bucket, and
    * add per-bucket offsets from a bucket-count frame that is `buckets`
    * rows tiny (its window is single-partition over that tiny frame only —
    * never over the corpus). Pair generation explodes each row into its
    * `w-1` forward rank targets and equi-joins rank = target: one narrow
    * shuffle, no range join, no cross product. Keys are uniformly spread
    * for hash-shaped sort keys; a skewed key family would need
    * quantile-based bucket bounds instead (documented tradeoff).
    */
  def sortedNeighborhoodPairs(df: DataFrame, id: Column, sortKey: Column,
      w: Int, buckets: Int = 1024): DataFrame = {
    require(w >= 2, s"window must be >= 2, got $w")
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    val shift = 64 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val base = df.select(id.cast("long").alias("id"), sortKey.cast("long").alias("k"))
      // arithmetic shift is monotone in the signed order; +buckets/2 maps
      // the signed range onto [0, buckets)
      .withColumn("bkt", shiftright(col("k"), shift) + lit(buckets / 2))
    val partials = base.groupBy(col("bkt")).agg(count(lit(1)).alias("bn"))
    val wOff = Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials
      .withColumn("boff", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bkt"), col("boff"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("k"), col("id"))
    val ranked = base.join(broadcast(offsets), "bkt")
      .withColumn("rank", col("boff") + row_number().over(wIn).cast("long"))
      .select(col("id"), col("k"), col("rank"))
    val probes = ranked
      .withColumn("d", explode(sequence(lit(1), lit(w - 1))))
      .withColumn("target", col("rank") + col("d"))
    probes.alias("a")
      .join(ranked.alias("b"), col("a.target") === col("b.rank"))
      .select(col("a.id").alias("id_a"), col("b.id").alias("id_b"),
        col("a.k").alias("key_a"), col("b.k").alias("key_b"),
        col("a.d").cast("long").alias("d"))
  }

  /** Front half of [[ppJoinPairs]] (rank-encode, identical-set grouping,
    * prefix index, length-filtered candidate join), carried as named
    * frames so [[ppJoinVerify]] reads each stage by name.
    */
  private case class PpJoinStage(sets: DataFrame, groups: DataFrame,
      members: DataFrame, cand: DataFrame)

  /** EXACT set-similarity join above a Jaccard threshold via prefix
    * filtering (Chaudhuri et al. SSJoin / Bayardo et al. All-Pairs — the
    * PPJoin candidate rule): where MinHash+LSH ([[minhashLshPairs]]) trades
    * recall for speed, this finds EVERY pair with token-set Jaccard >=
    * tPpm/1e6 and nothing else — no false negatives to tune away.
    *
    * The filter: order every doc's tokens by a single global canonical
    * rarity order (ascending corpus frequency, token string tie-break) and
    * keep only each doc's first `|d| - ceil(t*|d|) + 1` tokens (the
    * PREFIX). Two docs with Jaccard >= t MUST share a prefix token — if
    * all shared tokens sat past both prefixes, the intersection would be
    * too small by a counting argument — so the inverted-index equi-join on
    * prefix tokens is a complete candidate generator. Rare-first ordering
    * makes prefixes selective: the frequent tokens that would blow up the
    * index land at the END of each doc and never enter it.
    *
    * Verification is the exact integer test
    * `inter * 1e6 >= tPpm * union` on the candidate pairs only. Returns
    * (id_a, id_b, inter, jac_ppm) with id_a < id_b, floor-division ppm.
    *
    * Scale shape: the vocabulary rank is one window over the VOCAB-sized
    * frequency table (bounded state, the BPE-vocab argument — at true
    * web scale swap in the two-level rank); per-doc prefix selection is a
    * doc-partitioned window; candidates flow through one token-keyed
    * equi-join carrying ids only; the token arrays move ONCE, in the
    * verification join by id. Prefix length shrinks as t grows — at
    * t=0.8 a 100-token doc indexes 21 tokens, not 100.
    */
  def ppJoinPairs(df: DataFrame, id: Column, tokens: Column,
      tPpm: Long): DataFrame = {
    val st = ppJoinStage(df, id, tokens, tPpm)
    ppJoinVerify(st, tPpm)
  }

  private def ppJoinStage(df: DataFrame, id: Column, tokens: Column,
      tPpm: Long): PpJoinStage = {
    require(tPpm > 0 && tPpm <= 1000000L, s"tPpm must be in (0, 1e6], got $tPpm")
    val d = Relational.spread(df).select(id.cast("long").alias("id"),
        array_distinct(tokens).alias("tk"))
      .withColumn("sz", size(col("tk")).cast("long"))
      .filter(col("sz") > 0)
    val freq = d.select(explode(col("tk")).alias("token"))
      .groupBy("token").agg(count(lit(1)).alias("tf"))
    // Global rarity rank WITHOUT a vocab-sized single-partition window
    // (web-scale vocabularies run to 1e9 tokens): range-partition the
    // (tf, token) order, row_number within each partition in parallel,
    // and add broadcast per-partition offsets — the two-level rank. The
    // offsets window is partition-count-sized (bounded state); ranks are
    // boundary-placement-independent because (tf, token) is unique per
    // row, so the total order is the same wherever the sampler cuts.
    val ranked = {
      val parts = freq.repartitionByRange(64, col("tf"), col("token"))
        .withColumn("pid", spark_partition_id())
      val wOff = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = parts.groupBy(col("pid")).agg(count(lit(1)).alias("pn"))
        .withColumn("poff", coalesce(sum(col("pn")).over(wOff), lit(0L)))
        .select(col("pid"), col("poff"))
      val wIn = Window.partitionBy(col("pid")).orderBy(col("tf"), col("token"))
      parts.join(broadcast(offsets), "pid")
        .withColumn("rk", (col("poff") + row_number().over(wIn)).cast("long"))
        .select(col("token"), col("rk"))
    }
    // ---- dictionary-encode docs to sorted integer rank arrays ----------
    // Ascending rk == rarity order (rk 1 is the rarest token), so a doc's
    // PREFIX is simply the first p elements of its sorted rank array —
    // and every downstream comparison is integer work, never string work.
    // persisted: the encode chain (explode → rank join → per-doc fold) is
    // the corpus-sized work, and everything below — groups, members, the
    // vocab scalar — would otherwise recompute it per consumer (measured:
    // the un-persisted DAG cost ~4x the data pass on the scale corpus)
    val sets = d.select(col("id"), explode(col("tk")).alias("token"))
      .join(ranked.select(col("token"), col("rk")), Seq("token"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("rk"))).alias("rks"))
      .withColumn("sz", size(col("rks")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ---- collapse IDENTICAL token sets into one representative --------
    // Web-scale corpora are full of exact duplicates; every candidate,
    // verification, and intersection below runs ONCE per distinct set,
    // and doc pairs are re-expanded at the end (within-group pairs are
    // Jaccard 1 by construction — no verification needed at all).
    val groups = sets.groupBy(col("rks"), col("sz"))
      .agg(min(col("id")).alias("gid"), count(lit(1)).alias("gn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = sets.join(groups.select(col("rks"), col("gid")), Seq("rks"))
      .select(col("gid"), col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ---- prefix index + candidate generation with the LENGTH filter ---
    // Jaccard >= t forces t·|y| <= |x| <= |y|/t: pairs outside the size
    // band die in the join condition, before the verification shuffle.
    val pref = groups.select(col("gid"), col("sz"),
      explode(slice(col("rks"), lit(1),
        (col("sz") - expr(s"(${tPpm}L * sz + 999999L) DIV 1000000L") + 1L)
          .cast("int"))).alias("rk"))
    val cand = pref.alias("x").join(pref.alias("y"),
        col("x.rk") === col("y.rk") && col("x.gid") < col("y.gid") &&
          col("x.sz") * 1000000L >= lit(tPpm) * col("y.sz") &&
          col("y.sz") * 1000000L >= lit(tPpm) * col("x.sz"))
      .select(col("x.gid").alias("ga"), col("y.gid").alias("gb"))
      .distinct()
    PpJoinStage(sets, groups, members, cand)
  }

  private def ppJoinVerify(st: PpJoinStage, tPpm: Long): DataFrame = {
    val PpJoinStage(sets, groups, members, cand) = st
    // ---- verification -------------------------------------------------
    // Small vocabularies (dictionary-encoded categorical corpora, sharded
    // dedup of templated text) get the bitmask fast path: the whole token
    // set packs into <= 4 longs and the intersection is a handful of
    // AND+popcounts inside codegen. Large vocabularies verify by integer
    // array_intersect — already far cheaper than the string intersect.
    // The vocab size is ONE bounded driver scalar (the BPE-vocab
    // argument), not a vocab transfer.
    val vocab = sets.agg(coalesce(max(expr("array_max(rks)")), lit(0L)))
      .collect()(0).getLong(0)
    val gsets = groups.select(col("gid"), col("rks"), col("sz"))
    val verified =
      if (vocab <= 256) {
        val w = ((vocab + 63) / 64).toInt
        val packed = gsets.withColumn("words", expr(
          s"""transform(sequence(0, ${w - 1}), w ->
                aggregate(filter(rks, r -> CAST((r - 1) DIV 64 AS INT) = w),
                  0L, (acc, r) -> acc + shiftleft(1L, CAST((r - 1) % 64 AS INT))))"""))
          .select(col("gid"), col("sz"), col("words"))
        cand
          .join(packed.select(col("gid").alias("ga"), col("words").alias("wa"),
            col("sz").alias("sza")), Seq("ga"))
          .join(packed.select(col("gid").alias("gb"), col("words").alias("wb"),
            col("sz").alias("szb")), Seq("gb"))
          .withColumn("inter", expr(
            "CAST(aggregate(zip_with(wa, wb, (x, y) -> bit_count(x & y)), 0, (acc, v) -> acc + v) AS BIGINT)"))
      } else {
        cand
          .join(gsets.select(col("gid").alias("ga"), col("rks").alias("rka"),
            col("sz").alias("sza")), Seq("ga"))
          .join(gsets.select(col("gid").alias("gb"), col("rks").alias("rkb"),
            col("sz").alias("szb")), Seq("gb"))
          .withColumn("inter",
            size(array_intersect(col("rka"), col("rkb"))).cast("long"))
      }
    val qual = verified
      .filter(col("inter") * 1000000L >=
        lit(tPpm) * (col("sza") + col("szb") - col("inter")))
      .withColumn("jac_ppm", expr("(inter * 1000000L) DIV (sza + szb - inter)"))
      .select(col("ga"), col("gb"), col("inter"), col("jac_ppm"))
    // ---- expand group pairs back to doc pairs -------------------------
    val cross = qual
      .join(members.select(col("gid").alias("ga"), col("id").alias("ia")), Seq("ga"))
      .join(members.select(col("gid").alias("gb"), col("id").alias("ib")), Seq("gb"))
      .select(least(col("ia"), col("ib")).alias("id_a"),
        greatest(col("ia"), col("ib")).alias("id_b"),
        col("inter"), col("jac_ppm"))
    val within = members.alias("ma")
      .join(members.alias("mb"),
        col("ma.gid") === col("mb.gid") && col("ma.id") < col("mb.id"))
      .join(groups.select(col("gid").alias("wg"), col("sz")),
        col("ma.gid") === col("wg"))
      .select(col("ma.id").alias("id_a"), col("mb.id").alias("id_b"),
        col("sz").alias("inter"), lit(1000000L).alias("jac_ppm"))
    cross.union(within)
  }

  /** Exact bounded-edit-distance self-join via deletion-neighborhood
    * blocking (FastSS — Bocek et al. 2007, "Fast Similarity Search in
    * Large Dictionaries"): if `lev(a,b) <= d` then the sets of strings
    * reachable by deleting up to `d` characters from `a` and from `b`
    * intersect, so candidate pairs come from an EQUI-join on shared
    * deletion variants and the true `levenshtein` filter afterwards makes
    * the result exact — never a cross join. Built for short keys (names,
    * codes, titles): variants per string are O(len^d), so `maxLen` hard-
    * caps the fan-out (longer strings are DROPPED from matching — the
    * caller's recall contract, asserted in the spec). `maxDist` ∈ {1, 2}.
    *
    * Vs [[editDistancePairs]] (complete LENGTH-band blocking): length
    * banding is sound and cheap when lengths VARY, but on a uniform-
    * length dictionary it degenerates to one band = the full n² cross
    * join (measured: 15k same-length TPC-H names = 112M candidate pairs
    * on one key — minutes; this operator's variant join = 2.2M — around
    * a second). Inversely, deletion variants on long, length-diverse
    * strings cost O(len^d) fan-out where banding is nearly free. Pick by
    * the dictionary's length histogram.
    *
    * Scale shape: distinct-first (dictionary semantics — dedup/ER match
    * keys, then map back to rows), variants are 64-bit-hashable short
    * strings, the variant join groups are tiny for natural keys (a hub
    * variant means near-identical strings, exactly what should pair),
    * and candidate pairs are `distinct`ed before the O(len²) verify so
    * each pair pays Levenshtein once. Returns (sa, sb, dist), sa < sb.
    */
  def deletionNeighborhoodPairs(df: DataFrame, str: Column, maxDist: Int,
      maxLen: Int = 64): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    require(maxLen >= 1, s"maxLen must be positive, got $maxLen")
    val s0 = df.select(str.alias("s"))
      .filter(col("s").isNotNull && length(col("s")) <= maxLen)
      .distinct()
    // all strings with exactly one character deleted (1-based positions)
    def delOne(c: Column): Column = transform(sequence(lit(1), length(c)),
      i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))
    val v1 = array_union(array(col("s")), delOne(col("s")))
    val vset =
      if (maxDist == 1) array_distinct(v1)
      else array_distinct(concat(v1, flatten(transform(v1, x => delOne(x)))))
    // the source is often one small parquet file = ONE input partition;
    // explode keeps it, and the O(Σ df²) candidate join + Levenshtein
    // verify would then run on a single core (measured 18 s vs 2 s at
    // sf0.1). Hash-repartition on the variant: parallelizes the join AND
    // co-locates both sides of the self-join on the join key.
    // spreadBy, not bare repartition(col): a keyed repartition WITHOUT an
    // explicit partition count is fair game for AQE coalescing, and the
    // variant join's output (Σ df² candidate pairs) far exceeds its input
    // bytes — measured q333: the join + Levenshtein verify coalesced to 6
    // tasks, 2.4 s of a 4.4 s query. The pinned count is exempt.
    val vars = Relational.spreadBy(
      s0.select(col("s"), explode(vset).alias("v")), col("v"))
    val cands = vars.select(col("s").alias("sa"), col("v"))
      .join(vars.select(col("s").alias("sb"), col("v").alias("__vb")),
        col("v") === col("__vb") && col("sa") < col("sb"))
      .select(col("sa"), col("sb"))
    // pin the dedup's partitioning too (same hazard: distinct's exchange
    // carries the exploded pair volume), then the O(len²) verify runs on
    // the pinned width
    val dedup = Relational.spreadBy(cands, col("sa"), col("sb")).distinct()
    dedup
      .withColumn("dist", levenshtein(col("sa"), col("sb")).cast("long"))
      .filter(col("dist") <= maxDist)
  }
}
