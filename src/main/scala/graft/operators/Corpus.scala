package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Corpus-preparation operators for LLM training-data pipelines (SURVEY.md
  * §7 beyond-parity set, round 3): segment-level dedup, benchmark
  * contamination checks, sequence packing, and heavy-hitter profiling.
  * Everything is a declarative DataFrame transformation — partial
  * aggregation, AQE and pushdown apply as usual.
  */
object Corpus {

  /** Split a document into fixed-size token chunks (each chunk re-joined
    * with single spaces). The segment unit for [[segmentDedup]] on corpora
    * without structural paragraph breaks; real pipelines pass
    * `split(col, "\n\n")` instead when documents have them.
    * Zero-token documents yield an empty array.
    */
  def tokenChunks(c: Column, chunkTokens: Int): Column = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val toks = TextFns.tokens(c)
    val n = org.apache.spark.sql.functions.size(toks)
    val chunks = ceil(n.cast("double") / chunkTokens).cast("int")
    // the token array rides into the lambda as the ITERATED element
    // (array_repeat is a shallow reference copy), not as a captured
    // subtree: a lambda referencing the computed `toks` would re-tokenize
    // per chunk under interpreted HOF eval (O(m²/chunk) — the
    // TextFns.wordNgrams trap)
    when(n === 0, array().cast("array<string>"))
      .otherwise(transform(array_repeat(toks, chunks), (tk, i) =>
        array_join(slice(tk, i * chunkTokens + 1, lit(chunkTokens)), " ")))
  }

  /** CCNet-style segment-level corpus deduplication: every distinct segment
    * survives only at its corpus-wide FIRST occurrence (smallest
    * (document id, segment position)); all later occurrences — boilerplate,
    * repeated template paragraphs — are dropped, and each document is
    * reassembled from its surviving segments in order.
    *
    * Returns (id, clean_text, n_kept, n_removed); documents whose every
    * segment was seen earlier come back with empty clean_text (the caller
    * decides whether to drop them).
    *
    * Scale shape: segments are keyed by xxhash64 — the first-occurrence
    * groupBy partial-aggregates map-side and shuffles (hash, id, pos)
    * triples, not text; the segment text itself moves through exactly one
    * shuffle (the reassembly by id). No window over the full corpus.
    * (Distinct segments colliding on xxhash64 would dedup together —
    * at 2^-64 per pair this is the standard trade for narrow keys.)
    */
  def segmentDedup(df: DataFrame, id: Column, segments: Column,
      sep: String = " "): DataFrame =
    segmentDedupReleasable(df, id, segments, sep)._1

  /** As [[segmentDedup]], additionally returning the persisted exploded
    * segment frame for caller-controlled release (the
    * [[Dedup.minhashLshPairsReleasable]] contract). Persisted because the
    * segment construction — typically a tokenize/chunk expression that is
    * O(tokens x chunks) per doc — is referenced THREE times (first-occurrence
    * aggregate, the keep join, per-doc segment counts); without the cache it
    * re-runs over the corpus per reference (measured ~2x on q57).
    */
  def segmentDedupReleasable(df: DataFrame, id: Column, segments: Column,
      sep: String = " "): (DataFrame, DataFrame) = {
    val segs = df
      .select(id.alias("id"), posexplode(segments).as(Seq("pos", "seg")))
      .withColumn("h", xxhash64(col("seg")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first occurrence per segment hash: min over a (id, pos) struct —
    // partial map-side combine, one row per distinct segment after shuffle
    val first = segs.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).alias("f"))
    val kept = segs
      .join(first, "h")
      .filter(col("id") === col("f.id") && col("pos") === col("f.pos"))
      .select(col("id"), col("pos"), col("seg"))
    val rebuilt = kept.groupBy("id").agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x("seg")), sep).alias("clean_text"),
      count(lit(1)).alias("n_kept"))
    // per-doc totals from the cached explode, not a third `segments`
    // evaluation; docs whose segment array is empty fall out of the explode
    // and coalesce back to 0
    val nsegs = segs.groupBy("id").agg(count(lit(1)).alias("n_segs"))
    val out = df.select(id.alias("id"))
      .join(nsegs, Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("clean_text"), lit("")).alias("clean_text"),
        coalesce(col("n_kept"), lit(0L)).alias("n_kept"),
        (coalesce(col("n_segs"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).alias("n_removed"))
    (out, segs)
  }

  /** Benchmark-contamination check: for every non-benchmark document, the
    * share of its distinct word n-gram shingles that appear anywhere in the
    * benchmark set. The standard pre-training hygiene scan (e.g. GPT-3
    * appendix C uses 13-gram overlap); docs above a threshold get excluded
    * or flagged.
    *
    * Returns (id, n_shingles, n_hit, contam_ratio) for non-benchmark docs.
    *
    * Scale shape: shingles are 64-bit hashes; the benchmark shingle set is
    * distinct-reduced before the join (typically millions of longs even at
    * 100 TB corpus scale — benchmark suites are small), so the semi join
    * broadcasts or hash-joins on longs. The corpus side streams once.
    */
  def contamination(df: DataFrame, id: Column, text: Column, isBenchmark: Column,
      ngram: Int = 8): DataFrame = {
    val docs = df.select(id.alias("id"),
      TextFns.shingleHashes(text, ngram).alias("sh"), isBenchmark.alias("isb"))
    val benchShingles = docs.filter(col("isb"))
      .select(explode(col("sh")).alias("g")).distinct()
    val train = docs.filter(!col("isb"))
    val hits = train.select(col("id"), explode(col("sh")).alias("g"))
      .join(benchShingles, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).alias("n_hit"))
    train
      .select(col("id"),
        org.apache.spark.sql.functions.size(col("sh")).cast("long").alias("n_shingles"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).alias("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"))
          .alias("contam_ratio"))
  }

  /** GPT-style concat-and-chunk sequence packing: documents are laid out in
    * `id` order, token counts accumulate, and every `ctxLen` tokens starts a
    * new training sequence. Each document is assigned the sequence its FIRST
    * token lands in plus its offset there (a writer then splits straddling
    * docs across the boundary).
    *
    * Returns (id, n_tokens, seq_id, seq_offset).
    *
    * Scale shape: the global running sum is a
    * [[graft.operators.Relational.prefixScan]] over `id / bucketSize`
    * blocks, so every window partition is bounded by bucketSize.
    * (Cumulative totals stay exact in Long; floor-div is exact below 2^53
    * tokens — 100 TB of text is ~25T tokens, far inside the bound.)
    */
  def packSequences(df: DataFrame, id: Column, tokenCount: Column, ctxLen: Long,
      bucketSize: Long = 4096): DataFrame = {
    require(ctxLen > 0 && bucketSize > 0, "ctxLen and bucketSize must be positive")
    val base = df.select(id.alias("id"), tokenCount.cast("long").alias("n_tokens"))
    Relational.prefixScan(base, floor(col("id") / bucketSize).cast("long"), Seq(col("id")),
        "cum_before" -> col("n_tokens"))
      .withColumn("cum_before", col("cum_before") - coalesce(col("n_tokens"), lit(0L)))
      .select(col("id"), col("n_tokens"),
        floor(col("cum_before") / ctxLen).cast("long").alias("seq_id"),
        (col("cum_before") % ctxLen).alias("seq_offset"))
  }

  /** CCNet-style boilerplate LINE removal: a line (trimmed) that appears in
    * at least `minDocs` DISTINCT documents is boilerplate — cookie banners,
    * nav bars, license footers — and is dropped from every document; each
    * document is reassembled from its surviving lines in order. Blank lines
    * are never counted as boilerplate (they carry no content) and survive
    * as-is. Unlike [[segmentDedup]] (which keeps the FIRST occurrence of a
    * repeated segment), boilerplate removal drops ALL occurrences: a footer
    * on a million pages is noise on every one of them.
    *
    * Returns (id, clean_text, n_kept, n_removed).
    *
    * Scale shape: lines are keyed by xxhash64, so the doc-frequency groupBy
    * shuffles (hash, id) pairs — never line text; the boilerplate set
    * (df >= minDocs) is tiny by construction, so the anti join broadcasts.
    * Line text moves through exactly one shuffle (reassembly by id).
    * (Distinct lines colliding on xxhash64 would drop together — 2^-64 per
    * pair, the standard trade for narrow keys.)
    */
  def stripBoilerplate(df: DataFrame, id: Column, text: Column,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = Relational.spread(df)
      .select(id.alias("id"), posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .withColumn("h", xxhash64(trim(col("line"))))
    val boiler = lines.filter(trim(col("line")) =!= "")
      .select(col("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).alias("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"))
    val kept = lines.join(boiler, Seq("h"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x("line")), "\n").alias("clean_text"),
      count(lit(1)).alias("n_kept"))
    df.select(id.alias("id"),
        org.apache.spark.sql.functions.size(split(text, "\n")).cast("long").alias("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("clean_text"), lit("")).alias("clean_text"),
        coalesce(col("n_kept"), lit(0L)).alias("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).alias("n_removed"))
  }

  /** Unigram rarity scoring — the integer-exact surrogate for unigram-LM
    * perplexity filtering (CCNet scores docs with a KenLM model; the
    * unigram core of that signal is mean inverse token probability
    * `mean(N / c(tok))`, high = rare/garbled text, low = stopword soup).
    *
    * All arithmetic is EXACT: per-token rarity `=(N * scale) DIV c` is
    * integer floor division (not float — `ln`/float sums are not
    * reproducible across engines), the per-doc sum is a Long, and the
    * single final mean division is one correctly-rounded IEEE op.
    * Returns (id, n_toks, rarity_sum, mean_rarity).
    *
    * Scale shape: the count table is vocabulary-sized, so the token→count
    * equi-join broadcasts (AQE) or hash-joins on the term; N arrives as a
    * broadcast 1-row frame, no driver collect. Long arithmetic holds to
    * `N * scale < 2^63` — ~9e12 tokens at the default scale; beyond that
    * (a full 100 TB corpus is ~25T tokens) drop `scale` to 10^4 or switch
    * the product to DECIMAL(38,0).
    */
  def rarityScore(df: DataFrame, id: Column, terms: Column,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val toks = df.select(id.alias("id"), explode(terms).alias("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).alias("c"))
    val total = counts.agg(sum(col("c")).alias("n_total"))
    toks.join(counts, "term")
      .crossJoin(broadcast(total))
      .withColumn("rarity", expr(s"(n_total * ${scale}L) DIV c"))
      .groupBy("id").agg(
        count(lit(1)).alias("n_toks"),
        sum(col("rarity")).alias("rarity_sum"))
      .withColumn("mean_rarity",
        round(col("rarity_sum").cast("double") / col("n_toks"), 6))
  }

  /** [[contamination]] with a Bloom-filter prefilter on the corpus side —
    * the 100 TB form. The benchmark shingle set at web scale (~10^8
    * distinct 13-grams) is too big to broadcast as a join table (~GBs of
    * longs + hash overhead) but compresses to ~9.6 bits/item in a Bloom
    * filter (~120 MB at 1% fpp): every task then drops ~99% of corpus
    * shingles BEFORE the exact semi join, so the shuffle carries hits + fpp
    * noise instead of the whole exploded corpus. Bloom filters have no
    * false negatives and the exact join removes the false positives, so
    * the result is IDENTICAL to [[contamination]] — same oracle applies.
    */
  def contaminationBloom(df: DataFrame, id: Column, text: Column,
      isBenchmark: Column, ngram: Int = 8, fpp: Double = 0.01): DataFrame =
    contaminationBloomReleasable(df, id, text, isBenchmark, ngram, fpp)._1

  /** As [[contaminationBloom]], additionally returning the persisted
    * benchmark-shingle frame for caller-controlled release — same contract
    * as [[Dedup.minhashLshPairsReleasable]] (release timing belongs to the
    * caller; Spark evaluation is lazy).
    */
  def contaminationBloomReleasable(df: DataFrame, id: Column, text: Column,
      isBenchmark: Column, ngram: Int = 8,
      fpp: Double = 0.01): (DataFrame, DataFrame) = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val docs = df.select(id.alias("id"),
      TextFns.shingleHashes(text, ngram).alias("sh"), isBenchmark.alias("isb"))
    // Persisted: the distinct benchmark shingles feed the bloom build (an
    // eager aggregate) AND the exact semi join — without persistence the
    // benchmark side is re-shingled per reference.
    val benchShingles = docs.filter(col("isb"))
      .select(explode(col("sh")).alias("g")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBench = math.max(benchShingles.count(), 1L)
    val bloom = benchShingles.stat.bloomFilter("g", nBench, fpp)
    val mightContain = udf((h: Long) => bloom.mightContainLong(h))
    val train = docs.filter(!col("isb"))
    val hits = train.select(col("id"), explode(col("sh")).alias("g"))
      .filter(mightContain(col("g")))
      .join(benchShingles, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).alias("n_hit"))
    val out = train
      .select(col("id"),
        org.apache.spark.sql.functions.size(col("sh")).cast("long").alias("n_shingles"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).alias("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"))
          .alias("contam_ratio"))
    (out, benchShingles)
  }

  /** Token frequency-of-frequencies spectrum: how many distinct terms occur
    * exactly `occurrences` times. The Zipf-curve profile that drives vocab
    * truncation and minCount choices; two partial-aggregating groupBys, the
    * second over at most `max count` distinct keys.
    */
  def frequencySpectrum(df: DataFrame, terms: Column): DataFrame =
    df.select(explode(terms).alias("term"))
      .groupBy("term").agg(count(lit(1)).alias("occurrences"))
      .groupBy("occurrences").agg(count(lit(1)).alias("n_terms"))

  /** Truncate each document to its first `maxTokens` tokens (the context-
    * budget cut before packing/training). Operates on the normalized token
    * stream ([[TextFns.tokens]]: lowercased, whitespace-split) — rejoined
    * with single spaces, same convention as [[tokenChunks]]. Narrow per-row
    * work, no shuffle. Returns (id, text_trunc, n_tokens, was_truncated).
    */
  def truncateTokens(df: DataFrame, id: Column, text: Column,
      maxTokens: Int): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val toks = TextFns.tokens(text)
    df.select(id.alias("id"),
      array_join(slice(toks, 1, maxTokens), " ").alias("text_trunc"),
      org.apache.spark.sql.functions.size(toks).cast("long").alias("n_tokens"),
      (org.apache.spark.sql.functions.size(toks) > maxTokens).alias("was_truncated"))
  }

  /** Deterministic global shuffle for training order: every row gets a
    * pseudo-random but REPRODUCIBLE (shard, position) from the same
    * multiplicative hash as [[Relational.GraftOps.hashSample]] — unlike
    * `orderBy(rand())`, reruns, engines, and partition layouts all agree,
    * so a training run can be resumed or replayed byte-identically.
    * Returns the input plus (shard, pos); pos is the row's 1-based rank
    * inside its shard by (hash, id).
    *
    * Scale shape: one shuffle on the shard key; each shard sorts only its
    * own slice (pick nShards ~ cluster parallelism). A write-only pipeline
    * that doesn't need explicit positions can skip the window and
    * `repartition(col("shard")).sortWithinPartitions("h")` straight into
    * the writer.
    */
  def deterministicShuffle(df: DataFrame, id: Column, nShards: Int,
      salt: Long = 0L): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = pmod(id.cast("long") * lit(2654435761L) + lit(salt), lit(4294967296L))
    val w = Window.partitionBy(col("__shard")).orderBy(col("__h"), id)
    df.withColumn("__h", h)
      .withColumn("__shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("shard", col("__shard"))
      .drop("__h", "__shard")
  }

  /** Exact top-k heavy hitters of an exploded term column: global term
    * frequencies, ordered (count desc, term asc) for a deterministic cut at
    * k. GroupBy partial-aggregates map-side, then the ordered limit runs as
    * a TakeOrdered — no global sort materialization.
    */
  def heavyHitters(df: DataFrame, terms: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(explode(terms).alias("term"))
      .groupBy("term").agg(count(lit(1)).alias("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)
  }

  private[operators] case class HuffRow(n_symbols: Long, total_count: Long,
      fixed_bits: Long, huffman_bits: Long)

  /** Optimal prefix-code budget over the top-k tokens — exact Huffman
    * cost without building the tree: repeatedly merge the two smallest
    * weights and SUM THE MERGED WEIGHTS (the classic identity: total
    * Huffman bits = Σ internal-node weights), all integer. Reported next
    * to the fixed-width budget ceil(log2(k))·total, so the row reads as
    * "entropy coding would save this many bits on the token stream" —
    * the compression-leverage probe of a corpus, with no logarithm and
    * no floats anywhere.
    *
    * Scale shape: the real work is the (term, count) partial-agg groupBy
    * and a TakeOrdered top-k (count desc, term asc — the q58 tie
    * discipline); the greedy fold runs over k ≤ 64 rows in one bounded
    * group. The oracle replays the SAME fold as a recursive CTE on a
    * sorted weight list, so the greedy itself is cross-engine verified.
    */
  def huffmanBudget(df: DataFrame, terms: Column, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2,64], got $k")
    import org.apache.spark.sql.Encoders
    val counts = heavyHitters(df, terms, k)
      .as[(String, Long)](Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    counts.groupByKey(_ => 0)(Encoders.scalaInt)
      .mapGroups { (_, rows) =>
        val buf = scala.collection.mutable.ArrayBuffer(
          rows.map(_._2).toArray.sorted.toSeq: _*)
        val total = buf.sum
        val n = buf.size
        var acc = 0L
        while (buf.size > 1) {
          val s2 = buf.remove(0) + buf.remove(0)
          acc += s2
          // keep sorted ascending: multiset identity with the oracle's
          // list_sort(rest || [merged]) regardless of insertion point
          val pos = buf.indexWhere(_ >= s2) match {
            case -1 => buf.size
            case i => i
          }
          buf.insert(pos, s2)
        }
        // ceil(log2(n)) as an integer ladder (n <= 64 by contract)
        val width =
          if (n <= 2) 1L else if (n <= 4) 2L else if (n <= 8) 3L
          else if (n <= 16) 4L else if (n <= 32) 5L else 6L
        HuffRow(n.toLong, total, width * total, acc)
      }(Encoders.product[HuffRow])
      .toDF()
  }

  /** Per-document TF-IDF keyword extraction: the k terms of each document
    * with the highest tf x idf, ties broken (score desc, term asc).
    * Returns (id, term, tf, doc_freq, score, rank).
    *
    * `logIdf = false` (default) uses the LINEAR idf `(N+1)/(df+1)` — two
    * IEEE ops (`double` divide, multiply by the long tf), bit-identical in
    * any engine, so the driver oracle hash-matches exactly. `logIdf = true`
    * is the classical `ln((N+1)/(df+1)) + 1` — same ranking machinery, but
    * `ln` is not guaranteed correctly-rounded across engines, so it is the
    * production option, not the oracle one.
    *
    * Scale shape: tf and doc-freq are both partial-aggregating groupBys over
    * 64-bit-keyable rows; N arrives as a broadcast 1-row frame (no driver
    * collect); the final window partitions by document — bounded by each
    * doc's distinct-term count, never a global sort.
    */
  def tfIdfTopTerms(df: DataFrame, id: Column, terms: Column, k: Int,
      logIdf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = Relational.spread(df).select(id.alias("id"), explode(terms).alias("term"))
      .groupBy("id", "term").agg(count(lit(1)).alias("tf"))
    // doc_freq as a window over tf, NOT a second aggregate joined back:
    // that formulation re-scans and re-tokenizes the raw text (the
    // dominant cost at corpus scale); this one shuffles the much smaller
    // (doc, term) frame once by term. n_docs still reads the table — but
    // only the id column (columnar scan), and token-less documents must
    // count toward N.
    val wTerm = Window.partitionBy(col("term"))
    val nDocs = df.select(id.alias("id")).distinct()
      .agg(count(lit(1)).alias("n_docs"))
    val rawIdf = (col("n_docs") + lit(1)).cast("double") / (col("doc_freq") + lit(1))
    val idf = if (logIdf) log(rawIdf) + lit(1.0) else rawIdf
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("doc_freq", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * idf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("term"), col("tf"), col("doc_freq"),
        col("score"), col("rank").cast("long").alias("rank"))
  }

  /** Bigram-LM fluency scoring — the conditional sibling of [[rarityScore]]
    * (CCNet filters on KenLM perplexity; the bigram core of that signal is
    * mean inverse CONDITIONAL probability `mean(c(a)/c(a,b))`: high = the
    * doc's word transitions are rare/garbled, low = fluent boilerplate).
    * Add-one smoothing over the corpus bigram vocabulary B keeps unseen
    * transitions finite: `surprise(a,b) = ((c(a)+B) * scale) DIV (c(ab)+1)`.
    *
    * Integer-exact throughout (floor division, Long sums, one final IEEE
    * mean) — same cross-engine discipline as [[rarityScore]]. Documents
    * with fewer than 2 tokens have no bigrams and are omitted.
    * Returns (id, n_bigrams, surprise_sum, mean_surprise) — the mean is
    * integer floor division (surprise_sum/n_bigrams is already exact in the
    * output; the floor keeps the decoration engine-portable).
    *
    * Scale shape: bigram/unigram count tables are vocabulary-sized
    * partial-aggregating groupBys; the doc-bigram join hashes on the pair;
    * B arrives broadcast. Long arithmetic holds while
    * `(c(a)+B) * scale < 2^63`.
    */
  def bigramSurprise(df: DataFrame, id: Column, terms: Column,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val base = df.select(id.alias("id"), terms.alias("toks"))
    val bi = base.filter(org.apache.spark.sql.functions.size(col("toks")) > 1)
      .select(col("id"), explode(zip_with(
        slice(col("toks"), lit(1), org.apache.spark.sql.functions.size(col("toks")) - 1),
        slice(col("toks"), lit(2), org.apache.spark.sql.functions.size(col("toks")) - 1),
        (a, b) => struct(a.alias("ta"), b.alias("tb")))).alias("bg"))
      .select(col("id"), col("bg.ta").alias("ta"), col("bg.tb").alias("tb"))
    val uni = base.select(explode(col("toks")).alias("term"))
      .groupBy("term").agg(count(lit(1)).alias("ca"))
    val bc = bi.groupBy("ta", "tb").agg(count(lit(1)).alias("cab"))
    val nBigramVocab = bc.agg(count(lit(1)).alias("bvocab"))
    bi.join(bc, Seq("ta", "tb"))
      .join(uni.withColumnRenamed("term", "ta"), Seq("ta"))
      .crossJoin(broadcast(nBigramVocab))
      .withColumn("surprise", expr(s"((ca + bvocab) * ${scale}L) DIV (cab + 1)"))
      .groupBy("id").agg(
        count(lit(1)).alias("n_bigrams"),
        sum(col("surprise")).alias("surprise_sum"))
      // Floor mean, NOT round(double/n, 6): the sum/count pair above is the
      // full-precision result; a 6-decimal double mean proved cross-engine
      // fragile at sf0.1 (round-at-tie on the 7th digit differed between
      // Spark's BigDecimal HALF_UP and DuckDB), so the decorated mean is
      // integer floor division — bit-exact in any engine at any scale.
      .withColumn("mean_surprise",
        expr("surprise_sum DIV n_bigrams"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation") — the full held-out form of the
    * CCNet/KenLM perplexity filter whose bigram core is [[bigramSurprise]]:
    * train n-gram counts on a reference corpus (CCNet uses Wikipedia),
    * score every candidate document by its mean per-trigram likelihood.
    * Unlike [[bigramSurprise]] the model is trained on `train` and applied
    * to `docs`, so unseen trigrams genuinely back off:
    *
    *   S(w3|w1 w2) = c(w1w2w3)/c(w1w2)        if c(w1w2w3) > 0
    *               = 0.4 * c(w2w3)/c(w2)       else if c(w2w3) > 0
    *               = 0.4^2 * c(w3)/N           else if c(w3) > 0
    *               = 0                          else (OOV)
    *
    * All arithmetic is integer-exact in scaled millionths — alpha = 0.4 is
    * the exact rational 2/5, so the three branches are the single floor
    * divisions `(c123*scale) DIV c12`, `(2*scale*c23) DIV (5*c2)` and
    * `(4*scale*c3) DIV (25*N)` — replayable bit-for-bit by any engine with
    * integer division (the [[bigramSurprise]] cross-engine discipline).
    * High mean = fluent under the reference LM (CCNet keeps the HEAD of
    * this ranking); the per-level hit counts (n_tri/n_bi/n_uni/n_oov) are
    * the backoff diagnostics a pipeline thresholds on directly.
    *
    * Documents with fewer than 3 tokens have no trigrams and are omitted.
    * Returns (id, n_trigrams, n_tri_hit, n_bi_hit, n_uni_hit, n_oov,
    * score_sum, mean_score).
    *
    * Scale shape: the three count tables are vocabulary-sized
    * partial-aggregating groupBys over the TRAIN corpus only; scoring is
    * five left equi-joins hashing on the n-gram keys (Catalyst broadcasts
    * any that fit, shuffles the rest) and N arrives broadcast as one row.
    * No windows, no driver state. Long arithmetic holds while
    * `4 * scale * c(w3) < 2^63`; at web scale prune counts below a
    * min-count threshold before the join (standard KenLM practice) —
    * singleton trigrams dominate table size but contribute the same score
    * as their backoff to within 1/scale.
    */
  def stupidBackoffScore(train: DataFrame, trainTerms: Column,
      docs: DataFrame, id: Column, docTerms: Column,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val sz = (c: Column) => org.apache.spark.sql.functions.size(c)
    val tt = train.select(trainTerms.alias("toks"))
    def grams(df: DataFrame, n: Int, names: Seq[String]): DataFrame = {
      val fields = names.zipWithIndex
        .map { case (nm, i) => s"toks[i+$i] AS $nm" }.mkString(", ")
      df.filter(sz(col("toks")) >= n)
        .select((df.columns.filter(_ != "toks").map(col).toSeq :+
          explode(expr(
            s"transform(sequence(0, size(toks)-$n), i -> struct($fields))"))
            .alias("g")): _*)
        .select((df.columns.filter(_ != "toks").map(col).toSeq ++
          names.map(nm => col(s"g.$nm").alias(nm))): _*)
    }
    val nTok = tt.agg(sum(sz(col("toks"))).alias("n_tokens"))
    val uni = grams(tt, 1, Seq("w")).groupBy("w").agg(count(lit(1)).alias("cu"))
    val bi = grams(tt, 2, Seq("wa", "wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).alias("cb"))
    val tri = grams(tt, 3, Seq("w1", "w2", "w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).alias("c123"))
    val dg = grams(docs.select(id.alias("id"), docTerms.alias("toks")), 3,
      Seq("w1", "w2", "w3"))
    dg.join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("wa").alias("w1"), col("wb").alias("w2"),
        col("cb").alias("c12")), Seq("w1", "w2"), "left")
      .join(bi.select(col("wa").alias("w2"), col("wb").alias("w3"),
        col("cb").alias("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").alias("w2"), col("cu").alias("c2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").alias("w3"), col("cu").alias("c3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nTok))
      // c123 > 0 implies c12 > 0, c23 > 0 implies c2 > 0 (counts from the
      // same train corpus), so the divisors in each taken branch are safe
      .withColumn("s", expr(
        s"""CASE WHEN c123 IS NOT NULL THEN (c123 * ${scale}L) DIV c12
                 WHEN c23 IS NOT NULL THEN (2L * ${scale}L * c23) DIV (5L * c2)
                 WHEN c3 IS NOT NULL THEN (4L * ${scale}L * c3) DIV (25L * n_tokens)
                 ELSE 0L END"""))
      .withColumn("lvl", expr(
        """CASE WHEN c123 IS NOT NULL THEN 0 WHEN c23 IS NOT NULL THEN 1
                WHEN c3 IS NOT NULL THEN 2 ELSE 3 END"""))
      .groupBy("id").agg(
        count(lit(1)).alias("n_trigrams"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).alias("n_tri_hit"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).alias("n_bi_hit"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).alias("n_uni_hit"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).alias("n_oov"),
        sum(col("s")).alias("score_sum"))
      .withColumn("mean_score", expr("score_sum DIV n_trigrams"))
  }

  /** Hashing-trick TF-IDF featurization (fastText / quality-classifier
    * input): each document becomes a sparse vector of `dim` buckets,
    * `bucket = pmod(hash(term), dim)`, with integer-exact scaled weights
    * `(tf * (N+1) * scale) DIV (df+1)` — the linear-idf [[tfIdfTopTerms]]
    * contract pushed through the hashing trick, all arithmetic in Long (no
    * float sums, so bucket collisions accumulate exactly and any engine
    * agrees bit-for-bit). `portable = true` hashes terms with FNV-1a over
    * code points (SQL-replayable); default is xxhash64.
    * Returns sparse rows (id, bucket, weight).
    *
    * Scale shape: same as [[tfIdfTopTerms]] (tf groupBy + doc-freq window
    * over the tf frame + broadcast N), then one more partial-aggregating
    * groupBy on (id, bucket). Long arithmetic holds while
    * `tf * (N+1) * scale < 2^63` — at billions of docs drop `scale`.
    */
  def hashedTfIdf(df: DataFrame, id: Column, terms: Column, dim: Int,
      scale: Long = 1000000L, portable: Boolean = false): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(scale > 0, s"scale must be positive, got $scale")
    val tf = Relational.spread(df).select(id.alias("id"), explode(terms).alias("term"))
      .groupBy("id", "term").agg(count(lit(1)).alias("tf"))
    val wTerm = Window.partitionBy(col("term"))
    val nDocs = df.select(id.alias("id")).distinct()
      .agg(count(lit(1)).alias("n_docs"))
    val hash =
      if (portable) graft.plans.TextExprs.fingerprint(col("term"), portable = true)
      else xxhash64(col("term"))
    tf.withColumn("doc_freq", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("bucket", pmod(hash, lit(dim.toLong)))
      .withColumn("w", expr(s"(tf * (n_docs + 1) * ${scale}L) DIV (doc_freq + 1)"))
      .groupBy("id", "bucket").agg(sum(col("w")).alias("weight"))
  }

  /** Data-mixing quota sample: per source/domain group, keep the top
    * `quotas(group)` documents by (score desc, tieBreak asc) — the
    * composition step that turns per-source quality scores plus a target
    * mixture into the actual training corpus. Groups absent from `quotas`
    * get `defaultQuota`.
    *
    * Window formulation: one shuffle on the group key, per-group sort.
    * Fine while every group's row count fits a partition sort; for the
    * hot-group regime (one source = half the corpus) use
    * [[topKPerGroupAgg]] — same answer, heap instead of sort.
    */
  def quotaSample(df: DataFrame, group: Column, score: Column, tieBreak: Column,
      quotas: Map[String, Long], defaultQuota: Long = 0L): DataFrame = {
    val quota = quotas.toSeq.sortBy(_._1).foldLeft(lit(defaultQuota)) {
      case (acc, (g, q)) => when(group === lit(g), lit(q)).otherwise(acc)
    }
    val w = Window.partitionBy(group).orderBy(score.desc, tieBreak.asc)
    df.withColumn("__quota", quota)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__quota"))
      .drop("__quota", "__rn")
  }

  /** Top-k bigram collocations by LIFT — `p(a,b) / (p(a) p(b))`, the
    * exponent-free core of PMI (PMI = ln(lift); ln is monotonic, so the
    * RANKING is identical, and lift avoids ln's cross-engine rounding —
    * same trick as [[tfIdfTopTerms]]'s linear idf). The phrase-mining /
    * tokenizer-merge primitive: high-lift adjacent pairs are the
    * candidate multi-word units.
    *
    * Score `= (nab * Nu * Nu) / (na * nb * Nb)` with counts promoted to
    * double left-to-right — every intermediate product is an exact
    * integer below 2^53 at any plausible corpus scale, so both engines
    * compute identical bits. Ties rank (term_a, term_b) ascending.
    *
    * Scale shape: bigram generation is a per-doc array zip (narrow);
    * counting partial-aggregates; the two unigram joins are equi-joins on
    * the term; top-k is TakeOrdered (no global sort materialization).
    * `minCount` prunes the long tail BEFORE the joins.
    */
  def bigramLift(df: DataFrame, terms: Column, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k > 0, s"k must be positive, got $k")
    val base = df.select(terms.alias("toks"))
    val uni = base.select(explode(col("toks")).alias("term"))
      .groupBy("term").agg(count(lit(1)).alias("n"))
    val bi = base.filter(size(col("toks")) > 1)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.alias("ta"), b.alias("tb")))).alias("bg"))
      .select(col("bg.ta").alias("ta"), col("bg.tb").alias("tb"))
    val bc = bi.groupBy("ta", "tb").agg(count(lit(1)).alias("nab"))
      .filter(col("nab") >= minCount)
    // totals come from per-doc token counts in ONE narrow pass — deriving
    // them from the uni/bi subtrees would re-tokenize the corpus twice
    // more (Spark does not dedupe repeated subplans)
    val totals = base.select(size(col("toks")).alias("nt"))
      .agg(sum(col("nt").cast("long")).alias("nu"),
        sum(greatest(col("nt") - 1, lit(0)).cast("long")).alias("nbig"))
    val score0 = (col("nab").cast("double") * col("nu") * col("nu")) /
      (col("na").cast("double") * col("nb") * col("nbig"))
    val scored = bc
      .join(uni.select(col("term"), col("n").alias("na")), col("ta") === col("term")).drop("term")
      .join(uni.select(col("term"), col("n").alias("nb")), col("tb") === col("term")).drop("term")
      .crossJoin(broadcast(totals))
      .withColumn("score0", score0)
      .orderBy(col("score0").desc, col("ta"), col("tb"))
      .limit(k)
    // unpartitioned window, bounded: top-k rows
    val w = Window.orderBy(col("score0").desc, col("ta"), col("tb"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("ta"), col("tb"), col("nab"), round(col("score0"), 6).alias("lift"),
        col("rank"))
  }

  /** Exact top-k rows per group via the partial-merge bounded-heap
    * aggregator ([[graft.operators.Similarity.topK]]) — the 100 TB form of
    * [[quotaSample]] with a uniform k: every map task reduces its partition
    * to <= k (id, score) pairs PER GROUP before the shuffle, so a skewed
    * group costs a heap insert per row, not a partition-wide sort. Returns
    * (group, id, score, rank), rank 1-based by (score desc, id asc).
    */
  def topKPerGroupAgg(df: DataFrame, group: Column, id: Column, score: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(group.alias("g"), id.alias("i"), score.cast("double").alias("s"))
      .groupBy(col("g"))
      .agg(Similarity.topK(k, col("i"), col("s")).alias("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g").alias("group"), col("t.id").alias("id"),
        col("t.score").alias("score"), (col("pos") + 1).cast("long").alias("rank"))
  }

  /** Deterministic domain-mixture resampling (the DoReMi / Pile recipe):
    * re-weight a corpus so each domain contributes its TARGET share of the
    * output, upsampling (epoch repeats) domains below target and
    * downsampling those above. Targets are integer per-mille weights; a
    * domain absent from the map contributes nothing.
    *
    * Per domain with `cnt` docs out of `N` total and weight `w`:
    * target rows `tgt = w*N div 1000`, every doc repeats
    * `reps = tgt div cnt` times, and the fractional remainder
    * `tgt mod cnt` is filled by ONE extra copy of the docs whose
    * multiplicative hash (same constant as [[deterministicShuffle]]) falls
    * under a threshold — a per-row decision that is reproducible across
    * reruns, engines, and partition layouts, unlike `sample()`.
    *
    * Returns (id, domain, epoch), epoch 0-based per surviving copy.
    *
    * Scale shape: domain stats are one tiny aggregate broadcast back onto
    * the corpus; the default threshold mode decides each row narrowly — no
    * window, no sort, output lands in `tgt` ± a few rows per domain. With
    * `exact = true` the remainder picks the `tgt mod cnt` smallest-hash
    * docs via a per-domain rank: output counts hit `tgt` EXACTLY at the
    * cost of one sort-shuffle over the corpus — the audit mode; thresholds
    * are the 100 TB default. (Ids must be integral and unique; epoch
    * repeats reference the id, the caller re-joins text when materializing
    * the shuffled corpus.)
    */
  def mixtureResample(df: DataFrame, id: Column, domain: Column,
      weightsPerMille: Map[String, Int], exact: Boolean = false): DataFrame = {
    require(weightsPerMille.nonEmpty, "weightsPerMille must be non-empty")
    require(weightsPerMille.values.forall(w => w >= 0 && w <= 1000),
      "per-mille weights must be in [0, 1000]")
    val spark = df.sparkSession
    val w = spark.createDataFrame(weightsPerMille.toSeq).toDF("domain", "w")
    val base = df.select(id.cast("long").alias("id"), domain.alias("domain"))
    val counts = base.groupBy("domain").agg(count(lit(1)).alias("cnt"))
    val total = counts.agg(sum(col("cnt")).alias("n_total"))
    // integer floor division throughout (expr "div"): exact in Long far
    // beyond 100 TB row counts, and replayable as DuckDB's `//`
    val stats = counts.join(broadcast(w), "domain").crossJoin(broadcast(total))
      .withColumn("tgt", expr("(w * n_total) div 1000"))
      .withColumn("reps", expr("tgt div cnt"))
      .withColumn("rem", expr("tgt % cnt"))
      .withColumn("thr", expr("(rem * 4294967296) div cnt"))
      .select("domain", "reps", "rem", "thr")
    val hashed = base
      .withColumn("hv", pmod(col("id") * lit(2654435761L), lit(4294967296L)))
      .join(broadcast(stats), "domain")
    val withCopies =
      if (exact) {
        val byHash = Window.partitionBy(col("domain")).orderBy(col("hv"), col("id"))
        hashed.withColumn(
          "ncop",
          col("reps") + when(row_number().over(byHash) <= col("rem"), 1L).otherwise(0L))
      } else {
        hashed.withColumn(
          "ncop", col("reps") + when(col("hv") < col("thr"), 1L).otherwise(0L))
      }
    withCopies
      .filter(col("ncop") > 0)
      .select(col("id"), col("domain"),
        explode(sequence(lit(0L), col("ncop") - 1)).alias("epoch"))
  }

  /** Temperature-rebalanced mixture weights (the multilingual-training
    * upsampling rule, alpha = 0.5): a group's sampling weight is
    * proportional to sqrt(its row count), flattening the natural
    * distribution toward uniform without inverting it — the companion that
    * COMPUTES the weights [[mixtureResample]] consumes. Returns
    * (group, n, sqrt_milli, weight_ppm), weights floor-ppm of the group's
    * share.
    *
    * Exactness: sqrt_milli = floor(1000 * sqrt(n)) computed as
    * FLOOR(SQRT(n * 1e6)) — n * 1e6 stays under 2^53 for any corpus whose
    * group counts fit in ~9e9 rows, so the double holds it exactly, IEEE
    * sqrt is correctly rounded, and the floor is engine-deterministic;
    * everything after is integer arithmetic (ppm by floor division). Deeper
    * temperatures compose: alpha = 0.25 is sqrt applied twice on the milli
    * scale.
    *
    * Scale shape: one partial-aggregated groupBy to group counts, a 1-row
    * decimal-exact total broadcast back — nothing scales with row count
    * but the scan.
    */
  def temperatureWeights(df: DataFrame, group: Column): DataFrame = {
    val counts = df.groupBy(group.alias("group"))
      .agg(count(lit(1)).alias("n"))
      .withColumn("sqrt_milli",
        floor(sqrt(col("n").cast("double") * lit(1000000.0))).cast("long"))
    val total = counts.agg(sum(col("sqrt_milli")).alias("t"))
    counts.crossJoin(broadcast(total))
      .withColumn("weight_ppm", expr(
        "CASE WHEN t = 0 THEN 0L ELSE (sqrt_milli * 1000000L) DIV t END"))
      .select(col("group"), col("n"), col("sqrt_milli"), col("weight_ppm"))
  }

  /** Corpus saturation curve: per ingestion batch, how much of its content
    * is NEW — distinct units (shingles) never seen in any earlier batch —
    * versus repeats. The novelty ratio falling toward zero is the signal
    * that further crawling the same sources stops adding trainable
    * content; the batch column is anything monotone with ingestion
    * (crawl day, id range).
    *
    * Returns (batch, n_units, n_new, novelty) — distinct units per batch,
    * first-occurrence units, and their ratio.
    *
    * Scale shape: two partial-aggregating groupBys over (unit) keys and
    * one narrow join — at 100 TB pass HASHED units
    * ([[graft.functions.TextFns.shingleHashes]]) so the shuffles carry 8
    * bytes per unit; raw strings here keep the DuckDB oracle exact
    * (the q57 trade, documented).
    */
  def noveltyCurve(df: DataFrame, batch: Column, units: Column): DataFrame = {
    // NOT persisted: both references share the distinct's exchange via
    // ReuseExchange (an explicit cache measured 4% SLOWER on the bench —
    // same lesson as mutualPairs).
    val sh = df.select(batch.alias("batch"), explode(units).alias("g")).distinct()
    val first = sh.groupBy(col("g")).agg(min(col("batch")).alias("first_batch"))
    sh.join(first, "g")
      .groupBy(col("batch"))
      .agg(count(lit(1)).alias("n_units"),
        sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L)).alias("n_new"))
      .select(col("batch"), col("n_units"), col("n_new"),
        (col("n_new").cast("double") / col("n_units").cast("double")).alias("novelty"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-K
    * vocabulary (count desc, term asc ties) — the tokenizer-fit signal:
    * docs with high OOV under the planned vocab either need a bigger
    * vocab or are the noise the quality gates should have caught.
    *
    * Returns (id, n_tokens, n_oov, oov_rate); rate counts multiplicity
    * (three hits of one unknown word = three OOV tokens).
    *
    * Scale shape: one term-count groupBy (partial-aggregated) and a
    * bounded top-K, broadcast to an anti join — per-doc work never
    * shuffles text. vocabSize rows is driver-bounded state, same as any
    * tokenizer's vocab.
    */
  def oovRate(df: DataFrame, id: Column, terms: Column,
      vocabSize: Int = 1000): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val base = df.select(id.alias("id"), terms.alias("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val toks = base.select(col("id"), explode(col("toks")).alias("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).alias("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(vocabSize)
      .select(col("term"))
    val oov = toks.join(broadcast(vocab), Seq("term"), "left_anti")
      .groupBy(col("id")).agg(count(lit(1)).alias("n_oov"))
    base.select(col("id"), col("n_tokens"))
      .join(oov, Seq("id"), "left_outer")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).alias("n_oov"),
        when(col("n_tokens") > 0,
          coalesce(col("n_oov").cast("double"), lit(0.0))
            / col("n_tokens").cast("double")).otherwise(lit(0.0)).alias("oov_rate"))
  }

  /** Overlapping sliding-window token chunks — the retrieval-index sibling
    * of [[tokenChunks]] (which tiles disjointly): starts at 0, stride,
    * 2*stride, ... with the LAST start chosen so the final chunk ends at
    * the document's end (start count = 1 if n <= chunkTokens, else
    * ceil((n - chunkTokens) / stride) + 1 — every token is covered, no
    * chunk is a strict suffix-duplicate of its predecessor beyond the
    * intended overlap). Empty documents yield no chunks.
    *
    * Returns (id, chunk_id, start_tok, n_tok, chunk_text) — one row per
    * chunk, `chunk_id` 0-based in document order.
    *
    * Scale shape: pure narrow explode — rows out = tokens/stride per doc,
    * no shuffle; the downstream embedding or indexing step supplies one.
    */
  def slidingChunks(df: DataFrame, id: Column, terms: Column,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(stride > 0, s"stride must be positive, got $stride")
    require(stride <= chunkTokens,
      s"stride > chunkTokens leaves tokens uncovered ($stride > $chunkTokens)")
    val base = df.select(id.alias("id"), terms.alias("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
    val nStarts = when(col("n") <= chunkTokens, lit(1L))
      .otherwise(floor((col("n") - lit(chunkTokens) + lit(stride) - 1)
        .cast("double") / stride).cast("long") + 1L)
    base
      .select(col("id"), col("toks"), col("n"),
        explode(sequence(lit(0L), nStarts - 1)).alias("chunk_id"))
      .select(col("id"), col("chunk_id"),
        (col("chunk_id") * stride).alias("start_tok"),
        least(lit(chunkTokens.toLong), col("n") - col("chunk_id") * stride)
          .alias("n_tok"),
        array_join(slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkTokens)), " ").alias("chunk_text"))
  }

  /** Gopher-style composite document-quality rules (Rae et al. 2021 §A1.1,
    * thresholds adapted to this corpus): each rule is an independent
    * boolean flag plus the conjunction, so downstream consumers can both
    * gate and diagnose WHICH rule kills a document.
    *
    *   - wc_ok:   minWords <= word count <= maxWords
    *   - mwl_ok:  minMeanLen <= mean word length <= maxMeanLen
    *   - stop_ok: >= 2 DISTINCT hits in a small English stopword list
    *     (the "real prose" signal)
    *   - rep_ok:  most frequent token's share <= maxTopShare (the
    *     single-token degenerate-repetition signal; line/n-gram repetition
    *     has its own operators, q52)
    *
    * Every rule is integer counts plus at most one IEEE division —
    * hash-matchable cross-engine.
    *
    * Scale shape: wc/mwl/stop are evaluated IN the scan projection; only
    * the top-token share needs an aggregate, and that one groupBys on
    * (id, term-hash) then (id) with partial aggregation — shuffle rows
    * bounded by distinct (doc, term) pairs, no text movement.
    */
  def gopherQualityFlags(df: DataFrame, id: Column, terms: Column,
      minWords: Long = 20L, maxWords: Long = 80L,
      minMeanLen: Double = 4.0, maxMeanLen: Double = 10.0,
      maxTopShare: Double = 0.2): DataFrame = {
    val stopwords = Seq("the", "and", "of", "to", "a", "in", "is", "that")
    val base = df.select(id.alias("id"), terms.alias("toks"))
      .withColumn("n_words", size(col("toks")).cast("long"))
    val topShare = base
      .select(col("id"), explode(col("toks")).alias("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).alias("c"))
      .groupBy(col("id")).agg(max(col("c")).alias("max_cnt"))
    val mwl = when(col("n_words") > 0,
      aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).cast("double")
        / col("n_words").cast("double")).otherwise(lit(0.0))
    base
      .join(topShare, Seq("id"), "left_outer")
      .withColumn("mean_word_len", mwl)
      .withColumn("top_share",
        when(col("n_words") > 0,
          coalesce(col("max_cnt").cast("double"), lit(0.0))
            / col("n_words").cast("double")).otherwise(lit(0.0)))
      .select(col("id"), col("n_words"),
        (col("n_words") >= minWords && col("n_words") <= maxWords).alias("wc_ok"),
        (col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
          .alias("mwl_ok"),
        (size(array_intersect(col("toks"),
          array(stopwords.map(lit(_)): _*))) >= 2).alias("stop_ok"),
        (col("top_share") <= maxTopShare).alias("rep_ok"))
      .withColumn("pass",
        col("wc_ok") && col("mwl_ok") && col("stop_ok") && col("rep_ok"))
  }

  /** Curriculum difficulty binning: global percentile thresholds over a
    * per-document score (ONE percentile aggregate for all cut points, the
    * [[graft.operators.Relational.GraftOps.winsorize]] trick), then each
    * doc gets bin = number of thresholds strictly below its score — probs
    * of (0.25, 0.5, 0.75) yield quartile bins 0..3, the shape a
    * shortest-first / easiest-first training schedule consumes. A score
    * equal to a cut point lands in the LOWER bin (deterministic,
    * documented).
    *
    * Scale shape: the thresholds reduce to one broadcast row; assignment
    * is a narrow map. Exact percentile buffers each aggregate partition —
    * fine for a single global aggregate on a numeric column; at 100 TB
    * flip `approximate = true` (t-digest sketch, same cut-point
    * semantics within sketch error).
    */
  def difficultyBins(df: DataFrame, id: Column, score: Column,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      approximate: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty, "difficultyBins needs at least one cut point")
    require(probs == probs.sorted && probs.distinct == probs,
      s"cut points must be strictly increasing, got $probs")
    require(probs.forall(p => p > 0 && p < 1), s"cut points must be in (0,1), got $probs")
    val base = df.select(id.alias("id"), score.cast("double").alias("x"))
    val parr = array(probs.map(lit(_)): _*)
    val pexp =
      if (approximate) percentile_approx(col("x"), parr, lit(accuracy))
      else percentile(col("x"), parr)
    val thr = base.agg(pexp.alias("__t"))
    val bin = probs.indices
      .map(i => when(col("x") > element_at(col("__t"), i + 1), 1L).otherwise(0L))
      .reduceLeft(_ + _)
    base.crossJoin(broadcast(thr))
      .withColumn("bin", bin)
      .select(col("id"), col("x"), col("bin"))
  }

  /** Exact-substring duplicate spans (the Lee et al. 2022
    * "deduplicate-text-datasets" signal, strided): slide a `winLen`-char
    * window every `step` chars over each document and report every window
    * whose exact text also occurs in at least `minDocs` distinct documents.
    * Returns (id, pos, n_docs) — pos is the 0-based char offset; callers
    * cut or down-weight the flagged spans. Documents shorter than `winLen`
    * yield no windows. `step < winLen` makes flagged regions overlap into
    * contiguous cut-ranges; `step = winLen` tiles disjointly.
    *
    * Catches what token-level shingle dedup misses: long verbatim passages
    * embedded in otherwise-different documents (licenses, headers, quoted
    * text) that leave whole-doc Jaccard far below any threshold.
    *
    * Scale shape: windows are hashed to 64 bits IN the scan projection, so
    * the frequency groupBy and the join back move (hash, id, pos) triples
    * — never window text. Both stages partial-aggregate map-side;
    * cross-doc window count is corpus_chars / step, i.e. linear with a
    * 1/step constant. (Distinct windows colliding on xxhash64 would flag
    * together at 2^-64 per pair — the standard narrow-key trade, as in
    * [[segmentDedup]].)
    */
  def repeatedSpans(df: DataFrame, id: Column, text: Column,
      winLen: Int = 64, step: Int = 16, minDocs: Long = 2L): DataFrame = {
    require(winLen > 0, s"winLen must be positive, got $winLen")
    require(step > 0, s"step must be positive, got $step")
    require(minDocs >= 2, s"minDocs below 2 flags every window, got $minDocs")
    val docs = df.select(id.alias("id"), text.alias("t"))
      .filter(length(col("t")) >= winLen)
    val wins = docs
      .select(col("id"), col("t"),
        explode(sequence(lit(0L),
          floor((length(col("t")) - lit(winLen)).cast("double") / step).cast("long")))
          .alias("k"))
      .select(col("id"), (col("k") * step).alias("pos"),
        xxhash64(col("t").substr((col("k") * step + 1).cast("int"), lit(winLen)))
          .alias("h"))
    val freq = wins.groupBy(col("h"))
      .agg(count_distinct(col("id")).alias("n_docs"))
      .filter(col("n_docs") >= minDocs)
    wins.join(freq, "h").select(col("id"), col("pos"), col("n_docs"))
  }

  /** Snapshot diff between two corpus versions keyed by id: a FULL OUTER
    * join classifying every id as added / removed / changed / unchanged by
    * comparing a content witness (`fp`) — the ops report a versioned lake
    * produces between crawls. At scale pass a 64-bit fingerprint
    * ([[graft.plans.TextExprs.fingerprint]]) as the witness so the join
    * carries 8 bytes per side, not documents.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, id: Column,
      fp: Column): DataFrame = {
    // explicit presence markers: row absence must not be conflated with a
    // NULL witness value (a null-content row present on both sides is a
    // comparison, not an add/remove)
    val o = oldDf.select(id.alias("id"), fp.alias("fp_old"), lit(true).alias("in_old"))
    val n = newDf.select(id.alias("id"), fp.alias("fp_new"), lit(true).alias("in_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("fp_old") <=> col("fp_new"), "unchanged")
          .otherwise("changed"))
      .select(col("id"), col("status"))
  }

  /** Length-bucketed inference batching: group documents into fixed-size
    * batches of similar token length and report each batch's PADDING
    * WASTE — the serving-cost number (a batch pads every sequence to its
    * max, so waste = max*count - sum). Docs are first bucketed by
    * `n DIV bucketWidth`, then batched WITHIN buckets by descending
    * length — the window partitions by bucket, never globally (the q60
    * packing rule: no single-partition sort at scale), and padding within
    * a batch is bounded by the bucket width by construction.
    *
    * Returns one row per batch: (bucket, batch_idx, n_docs, max_tokens,
    * sum_tokens, padded_tokens, waste_tokens, waste_ppm) — all integer.
    */
  def lengthBatching(df: DataFrame, id: Column, nTokens: Column,
      batchSize: Int, bucketWidth: Int): DataFrame = {
    require(batchSize > 0 && bucketWidth > 0,
      s"batchSize/bucketWidth must be positive, got $batchSize/$bucketWidth")
    val base = df.select(id.alias("id"), nTokens.cast("long").alias("n"))
      .filter(col("n") > 0)
      .withColumn("bucket", expr(s"n DIV $bucketWidth"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n").desc, col("id").asc)
    base.withColumn("rn", row_number().over(w))
      .withColumn("batch_idx", expr(s"(rn - 1) DIV $batchSize"))
      .groupBy(col("bucket"), col("batch_idx"))
      .agg(count(lit(1)).alias("n_docs"), max(col("n")).alias("max_tokens"),
        sum(col("n")).alias("sum_tokens"))
      .withColumn("padded_tokens", expr("max_tokens * n_docs"))
      .withColumn("waste_tokens", expr("padded_tokens - sum_tokens"))
      .withColumn("waste_ppm", expr("waste_tokens * 1000000L DIV padded_tokens"))
  }

  /** Count-min-sketch heavy hitters — the BOUNDED-STATE counting sketch
    * (Cormode & Muthukrishnan 2005) with, unusually, an EXACT oracle: all
    * hashing is deterministic portable FNV-1a, so the entire sketch —
    * counter matrix, estimates, overestimates — replays bit-for-bit in
    * ANSI SQL. The 100 TB story is the state bound: the counter matrix is
    * `width x depth` cells no matter the vocabulary, reached through one
    * partial-aggregated groupBy over (row, bucket) — contrast the exact
    * [[heavyHitters]]-style count whose state is vocab-sized.
    *
    * Row hashes derive from ONE 64-bit token hash reduced to 31 bits,
    * spread by odd multipliers: `bucket_i = (r*(2i+1) + i*7919) mod width`
    * — overflow-free in int64, hence engine-portable. (Production config:
    * d independently-seeded xxhash64 rows — stronger independence, not
    * SQL-replayable; this is the oracle instrument, same split as
    * dupSubstrSpans' hashShingles.)
    *
    * Returns, for the exact top-`k` tokens: (token, exact_n, cms_n,
    * overestimate) — `cms_n >= exact_n` always (CMS never undercounts),
    * equality when none of the token's `depth` cells collided.
    */
  def cmsHeavyHitters(df: DataFrame, text: Column, width: Int, depth: Int,
      k: Int): DataFrame = {
    require(width > 0 && depth > 0 && k > 0,
      s"width/depth/k must be positive, got $width/$depth/$k")
    val toks = Relational.spread(df).select(explode(arrays_zip(
        graft.functions.TextFns.tokens(text).alias("tok"),
        graft.plans.TextExprs.tokenHashes(text, portable = true).alias("h")))
        .alias("z"))
      .select(col("z.tok").alias("tok"), col("z.h").alias("h"))
    // ONE corpus pass: the vocab-sized (tok, hash, count) aggregate feeds
    // both the counter matrix (cells weighted by the count — identical to
    // counting raw occurrences) and the exact top-k, instead of
    // re-tokenizing the corpus for each
    val counted = toks.groupBy(col("tok"), col("h"))
      .agg(count(lit(1)).alias("exact_n"))
    val cells = counted.select(pmod(col("h"), lit(2147483648L)).alias("r"),
        col("exact_n"), explode(sequence(lit(0), lit(depth - 1))).alias("row"))
      .select(col("row"), col("exact_n"),
        ((col("r") * (col("row") * 2 + 1) + col("row") * 7919) % width)
          .alias("bucket"))
    val counters = cells.groupBy(col("row"), col("bucket"))
      .agg(sum(col("exact_n")).alias("c"))
    val top = counted
      .orderBy(col("exact_n").desc, col("tok").asc)
      .limit(k)
    val probes = top.select(col("tok"), col("exact_n"),
        pmod(col("h"), lit(2147483648L)).alias("r"),
        explode(sequence(lit(0), lit(depth - 1))).alias("row"))
      .select(col("tok"), col("exact_n"), col("row"),
        ((col("r") * (col("row") * 2 + 1) + col("row") * 7919) % width)
          .alias("bucket"))
    probes.join(counters, Seq("row", "bucket"))
      .groupBy(col("tok"), col("exact_n"))
      .agg(min(col("c")).alias("cms_n"))
      .select(col("tok"), col("exact_n"), col("cms_n"),
        (col("cms_n") - col("exact_n")).alias("overestimate"))
  }

  /** HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
    * BOUNDED-STATE distinct counter, and like [[cmsHeavyHitters]] built
    * with, unusually, an EXACT oracle: value hashing is the portable
    * FNV-1a, the register update is integer max, and the harmonic sum is
    * carried as the exact integer Σ 2^(sumScale-register) (sumScale = 62-b, overflow-proof — see hllSumScale), so the whole
    * sketch — all 2^b registers, the scaled sum, even the float estimate
    * (one shared IEEE op sequence) — replays bit-for-bit in ANSI SQL.
    *
    * Layout: h = fnv64(value); bucket = h mod 2^b (low bits, two's
    * complement = unsigned); w = h >>> b; rho(w) = trailing zeros + 1
    * (Flajolet's pattern-of-the-SUFFIX variant — trailing zeros are exact
    * integer SQL via `bit_count((w & -w) - 1)`, leading zeros are not),
    * capped at maxRho = 64 - b + 1 when w = 0. register[j] = max rho.
    *
    * The 100 TB story is state + mergeability: the register vector is 2^b
    * integers no matter the cardinality, built by ONE partial-aggregated
    * groupBy (executors pre-max locally, 2^b rows cross the shuffle), and
    * two sketches merge by element-wise max — count-distinct across shards
    * or days without ever shuffling raw values. `n_exact` (a real distinct
    * count) rides along as the oracle instrument; production drops it.
    *
    * Returns 2^b rows: (bucket, register, s_scaled, n_exact, hll_estimate)
    * with the one-row summary broadcast onto every register row.
    * Estimate = alpha_m·m²/Σ2^-reg with alpha for m >= 64 per the paper;
    * relative error ≈ 1.04/√m (b=6 → ~13%).
    */
  def hllSketch(df: DataFrame, value: Column, b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val m = 1 << b
    val regs = hllRho(df, value, b)
      .groupBy("bucket").agg(max(col("rho")).cast("long").alias("register"))
    hllFinalize(regs, df.agg(countDistinct(value).alias("n_exact")), b)
  }

  /** Finish a SPARSE (bucket, register) frame into the full sketch report:
    * spine-fill missing buckets to register 0, attach the harmonic sum and
    * estimate. Public seam so a STREAMING register aggregation (one
    * groupBy-max — 2^b rows of state) can drain and finalize through the
    * identical math as the batch sketch.
    */
  def hllFinalize(sparseRegs: DataFrame, nExact: DataFrame, b: Int): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val m = 1 << b
    // spine join: empty buckets must appear as register 0 (they dominate
    // the harmonic sum at low cardinality — dropping them breaks the sketch)
    val spine = sparseRegs.sparkSession.range(0, m).select(col("id").alias("bucket"))
    val full = spine.join(sparseRegs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("register"), lit(0L)).alias("register"))
    hllDecorate(full, nExact, b)
  }

  /** (bucket, w, rho) projection shared by the global and grouped sketches;
    * `keep` columns ride along (the group key).
    */
  private[graft] def hllRho(df: DataFrame, value: Column, b: Int,
      keep: Seq[Column] = Nil): DataFrame = {
    val m = 1 << b
    val maxRho = 64 - b + 1
    df.select((keep :+
        graft.plans.TextExprs.fnv64(value.cast("string")).alias("h")): _*)
      .withColumn("bucket", pmod(col("h"), lit(m.toLong)))
      .withColumn("w", shiftrightunsigned(col("h"), b))
      .withColumn("rho", when(col("w") === 0L, lit(maxRho)).otherwise(
        bit_count(col("w").bitwiseAND(-col("w")) - 1L) + 1))
  }

  /** Attach the exact scaled harmonic sum, the exact distinct instrument,
    * and the shared-IEEE-sequence estimate to a dense register frame.
    */
  /** Harmonic-sum scale: Σ 2^-reg is carried as Σ 2^(sumScale - reg) with
    * sumScale = 62 - b, so the all-empty worst case m·2^sumScale = 2^62
    * NEVER overflows a long (a 2^59 scale did, under ANSI, the moment ~16
    * registers sat at 0 — low-cardinality sketches are exactly where empty
    * buckets dominate). Registers above sumScale floor their term to 0:
    * that needs a 57+-bit trailing-zero run (P ≈ 2^-57 per value), and the
    * oracle replays the identical floor, so cross-engine exactness holds
    * unconditionally.
    */
  private def hllSumScale(b: Int): Int = 62 - b

  private def hllSumExpr(b: Int): Column = {
    val s = hllSumScale(b)
    sum(expr(
      s"CAST(CASE WHEN register <= $s THEN shiftleft(1L, $s - register) ELSE 0L END AS BIGINT)"))
  }

  private def hllAlphaC(b: Int): Column = {
    val m = 1 << b
    val alpha = 0.7213 / (1.0 + 1.079 / m) // paper's alpha_m for m >= 128; 64 uses 0.709
    val base =
      if (m == 64) (lit(0.709) * lit(m.toDouble)) * lit(m.toDouble)
      else (lit(alpha) * lit(m.toDouble)) * lit(m.toDouble)
    base * lit(math.pow(2.0, hllSumScale(b)))
  }

  private def hllDecorate(full: DataFrame, nExact: DataFrame, b: Int): DataFrame = {
    val summary = full.agg(hllSumExpr(b).alias("s_scaled"))
    full
      .crossJoin(broadcast(summary))
      .crossJoin(broadcast(nExact))
      .withColumn("hll_estimate", round(
        hllAlphaC(b) / col("s_scaled").cast("double"), 6))
      .select(col("bucket"), col("register"), col("s_scaled"),
        col("n_exact"), col("hll_estimate"))
  }

  /** Per-group HLL register vectors: (group, bucket, register), dense (all
    * 2^b buckets per group). This is the SHARD form — per source, per day,
    * per partition — that [[hllMerge]] folds without touching raw values.
    */
  def hllSketchGrouped(df: DataFrame, group: Column, value: Column,
      b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val m = 1 << b
    val regs = hllRho(df, value, b, keep = Seq(group.alias("group")))
      .groupBy("group", "bucket")
      .agg(max(col("rho")).cast("long").alias("register"))
    val spine = df.select(group.alias("group")).distinct()
      .crossJoin(df.sparkSession.range(0, m).select(col("id").alias("bucket")))
    spine.join(regs, Seq("group", "bucket"), "left")
      .select(col("group"), col("bucket"),
        coalesce(col("register"), lit(0L)).alias("register"))
  }

  /** Merge grouped sketches by element-wise register max — the HLL union
    * law. 2^b rows per group in, 2^b rows out; `nExact` is the caller's
    * exact-distinct instrument frame (1 row), dropped in production.
    */
  def hllMerge(grouped: DataFrame, nExact: DataFrame, b: Int = 6): DataFrame = {
    val merged = grouped.groupBy("bucket")
      .agg(max(col("register")).alias("register"))
    hllDecorate(merged, nExact, b)
  }

  /** Dense per-group register vectors from a SPARSE (group, bucket,
    * register) frame — the grouped sibling of [[hllFinalize]]'s spine fill
    * (no estimate decoration; callers join their own instruments). Public
    * seam for streaming grouped sketches: a windowed streaming register
    * aggregation drains sparse and densifies here.
    */
  def hllFinalizeGrouped(sparse: DataFrame, b: Int): DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val m = 1 << b
    val spine = sparse.select(col("group")).distinct()
      .crossJoin(sparse.sparkSession.range(0, m).select(col("id").alias("bucket")))
    spine.join(sparse, Seq("group", "bucket"), "left")
      .select(col("group"), col("bucket"),
        coalesce(col("register"), lit(0L)).alias("register"))
  }

  /** 1-row scaled harmonic sum of a value set's sketch (the scalar an
    * estimate derives from).
    */
  private def hllSRow(df: DataFrame, value: Column, b: Int,
      alias: String): DataFrame = {
    val m = 1 << b
    val regs = hllRho(df, value, b)
      .groupBy("bucket").agg(max(col("rho")).cast("long").alias("register"))
    val spine = df.sparkSession.range(0, m).select(col("id").alias("bucket"))
    spine.join(regs, Seq("bucket"), "left")
      .select(coalesce(col("register"), lit(0L)).alias("register"))
      .agg(hllSumExpr(b).alias(alias))
  }

  /** HLL set algebra: estimate the INTERSECTION of two value sets by
    * inclusion-exclusion over three sketches — est(A) + est(B) − est(A∪B),
    * where the union sketch is just the sketch of the concatenated inputs
    * (registers merge by max, so no raw values ever co-shuffle). The
    * vocabulary-overlap / audience-overlap primitive: at 100 TB each side's
    * registers are 2^b integers, and the exact-distinct instruments
    * (`n_*` columns) are what production drops.
    *
    * Estimates share one IEEE op sequence, so even the derived
    * intersection replays bit-for-bit. Inclusion-exclusion error compounds
    * (three ±1.04/√m estimates) — fine for overlap RATIOS, not for small
    * intersections of huge sets; the n_exact columns make the error
    * visible rather than asserted.
    */
  def hllOverlap(a: DataFrame, b: DataFrame, value: Column,
      bBits: Int = 6): DataFrame = {
    require(bBits >= 4 && bBits <= 16, s"b must be in [4,16], got $bBits")
    val va = a.select(value.alias("v"))
    val vb = b.select(value.alias("v"))
    val sA = hllSRow(va, col("v"), bBits, "sa")
    val sB = hllSRow(vb, col("v"), bBits, "sb")
    val sU = hllSRow(va.union(vb), col("v"), bBits, "su")
    val exact = va.distinct().alias("da")
      .join(vb.distinct().alias("db"), Seq("v"))
      .agg(count(lit(1)).alias("n_exact_inter"))
    val alphaC = hllAlphaC(bBits)
    sA.crossJoin(broadcast(sB)).crossJoin(broadcast(sU))
      .crossJoin(broadcast(exact))
      .crossJoin(broadcast(va.agg(countDistinct(col("v")).alias("n_exact_a"))))
      .crossJoin(broadcast(vb.agg(countDistinct(col("v")).alias("n_exact_b"))))
      .select(
        col("n_exact_a"), col("n_exact_b"), col("n_exact_inter"),
        round(alphaC / col("sa").cast("double"), 6).alias("est_a"),
        round(alphaC / col("sb").cast("double"), 6).alias("est_b"),
        round(alphaC / col("su").cast("double"), 6).alias("est_union"),
        round(alphaC / col("sa").cast("double")
          + alphaC / col("sb").cast("double")
          - alphaC / col("su").cast("double"), 6).alias("est_inter"))
  }

  /** DSIR-style importance weights for target-domain data selection (Xie
    * et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its tokens
    * are under the TARGET distribution (e.g. one language, one source,
    * curated seed data) than under the RAW corpus distribution, then keep
    * the high scorers. Feature model is add-one-smoothed unigrams, the
    * paper's hashed-n-gram model with the hashing dropped (the feature
    * table here is vocab-sized; hash features first if the vocabulary
    * itself is the bottleneck).
    *
    * ln-free, integer-exact (the q80-lift / BM25-rational house rule):
    * instead of the paper's sum of log-likelihood-ratios, the score is the
    * floor-mean of per-token SCALED likelihood ratios
    *   ratio_micro(w) = (ppb_t(w) * 1,000,000) DIV ppb_r(w),
    *   ppb_x(w) = ((count_x(w) + 1) * unit) DIV (total_x + vocab)
    * — a monotone rational transform of the same evidence, identical in
    * any engine. `selected` = mean ratio above parity (1,000,000 micro
    * units = "this doc is no less target-like than raw-average").
    *
    * Requires the target rows to be a SUBSET of `df` (isTarget is a
    * predicate over df's rows), so count_r >= count_t per token and the
    * ratio stays bounded by corpus imbalance. Long-range: safe while
    * total_tokens * unit < 2^63 (~9e9 tokens at the default ppb unit —
    * shrink `unit` for larger corpora; every quantity floors the same way
    * in both engines at any unit).
    *
    * Scale shape: one vocab-sized partial-aggregated groupBy (token ->
    * (raw count, target count)), a 1-row totals broadcast, the vocab
    * weight table joined back to the token stream (broadcast when it
    * fits, hash join on the token otherwise), one per-doc groupBy.
    *
    * Returns (id, n_tokens, score_sum, mean_ratio_micro, selected).
    */
  def dsirWeights(df: DataFrame, id: Column, terms: Column,
      isTarget: Column, unit: Long = 1000000000L): DataFrame = {
    require(unit > 0, s"unit must be positive, got $unit")
    val toks = Relational.spread(df).select(id.alias("id"), isTarget.alias("tgt"),
        explode(terms).alias("w"))
    val wc = toks.groupBy(col("w")).agg(
      count(lit(1)).alias("r"),
      sum(when(col("tgt"), 1L).otherwise(0L)).alias("t"))
    val totals = wc.agg(sum(col("r")).alias("tr"), sum(col("t")).alias("tt"),
      count(lit(1)).alias("v"))
    val featw = wc.crossJoin(broadcast(totals))
      .select(col("w"), expr(
        s"greatest((t + 1) * ${unit}L DIV (tt + v), 1L) * 1000000L DIV " +
          s"greatest((r + 1) * ${unit}L DIV (tr + v), 1L)").alias("ratio_micro"))
    toks.join(featw, Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).alias("n_tokens"),
        sum(col("ratio_micro")).alias("score_sum"))
      .withColumn("mean_ratio_micro", expr("score_sum DIV n_tokens"))
      .withColumn("selected", col("mean_ratio_micro") >= 1000000L)
  }

  /** Distributed BPE merge induction — the first `rounds` merges of
    * byte-pair-encoding tokenizer training (Sennrich, Haddow & Birch 2016,
    * the GPT-2/LLaMA tokenizer recipe). Training state is the WORD
    * VOCABULARY with frequencies (distinct words, not corpus tokens — the
    * same compaction every real BPE trainer uses), each word as a
    * space-joined symbol sequence starting at characters. Per round: count
    * adjacent symbol pairs weighted by word frequency (one
    * partial-aggregated shuffle over the exploded pairs), take the global
    * argmax (count desc, then lexicographic (left, right) — deterministic),
    * and rewrite every word by greedy non-overlapping merge application.
    *
    * The single argmax row per round is collected — bounded driver state,
    * the [[graft.operators.Similarity.kmeansFit]] precedent: the merge
    * table IS the trainer's driver-side output, while all counting and
    * rewriting stays distributed.
    *
    * Greedy application is exact via DOUBLED separators: in
    * `' ' + replace(sym, ' ', '  ') + ' '` every symbol owns a boundary
    * space on each side, so consecutive occurrences of the pair (the
    * `l == r` chain `a a a a` -> `aa aa`, not `aa a a`) no longer share a
    * delimiter character and plain left-to-right replace-all equals the
    * BPE scan. Same expression replays in ANSI SQL, which is what makes
    * the merge table oracle-checkable end to end.
    *
    * Returns (merge_round, merge_left, merge_right, pair_count), one row
    * per round, ending early if the vocabulary runs out of pairs.
    *
    * Scale shape: per round one groupBy over ~|vocab| * avg_word_len pair
    * rows (narrow: two symbol strings + a count) and one map over the
    * vocab. The initial vocab aggregation is the only corpus-sized
    * shuffle. Character splitting is per JVM/UTF-16 code unit, identical
    * to code points on the BMP text this targets.
    */
  def bpeMerges(df: DataFrame, terms: Column, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val sym0 = Relational.spread(df).select(explode(terms).alias("w"))
      .groupBy(col("w")).agg(count(lit(1)).alias("wc"))
      .select(concat_ws(" ", split(col("w"), "")).alias("sym"), col("wc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var sym = sym0.select(col("sym"), col("wc"))
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val arr = split(col("sym"), " ")
      val top = sym.filter(size(arr) > 1)
        .select(col("wc"), explode(zip_with(
          slice(arr, lit(1), size(arr) - 1), slice(arr, lit(2), size(arr) - 1),
          (a, b) => struct(a.alias("l"), b.alias("r")))).alias("p"))
        .groupBy(col("p.l").alias("l"), col("p.r").alias("r"))
        .agg(sum(col("wc")).alias("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rt, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r.toLong, l, rt, cnt))
        sym = sym.select(applyBpeMerge(col("sym"), l, rt).alias("sym"), col("wc"))
        r += 1
      }
    }
    sym0.unpersist(blocking = false)
    spark.createDataFrame(out.toSeq)
      .toDF("merge_round", "merge_left", "merge_right", "pair_count")
  }

  /** One greedy non-overlapping merge application on a space-joined symbol
    * string — the doubled-separator rewrite shared by [[bpeMerges]]
    * (training) and [[bpeSegment]] (inference).
    */
  private def applyBpeMerge(sym: Column, l: String, r: String): Column = {
    val padded = concat(lit(" "), replace(sym, lit(" "), lit("  ")), lit(" "))
    val merged = replace(padded, lit(s" $l  $r "), lit(s" $l$r "))
    trim(replace(merged, lit("  "), lit(" ")))
  }

  /** BPE tokenizer INFERENCE: segment the word vocabulary of a corpus with
    * a learned merge table ([[bpeMerges]] output, collected — the merge
    * table is the tokenizer artifact, driver state by definition). Each
    * merge is applied in rank order as one chained greedy rewrite, so
    * training and inference are literally the same expression — a corpus
    * segmented with its own merges reproduces training's final symbol
    * state exactly.
    *
    * Returns (w, wc, subtokens): distinct word, corpus frequency, subword
    * sequence. Downstream: explode subtokens weighted by wc for the corpus
    * subword histogram, or join words back to documents for per-doc
    * subword streams. All distributed work is one vocab aggregation plus a
    * narrow map — merge count only deepens the projection.
    */
  def bpeSegment(df: DataFrame, terms: Column,
      merges: Seq[(String, String)]): DataFrame = {
    // spreadBy between the vocab aggregation and the merge fold: the vocab
    // frame is tiny in BYTES (AQE coalesces it to one task) but each row
    // then pays the chained per-merge segmentation expressions — measured
    // q167: ~1000 vocab words × 8 merges on 1 task = 1.5 s; pinned
    // partitioning keeps the fold core-wide for a one-KB exchange.
    val vocab = Relational.spreadBy(
        df.select(explode(terms).alias("w"))
          .groupBy(col("w")).agg(count(lit(1)).alias("wc")),
        col("w"))
      .select(col("w"), col("wc"),
        concat_ws(" ", split(col("w"), "")).alias("sym"))
    val segmented = merges.foldLeft(col("sym")) {
      case (c, (l, r)) => applyBpeMerge(c, l, r)
    }
    vocab.select(col("w"), col("wc"), split(segmented, " ").alias("subtokens"))
  }

  /** Skip-gram co-occurrence counts — the word2vec/GloVe preprocessing
    * matrix: for every within-document token pair at distance 1..`window`,
    * the unordered pair's raw count and GloVe's 1/distance weighting as a
    * floor-ppm integer sum (Σ 1e6 DIV d — no floats, so the matrix
    * hash-replays cross-engine). `minCount` prunes the long tail, which is
    * where the quadratic-in-window blowup lives at 100 TB.
    *
    * Returns (w_a, w_b, n, weight_ppm) with w_a <= w_b; self-pairs (a
    * token co-occurring with itself) are counted like any other.
    *
    * Scale shape: posexplode + a window-sized offset explode, then ONE
    * equi-join on (doc, position) — never a per-document cross join; the
    * pair count collapses via partial aggregation before the shuffle.
    */
  def skipgramCounts(df: DataFrame, id: Column, terms: Column,
      window: Int, minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(id.alias("doc"), posexplode(terms).as(Seq("pos", "tok")))
    val lefts = toks.select(col("doc"), col("pos"), col("tok").alias("tok_l"),
        explode(typedLit((1 to window).toArray)).alias("d"))
      .select(col("doc"), (col("pos") + col("d")).alias("pos"),
        col("tok_l"), col("d"))
    lefts.join(toks.withColumnRenamed("tok", "tok_r"), Seq("doc", "pos"))
      .select(least(col("tok_l"), col("tok_r")).alias("w_a"),
        greatest(col("tok_l"), col("tok_r")).alias("w_b"), col("d"))
      .groupBy(col("w_a"), col("w_b"))
      .agg(count(lit(1)).alias("n"),
        sum(expr("1000000L DIV d")).alias("weight_ppm"))
      .filter(col("n") >= minCount)
  }

  /** Hamilton largest-remainder apportionment: split an integer `budget`
    * across groups proportionally to an integer weight, EXACTLY — each
    * group gets floor(budget·w/W), and the leftover units go one each to
    * the largest remainders (ties toward the smaller group label). The
    * mixture-planning step that turns [[temperatureWeights]]-style shares
    * into actual token/document quotas that SUM TO THE BUDGET — floor
    * division alone under-allocates by up to (groups−1) units, which at a
    * 10B-token budget is real data someone forgot to take.
    *
    * Returns (group, w, quota, base, rem) — base/rem expose the
    * apportionment arithmetic for audit. DECIMAL(38,0) products, so
    * budget·w never overflows.
    *
    * Scale shape: one weight groupBy upstream of the caller, a 1-row
    * total broadcast, one window over the GROUPS frame (group-cardinality
    * sized — never rows).
    */
  def largestRemainderQuota(df: DataFrame, group: Column, weight: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val g = df.groupBy(group.alias("group"))
      .agg(sum(weight.cast("long")).alias("w"))
    val tot = g.agg(sum(col("w")).alias("tw"))
    val based = g.crossJoin(broadcast(tot))
      .selectExpr("group", "w",
        s"CAST((CAST(${budget}L AS DECIMAL(38,0)) * w) DIV tw AS BIGINT) AS base",
        s"CAST((CAST(${budget}L AS DECIMAL(38,0)) * w) % tw AS BIGINT) AS rem")
    val short = based.agg((lit(budget) - sum(col("base"))).alias("leftover"))
    // unpartitioned window, bounded: one row per group
    val w = Window.orderBy(col("rem").desc, col("group"))
    based.crossJoin(broadcast(short))
      .withColumn("__rk", row_number().over(w).cast("long"))
      .selectExpr("group", "w",
        "base + CASE WHEN __rk <= leftover THEN 1L ELSE 0L END AS quota",
        "base", "rem")
  }

  /** Cross-source content-overlap matrix: for every pair of sources, how
    * many distinct document contents they share — the split-contamination
    * / mirror-detection audit run before treating sources as independent
    * mixture components. Content is witnessed by portable FNV-64 of the
    * text ([[graft.plans.TextExprs.fnv64]]), so only 8-byte keys shuffle
    * (identical to a text-equality join up to 2^-64 collisions, the q57
    * convention); the overlap is reported as ppm of EACH side's distinct
    * content count — asymmetric by design, a mirror shows ~1e6 on the
    * smaller side.
    *
    * Returns (src_a, src_b, n_shared, n_a, n_b, overlap_a_ppm,
    * overlap_b_ppm) for source pairs sharing at least one content;
    * src_a < src_b.
    *
    * Scale shape: one distinct on (source, fp), a fp-keyed self equi-join
    * (duplicated-content keys only — at most |sources| rows per fp), a
    * pair-cardinality groupBy, two source-sized broadcasts.
    */
  def crossSourceOverlap(df: DataFrame, source: Column,
      content: Column): DataFrame = {
    val fp = df.select(source.alias("src"),
        graft.plans.TextExprs.fnv64(content).alias("fp"))
      .distinct()
    val tot = fp.groupBy(col("src")).agg(count(lit(1)).alias("n_fp"))
    fp.alias("x").join(fp.alias("y"),
        col("x.fp") === col("y.fp") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").alias("src_a"), col("y.src").alias("src_b"))
      .agg(count(lit(1)).alias("n_shared"))
      .join(broadcast(tot.select(col("src").alias("src_a"),
        col("n_fp").alias("n_a"))), Seq("src_a"))
      .join(broadcast(tot.select(col("src").alias("src_b"),
        col("n_fp").alias("n_b"))), Seq("src_b"))
      .withColumn("overlap_a_ppm", expr("(n_shared * 1000000L) DIV n_a"))
      .withColumn("overlap_b_ppm", expr("(n_shared * 1000000L) DIV n_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("overlap_a_ppm"), col("overlap_b_ppm"))
  }

  /** PII patterns shared by [[piiScan]]'s count and redaction passes —
    * written in the common Java-regex/RE2 subset (explicit classes, no
    * lookaround, no lazy quantifiers) so DuckDB's RE2 replays them
    * byte-for-byte.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("longnum", "[0-9]{9,}", "<NUM>"))

  /** PII scan + redaction: per-document counts of each pattern family
    * (email, dotted-quad IP, 9+-digit identifier runs) and the text with
    * every match replaced by its placeholder — the minimum-viable privacy
    * scrub a training pipeline runs before anything else sees raw text.
    * Patterns apply in [[PiiPatterns]] order (emails first, so their
    * digits are gone before the number pass; IPs' dots keep them out of
    * the digit-run class). Pattern-based scrubbing is a floor, not a
    * guarantee — names/addresses need NER, which is model territory; this
    * operator is the deterministic, auditable layer under it.
    *
    * Returns (id, n_email, n_ipv4, n_longnum, redacted).
    *
    * Scale shape: one narrow projection — three regex count passes and
    * three chained replaces per row, no shuffle, no state.
    */
  def piiScan(df: DataFrame, id: Column, text: Column): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("__t"), lit(pat), lit(0)))
        .cast("long").alias(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(col("__t")) {
      case (c, (_, pat, rep)) => regexp_replace(c, pat, rep)
    }
    df.select((Seq(id.alias("id"), text.alias("__t")) ): _*)
      .select((Seq(col("id")) ++ counts :+ redacted.alias("redacted")): _*)
  }

  /** Greedy maximum-coverage document selection — the classic submodular
    * curation step (pick the k docs that together cover the most distinct
    * word 3-gram shingles; each round's winner is the doc with the most
    * NOT-YET-COVERED shingles, ties to the smaller id). The greedy
    * solution is within (1 − 1/e) of optimal (Nemhauser et al. 1978) and
    * is what "select a diverse seed subset" means in practice. Stops
    * early when the best remaining gain is 0. Returns one row per pick:
    * (rank, doc_id, gain, covered_total).
    *
    * Scale shape: the inverted doc→shingle index is built once and
    * persisted; each of the k rounds is one anti-join against the covered
    * set (broadcast-sized: it only ever holds the CHOSEN docs' shingles,
    * not the corpus), one partial-agg count per doc, and a 1-row
    * TakeOrdered — the k·O(index) pattern, with only k rows of driver
    * state (the k-means-centroid precedent). k is require-bounded.
    * Shingles are STRINGS (q34's exact tokenization), not hashes: a
    * coverage count must not depend on hash collisions.
    */
  def greedyMaxCoverage(docs: DataFrame, id: Column, text: Column,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = filter(split(lower(trim(text)), "\\s+"), x => length(x) > 0)
    val sh = array_distinct(transform(
      sequence(lit(1), greatest(size(col("__toks")) - 2, lit(1))),
      i => concat_ws(" ", slice(col("__toks"), i, lit(3)))))
    val inv = docs.select(id.cast("long").alias("id"), toks.alias("__toks"))
      .select(col("id"), explode(sh).alias("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var covered = inv.select(col("g")).limit(0)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cum = 0L
    var r = 1
    var done = false
    while (r <= k && !done) {
      val top = inv.join(covered, Seq("g"), "left_anti")
        .groupBy(col("id")).agg(count(lit(1)).alias("gain"))
        .orderBy(col("gain").desc, col("id").asc)
        .limit(1).collect() // 1 row per round, k rounds — bounded driver state
      if (top.isEmpty || top(0).getLong(1) == 0L) done = true
      else {
        val d = top(0).getLong(0); val gn = top(0).getLong(1)
        cum += gn
        chosen += ((r.toLong, d, gn, cum))
        covered = covered.union(inv.filter(col("id") === d).select(col("g")))
        r += 1
      }
    }
    val out = chosen.toSeq.toDF("rank", "doc_id", "gain", "covered_total")
    inv.unpersist()
    out
  }

  /** Deterministic, leakage-safe holdout assignment by GROUP key: split =
    * 'val' iff the low 10 bits of the portable FNV-1a hash of the group
    * key's string form fall below `valPer1024`. Every row of one group
    * lands on one side, so near-dup cliques keyed by their component id
    * never straddle the train/validation boundary — the
    * decontamination-BY-CONSTRUCTION split a training pipeline wants
    * (per-doc random holdout puts one member of a duplicated pair in
    * train and its twin in val, the exact leakage Lee et al.'s dedup
    * paper measures; cf. /root/reference has no split surface at all).
    *
    * Power-of-two modulus on purpose: two's-complement low bits are
    * identical signed or unsigned, so the assignment replays exactly from
    * the HUGEINT mod-2^64 FNV fold in plain SQL (the
    * [[graft.plans.TextExprs.fnv64]] portability contract) — a ppm
    * threshold would need the unsigned-vs-signed residue correction.
    * Holdout fractions quantize to 1/1024, plenty for split sizing.
    *
    * Returns (id, split). Scale shape: one stateless projection — zero
    * shuffles, zero joins; composes with [[graft.operators.Dedup
    * .nearDupComponents]] (group = component id) for the leak-free key.
    */
  def groupHoldout(df: DataFrame, id: Column, group: Column,
      valPer1024: Int): DataFrame = {
    require(valPer1024 >= 0 && valPer1024 <= 1024,
      s"valPer1024 must be in [0, 1024], got $valPer1024")
    df.select(id.alias("id"),
      when(pmod(graft.plans.TextExprs.fnv64(group.cast("string")),
        lit(1024L)) < valPer1024, "val").otherwise("train").alias("split"))
  }
}
