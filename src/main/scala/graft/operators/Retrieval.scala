package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical and hybrid retrieval over a document corpus — the "find the
  * right training data" side of the pipeline (the reference engine stops at
  * relational ops; retrieval is part of the beyond-parity SURVEY §7 set,
  * next to the ANN family in [[Similarity]]).
  *
  * Scale shape shared by both operators: corpus-wide statistics reduce to a
  * single broadcast row (or a k-row frame), per-document scoring is a
  * narrow projection with no shuffle, and the only data movement is the
  * final top-k (Spark's TakeOrderedAndProject: per-partition bounded heap,
  * driver merges partitions x k rows). Nothing here is quadratic and
  * nothing shuffles the corpus.
  */
object Retrieval {

  /** Per-document BM25 scores for a fixed bag of query terms.
    *
    * Classic Robertson/Sparck-Jones BM25 with one deliberate divergence:
    * the idf factor is the RAW rational odds `(N - df + 0.5) / (df + 0.5)`
    * rather than its logarithm. Like q80's lift-vs-PMI choice, this keeps
    * every arithmetic step an exact-cross-engine IEEE op (integer counts,
    * one division) so the DuckDB oracle hash-matches bit-for-bit; `ln` is
    * not correctly-rounded and may differ in the last ulp between libm
    * implementations. Per-term ranking is unchanged (monotone transform);
    * multi-term totals weight high-idf terms more than log-BM25 would —
    * documented, deterministic, and tested.
    *
    * Exactness contract (mirrored verbatim in the oracle SQL):
    *   tf, dl, df, N are exact integers widened to double;
    *   avgdl = total_tokens / N   (one division);
    *   idf_t = (N - df_t + 0.5) / (df_t + 0.5);
    *   score_t = (idf_t * (tf_t * (k1 + 1.0)))
    *             / (tf_t + k1 * ((1.0 - b) + b * (dl / avgdl)));
    *   score = ((t1 + t2) + t3) + ... left-associated in query-term order.
    *
    * Scale shape: tf per term is `size(filter(toks, ...))` — evaluated
    * inside the scan projection, no explode, no shuffle. The corpus-wide
    * stats (N, total token count, df per term) partial-aggregate to ONE row
    * which is broadcast back via a cross join. At 100 TB the whole operator
    * is: one narrow aggregate pass + one map pass.
    *
    * Returns (id, dl, score) for every document with score > 0.
    */
  def bm25Score(df: DataFrame, id: Column, terms: Column,
      query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25Score needs at least one query term")
    require(query.distinct == query, s"duplicate query terms: $query")
    val toks = df.select(id.alias("id"), terms.alias("toks"))
    // Persisted: the narrow (id, tf_i, dl) frame feeds BOTH the 1-row
    // stats aggregate and the scoring projection — without the cache the
    // tokenize + per-term scans run twice over the corpus.
    val tf = query.zipWithIndex.foldLeft(toks) { case (d, (term, i)) =>
      d.withColumn(s"tf_$i",
        size(filter(col("toks"), x => x === lit(term))).cast("double"))
    }.withColumn("dl", size(col("toks")).cast("double")).drop("toks")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val statCols =
      Seq(count(lit(1)).cast("double").alias("n_docs"),
          sum(col("dl")).alias("total_dl")) ++
      query.indices.map(i =>
        sum(when(col(s"tf_$i") > 0d, 1d).otherwise(0d)).alias(s"df_$i"))
    val stats = tf.agg(statCols.head, statCols.tail: _*)

    val scored = tf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_dl") / col("n_docs"))
    val termScores = query.indices.map { i =>
      val tfi = col(s"tf_$i"); val dfi = col(s"df_$i")
      val idf = (col("n_docs") - dfi + lit(0.5)) / (dfi + lit(0.5))
      (idf * (tfi * (lit(k1) + lit(1.0)))) /
        (tfi + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * (col("dl") / col("avgdl"))))
    }
    scored
      .withColumn("score", termScores.reduceLeft(_ + _))
      .filter(col("score") > 0d)
      .select(col("id"), col("dl").cast("long").alias("dl"), col("score"))
  }

  /** Top-k BM25 retrieval: [[bm25Score]] then (score desc, id asc) top-k
    * with a dense 1-based rank. The ordering runs as TakeOrderedAndProject
    * (bounded per-partition heaps); the row_number window touches only the
    * k survivors.
    */
  def bm25TopK(df: DataFrame, id: Column, terms: Column, query: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    bm25Score(df, id, terms, query, k1, b)
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      // unpartitioned window, bounded: top-k rows
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .select(col("rank"), col("id"), col("score"))
  }

  /** Passage retrieval: split documents into overlapping token chunks
    * ([[Corpus.slidingChunks]]) and BM25-rank the CHUNK corpus — finer
    * granularity than whole-document ranking, the shape a RAG stack
    * consumes. Chunk identity is packed as `id * chunkIdBase + chunk_id`
    * (ids must stay below chunkIdBase chunks per doc — guarded).
    *
    * Returns (rank, doc_id, chunk_id, score) for the top-k passages.
    */
  def passageTopK(df: DataFrame, id: Column, terms: Column,
      query: Seq[String], k: Int, chunkTokens: Int = 32, stride: Int = 16,
      chunkIdBase: Long = 1000L): DataFrame = {
    val chunks = Corpus.slidingChunks(df, id, terms, chunkTokens, stride)
    val guarded = chunks.select(
      when(col("chunk_id") < chunkIdBase,
        col("id") * chunkIdBase + col("chunk_id"))
        .otherwise(raise_error(lit(
          s"passageTopK: chunk_id exceeds chunkIdBase=$chunkIdBase; raise it")))
        .alias("id"),
      col("chunk_text"))
    bm25TopK(guarded, col("id"),
      graft.functions.TextFns.tokens(col("chunk_text")), query, k)
      .select(col("rank"), (col("id") / chunkIdBase).cast("long").alias("doc_id"),
        pmod(col("id"), lit(chunkIdBase)).cast("long").alias("chunk_id"),
        col("score"))
  }

  /** Exact positional phrase search: every occurrence of the k-term
    * phrase in the tokenized corpus, as (doc_id, pos) with `pos` the
    * 0-based position of the phrase's first term. Tokenization is the
    * engine-wide [[graft.functions.TextFns.tokens]] (trim, lowercase,
    * whitespace split).
    *
    * Inverted-index join formulation — the positional-postings analogue
    * of how a search engine evaluates quoted queries: the (doc, pos, tok)
    * postings are FILTERED to the phrase's own terms before anything
    * joins (selective terms ⇒ tiny frames; the filter reaches the scan),
    * each slot i is shifted to its implied start `pos - i`, and matching
    * is k−1 EQUI-joins on (doc_id, start). Postings are unique per
    * (doc, pos), so every output row is one distinct occurrence — no
    * dedup. Overlapping occurrences (e.g. "a a a" in "a a a a") all
    * report, as positional search must.
    *
    * At scale each join is shuffle-keyed by (doc_id, start) over
    * term-filtered postings only — cost proportional to the phrase
    * terms' document frequency, never to corpus size; a stopword-heavy
    * phrase degrades toward the frequent term's postings length, the
    * standard positional-index behavior.
    */
  def phraseOccurrences(docs: DataFrame, id: Column, text: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val toks = docs.select(id.alias("doc_id"),
      posexplode(graft.functions.TextFns.tokens(text)).as(Seq("pos", "tok")))
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      toks.filter(col("tok") === lit(t))
        .select(col("doc_id"), (col("pos") - i).alias("start"))
    }
    slots.reduceLeft((a, b) => a.join(b, Seq("doc_id", "start")))
      .select(col("doc_id"), col("start").cast("long").alias("pos"))
  }

  /** Reciprocal-rank fusion of two rankings (Cormack/Clarke/Buettcher):
    * rrf(d) = 1/(c + rank_a(d)) + 1/(c + rank_b(d)), a document absent from
    * one list contributing 0 from it. The standard way to hybridize a
    * lexical ranking with a semantic (ANN) one without calibrating score
    * scales — only ranks enter.
    *
    * Each input is (id, rank); both are typically already top-n truncated
    * (n ~ 100), so the outer join is between two tiny frames — at 100 TB
    * the expensive part is PRODUCING the rankings ([[bm25TopK]],
    * [[Similarity.bruteForceTopK]]), not fusing them.
    *
    * Exact cross-engine: 1/(c+r) is one correctly-rounded division on
    * integers; the sum is two doubles in fixed (a, b) order.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, c: Int = 60, k: Int = 10): DataFrame = {
    require(c >= 0, s"rrf constant must be >= 0, got $c")
    require(k > 0, s"k must be positive, got $k")
    val ra = a.select(col("id"), col("rank").alias("rank_a"))
    val rb = b.select(col("id"), col("rank").alias("rank_b"))
    val contrib = (r: Column) =>
      when(r.isNotNull, lit(1.0) / (lit(c).cast("double") + r.cast("double")))
        .otherwise(lit(0.0))
    ra.join(rb, Seq("id"), "full_outer")
      .withColumn("rrf", contrib(col("rank_a")) + contrib(col("rank_b")))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
      // unpartitioned window, bounded: top-k rows
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("id"))).cast("long"))
      .select(col("rank"), col("id"), col("rank_a"), col("rank_b"), col("rrf"))
  }

  /** Retrieval evaluation against relevance judgments — the metrics a
    * retrieval stack is tuned by, in integer ppm so every number replays
    * exactly: per query, the count of judged-relevant docs, the rank of
    * the first relevant result (0 = none retrieved), reciprocal rank as
    * `1e6 DIV first_rank` (MRR's per-query term), and precision/recall at
    * `k` (`hits@k * 1e6 DIV k` / `DIV n_rel`). nDCG is deliberately
    * absent: its log2 discount is not correctly-rounded-guaranteed across
    * engines, so it cannot be hash-pinned — rank-based metrics can.
    *
    * Inputs: `ranked` (qid, doc_id, rank — 1-based, unique per qid),
    * `qrels` (qid, doc_id). Returns one row per qid appearing in EITHER
    * input (a query with judgments but an empty result list still
    * reports, with zero hits).
    *
    * Scale shape: one equi-join on (qid, doc_id), two partial-aggregated
    * groupBys, a qid-keyed outer join — metrics for a million queries
    * cost three narrow shuffles.
    */
  def evalRetrieval(ranked: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val r = ranked.select(col("qid"), col("doc_id").cast("long"),
      col("rank").cast("long"))
    val q = qrels.select(col("qid"), col("doc_id").cast("long")).distinct()
    val nRel = q.groupBy(col("qid")).agg(count(lit(1)).alias("n_rel"))
    val hits = r.join(q, Seq("qid", "doc_id"))
      .groupBy(col("qid"))
      .agg(min(col("rank")).alias("first_rel_rank"),
        sum(when(col("rank") <= k, 1L).otherwise(0L)).alias(s"hits_at_k"),
        count(lit(1)).alias("hits_total"))
    nRel.join(hits, Seq("qid"), "full_outer")
      .select(col("qid"),
        coalesce(col("n_rel"), lit(0L)).alias("n_rel"),
        coalesce(col("first_rel_rank"), lit(0L)).alias("first_rel_rank"),
        coalesce(col("hits_at_k"), lit(0L)).alias("hits_at_k"),
        coalesce(col("hits_total"), lit(0L)).alias("hits_total"))
      .withColumn("rr_ppm", expr(
        "CASE WHEN first_rel_rank = 0 THEN 0L ELSE 1000000L DIV first_rel_rank END"))
      .withColumn("precision_at_k_ppm", expr(s"hits_at_k * 1000000L DIV ${k}L"))
      .withColumn("recall_at_k_ppm", expr(
        "CASE WHEN n_rel = 0 THEN 0L ELSE hits_at_k * 1000000L DIV n_rel END"))
  }

  /** Rank-biased overlap at depth 10 (Webber-Moffat-Zobel, p = 9/10):
    * top-weighted agreement between two top-k rankings of the same
    * queries — the ranking-EVALUATION complement to [[rrfFuse]] (which
    * merges rankings) and [[evalRetrieval]] (which needs judgments; RBO
    * needs none). Exact integers end to end: RBO·(10¹⁰·2520) is a sum of
    * pinned per-depth weights (2520 = lcm(1..10) clears every /d), the
    * [[Validation.benfordAudit]] pinned-constant discipline; a doc at
    * ranks (ra, rb) joins the overlap for all depths ≥ max(ra, rb), so
    * each common doc contributes ONE pinned cumulative weight
    * W(max(ra, rb)) and the whole metric is a single groupBy-sum.
    * `rbo_ppm` normalizes by the identical-ranking value
    * 2520·(10¹⁰ − 9¹⁰).
    *
    * Inputs: (qid, doc_id, rank) each, rank 1-based; rows with rank > 10
    * are ignored. Queries present in either input but sharing no docs
    * report 0.
    *
    * Scale shape: one (qid, doc) equi-join of two ≤10-row-per-query
    * frames, one partial-agg groupBy, a broadcastable weight lookup
    * folded into `element_at` on a literal array — no windows, no
    * per-query work.
    */
  def rankBiasedOverlap10(a: DataFrame, b: DataFrame): DataFrame = {
    // W(m) = sum_{d=m..10} 9^(d-1) * 10^(10-d) * 2520 / d  (exact longs)
    val w = Array(5932493265528L, 3412493265528L, 2278493265528L,
      1598093265528L, 1138823265528L, 808148865528L, 560143065528L,
      368824305528L, 218160782028L, 97629963228L)
    val maxVal = 16413303309480L // 2520 * (10^10 - 9^10), identical rankings
    def side(df: DataFrame, rn: String) =
      df.select(col("qid"), col("doc_id").cast("long").alias("doc"),
          col("rank").cast("int").alias(rn))
        .filter(col(rn).between(1, 10))
    val joined = side(a, "ra").join(side(b, "rb"), Seq("qid", "doc"))
      .select(col("qid"), greatest(col("ra"), col("rb")).alias("m"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).alias("n_common"),
        sum(element_at(typedLit(w), col("m"))).alias("rbo_scaled"))
    val qs = side(a, "ra").select(col("qid"))
      .union(side(b, "rb").select(col("qid"))).distinct()
    qs.join(joined, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_common"), lit(0L)).alias("n_common"),
        coalesce(col("rbo_scaled"), lit(0L)).alias("rbo_scaled"))
      .withColumn("rbo_ppm", expr( // decimal: scaled * 1e6 tops 1.6e19 > int64
        s"CAST(CAST(rbo_scaled AS DECIMAL(38,0)) * 1000000 DIV ${maxVal}L AS BIGINT)"))
  }

  /** NDCG at depth 10 with graded relevance — the position-discounted
    * ranking quality metric [[evalRetrieval]]'s binary hits cannot
    * express. Discounts floor(10⁹/log₂(r+1)) are PINNED integer
    * constants (the [[Validation.benfordAudit]] discipline — no runtime
    * logarithm anywhere), so DCG·10⁹ is an exact integer sum and the
    * whole metric replays in any engine. IDCG re-weights the SAME grade
    * multiset sorted descending — computed without a second shuffle via
    * `sort_array(collect_list(...))` over the ≤10-row group and an
    * index-aware transform+aggregate. ndcg_ppm NULL when every grade is
    * 0 (quality undefined, not perfect).
    *
    * Input: (qid, rank, grade) with rank 1-based (rows > 10 ignored),
    * grade a small non-negative integer. One partial-agg groupBy total.
    */
  def ndcg10(ranked: DataFrame): DataFrame = {
    val d = Array(1000000000L, 630929753L, 500000000L, 430676558L,
      386852807L, 356207187L, 333333333L, 315464876L, 301029995L,
      289064826L)
    ranked.select(col("qid"), col("rank").cast("int").alias("r"),
        col("grade").cast("long").alias("g"))
      .filter(col("r").between(1, 10))
      .groupBy(col("qid"))
      .agg(count(lit(1)).alias("n"),
        sum(col("g") * element_at(typedLit(d), col("r")))
          .alias("dcg_scaled"),
        sort_array(collect_list(col("g")), asc = false).alias("gs"))
      .withColumn("idcg_scaled", expr(
        """aggregate(transform(gs, (g, i) ->
             g * element_at(array(1000000000L, 630929753L, 500000000L,
               430676558L, 386852807L, 356207187L, 333333333L,
               315464876L, 301029995L, 289064826L), i + 1)),
           0L, (acc, x) -> acc + x)"""))
      .select(col("qid"), col("n"), col("dcg_scaled"), col("idcg_scaled"),
        expr("""CASE WHEN idcg_scaled = 0 THEN NULL
                ELSE dcg_scaled * 1000000 DIV idcg_scaled END""")
          .alias("ndcg_ppm"))
  }

  /** Maximal-marginal-relevance diversified selection (Carbonell &
    * Goldstein): greedily pick `k` items per query, each round taking the
    * candidate maximizing
    * `lambda * relevance - (1 - lambda) * max-similarity-to-selected` —
    * the standard redundancy remover for retrieval results and for
    * picking DIVERSE training examples out of a near-duplicate-rich pool.
    *
    * Inputs: `candidates` (qid, doc_id, rel_ppm) — a BOUNDED per-query
    * pool (a top-n from [[bm25TopK]] or an ANN stage; greedy selection
    * over an unbounded pool is not meaningful); `sims` (qid, id_a, id_b,
    * sim_ppm) — pairwise similarities among that pool, either direction
    * (symmetrized here). All scores integer ppm, so the argmax chain —
    * `score = lambda_ppm * rel_ppm - (1e6 - lambda_ppm) * max_sim_ppm`
    * in exact longs, ties by doc_id ascending — replays identically in
    * any engine.
    *
    * Returns (qid, round, doc_id, rel_ppm, max_sim_ppm, score): round r
    * = the r-th pick, max_sim_ppm = the similarity barrier at selection
    * time (0 for the first pick).
    *
    * Scale shape: ALL queries advance together — each of the k rounds is
    * one anti-join (drop selected), one equi-join onto the selected set
    * (per-qid, bounded by round ≤ k rows), one partial-agg max, one
    * partial-agg argmax via min(struct(-score, doc_id)); nothing is ever
    * per-query driver work, so 1 query or 10 M queries cost the same
    * number of shuffles. Lineage is truncated per round
    * ([[graft.operators.Iterative.truncate]]) like every iterative
    * operator here; state per round is one (qid, doc_id, ...) row per
    * pick.
    */
  def mmrSelect(candidates: DataFrame, sims: DataFrame, k: Int,
      lambdaPpm: Long = 500000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaPpm >= 0 && lambdaPpm <= 1000000L,
      s"lambdaPpm must be in [0, 1e6], got $lambdaPpm")
    // Persisted: every one of the k rounds re-reads BOTH frames (the
    // anti-join and the barrier join), and while the frames themselves are
    // pool-sized, COMPUTING them is corpus-sized (the candidate cut scans
    // the corpus). Without the cache each round re-runs that scan — A/B at
    // sf0.1 this halves q212. Pool-sized rows, MEMORY_AND_DISK, the q51
    // gated-frame pattern.
    val cand = candidates.select(col("qid"), col("doc_id").cast("long"),
        col("rel_ppm").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val simBoth = sims.select(col("qid"), col("id_a").alias("s_sel"),
        col("id_b").alias("s_cand"), col("sim_ppm"))
      .unionAll(sims.select(col("qid"), col("id_b").alias("s_sel"),
        col("id_a").alias("s_cand"), col("sim_ppm")))
      .select(col("qid"), col("s_sel").cast("long"), col("s_cand").cast("long"),
        col("sim_ppm").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mu = lit(1000000L) - lit(lambdaPpm)
    def argmax(scored: DataFrame, round: Int): DataFrame =
      scored.groupBy(col("qid"))
        .agg(min(struct((-col("score")).alias("ns"), col("doc_id"),
          col("rel_ppm"), col("max_sim_ppm"))).alias("w"))
        .select(col("qid"), lit(round.toLong).alias("round"),
          col("w.doc_id").alias("doc_id"), col("w.rel_ppm").alias("rel_ppm"),
          col("w.max_sim_ppm").alias("max_sim_ppm"),
          (-col("w.ns")).alias("score"))
    var selected = Iterative.truncate(
      argmax(cand.withColumn("max_sim_ppm", lit(0L))
        .withColumn("score", lit(lambdaPpm) * col("rel_ppm")), 1),
      checkpointDir)
    var r = 2
    while (r <= k) {
      val remaining = cand.join(
        selected.select(col("qid"), col("doc_id")), Seq("qid", "doc_id"), "left_anti")
      // per-candidate barrier: max similarity to ANY already-selected doc
      // (candidates with no sim row to the selected set score barrier 0)
      val barriers = simBoth
        .join(selected.select(col("qid"), col("doc_id").alias("s_sel")),
          Seq("qid", "s_sel"))
        .groupBy(col("qid"), col("s_cand"))
        .agg(max(col("sim_ppm")).alias("ms"))
      val withScore = remaining
        .join(barriers,
          remaining("qid") === barriers("qid") &&
            remaining("doc_id") === barriers("s_cand"),
          "left_outer")
        .select(remaining("qid"), remaining("doc_id"), col("rel_ppm"),
          coalesce(col("ms"), lit(0L)).alias("max_sim_ppm"))
        .withColumn("score",
          lit(lambdaPpm) * col("rel_ppm") - mu * col("max_sim_ppm"))
      selected = Iterative.truncate(
        selected.unionAll(argmax(withScore, r)), checkpointDir)
      r += 1
    }
    // every round was eagerly truncated, so the result no longer references
    // the cached inputs — release them now rather than leaking the cache
    cand.unpersist(false)
    simBoth.unpersist(false)
    selected
  }
  /** Index-accelerated exact substring search (the pg_trgm / code-search
    * discipline): a document can contain `pattern` only if it contains
    * EVERY character trigram of the pattern, so candidates come from an
    * inverted trigram-index equi-join counted up to the pattern's
    * requirement set, and the exact `contains` check runs on candidates
    * only — never a full-corpus scan per pattern. Patterns must be >= 3
    * chars (the filter is vacuous below that). Returns (id, pattern),
    * one row per true match.
    *
    * Scale shape: the trigram index is built once per call (explode of
    * distinct per-doc trigrams — at 100 TB you'd persist it bucketed on
    * g and reuse it across queries); patterns are a broadcast list; the
    * all-trigrams test is a partial-agg count per (doc, pattern); the
    * verify joins candidates back to text by id, so document text
    * crosses the wire once, not once per pattern.
    */
  def trigramSubstringSearch(docs: DataFrame, id: Column, text: Column,
      patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty && patterns.forall(_.length >= 3),
      "patterns must be non-empty strings of length >= 3")
    require(patterns.distinct.size == patterns.size, "duplicate pattern")
    val spark = docs.sparkSession
    import spark.implicits._
    val pats = patterns.flatMap { p =>
      val ts = p.sliding(3).toSeq.distinct
      ts.map(t => (p, t, ts.size.toLong))
    }.toDF("pattern", "g", "need")
    // spread BEFORE the trigram explosion: a single-split doc table fuses
    // the ~2k-trigrams-per-doc explode + broadcast probe into one task
    // (measured on q354: a 2.1 s 1-task stage over 5000 docs); the
    // exchange moved below it carries only the raw (id, text) rows
    val base = Relational.spread(docs.select(id.alias("id"), text.alias("__t")))
    val inv = base.select(col("id"),
      explode(graft.functions.TextFns.charNgrams(col("__t"), 3)).alias("g"))
    val cand = inv.join(broadcast(pats), Seq("g"))
      .groupBy(col("id"), col("pattern"), col("need"))
      .agg(count(lit(1)).alias("have"))
      .filter(col("have") === col("need"))
      .select(col("id"), col("pattern"))
    cand.join(base, Seq("id"))
      .filter(col("__t").contains(col("pattern")))
      .select(col("id"), col("pattern"))
  }
}
