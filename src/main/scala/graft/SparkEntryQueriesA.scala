package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ColFns, TextFns, Udfs}
import graft.operators.{Corpus, Dedup, Multimodal, Retrieval, Similarity, Spatial, Validation}
import graft.operators.Relational
import graft.operators.Relational.GraftOps
import graft.streaming.EventStreams

import graft.SparkEntry.{t, pqFixture, dsum, q1Pricing, scratchRoot, spread, bucketedRevenue, skewRebalanced}

/** [[SparkEntry.queries]] part: 213 entries, q01_select .. q370_boruvka_mst. Mechanical split
  * of the single registry map (round 12) — entry order, bodies, and keys
  * are unchanged; SparkEntry composes the parts and asserts key
  * disjointness. Add new queries to whichever part keeps files < 4k
  * lines.
  */
private[graft] object SparkEntryQueriesA {
  def m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 core relational surface -----------------------------------
    "q01_select" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .selectCols(Seq(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))),

    "q02_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filterCol(ColFns.and(
          ColFns.lt(col("l_quantity"), lit(5)),
          ColFns.eq(col("l_returnflag"), lit("R"))))
        .selectCols(Seq(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate").cast("date").as("ship_date")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))),

    "q03_with_column" -> ((s, dir) =>
      t(s, dir, "orders")
        .withColumn("price_ratio", col("o_totalprice") / lit(100000.0))
        .withColumnRenamed("o_orderkey", "order_id")
        .selectCols(Seq(col("order_id"), col("price_ratio")))
        .sortBy(Seq(col("order_id")))),

    "q04_agg" -> ((s, dir) => q1Pricing(s, dir)),

    "q05_agg_global" -> ((s, dir) =>
      t(s, dir, "lineitem").aggregate(Seq.empty, Seq(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_orderkey")).as("n_orders")))),

    "q06_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byPrice = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      val byPriceOnly = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc)
      val part = Window.partitionBy(col("l_orderkey"))
      t(s, dir, "lineitem")
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_quantity")))
        .windowCols(Seq(
          row_number().over(byPrice).cast("long"),
          rank().over(byPriceOnly).cast("long"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).over(part).cast("double")))
        .filterCol(col("w0") <= 2)
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"), col("w0"), col("w1"), col("w2")))
        .sortBy(Seq(col("l_orderkey"), col("w0")))
    }),

    "q07_sort_nulls" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("v", when(col("value") < 1, lit(null)).otherwise(col("value")))
        .sortExprs(Seq(ColFns.sortExpr(col("v"), ascending = true, nullsFirst = false), col("event_id").asc))
        .limitOffset(0, Some(100))
        .selectCols(Seq(col("event_id"), col("v")))),

    "q08_limit_offset" -> ((s, dir) =>
      t(s, dir, "orders")
        .sortBy(Seq(col("o_orderkey")))
        .limitOffset(100, Some(10))
        .selectCols(Seq(col("o_orderkey"), col("o_totalprice")))),

    "q09_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .selectCols(Seq(col("l_returnflag"), col("l_linestatus")))
        .distinctAll
        .sortBy(Seq(col("l_returnflag"), col("l_linestatus")))),

    "q10_distinct_on" -> ((s, dir) =>
      t(s, dir, "orders")
        .distinctOn(
          on = Seq(col("o_custkey")),
          select = Seq(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          sort = Seq(col("o_orderdate").desc, col("o_orderkey").asc))
        .sortBy(Seq(col("o_custkey")))),

    "q11_join_names" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .joinNames(t(s, dir, "part"), "inner", Seq("l_partkey"), Seq("p_partkey"),
          extra = Some(col("p_retailprice") > 990.0))
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"), col("p_name"), col("p_retailprice")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))),

    "q12_join_left" -> ((s, dir) =>
      t(s, dir, "customer")
        .joinNames(t(s, dir, "orders"), "left", Seq("c_custkey"), Seq("o_custkey"))
        .selectCols(Seq(col("c_custkey"), col("c_name"), col("o_orderkey")))
        .sortExprs(Seq(col("c_custkey").asc, col("o_orderkey").asc_nulls_last))),

    "q13_join_semi" -> ((s, dir) =>
      t(s, dir, "orders")
        .joinNames(t(s, dir, "lineitem"), "left_semi", Seq("o_orderkey"), Seq("l_orderkey"),
          extra = Some(col("l_quantity") >= 49))
        .selectCols(Seq(col("o_orderkey"), col("o_totalprice")))
        .sortBy(Seq(col("o_orderkey")))),

    "q14_join_anti" -> ((s, dir) =>
      t(s, dir, "orders")
        .joinNames(t(s, dir, "lineitem"), "left_anti", Seq("o_orderkey"), Seq("l_orderkey"))
        .selectCols(Seq(col("o_orderkey"), col("o_orderstatus")))
        .sortBy(Seq(col("o_orderkey")))),

    "q15_join_theta" -> ((s, dir) =>
      t(s, dir, "supplier")
        .joinOn(t(s, dir, "nation"), "inner", Seq(
          col("s_nationkey") === col("n_nationkey"),
          col("s_acctbal") > lit(2000.0)))
        .selectCols(Seq(col("s_suppkey"), col("s_name"), col("n_name")))
        .sortBy(Seq(col("s_suppkey")))),

    "q16_cross" -> ((s, dir) =>
      t(s, dir, "region")
        .joinOn(t(s, dir, "nation"), "inner", Seq.empty)
        .selectCols(Seq(col("r_name"), col("n_name")))
        .sortBy(Seq(col("r_name"), col("n_name")))),

    "q17_union_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filterCol(col("o_totalprice") > 400000.0)
        .selectCols(Seq(col("o_orderkey"), col("o_totalprice")))
      val vhi = o.filterCol(col("o_totalprice") > 450000.0)
        .selectCols(Seq(col("o_orderkey"), col("o_totalprice")))
      hi.unionAll(vhi).sortBy(Seq(col("o_orderkey"), col("o_totalprice")))
    }),

    "q18_union_distinct" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filterCol(col("o_totalprice") > 400000.0)
        .selectCols(Seq(col("o_orderkey"), col("o_totalprice")))
      val vhi = o.filterCol(col("o_totalprice") > 450000.0)
        .selectCols(Seq(col("o_orderkey"), col("o_totalprice")))
      hi.unionDistinct(vhi).sortBy(Seq(col("o_orderkey"), col("o_totalprice")))
    }),

    "q19_intersect" -> ((s, dir) =>
      t(s, dir, "customer").selectCols(Seq(col("c_nationkey").as("nk")))
        .intersectDistinct(t(s, dir, "supplier").selectCols(Seq(col("s_nationkey").as("nk"))))
        .sortBy(Seq(col("nk")))),

    "q20_except" -> ((s, dir) =>
      // right side restricted to RECENT orders so the result is non-empty
      // (every customer has SOME order in the synthetic data — the
      // unrestricted form was a vacuous 0-row check)
      t(s, dir, "customer").selectCols(Seq(col("c_custkey").as("ck")))
        .exceptDistinct(t(s, dir, "orders")
          .filterCol(col("o_orderdate").cast("date") >=
            lit(java.sql.Date.valueOf("2000-01-01")))
          .selectCols(Seq(col("o_custkey").as("ck"))))
        .sortBy(Seq(col("ck")))),

    "q47_salted_join" -> ((s, dir) =>
      // Skew-salted join, hash-matched against the plain-join oracle: the
      // left side is spread over 8 salt buckets keyed by the row identity,
      // the right side replicated per salt. Result must be IDENTICAL to the
      // unsalted join — salting changes the shuffle layout, never the answer.
      t(s, dir, "lineitem")
        .saltedJoin(t(s, dir, "orders"), Seq("l_orderkey"), Seq("o_orderkey"),
          saltFrom = struct(col("l_orderkey"), col("l_linenumber")), buckets = 8)
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"), col("o_totalprice")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))),

    "q56_asof_join" -> ((s, dir) => {
      // for each purchase, the most recent prior-or-equal click by the same
      // user — one shuffle (union + per-key window), not a range nested loop
      val e = t(s, dir, "events")
      val purchases = e.filterCol(col("event_type") === "purchase")
        .selectCols(Seq(col("event_id"), col("user_id"), col("ts")))
      val clicks = e.filterCol(col("event_type") === "click")
        .selectCols(Seq(col("event_id"), col("user_id"), col("ts")))
      purchases.asofJoin(clicks, Seq("user_id"), Seq("user_id"), "ts", "ts")
        .selectCols(Seq(
          col("l.event_id").as("purchase_id"),
          col("l.user_id").as("user_id"),
          col("r.event_id").as("click_id"),
          (unix_micros(col("l.ts")) - unix_micros(col("r.ts"))).as("gap_us")))
        .sortBy(Seq(col("purchase_id")))
    }),

    "q53_histogram" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .histogramOf(col("l_extendedprice"), lo = 900.0, hi = 105000.0, buckets = 20)
        .withColumn("bucket_lo", round(col("bucket_lo"), 6))
        .sortBy(Seq(col("bucket")))),

    "q54_stratified_sample" -> ((s, dir) =>
      // deterministic corpus mixing: 50% of en, 25% of de, 10% otherwise —
      // reproducible across runs/engines (multiplicative hash of doc_id),
      // which df.sample (partition-layout-dependent) cannot give
      t(s, dir, "documents")
        .stratifiedSample(col("doc_id"), col("lang"),
          rates = Map("en" -> 0.5, "de" -> 0.25), default = 0.1)
        .selectCols(Seq(col("doc_id"), col("lang")))
        .sortBy(Seq(col("doc_id")))),

    // ---- §2.4 expression surface -----------------------------------------
    "q21_case" -> ((s, dir) => {
      val statusWord = ColFns.caseOf(col("o_orderstatus"))
        .when(lit("F"), lit("done"))
        .when(lit("O"), lit("open"))
        .end // no ELSE => NULL for 'P'
      val bucket = ColFns.caseWhen(col("o_totalprice") > 300000.0, lit("big"))
        .when(col("o_totalprice") > 100000.0, lit("mid"))
        .otherwise(lit("small"))
      t(s, dir, "orders")
        .selectCols(Seq(col("o_orderkey"), statusWord.as("status_word"), bucket.as("size_bucket")))
        .sortBy(Seq(col("o_orderkey")))
    }),

    "q22_like" -> ((s, dir) =>
      t(s, dir, "part")
        .filterCol(ColFns.and(
          ColFns.ilike(col("p_name"), lit("%RED%")),
          ColFns.notLike(col("p_name"), lit("%bolt%"))))
        .selectCols(Seq(col("p_partkey"), col("p_name")))
        .sortBy(Seq(col("p_partkey")))),

    "q23_arith" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .selectCols(Seq(
          col("l_orderkey"), col("l_linenumber"),
          ColFns.add(col("l_quantity"), col("l_tax"), col("l_discount")).as("s3"),
          ColFns.sub(col("l_extendedprice"), col("l_tax"), col("l_discount")).as("d3"),
          ColFns.mul(col("l_quantity"), col("l_extendedprice")).as("m2"),
          ColFns.div(col("l_extendedprice"), col("l_quantity"), lit(2.0)).as("v3")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))),

    // ---- §2.5 UDF surface --------------------------------------------------
    "q24_udf" -> ((s, dir) => {
      // Typed handle: declared arg types are enforced (arity) and coerced
      // (cast) at every call — the reference's full define-udf signature.
      val u = Udfs.defineUdfTyped(s, "graft_charge",
        Seq(DoubleType, DoubleType, DoubleType), DoubleType,
        { case Seq(p: Double, t: Double, d: Double) => p * (1 + t) * (1 - d) })
      t(s, dir, "lineitem")
        .selectCols(Seq(
          col("l_orderkey"), col("l_linenumber"),
          Udfs.udfCall(u, Seq(col("l_extendedprice"), col("l_tax"), col("l_discount"))).as("charge")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))
    }),

    // ---- §2.3 actions with frame-shaped output ----------------------------
    "q25_describe" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .selectCols(Seq(col("l_quantity"), col("l_extendedprice"), col("l_returnflag")))
        .describeDf),

    "q26_explain" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .joinNames(t(s, dir, "orders"), "inner", Seq("l_orderkey"), Seq("o_orderkey"))
        .aggregate(Seq(col("o_orderstatus")), Seq(count(lit(1)).as("n")))
        .explainDf()),

    // ---- text analysis (SURVEY.md §7 training-data operators) -------------
    "q27_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectCols(Seq(
          col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFns.meanTokenLen(col("text")).as("mean_tok_len"),
          length(col("text")).cast("long").as("n_chars_calc")))
        .sortBy(Seq(col("doc_id")))),

    "q28_lang_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectCols(Seq(
          col("doc_id"), col("lang"),
          TextFns.langId(col("text")).as("lang_pred"),
          TextFns.qualityScore(col("text")).as("quality")))
        .sortBy(Seq(col("doc_id")))),

    "q44_stopword_ratio" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), col("lang"),
          TextFns.stopwordRatio(col("text")).as("sw_ratio")))
        .sortBy(Seq(col("doc_id")))),

    "q48_bpeish_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          TextFns.bpeishTokenCount(col("text")).cast("long").as("n_bpeish")))
        .sortBy(Seq(col("doc_id")))),

    "q55_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          TextFns.redactPii(col("text")).as("clean_text"),
          (length(col("text")) - length(TextFns.redactPii(col("text")))).cast("long").as("removed_chars")))
        .sortBy(Seq(col("doc_id")))),

    "q52_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          TextFns.dupLineRatio(col("text")).as("dup_line_ratio"),
          TextFns.ngramRepetitionRatio(col("text"), 5).as("rep_5gram_ratio")))
        .sortBy(Seq(col("doc_id")))),

    "q29_fingerprint" -> ((s, dir) =>
      // portable: FNV-1a token hashes instead of xxhash64, so the DuckDB
      // oracle can replay the exact fold (HUGEINT mod-2^64 arithmetic) and
      // the fingerprint is hash-compared, not rows-only
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), TextFns.fingerprint(col("text"), portable = true).as("fp")))
        .sortBy(Seq(col("doc_id")))),

    "q30_char_ngrams" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          TextFns.charNgramCount(col("text"), 5).cast("long").as("n_5grams")))
        .sortBy(Seq(col("doc_id")))),

    // ---- deduplication -----------------------------------------------------
    "q31_dedup_exact" -> ((s, dir) =>
      // exactDedupAgg: aggregated keep-first (partial map-side combine),
      // not the window+row_number formulation — the shuffle carries one row
      // per (source, lang) per partition instead of the whole table.
      Dedup.exactDedupAgg(t(s, dir, "documents"), Seq(col("source"), col("lang")), Seq(col("doc_id")))
        .selectCols(Seq(col("doc_id"), col("source"), col("lang")))
        .sortBy(Seq(col("doc_id")))),

    "q32_dup_map" -> ((s, dir) =>
      Dedup.exactDupMap(t(s, dir, "documents"),
        concat_ws("|", col("source"), col("lang")), col("doc_id"))
        .sortBy(Seq(col("survivor_id"), col("dup_id")))),

    "q33_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          ngram = 3, k = 128, bands = 32, threshold = 0.8, maxBucket = 1 << 20)
        .sortBy(Seq(col("id_a"), col("id_b")))),

    "q34_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          ngram = 3, threshold = 0.8)
        .sortBy(Seq(col("id_a"), col("id_b")))),

    "q35_simhash" -> ((s, dir) =>
      // portable FNV token hashes => the oracle recomputes every fingerprint
      // and brute-forces all hamming<=3 pairs; the 4x16-bit pigeonhole here
      // is exact for hamming<=3, so the two answer sets must be identical
      Dedup.simhashPairs(t(s, dir, "documents"), col("doc_id"), col("text"), maxHamming = 3,
          portable = true)
        .withColumn("hamming", col("hamming").cast("long"))
        .sortBy(Seq(col("id_a"), col("id_b")))),

    "q50_neardup_components" -> ((s, dir) =>
      // transitive closure over the exact near-dup pair graph: every doc in
      // a pair, labeled with its component's minimum doc id
      Dedup.nearDupComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.8))
        .sortBy(Seq(col("id")))),

    "q51_clean_corpus" -> ((s, dir) =>
      // the composed training-corpus pipeline: quality/lang gate -> exact
      // dedup -> near-dup component collapse (exact pairs => DuckDB can
      // replay every stage; at scale swap pairFn for minhashLshPairs)
      graft.operators.Pipeline.cleanCorpus(t(s, dir, "documents"), col("doc_id"), col("text"))
        .sortBy(Seq(col("id")))),

    // ---- similarity search --------------------------------------------------
    "q36_ann_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      Similarity.bruteForceTopK(corpus, queries, k = 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumn("rank", col("rank").cast("long"))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q37_emb_pairs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Dedup.embeddingCosinePairs(e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v"))),
          col("id"), col("v"), threshold = 0.4)
        .withColumn("cosine", round(col("cosine"), 6))
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q38_ann_ivf" -> ((s, dir) => {
      // PRUNED IVF config (nprobe=4 of nlist=16) over a fixture coarse
      // quantizer — the first 16 corpus vectors as cells (the q174
      // deterministic-fixture trick, via ivfTopK's pre-trained-codebook
      // parameter). With re-derivable cells, the ENTIRE pruned path —
      // corpus cell assignment, query probe selection, probe join, exact
      // cosine, top-k — replays as plain SQL in DuckDB: a fully
      // independent oracle (r10; the r9 pin is gone). The k-means-seeded
      // production config stays oracle-covered by q45 (nprobe=nlist ==
      // brute force, exact hash vs q36's oracle).
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      Similarity.ivfTopK(corpus, queries, nlist = 16, nprobe = 4, k = 5,
          centroids = Some(cents))
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumn("rank", col("rank").cast("long"))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q45_ann_ivf_exact" -> ((s, dir) => {
      // nprobe = nlist probes every cell => IVF degenerates to exhaustive
      // search and must EXACTLY equal brute force — so q36's oracle applies
      // verbatim. This pins the whole IVF pipeline (k-means centroids, cell
      // assignment, probe join, top-k) against DuckDB, leaving only the
      // nprobe<nlist pruning uncovered (measured by q46 instead).
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      Similarity.ivfTopK(corpus, queries, nlist = 16, nprobe = 16, k = 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumn("rank", col("rank").cast("long"))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q46_ann_ivf_recall" -> ((s, dir) => {
      // Recall@5 of the pruned IVF config (nprobe=4 of nlist=16) vs exact
      // brute force, per query — the approximation measured, not asserted.
      // Same fixture quantizer as q38, so BOTH sides of the recall (the
      // pruned probe and the exact top-5) replay in DuckDB and the recall
      // itself is an independent oracle (r10; the r9 pin is gone).
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      val approx = Similarity.ivfTopK(corpus, queries, nlist = 16, nprobe = 4, k = 5,
        centroids = Some(cents))
      val exact = Similarity.bruteForceTopK(corpus, queries, k = 5)
      Similarity.recallAtK(approx, exact)
        .withColumn("recall", round(col("recall"), 6))
        .sortBy(Seq(col("query_id")))
    }),

    // ---- multimodal plumbing ------------------------------------------------
    "q39_multimodal" -> ((s, dir) => {
      // Native-expression feature extraction (no RDD hop). The feature vector
      // is surfaced as 8 scalar columns: the driver comparator hashes scalar
      // cells; the array form is exercised by MultimodalSpec.
      val payload = Multimodal.asPayload(t(s, dir, "documents"), "text", "text", "utf8")
      val feats = Multimodal.extractFeatures(payload, "doc_id", "payload")
      feats
        .selectCols(Seq(
          col("id"), col("byte_len"),
          round(col("byte_entropy"), 6).as("byte_entropy"),
          col("head_hash")) ++
          (0 until 8).map(j =>
            round(element_at(col("feature_vec"), j + 1).cast("double"), 6).as(s"fv$j")))
        .sortBy(Seq(col("id")))
    }),

    // ---- events: windowed agg + sessionization ------------------------------
    "q40_events_window" -> ((s, dir) =>
      t(s, dir, "events")
        .aggregate(
          Seq(date_trunc("hour", col("ts")).cast("long").as("win_epoch"), col("event_type")),
          Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("total_value")))
        .sortBy(Seq(col("win_epoch"), col("event_type")))),

    "q41_sessionize" -> ((s, dir) =>
      EventStreams.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .aggregate(Seq(col("user_id")), Seq(max(col("session_seq")).cast("long").as("n_sessions")))
        .sortBy(Seq(col("user_id")))),

    "q43_emb_lsh" -> ((s, dir) => {
      // Sign-LSH near-dup pairs (the linear-shuffle 100 TB path; q37 is the
      // quadratic exact baseline). Fully independently oracle-verified
      // (r10): DuckDB re-derives the splitmix64 hyperplanes in HUGEINT
      // mod-2^64 arithmetic and replays buckets, band join, and cosine
      // verify from the raw parquet; DedupSpec additionally pins that it
      // finds planted near-dups and never emits a false pair.
      val e = t(s, dir, "embeddings")
      Dedup.embeddingLshPairs(
          e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v"))),
          col("id"), col("v"), dims = 64, threshold = 0.35)
        .withColumn("cosine", round(col("cosine"), 6))
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q49_dedup_stream" -> ((s, dir) => {
      // TRUE streaming ingestion dedup (dropDuplicatesWithinWatermark)
      // drained through a memory sink. The surviving ROW per key is
      // intra-batch-order-dependent, so the query projects the key columns
      // only — making the result exactly DISTINCT(user_id, event_type) and
      // hash-matchable.
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runDedupSmoke(s, staged, Seq("user_id", "event_type"))
        .selectCols(Seq(col("user_id"), col("event_type")))
        .sortBy(Seq(col("user_id"), col("event_type")))
    }),

    "q42_sessionize_stream" -> ((s, dir) => {
      // TRUE Structured Streaming run (flatMapGroupsWithState + event-time
      // timeout) drained through a memory sink. FileStreamSource needs a
      // directory, so the single-file table is staged into one; one
      // input file => one micro-batch => deterministic output: every session
      // except each user's last (still open at drain time).
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runSessionizeSmoke(s, staged, gapMinutes = 30)
        .selectCols(Seq(col("user_id"), col("session_seq"), col("start_us"), col("end_us"), col("n_events")))
        .sortBy(Seq(col("user_id"), col("session_seq")))
    }),

    // ---- corpus preparation (round 3) -----------------------------------
    "q57_segment_dedup" -> ((s, dir) =>
      // CCNet-style segment dedup; the synthetic corpus has no paragraph
      // breaks, so segments are 10-token chunks (127 of 2798 chunks repeat
      // across docs at sf0.01 — the op has real work to do)
      Corpus.segmentDedup(t(s, dir, "documents"), col("doc_id"),
          Corpus.tokenChunks(col("text"), 10))
        .sortBy(Seq(col("id")))),

    "q58_heavy_hitters" -> ((s, dir) =>
      Corpus.heavyHitters(t(s, dir, "documents"), TextFns.tokens(col("text")), 50)
        // deterministic total order: (count desc, term asc) in operator AND
        // final sort, so the rank-50 tie cut matches the oracle exactly
        .orderBy(col("n").desc, col("term"))),

    "q59_contamination" -> ((s, dir) =>
      // benchmark set = every 97th doc (deterministic ~1%), 8-gram overlap
      Corpus.contamination(t(s, dir, "documents"), col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(97)) === 0, ngram = 8)
        .sortBy(Seq(col("id")))),

    "q60_pack_sequences" -> ((s, dir) =>
      // bucketSize 64 << doc count so the distributed prefix-sum actually
      // exercises the multi-bucket path at test scale
      Corpus.packSequences(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokenCount(col("text")), ctxLen = 512, bucketSize = 64)
        .sortBy(Seq(col("id")))),

    "q61_group_percentiles" -> ((s, dir) =>
      // exact R-7 percentiles (Spark `percentile` == DuckDB quantile_cont)
      t(s, dir, "documents")
        .selectCols(Seq(col("lang"), TextFns.tokenCount(col("text")).cast("long").as("n_tokens")))
        .aggregate(Seq(col("lang")), Seq(
          round(expr("percentile(n_tokens, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_tokens, 0.9)"), 6).as("p90"),
          count(lit(1)).as("n")))
        .sortBy(Seq(col("lang")))),

    "q62_json_props" -> ((s, dir) =>
      // semi-structured extraction: events.props is a JSON object column
      t(s, dir, "events")
        .selectCols(Seq(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k")))
        .aggregate(Seq(col("event_type")), Seq(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k")))
        .sortBy(Seq(col("event_type")))),

    "q63_range_join" -> ((s, dir) => {
      // interval containment as a bucketed equi-join: each event joined to
      // the (30-min-gap) session interval that contains it
      val ev = t(s, dir, "events")
      val sessions = EventStreams.sessionize(ev, gapMinutes = 30)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      ev.rangeJoin(sessions, Seq("user_id"), Seq("user_id"),
          "ts", "s_start", "s_end", bucketWidth = 30L * 60 * 1000000)
        .selectCols(Seq(
          col("l.event_id").as("event_id"),
          col("r.user_id").as("user_id"),
          col("r.session_seq").cast("long").as("session_seq")))
        .sortBy(Seq(col("event_id")))
    }),

    "q64_gap_fill" -> ((s, dir) => {
      // hourly per-user series, zero-filled counts/sums over each user's
      // span, last event_type forward-filled across the gaps
      val filled = EventStreams.gapFill(t(s, dir, "events"),
        col("user_id"), col("ts"), stepMicros = 3600L * 1000000,
        aggs = Seq(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sv"),
          max(col("event_type")).as("et")))
      EventStreams.forwardFill(filled, col("k"), col("bucket"), Seq("et"))
        .selectCols(Seq(
          col("k").as("user_id"), col("bucket"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          coalesce(col("sv"), lit(0.0)).as("sum_value"),
          col("et").as("last_type")))
        .sortBy(Seq(col("user_id"), col("bucket")))
    }),

    // ---- corpus composition + interval analytics (round 4) ---------------
    "q66_tfidf_top_terms" -> ((s, dir) =>
      // linear-idf config (exact cross-engine; logIdf=true is the
      // production flavor, see Corpus.tfIdfTopTerms)
      Corpus.tfIdfTopTerms(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), k = 5)
        .withColumn("score", round(col("score"), 6))
        .sortBy(Seq(col("id"), col("rank")))),

    "q67_quota_sample" -> ((s, dir) =>
      // data mixing: src0 capped at 10 docs, src1 at 5, everything else 3,
      // best-n_chars-first with doc_id tie-break
      Corpus.quotaSample(t(s, dir, "documents"), col("source"),
          col("n_chars").cast("double"), col("doc_id"),
          Map("src0" -> 10L, "src1" -> 5L), defaultQuota = 3L)
        .selectCols(Seq(col("doc_id"), col("source"), col("n_chars")))
        .sortBy(Seq(col("doc_id")))),

    "q68_interval_join" -> ((s, dir) => {
      // concurrent-session detection: which other users' sessions overlap
      // user 0's sessions in time (keyless bucketed interval join)
      val sessions = EventStreams.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      val mine = sessions.filter(col("user_id") === 0)
      val theirs = sessions.filter(col("user_id") =!= 0)
      mine.intervalJoin(theirs, Seq(), Seq(),
          "s_start", "s_end", "s_start", "s_end", bucketWidth = 30L * 60 * 1000000)
        .selectCols(Seq(
          col("l.session_seq").cast("long").as("a_seq"),
          col("r.user_id").as("b_user"),
          col("r.session_seq").cast("long").as("b_seq")))
        .sortBy(Seq(col("a_seq"), col("b_user"), col("b_seq")))
    }),

    "q69_topk_per_group" -> ((s, dir) =>
      // bounded-heap top-k per group (the no-sort sibling of q67's window;
      // the SAME SQL-window oracle must hash-match)
      Corpus.topKPerGroupAgg(t(s, dir, "documents"), col("source"),
          col("doc_id"), col("n_chars"), k = 20)
        .sortBy(Seq(col("group"), col("rank")))),

    "q70_approx_percentiles" -> ((s, dir) =>
      // sketch-based percentiles: the 100 TB path next to q61's exact ones
      // (approx_percentile shuffles O(accuracy) summaries, never the
      // values). Approximate by construction => rows-only check; the
      // error-vs-exact bound is spec-pinned (CorpusSpec).
      t(s, dir, "documents")
        .selectCols(Seq(col("lang"), TextFns.tokenCount(col("text")).cast("long").as("n_tokens")))
        .aggregate(Seq(col("lang")), Seq(
          expr("approx_percentile(n_tokens, array(0.5, 0.9), 10000)").as("ps"),
          count(lit(1)).as("n")))
        .selectCols(Seq(col("lang"),
          element_at(col("ps"), 1).cast("double").as("p50a"),
          element_at(col("ps"), 2).cast("double").as("p90a"),
          col("n")))
        .sortBy(Seq(col("lang")))),

    "q71_stream_stream_join" -> ((s, dir) => {
      // TRUE watermarked stream-stream join (click -> purchase within 30
      // min, same user) drained through a memory sink. Inner-join output is
      // append-only and watermark-independent for a finite drain, so the
      // result equals the batch join — replayed verbatim by the oracle.
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runStreamJoinSmoke(s, staged,
          Seq("user_id"), leftType = "click", rightType = "purchase",
          windowSeconds = 1800)
        .selectCols(Seq(
          col("l_user_id").as("user_id"),
          col("l_event_id").as("click_id"),
          col("r_event_id").as("purchase_id"),
          unix_micros(col("l_ts")).as("click_us"),
          unix_micros(col("r_ts")).as("purchase_us")))
        .sortBy(Seq(col("user_id"), col("click_id"), col("purchase_id")))
    }),

    "q72_rollup" -> ((s, dir) =>
      // hierarchical subtotals in ONE aggregate pass (Expand, not n scans);
      // gid disambiguates subtotal levels from genuine NULL group values
      t(s, dir, "lineitem").rollupAgg(
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")))
        .sortBy(Seq(col("gid"), col("l_returnflag"), col("l_linestatus")))),

    "q73_pivot" -> ((s, dir) =>
      // long->wide reporting pivot with EXPLICIT pivot values (no extra
      // distinct-collect job); absent cells coalesced to 0 on both engines
      Relational.pivotCounts(t(s, dir, "documents"),
          Seq(col("source")), "lang", Seq("de", "en", "es", "fr", "zh"),
          col("n_chars"))
        .sortBy(Seq(col("source")))),

    "q74_unicode_nfc" -> ((s, dir) => {
      // NFC normalization; the corpus is ASCII-heavy, so a decomposed
      // "e"+combining-acute suffix is appended to give composition real
      // work — the full normalized string is hash-compared, and the
      // code-point count drops by exactly 1 per doc (the composed pair)
      val mixed = concat(col("text"), lit(" cafe\u0301"))
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          TextFns.normalizeUnicode(mixed).as("nfc_text"),
          length(mixed).cast("long").as("n_raw"),
          length(TextFns.normalizeUnicode(mixed)).cast("long").as("n_nfc")))
        .sortBy(Seq(col("doc_id")))
    }),

    "q75_url_domains" -> ((s, dir) => {
      // per-domain doc counts (the blocklist/quota profile). The corpus has
      // no URLs, so deterministic ones are built from real columns first —
      // the parse side (host + apex extraction) is what's under test
      val url = concat(lit("https://docs."), col("source"), lit(".Example.COM:8443/"),
        col("lang"), lit("/"), col("doc_id"), lit("?ref=x#top"))
      val host = TextFns.urlHost(url)
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), host.as("host"),
          TextFns.apexDomain(host).as("apex")))
        .aggregate(Seq(col("host"), col("apex")), Seq(count(lit(1)).as("n")))
        .sortBy(Seq(col("host")))
    }),

    "q76_quantize_embeddings" -> ((s, dir) =>
      // int8 storage quantization: per-vector [min,max] -> 256 levels. The
      // whole codec is replayed in SQL (mn/scale/codes/roundtrip error) —
      // floor(x+0.5) quantization is bit-identical cross-engine
      t(s, dir, "embeddings")
        .selectCols(Seq(col("vec_id"), col("embedding").as("v"),
          graft.plans.VectorExprs.quantizeInt8(col("embedding")).as("qz")))
        .withColumn("dq", graft.plans.VectorExprs.dequantizeInt8(col("qz")))
        .selectCols(Seq(
          col("vec_id"),
          col("qz.mn").as("mn"),
          col("qz.scale").as("scale"),
          aggregate(col("qz.q"), lit(0L), (acc, x) => acc + x).as("qsum"),
          element_at(col("qz.q"), 1).cast("long").as("q0"),
          element_at(col("qz.q"), 17).cast("long").as("q16"),
          round(aggregate(zip_with(col("v"), col("dq"), (a, b) => abs(a - b)),
            lit(0.0), (acc, x) => greatest(acc, x)), 6).as("max_err")))
        .sortBy(Seq(col("vec_id")))),

    "q77_approx_distinct" -> ((s, dir) =>
      // HLL++ distinct-token cardinality per lang: the sketch shuffles a
      // few KB per group instead of the token set (the 100 TB path next to
      // the exact countDistinct, which shuffles every distinct token).
      // Sketches differ across engines by construction => rows-only; the
      // <=5% relative-error bound vs exact is spec-pinned (CorpusSpec).
      t(s, dir, "documents")
        .selectCols(Seq(col("lang"), explode(TextFns.tokens(col("text"))).as("tok")))
        .aggregate(Seq(col("lang")), Seq(
          approx_count_distinct(col("tok"), rsd = 0.02).as("approx_toks"),
          countDistinct(col("tok")).as("exact_toks")))
        .sortBy(Seq(col("lang")))),

    "q78_corr_stats" -> ((s, dir) =>
      // Pearson corr / covariance from exact decimal co-moments — NOT the
      // streaming corr aggregate, whose float accumulation is
      // partitioning-dependent and never hash-matchable
      t(s, dir, "lineitem").corrStats(Seq(col("l_returnflag")),
          col("l_quantity"), col("l_extendedprice"))
        .selectCols(Seq(col("l_returnflag"), col("n"),
          round(col("corr"), 6).as("corr"),
          round(col("covar_samp"), 4).as("covar_samp"),
          round(col("std_x"), 6).as("std_x"),
          round(col("std_y"), 4).as("std_y")))
        .sortBy(Seq(col("l_returnflag")))),

    "q79_kmeans_lloyd" -> ((s, dir) => {
      // one exact distributed Lloyd iteration from the deterministic
      // first-8 init: nearest-centroid assignment + decimal per-dim means,
      // every number replayed in SQL (the hash-matchable sibling of the
      // sampled k-means seeding behind IVF)
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val init = e.filterCol(col("vec_id") < 8)
        .selectCols(Seq(col("vec_id").as("cid"), col("embedding").as("cv")))
      Similarity.kmeansLloydStep(corpus, init)
        .withColumn("c", round(col("c"), 6))
        .sortBy(Seq(col("cid"), col("dim")))
    }),

    "q80_bigram_lift" -> ((s, dir) =>
      // top collocations by lift (= exp(PMI); same ranking, exact
      // cross-engine arithmetic — ln would not hash-match)
      Corpus.bigramLift(t(s, dir, "documents"),
          TextFns.tokens(col("text")), minCount = 5L, k = 50)
        .sortBy(Seq(col("rank")))),

    "q81_session_window" -> ((s, dir) =>
      // Spark's BUILT-IN session_window (gap-merged event-time windows) —
      // the declarative sibling of q41's window-function sessionize and
      // q42's custom-state streaming form; one shuffle on (user_id)
      t(s, dir, "events")
        .aggregate(
          Seq(col("user_id"), session_window(col("ts"), "30 minutes").as("sw")),
          Seq(count(lit(1)).as("n_events")))
        .selectCols(Seq(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events")))
        .sortBy(Seq(col("user_id"), col("start_us")))),

    "q82_systematic_sample" -> ((s, dir) =>
      // weighted systematic sampling (data-mixing composition step): one
      // kept row per 1000 weight units per source, selection probability
      // proportional to n_chars. No RNG — the running-sum crossing rule is
      // exact cross-engine, unlike df.sample's partition-layout dependence
      t(s, dir, "documents")
        .systematicSample(col("source"), col("doc_id"), col("n_chars"), 1000L)
        .selectCols(Seq(col("doc_id"), col("source"), col("n_chars")))
        .sortBy(Seq(col("doc_id")))),

    "q83_strip_boilerplate" -> ((s, dir) => {
      // boilerplate LINE removal: the corpus has no newlines, so multi-line
      // docs are built deterministically from real columns (body + an
      // alternating per-source footer + a global footer) — same precedent
      // as q74/q75. Lines shared by >= 10 distinct docs vanish everywhere:
      // even docs lose both footers, odd docs keep their unique contact line
      val doc = concat(col("text"), lit("\n"),
        when(col("doc_id") % 2 === 0,
          concat(lit("subscribe to "), col("source"), lit(" weekly")))
          .otherwise(concat(lit("contact "), col("doc_id"))),
        lit("\n"), lit("all rights reserved"))
      Corpus.stripBoilerplate(
          t(s, dir, "documents").withColumn("doc", doc),
          col("doc_id"), col("doc"), minDocs = 10L)
        .sortBy(Seq(col("id")))
    }),

    "q84_rarity_score" -> ((s, dir) =>
      // unigram-LM rarity filtering signal (integer-exact perplexity
      // surrogate): mean inverse token probability, scaled floor division
      Corpus.rarityScore(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")))
        .sortBy(Seq(col("id")))),

    "q85_contamination_bloom" -> ((s, dir) =>
      // q59's contamination with the Bloom-prefiltered corpus side — the
      // 100 TB shape (the bloom has no false negatives and the exact semi
      // join removes false positives, so the answer is identical to q59's)
      Corpus.contaminationBloom(t(s, dir, "documents"), col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(97)) === 0, ngram = 8, fpp = 0.01)
        .sortBy(Seq(col("id")))),

    "q86_edit_distance_pairs" -> ((s, dir) =>
      // fuzzy entity dedup over short strings: distinct-first + complete
      // length-band blocking, levenshtein <= 3 on candidates only
      Dedup.editDistancePairs(t(s, dir, "part"), col("p_name"), maxDist = 3)
        .sortBy(Seq(col("sa"), col("sb")))),

    "q87_frequency_spectrum" -> ((s, dir) =>
      // Zipf profile: how many distinct terms occur exactly k times
      Corpus.frequencySpectrum(t(s, dir, "documents"), TextFns.tokens(col("text")))
        .sortBy(Seq(col("occurrences")))),

    "q88_incremental_dedup" -> ((s, dir) => {
      // append-only ingestion: the second half of events dedups against the
      // key history of the first half (key = user|type|day), then
      // keep-first-within-batch by event_id. The split point is count/2
      // (event_ids are dense from 0), so the query is sf-agnostic
      val e = t(s, dir, "events")
      val mid = e.count() / 2
      val key = concat_ws("|", col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd"))
      val seen = e.filterCol(col("event_id") < mid)
        .selectCols(Seq(key.as("k"))).distinct()
      Dedup.incrementalDedup(e.filterCol(col("event_id") >= mid), key,
          Seq(col("event_id")), seen)
        .selectCols(Seq(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value")))
        .sortBy(Seq(col("event_id")))
    }),

    "q89_winsorize" -> ((s, dir) =>
      // per-group p1/p99 outlier clipping; clipping is pure selection, so
      // row values are engine-exact (percentile interp pinned by q61)
      t(s, dir, "lineitem")
        .winsorize(Seq(col("l_returnflag")), col("l_extendedprice"), 0.01, 0.99)
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice").as("x"),
          round(col("p_lo"), 6).as("p_lo"), round(col("p_hi"), 6).as("p_hi"),
          round(col("clipped"), 6).as("clipped")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))),

    "q90_zorder" -> ((s, dir) =>
      // Morton key over (partkey, suppkey): the 2-D layout key that
      // layoutZOrder range-partitions on before a stats-aligned write
      t(s, dir, "lineitem")
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          Relational.zorderValue(col("l_partkey"), col("l_suppkey"), 11).as("z")))
        .sortBy(Seq(col("z"), col("l_orderkey"), col("l_linenumber")))),

    "q91_pii_counts" -> ((s, dir) => {
      // link/PII density profile; corpus has no URLs or emails, so both are
      // injected deterministically from real columns (q75 precedent)
      val txt = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" visit https://docs."), col("source"), lit(".example.com/x now")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.org")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), TextFns.urlCount(txt).as("n_urls"),
          TextFns.emailCount(txt).as("n_emails")))
        .sortBy(Seq(col("doc_id")))
    }),

    "q92_truncate_tokens" -> ((s, dir) =>
      // context-budget cut at 24 tokens (most docs are longer)
      Corpus.truncateTokens(t(s, dir, "documents"), col("doc_id"), col("text"), 24)
        .withColumn("was_truncated", col("was_truncated").cast("long"))
        .sortBy(Seq(col("id")))),

    "q93_deterministic_shuffle" -> ((s, dir) =>
      // reproducible training order: multiplicative-hash (shard, pos) —
      // rerun/engine/partition-layout independent, unlike orderBy(rand())
      Corpus.deterministicShuffle(t(s, dir, "documents"), col("doc_id"), nShards = 16)
        .selectCols(Seq(col("doc_id"), col("shard"), col("pos")))
        .sortBy(Seq(col("shard"), col("pos")))),

    "q94_hashed_tfidf" -> ((s, dir) =>
      // hashing-trick featurization into 64 buckets, portable FNV hashing
      // so the full sparse vector (incl. collision sums) is SQL-replayable
      Corpus.hashedTfIdf(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), dim = 64, portable = true)
        .sortBy(Seq(col("id"), col("bucket")))),

    "q95_normalize_minmax" -> ((s, dir) =>
      // per-group [0,1] feature scaling; three IEEE ops on exact inputs =>
      // bit-identical, no rounding slack anywhere
      t(s, dir, "lineitem")
        .normalizeMinMax(Seq(col("l_returnflag")), col("l_extendedprice"))
        .selectCols(Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("v_min"), col("v_max"), col("normalized")))
        .sortBy(Seq(col("l_orderkey"), col("l_linenumber")))),

    "q99_bigram_surprise" -> ((s, dir) =>
      // bigram-LM fluency signal (conditional sibling of q84): mean scaled
      // inverse transition probability, add-one smoothed, integer-exact
      Corpus.bigramSurprise(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")))
        .sortBy(Seq(col("id")))),

    "q100_pagerank" -> ((s, dir) => {
      // entity-centrality quality prior (the CommonCrawl recipe weights
      // domains by link centrality before sampling): 3 integer-exact
      // damped rounds over the customer -> supplier purchase graph
      // (supplier ids offset by 10^6 so the node id space is disjoint)
      val o = t(s, dir, "orders").selectCols(Seq(col("o_orderkey"), col("o_custkey")))
      val l = t(s, dir, "lineitem").selectCols(Seq(col("l_orderkey"), col("l_suppkey")))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .selectCols(Seq(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst")))
        .distinct()
      graft.operators.Graph.pagerank(edges, rounds = 3)
        .sortBy(Seq(col("id")))
    }),

    "q101_mixture_resample" -> ((s, dir) =>
      // DoReMi-style language re-mixing: en down to 60%, zh up from ~4%;
      // threshold mode (the 100 TB shape) — no window, no sort
      Corpus.mixtureResample(t(s, dir, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 600, "de" -> 150, "fr" -> 100, "es" -> 100, "zh" -> 50))
        .selectCols(Seq(col("id"), col("domain"), col("epoch")))
        .sortBy(Seq(col("id"), col("epoch")))),

    "q102_pq_encode" -> ((s, dir) => {
      // 64-dim -> 8 sub-bytes: codebook j = subvectors j of the first 16
      // embeddings (deterministic, the q65 trick; kmeansCentroids is the
      // production seeding path)
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cb = e.filterCol(col("vec_id") < 16)
        .selectCols(Seq(col("vec_id").as("cid"),
          explode(sequence(lit(0), lit(7))).as("sub"), col("embedding")))
        .selectCols(Seq(col("sub"), col("cid"),
          slice(col("embedding"), col("sub") * 8 + 1, lit(8)).as("cv")))
      Similarity.pqEncode(corpus, cb, m = 8, subDims = 8)
        .withColumn("dist_sq", round(col("dist_sq"), 6))
        .sortBy(Seq(col("id"), col("sub")))
    }),

    "q103_pq_adc_topk" -> ((s, dir) => {
      // full-precision queries (vec_id < 4) against the q102 codes: the
      // RAM-resident ANN shape — m LUT lookups per corpus vector, no
      // vector arithmetic in the scan
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cb = e.filterCol(col("vec_id") < 16)
        .selectCols(Seq(col("vec_id").as("cid"),
          explode(sequence(lit(0), lit(7))).as("sub"), col("embedding")))
        .selectCols(Seq(col("sub"), col("cid"),
          slice(col("embedding"), col("sub") * 8 + 1, lit(8)).as("cv")))
      val codes = Similarity.pqEncode(corpus, cb, m = 8, subDims = 8)
      val queries = e.filterCol(col("vec_id") < 4)
        .selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      Similarity.pqAdcTopK(codes, cb, queries, m = 8, subDims = 8, k = 5)
        .withColumn("adist", round(col("adist"), 6))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q104_bm25" -> ((s, dir) =>
      // lexical retrieval: BM25 top-50 for a 4-term query; rational
      // (ln-free) idf — the q80 lift trick — so every step replays exactly
      // in SQL. One narrow tf pass + a 1-row broadcast stats aggregate +
      // TakeOrderedAndProject: no corpus shuffle at any scale
      Retrieval.bm25TopK(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), Seq("spark", "join", "window", "hash"),
          k = 50)
        .withColumn("score", round(col("score"), 6))
        .sortBy(Seq(col("rank")))),

    "q105_rrf_hybrid" -> ((s, dir) => {
      // hybrid retrieval: fuse the q104 lexical ranking with a semantic
      // (exact cosine) ranking for doc 0's embedding via reciprocal-rank
      // fusion — rank-only fusion, no score calibration; both inputs are
      // top-100 truncated so the fuse join is between two 100-row frames
      val lex = Retrieval.bm25TopK(t(s, dir, "documents"), col("doc_id"),
        TextFns.tokens(col("text")), Seq("spark", "join", "window", "hash"),
        k = 100)
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val sem = Similarity.bruteForceTopK(corpus, corpus.filterCol(col("id") === 0), k = 100)
        .selectCols(Seq(col("neighbor_id").as("id"), col("rank")))
      Retrieval.rrfFuse(lex.selectCols(Seq(col("id"), col("rank"))), sem, c = 60, k = 25)
        .withColumn("rrf", round(col("rrf"), 6))
        .withColumn("rank_a", coalesce(col("rank_a"), lit(-1L)))
        .withColumn("rank_b", coalesce(col("rank_b"), lit(-1L)))
        .sortBy(Seq(col("rank")))
    }),

    "q106_semdedup" -> ((s, dir) => {
      // SemDeDup: k-means cells (deterministic first-8 seeding for the
      // oracle; kmeansFit is the production path) bound the pairwise stage
      // to within-cell compares — n^1.5 total instead of n^2, the
      // embedding-space sibling of LSH banding
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cents = e.filterCol(col("vec_id") < 8)
        .selectCols(Seq(col("vec_id").as("cid"), col("embedding").as("cv")))
      Dedup.semanticDedup(corpus, col("id"), col("v"), cents, threshold = 0.35)
        .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
        .sortBy(Seq(col("id")))
    }),

    "q140_shard_manifest" -> ((s, dir) => {
      // training-job handoff artifact: per shard of the deterministic
      // shuffle, doc/token totals and id bounds — what the loader reads
      // before touching any data file
      val docs = t(s, dir, "documents")
      Corpus.deterministicShuffle(docs, col("doc_id"), nShards = 16)
        .join(docs.selectCols(Seq(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))), "doc_id")
        .aggregate(Seq(col("shard")), Seq(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id")))
        .sortBy(Seq(col("shard")))
    }),

    "q141_pack_report" -> ((s, dir) => {
      // packing-efficiency summary over q60's layout: sequence count,
      // boundary-spanning docs, fill rate — the "how much context window
      // is wasted" number a packing parameter sweep optimizes
      val packed = Corpus.packSequences(t(s, dir, "documents"), col("doc_id"),
        TextFns.tokenCount(col("text")), ctxLen = 512, bucketSize = 64)
      packed.aggregate(Seq.empty, Seq(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(when(col("seq_offset") + col("n_tokens") > 512L, 1L).otherwise(0L))
            .as("n_spanning")))
        .withColumn("n_seqs",
          floor((col("total_tokens") - 1).cast("double") / 512).cast("long") + 1L)
        .withColumn("fill_rate",
          round(col("total_tokens").cast("double")
            / (col("n_seqs") * 512L).cast("double"), 9))
    }),

    "q142_mutual_knn_ivf" -> ((s, dir) => {
      // q117's SCALE PATH, driver-proven: the same mutual-kNN graph built
      // from the cell-partitioned IVF join instead of a whole-corpus
      // broadcast. nprobe = nlist makes IVF exhaustive (every pair scored
      // exactly once), so the result must EQUAL q117 — same oracle — while
      // broadcastQueries = false keeps both join sides hash-partitioned on
      // cell: nothing corpus-sized is ever collected or broadcast
      // (ExplainAuditSpec pins the plan shape).
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      Similarity.mutualPairs(Similarity.ivfTopK(corpus, corpus,
          nlist = 16, nprobe = 16, k = 10, broadcastQueries = false))
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q143_mutual_knn_ivf_recall" -> ((s, dir) => {
      // the APPROXIMATE mutual-kNN config (nprobe 4 of 16) measured against
      // the exact graph — q46's recall pattern lifted to the pair level.
      // Fixture quantizer (first-16 cells, as q38/q46): the pruned all-pairs
      // kNN, the mutual filter, and the exact graph all replay in DuckDB,
      // so the pair recall is an independent oracle (r10; the r9 pin is
      // gone). The k-means-seeded config stays covered by q142's exact
      // sibling and SimilaritySpec's recall bounds.
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      val approx = Similarity.mutualPairs(Similarity.ivfTopK(corpus, corpus,
        nlist = 16, nprobe = 4, k = 10, broadcastQueries = false,
        centroids = Some(cents)))
        .selectCols(Seq(col("id_a"), col("id_b")))
      val exact = Similarity.mutualPairs(Similarity.bruteForceTopK(corpus, corpus, k = 10))
        .selectCols(Seq(col("id_a"), col("id_b")))
      val nHit = exact.join(approx, Seq("id_a", "id_b"), "left_semi")
        .aggregate(Seq.empty, Seq(count(lit(1)).as("n_hit")))
      val nExact = exact.aggregate(Seq.empty, Seq(count(lit(1)).as("n_exact")))
      val nApprox = approx.aggregate(Seq.empty, Seq(count(lit(1)).as("n_approx")))
      nExact.crossJoin(nApprox).crossJoin(nHit)
        .withColumn("pair_recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
    }),

    "q144_clean_corpus_lsh" -> ((s, dir) =>
      // q51's SCALE PATH, driver-proven: the composed cleaning pipeline with
      // candidate pairs from MinHash+LSH (linear shuffle, banded equi-join)
      // instead of the exact inverted index. The LSH output is
      // exact-Jaccard-verified with P[miss] ~ 5e-9 at the default banding
      // (q33 hash-matches the exact pair set on this data), so the full
      // composition replays q51's oracle verbatim.
      //
      // PROFILE NOTE (expected small-scale crossover — do not "fix"
      // backwards): at sf0.1 this is SLOWER than exact q51 (r5 bench:
      // 10.2 s vs 6.5 s) because computing 128 minhashes over every gated
      // doc's full text dominates while the exact pair join is still cheap.
      // The cost that matters is the SCALING: BENCH_r* `scale` shows
      // clean_corpus_lsh ~flat across 25k->100k docs (3.4->3.5 s, minhash
      // is linear per doc) while the exact families grow quadratically
      // (emb_cosine_pairs 0.6->5.9 s). LSH wins exactly where it is needed.
      graft.operators.Pipeline.cleanCorpus(t(s, dir, "documents"), col("doc_id"), col("text"),
          pairFn = (df, idc, txt, th) => Dedup.minhashLshPairs(df, idc, txt, threshold = th))
        .sortBy(Seq(col("id")))),

    "q145_image_decode" -> ((s, dir) => {
      // REAL image codec round trip (javax.imageio, pure JDK): synthesize a
      // deterministic gray test-pattern PNG per doc (pixel = (doc_id*31 +
      // x*7 + y*13) % 256, dims varying per doc), DECODE it, nearest-
      // neighbor RESIZE to 8x8, decode that too. PNG is lossless and the
      // resample is integer arithmetic, so the reported dims / channel
      // counts / exact pixel sums replay as plain integer math in the
      // oracle — the driver hash pins a real encode->decode->resample
      // chain, not a stub. Codec calls are UDFs by design: a codec is a
      // black-box native-style call, everything around it stays columnar.
      val withPng = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(7))).cast("int").as("h"))))
        .withColumn("png", Multimodal.synthGrayPngUdf(col("doc_id"), col("w"), col("h")))
      withPng
        .withColumn("info", Multimodal.decodeImage(col("png")))
        .withColumn("rinfo", Multimodal.decodeImage(Multimodal.resizeImageNN(8, 8)(col("png"))))
        .selectCols(Seq(
          col("doc_id").as("id"),
          col("info._1").cast("long").as("width"),
          col("info._2").cast("long").as("height"),
          col("info._3").cast("long").as("channels"),
          col("info._4").as("pix_sum"),
          round(col("info._4").cast("double") / (col("w") * col("h")), 6).as("mean_px"),
          col("rinfo._4").as("r_pix_sum"),
          round(col("rinfo._4").cast("double") / 64.0, 6).as("r_mean_px")))
        .sortByTruncated(Seq(col("id")))
    }),

    "q146_audio_decode" -> ((s, dir) => {
      // REAL audio codec round trip (javax.sound.sampled, pure JDK): a
      // deterministic 16-bit PCM mono WAV per doc (sample(i) = (doc_id*31
      // + i*7) % 65536 - 32768, length varying per doc), DECODED back to
      // exact sample counts / rates / sums. PCM WAV is lossless, so every
      // reported number replays as integer arithmetic in the oracle —
      // q145's pattern for the audio modality. abs_sum/mean_abs is the
      // energy proxy an audio quality gate thresholds on.
      val withWav = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(64) + pmod(col("doc_id"), lit(41))).cast("int").as("n"))))
        .withColumn("wav", Multimodal.synthPcmWavUdf(col("doc_id"), col("n")))
      withWav
        .withColumn("info", Multimodal.decodeAudio(col("wav")))
        .selectCols(Seq(
          col("doc_id").as("id"),
          col("info._1").as("n_samples"),
          col("info._2").cast("long").as("sample_rate"),
          col("info._3").cast("long").as("channels"),
          col("info._4").as("sample_sum"),
          col("info._5").as("abs_sum"),
          // mean over info._6 (total interleaved samples), not _1 (frames):
          // equal for this mono clip, but only _6 stays correct for stereo
          round(col("info._5").cast("double") / col("info._6"), 6).as("mean_abs")))
        .sortByTruncated(Seq(col("id")))
    }),

    "q147_winsorize_approx" -> ((s, dir) =>
      // q89's 100 TB configuration (percentile_approx — a mergeable GK
      // sketch: partial aggregation, no whole-group buffering on one
      // task), upgraded from rows-only to a hash-checkable banded-
      // deviation contract: the sketch's engine-specific cut points never
      // leave the query — what comes out is the exact bounds plus three
      // integers that are (1, 1, 0) whenever the sketch honors its rank
      // guarantee, so DuckDB replays the whole output from the exact
      // distribution and any bound violation hash-fails the round.
      t(s, dir, "lineitem")
        .winsorizeApproxBands(Seq(col("l_returnflag")), col("l_extendedprice"),
          0.01, 0.99)
        .sortBy(Seq(col("l_returnflag")))),

    "q148_robust_scale_approx" -> ((s, dir) =>
      // q115's 100 TB configuration (approximate median/MAD), same
      // banded-deviation upgrade as q147 — the MAD band composes the
      // median-displacement bound B1 with the deviation-quantile band, so
      // even the sketch-over-a-sketch stage is driver-checkable
      t(s, dir, "lineitem")
        .robustScaleApproxBands(Seq(col("l_returnflag")), col("l_extendedprice"))
        .sortBy(Seq(col("l_returnflag")))),

    "q149_video_frames" -> ((s, dir) => {
      // REAL video frame sampling (javax.imageio animated GIF, pure JDK):
      // a deterministic multi-frame clip per doc (frame f pixel(x,y) =
      // (doc_id*31 + f*17 + x*7 + y*13) % 256, frame count and dims varying
      // per doc), demuxed back with every 2nd frame decoded to exact pixel
      // sums. GIF LZW is lossless on the indexed raster, so the whole
      // encode->demux->sample->decode chain replays as integer arithmetic
      // in the oracle — q145/q146's pattern for the video modality (and the
      // replacement for the frame-sampling stub earlier rounds carried).
      val withGif = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(6) + pmod(col("doc_id"), lit(5))).cast("int").as("w"),
          (lit(6) + pmod(col("doc_id"), lit(4))).cast("int").as("h"),
          (lit(3) + pmod(col("doc_id"), lit(4))).cast("int").as("nf"))))
        .withColumn("gif",
          Multimodal.synthAnimGifUdf(col("doc_id"), col("w"), col("h"), col("nf")))
      withGif
        .withColumn("fr", explode(Multimodal.sampleFrameInfos(2)(col("gif"))))
        .selectCols(Seq(
          col("doc_id").as("id"),
          col("fr._1").cast("long").as("frame_idx"),
          col("fr._2").cast("long").as("width"),
          col("fr._3").cast("long").as("height"),
          col("fr._4").as("pix_sum"),
          round(col("fr._4").cast("double") / (col("w") * col("h")), 6).as("mean_px")))
        .sortByTruncated(Seq(col("id"), col("frame_idx")))
    }),

    "q150_bucketed_join" -> ((s, dir) => {
      // Bucketed co-located join — the 100 TB storage-layout story as a
      // driver fact, not just a spec fact: both tables are written
      // hash-bucketed by the join key (Engine.writeBucketed pre-pays the
      // exchange ONCE at ingest), and the join + per-key aggregation then
      // run with ZERO shuffle exchanges (ExplainAuditSpec asserts the
      // Exchange-free plan; the merge hint pins SMJ so the bucketed scan's
      // partitioning is what the planner uses, not a size-based broadcast
      // that would mask it at this sf). The write cost is deliberately
      // inside the timed query: pre-paying it is the trade being measured.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf"
      Engine.writeBucketed(
        t(s, dir, "orders").selectCols(Seq(col("o_orderkey"), col("o_orderpriority"))),
        "graft_orders_b", Seq("o_orderkey"), 8, Some(s"$scratch/orders_b"))
      Engine.writeBucketed(
        t(s, dir, "lineitem").selectCols(Seq(
          col("l_orderkey"), col("l_extendedprice"))),
        "graft_lineitem_b", Seq("l_orderkey"), 8, Some(s"$scratch/lineitem_b"))
      bucketedRevenue(s).sortBy(Seq(col("o_orderkey")))
    }),

    "q151_partition_pruned_scan" -> ((s, dir) => {
      // Hive-partitioned layout + partition pruning as a driver fact:
      // events rewritten partitionBy(event_type); the equality filter on
      // the partition column prunes whole directories at planning time
      // (PartitionFilters in the scan, zero I/O for the other four types —
      // asserted in ExplainAuditSpec). At 100 TB this is the difference
      // between scanning a store and scanning 1/5th of it.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/events_by_type"
      Engine.writeParquetPartitioned(
        t(s, dir, "events").selectCols(Seq(
          col("event_id"), col("user_id"), col("value"), col("event_type"))),
        scratch, Seq("event_type"))
      s.read.parquet(scratch)
        .filterCol(col("event_type") === "click")
        .aggregate(Seq(col("user_id")), Seq(
          count(lit(1)).as("n_click"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value")))
        .sortBy(Seq(col("user_id")))
    }),

    "q152_udaf_sql" -> ((s, dir) => {
      // SURVEY §2.5's deferred extension tier made user-facing: the typed
      // partial-merge Aggregators (bounded top-k heap; decimal-exact
      // Pearson corr) registered as SQL UDAFs via functions.udaf +
      // spark.udf.register (graft.functions.Udafs — the extensions hook
      // covers scalar builders only) and exercised through plain
      // spark.sql. Both aggregate map-side to a bounded buffer per group
      // before the shuffle: shuffle volume O(groups), not O(rows).
      graft.functions.Udafs.register(s)
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q152")
      s.sql("""
        WITH g AS (
          SELECT l_returnflag,
                 graft_top3(l_orderkey, l_extendedprice) AS top3,
                 graft_corr_exact(l_quantity, l_extendedprice) AS corr
          FROM lineitem_q152
          GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(t.i + 1 AS BIGINT) AS rank,
               t.s.id AS top_orderkey, t.s.score AS top_price,
               round(corr, 6) AS corr
        FROM g LATERAL VIEW posexplode(top3) t AS i, s
        ORDER BY l_returnflag, rank""")
    }),

    "q153_source_roundtrip" -> ((s, dir) => {
      // Source/sink coverage as a driver fact: documents written to ORC
      // and JSON-lines (Engine.writeOrc/writeJson), read back through
      // Engine.readOrc/readJson, and emitted verbatim — the hash match
      // against the parquet original proves BOTH round trips lossless
      // (ids, multi-byte text, short strings), so a lake standardized on
      // either format gets identical engine semantics. Parquet/CSV are
      // covered elsewhere (every query reads parquet; read-csv is the
      // reference-parity path in SourcesSpec).
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf"
      val docs = t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), col("text"), col("lang")))
      Engine.writeOrc(docs, s"$scratch/docs_orc")
      Engine.writeJson(docs, s"$scratch/docs_json")
      val orc = Engine.readOrc(s, s"$scratch/docs_orc")
        .selectCols(Seq(col("doc_id"), col("text").as("text_orc")))
      val js = Engine.readJson(s, s"$scratch/docs_json")
        .selectCols(Seq(col("doc_id").cast("long").as("doc_id"),
          col("text").as("text_json"), col("lang").as("lang_json")))
      orc.join(js, Seq("doc_id"))
        .sortBy(Seq(col("doc_id")))
    }),

    "q154_dynamic_partition_pruning" -> ((s, dir) => {
      // Dynamic partition pruning as a driver fact: the fact table is
      // partitioned on event_type (q151's layout, own directory), the dim
      // side carries the selective filter (category = 'engagement'), and
      // the partition values to scan are only known AFTER the dim filter
      // runs — Spark plants a DPP subquery on the scan
      // (dynamicpruningexpression, asserted in ExplainAuditSpec) and skips
      // the other categories' directories at runtime. At 100 TB this is
      // partition pruning for the join-shaped filters static pruning
      // (q151) cannot see.
      import s.implicits._
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/events_dpp"
      Engine.writeParquetPartitioned(
        t(s, dir, "events").selectCols(Seq(
          col("event_id"), col("user_id"), col("value"), col("event_type"))),
        scratch, Seq("event_type"))
      // the dim must be a real SCAN with a surviving Filter: a literal
      // LocalRelation is constant-folded before the PartitionPruning rule
      // runs, leaving no selective predicate for DPP to latch onto
      Engine.writeParquet(Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "commerce"), ("signup", "account"), ("error", "ops"))
        .toDF("event_type", "category"), s"$scratch-dim")
      val dim = s.read.parquet(s"$scratch-dim")
      s.read.parquet(scratch)
        .join(dim.filterCol(col("category") === "engagement"), Seq("event_type"))
        .aggregate(Seq(col("event_type")), Seq(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value")))
        .sortBy(Seq(col("event_type")))
    }),

    "q155_streaming_partitioned_ingest" -> ((s, dir) => {
      // TRUE streaming run joining the streaming surface to the layout
      // story: a file-source stream drains events through an exactly-once
      // FileStreamSink into an event_type-partitioned parquet layout
      // (Trigger.AvailableNow + checkpoint = the incremental-backfill
      // invocation that tails a landing zone at 100 TB), then the ingested
      // store is read back and aggregated — the hash match proves the
      // streamed layout carries exactly the source rows.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/stream_ingest"
      EventStreams.runPartitionedIngest(s, s"$dir/events.parquet",
        s"$scratch/data", s"$scratch/ckpt", Seq("event_type"),
        Seq("event_id", "user_id", "value", "event_type"))
      s.read.parquet(s"$scratch/data")
        .aggregate(Seq(col("event_type")), Seq(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value")))
        .sortBy(Seq(col("event_type")))
    }),

    "q156_tpch_q11" -> ((s, dir) => {
      // TPC-H Q11 shape (Q3/Q18 are q124/q128): per-group value kept only
      // when it beats a fraction of the GLOBAL total — the scalar-subquery
      // HAVING. Both the per-part values and the 1-row total come from the
      // same decimal-exact aggregate; the total broadcasts (no collect),
      // so the threshold is evaluated where the groups live.
      val l = t(s, dir, "lineitem")
      val value = l.aggregate(Seq(col("l_partkey")), Seq(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("value")))
      val total = l.aggregate(Seq.empty, Seq(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("total")))
      value.crossJoin(broadcast(total))
        .filterCol(col("value") > col("total") * 0.0005)
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .selectCols(Seq(col("p_partkey"), col("p_name"), col("value")))
        .sortExprs(Seq(col("value").desc, col("p_partkey").asc))
    }),

    "q157_tpch_q4" -> ((s, dir) => {
      // TPC-H Q4 shape: order-priority checking — EXISTS becomes a
      // left-semi join with a cross-side predicate (an R-flagged line
      // shipped > 60 days after the order date). The semi join keeps one
      // row per qualifying order with no dedup pass, and the count
      // shuffles 5 priority groups, not orders.
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_returnflag") === "R" &&
            col("l_shipdate").cast("date") >
              date_add(col("o_orderdate").cast("date"), 60),
          "left_semi")
        .aggregate(Seq(col("o_orderpriority")), Seq(
          count(lit(1)).as("n_orders")))
        .sortBy(Seq(col("o_orderpriority")))
    }),

    "q158_tpch_q10" -> ((s, dir) => {
      // TPC-H Q10 shape: returned-item revenue per customer over one
      // order-date quarter, nation name resolved through a broadcast dim.
      // Revenue is decimal-exact; c_acctbal passes through untouched so
      // both engines emit the identical stored double.
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filterCol(col("o_orderdate").cast("date") >=
            lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("o_orderdate").cast("date") <
            lit(java.sql.Date.valueOf("1997-04-01")))
      val l = t(s, dir, "lineitem").filterCol(col("l_returnflag") === "R")
      val n = t(s, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .aggregate(Seq(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name")), Seq(
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double"), 4).as("revenue")))
        .sortExprs(Seq(col("revenue").desc, col("c_custkey").asc))
        .limitOffset(0, Some(20))
    }),

    "q159_tpch_q16" -> ((s, dir) => {
      // TPC-H Q16 shape: supplier diversity per (brand, size) — the
      // part/supplier association distilled from lineitem (distinct pairs,
      // partial-aggregated before the shuffle), complaint suppliers
      // removed by a broadcast left-anti join, then COUNT(DISTINCT
      // suppkey) per group (NOT IN is safe as anti here: s_suppkey is
      // never null).
      val assoc = t(s, dir, "lineitem")
        .selectCols(Seq(col("l_partkey"), col("l_suppkey"))).distinctAll
      val negSupp = t(s, dir, "supplier")
        .filterCol(col("s_acctbal") < 0.0)
        .selectCols(Seq(col("s_suppkey")))
      val p = t(s, dir, "part")
        .filterCol(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 7, 14, 23, 36, 45))
        .selectCols(Seq(col("p_partkey"), col("p_brand"), col("p_size")))
      assoc.join(broadcast(negSupp),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .aggregate(Seq(col("p_brand"), col("p_size")), Seq(
          countDistinct(col("l_suppkey")).as("supplier_cnt")))
        .sortExprs(Seq(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_size").asc))
    }),

    "q160_tpch_q15" -> ((s, dir) => {
      // TPC-H Q15 shape (Q18 is q128): top supplier by quarterly revenue —
      // argmax via scalar subquery, ties INCLUDED (the reason this is not
      // a LIMIT 1: equality against the broadcast 1-row max keeps every
      // tied supplier). Revenue and max come off the same decimal-exact
      // aggregate, so the double equality compares identical bits.
      val rev = t(s, dir, "lineitem")
        .filterCol(col("l_shipdate").cast("date") >=
            lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("l_shipdate").cast("date") <
            lit(java.sql.Date.valueOf("1997-04-01")))
        .aggregate(Seq(col("l_suppkey")), Seq(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double").as("total_revenue")))
      val mx = rev.aggregate(Seq.empty, Seq(max(col("total_revenue")).as("m")))
      rev.crossJoin(broadcast(mx))
        .filterCol(col("total_revenue") === col("m"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .selectCols(Seq(col("s_suppkey"), col("s_name"),
          round(col("total_revenue"), 4).as("total_revenue")))
        .sortBy(Seq(col("s_suppkey")))
    }),

    "q161_tpch_q21" -> ((s, dir) => {
      // TPC-H Q21 shape: suppliers who were the SOLE R-flag supplier on a
      // multi-supplier order — EXISTS(other supplier on the order) as a
      // left-semi self-join and NOT EXISTS(other R-flag supplier) as a
      // left-anti self-join. Both self-joins shuffle on the same
      // l_orderkey key, so the exchange is planned once; the supplier dim
      // broadcasts.
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val l1 = l.filterCol(col("l_returnflag") === "R")
        .selectCols(Seq(col("l_orderkey"), col("l_suppkey")))
      val others = l.selectCols(Seq(
        col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey")))
      val othersR = l.filterCol(col("l_returnflag") === "R")
        .selectCols(Seq(
          col("l_orderkey").as("o3_orderkey"), col("l_suppkey").as("o3_suppkey")))
      l1.join(others,
          col("l_orderkey") === col("o2_orderkey") &&
            col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
        .join(othersR,
          col("l_orderkey") === col("o3_orderkey") &&
            col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .aggregate(Seq(col("s_suppkey"), col("s_name")), Seq(
          count(lit(1)).as("numwait")))
        .sortExprs(Seq(col("numwait").desc, col("s_suppkey").asc))
        .limitOffset(0, Some(10))
    }),

    "q162_tpch_q7" -> ((s, dir) => {
      // TPC-H Q7 shape: bilateral shipping volume between two nations by
      // ship year. The nation pair predicate is pushed INTO both dim scans
      // (each side reduced to 2 rows before joining) and the asymmetric
      // pair filter runs after — so the fact tables only carry rows whose
      // both endpoints are in the pair set.
      val pair = Seq("NATION_1", "NATION_2")
      val n = t(s, dir, "nation")
      val sn = n.filterCol(col("n_name").isin(pair: _*)).selectCols(Seq(
        col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val cn = n.filterCol(col("n_name").isin(pair: _*)).selectCols(Seq(
        col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
      val l = t(s, dir, "lineitem")
        .filterCol(col("l_shipdate").cast("date").between(
          lit(java.sql.Date.valueOf("1996-01-01")),
          lit(java.sql.Date.valueOf("1997-12-31"))))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .filterCol(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .aggregate(Seq(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("date")).cast("long").as("l_year")), Seq(
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_lines")))
        .sortBy(Seq(col("supp_nation"), col("cust_nation"), col("l_year")))
    }),

    "q163_dup_substr_stats" -> ((s, dir) =>
      // exact duplicated-substring measurement (Lee et al. ExactSubstr,
      // distributed): per-doc maximal spans of 8-token windows that repeat
      // anywhere in the corpus — memorization fuel that document-level
      // dedup (q31/q33) cannot see when the surrounding text differs
      Dedup.dupSubstrStats(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), k = 8)
        .withColumnRenamed("id", "doc_id")
        .sortBy(Seq(col("doc_id")))),

    "q164_dup_substr_spans_hashed" -> ((s, dir) =>
      // the 100 TB configuration of q163: shuffle keys are xxhash64 of the
      // shingle text (8 bytes through the exchange instead of ~8 words).
      // The span OUTPUT carries only positions, so the same exact-text SQL
      // oracle hash-matches — driver-proving the hashed scale path equals
      // the exact instrument (the q142/q144 pattern)
      Dedup.dupSubstrSpans(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), k = 8, hashShingles = true)
        .withColumnRenamed("id", "doc_id")
        .sortBy(Seq(col("doc_id"), col("span_start")))),

    "q165_bpe_merges" -> ((s, dir) =>
      // distributed BPE tokenizer training, first 8 merges: the merge
      // table compounds (round 6 merges 'm'+'er', consuming round 1's
      // 'er') — proof the greedy rewrite, not just the pair counts, is
      // exact. All counting/rewriting distributed; 1 argmax row per round
      // is the only driver state (kmeansFit precedent)
      Corpus.bpeMerges(t(s, dir, "documents"),
          TextFns.tokens(col("text")), rounds = 8)
        .sortBy(Seq(col("merge_round")))),

    "q166_dsir_weights" -> ((s, dir) =>
      // DSIR-style target-domain selection: English docs as the target
      // distribution, the whole corpus as raw; per-doc mean scaled
      // unigram likelihood ratio, ln-free integer-exact, selected =
      // above parity. The en docs themselves should dominate `selected`
      Corpus.dsirWeights(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .sortBy(Seq(col("doc_id")))),

    "q167_bpe_segment" -> ((s, dir) => {
      // tokenizer INFERENCE closing the train->apply loop: learn q165's 8
      // merges, segment the corpus with them, emit the top-20 subword
      // histogram. Collecting the merge table is the tokenizer-artifact
      // handoff every real pipeline does; the corpus-sized work stays
      // distributed in both phases
      val docs = t(s, dir, "documents")
      val toks = TextFns.tokens(col("text"))
      val merges = Corpus.bpeMerges(docs, toks, rounds = 8)
        .orderBy("merge_round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Corpus.bpeSegment(docs, toks, merges)
        .select(explode(col("subtokens")).as("subtoken"), col("wc"))
        .aggregate(Seq(col("subtoken")), Seq(sum(col("wc")).as("n_occurrences")))
        .sortExprs(Seq(col("n_occurrences").desc, col("subtoken").asc))
        .limitOffset(0, Some(20))
    }),

    "q168_window_frames" -> ((s, dir) => {
      // the window-FRAME family q132's constructors don't touch: a ROWS
      // frame (last 3 events per user, total order via the event_id
      // tie-break) and a RANGE frame (trailing 1 hour on epoch micros —
      // peer rows included regardless of tie order). Both sums
      // decimal-exact; one window exchange on user_id serves both frames
      val ev = t(s, dir, "events")
        .filterCol(col("user_id") < 2000)
        .selectCols(Seq(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value")))
      ev.rollingAgg(Seq(col("user_id")), Seq(col("ts_us"), col("event_id")),
          rowsBefore = 2, Seq(
          "rows3_dec" -> sum(col("value").cast(DecimalType(18, 6)))))
        .rollingRangeAgg(Seq(col("user_id")), col("ts_us"), 3600000000L, Seq(
          "range1h_dec" -> sum(col("value").cast(DecimalType(18, 6))),
          "range1h_n" -> count(lit(1))))
        .selectCols(Seq(col("event_id"), col("user_id"), col("ts_us"),
          col("rows3_dec").cast("double").as("rows3_sum"),
          col("range1h_dec").cast("double").as("range1h_sum"),
          col("range1h_n")))
        .sortBy(Seq(col("user_id"), col("ts_us"), col("event_id")))
    }),

    "q169_streaming_upsert" -> ((s, dir) => {
      // TRUE streaming keyed upsert: the source is staged as 3 parquet
      // files and drained one file per micro-batch (maxFilesPerTrigger=1),
      // so the latest-event-per-user store is built across MULTIPLE
      // merge rounds — each rewriting only its dirty hash buckets via
      // dynamic partition overwrite (the no-table-format SCD-1 sink).
      // The hash match proves the multi-batch merge converges to exactly
      // the batch latest-per-key answer regardless of file order.
      // Bench note: ~5-8 s at sf0.1 — three sequential micro-batches,
      // each a store read + dirty-bucket rewrite; the cost is the
      // multi-round merge instrument, not a plan problem (a single
      // AvailableNow batch would be 3x cheaper and test nothing).
      // r8's unexplained 23 s: the merged store was written WITHOUT
      // repartitioning on the bucket column, so every batch emitted up to
      // shufflePartitions x nBuckets (~500) small files and later batches
      // re-read the accumulated fragments — FS-cache-sensitive, hence the
      // run-to-run swings. Fixed in runKeyedUpsert (one file per bucket
      // per rewrite); per-batch phase timings now print to stderr so any
      // future drift self-attributes in the bench log.
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/upsert"
      // the 3-file landing is input prep, identical every run — staged
      // once per JVM (the store + checkpoint below stay per-run fresh)
      val landing = EventStreams.stagedOnce(s"upsert_landing|$dir") { d =>
        t(s, dir, "events")
          .selectCols(Seq(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"),
            col("event_type"), col("value")))
          .repartition(3)
          .write.mode("overwrite").parquet(d)
      }
      EventStreams.runKeyedUpsert(s, landing, s"$scratch/store",
        s"$scratch/ckpt", keyCol = "user_id", seqCol = "ts_us",
        tieBreak = "event_id", cols = Seq("event_type", "value"),
        nBuckets = 16)
      s.read.parquet(s"$scratch/store")
        .selectCols(Seq(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"), col("value")))
        .sortBy(Seq(col("user_id")))
    }),

    "q170_compaction" -> ((s, dir) => {
      // driver-visible small-files compaction: the events store is written
      // FRAGMENTED (8 files per event_type partition — the steady state a
      // streaming ingest like q155 drifts into), compacted to one file per
      // partition (Engine.compactPartitionedParquet — fully distributed,
      // no driver file juggling), and aggregated from the COMPACTED copy.
      // The hash match proves compaction preserves content exactly;
      // SourcesSpec asserts the file-count collapse itself
      val sf = new java.io.File(dir).getName
      val scratch = s"${scratchRoot}/$sf/compact"
      t(s, dir, "events")
        .selectCols(Seq(col("event_id"), col("user_id"), col("value"),
          col("event_type")))
        .repartition(8)
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$scratch/fragmented")
      Engine.compactPartitionedParquet(s, s"$scratch/fragmented",
        s"$scratch/compacted", Seq("event_type"))
      s.read.parquet(s"$scratch/compacted")
        .aggregate(Seq(col("event_type")), Seq(
          count(lit(1)).as("n_events"),
          sum(col("event_id").cast(DecimalType(18, 0))).cast("long").as("sum_ids"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value")))
        .sortBy(Seq(col("event_type")))
    }),

    "q171_observed_metrics" -> ((s, dir) => {
      // Dataset.observe: pipeline telemetry accumulated DURING the pass
      // (CollectMetrics in the plan) instead of a second scan — how a
      // 100 TB job reports row counts / null rates / value sums without
      // re-reading anything. The observation must not change the result
      // (hash-matched); ObserveSpec asserts the metric values themselves
      val ev = t(s, dir, "events")
        .observe("q171_metrics",
          count(lit(1)).as("n_rows"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("obs_sum"))
      ev.filterCol(col("event_type") === "purchase")
        .aggregate(Seq(col("user_id")), Seq(
          count(lit(1)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("spend")))
        .sortBy(Seq(col("user_id")))
    }),

    "q172_streaming_trending" -> ((s, dir) => {
      // TRUE streaming trending: watermarked tumbling-window counts
      // drained in complete mode, then top-3 event types per hour ranked
      // batch-side. The hash match proves the streaming aggregation path
      // equals the batch tumbling counts exactly (q40's windowed family,
      // now as a streaming driver fact). FileStreamSource needs a
      // directory — q42's staging idiom
      val staged = EventStreams.stagedCopy(s"$dir/events.parquet")
      EventStreams.runWindowedTopK(s, staged, "1 hour", k = 3)
        .selectCols(Seq(
          unix_micros(col("win_start").cast("timestamp")).as("win_us"),
          col("event_type"), col("n"), col("rank")))
        .sortBy(Seq(col("win_us"), col("rank")))
    }),

    "q173_cms_heavy_hitters" -> ((s, dir) =>
      // count-min sketch with an EXACT oracle (portable FNV rows): the
      // width x depth counter matrix is the bounded-state scale path the
      // exact vocab-sized count (q58) cannot offer; CMS never undercounts,
      // and the overestimate column shows exactly which top tokens hit a
      // collided cell at width=512
      Corpus.cmsHeavyHitters(t(s, dir, "documents"), col("text"),
          width = 512, depth = 4, k = 20)
        .withColumnRenamed("tok", "token")
        .sortExprs(Seq(col("exact_n").desc, col("token").asc))),

    "q174_ivfpq_adc" -> ((s, dir) => {
      // IVFADC — the production ANN composition (coarse cells + PQ over
      // RESIDUALS + per-cell asymmetric LUTs) with, unusually, an exact
      // oracle: centroids = first 8 vectors, codebooks = residual
      // subvectors of the first 16 (the q65/q102 deterministic-fixture
      // trick), everything in double so both engines run the identical
      // IEEE sequence. kmeansCentroids + residual-trained codebooks are
      // the production seeding; this query pins the MACHINERY exactly
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v")))
      val (cents, cb) = pqFixture(corpus)
      Similarity.ivfPqAdcTopK(corpus, corpus.filterCol(col("id") < 4),
          cents, cb, m = 8, subDims = 8, nprobe = 2, k = 5)
        .withColumn("adist", round(col("adist"), 6))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q175_tpch_q6" -> ((s, dir) =>
      // TPC-H Q6 shape: pure scan-side revenue probe — every predicate
      // (date window, discount band, quantity cap) pushes to the parquet
      // scan, the aggregate is one decimal-exact partial-combined row.
      // The simplest query worth having: it measures scan + pushdown cost
      // with zero join noise
      t(s, dir, "lineitem")
        .filterCol(col("l_shipdate").cast("date") >=
            lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("l_shipdate").cast("date") <
            lit(java.sql.Date.valueOf("1998-01-01")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .aggregate(Seq.empty, Seq(
          round(sum((col("l_extendedprice") * col("l_discount"))
            .cast(DecimalType(18, 4))).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_lines")))),

    "q176_tpch_q12" -> ((s, dir) =>
      // TPC-H Q12 shape: conditional priority counts per line status over
      // a ship-year window (shipmode isn't in the synthetic schema;
      // linestatus plays its role). One join, one aggregate, the CASE
      // pair fused in a single pass
      t(s, dir, "lineitem")
        .filterCol(col("l_shipdate").cast("date") >=
            lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("l_shipdate").cast("date") <
            lit(java.sql.Date.valueOf("1998-01-01")))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .aggregate(Seq(col("l_linestatus")), Seq(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_count")))
        .sortBy(Seq(col("l_linestatus")))),

    "q177_tpch_q13" -> ((s, dir) => {
      // TPC-H Q13 shape: customer order-count DISTRIBUTION including the
      // zero bucket — the left outer join is the point (an inner join
      // silently drops orderless customers), counting o_orderkey (not *)
      // keeps the null rows at zero
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "5-LOW", "left_outer")
        .aggregate(Seq(col("c_custkey")), Seq(
          count(col("o_orderkey")).as("c_count")))
        .aggregate(Seq(col("c_count")), Seq(count(lit(1)).as("custdist")))
        .sortExprs(Seq(col("custdist").desc, col("c_count").desc))
    }),

    "q178_tpch_q17" -> ((s, dir) => {
      // TPC-H Q17 shape: small-quantity-order revenue — the correlated
      // per-part average becomes a partial-aggregated (sum, count) frame
      // joined back; the comparison stays in DECIMAL x integer arithmetic
      // (qty * n * 5 < sum), so no division touches the predicate
      val l = t(s, dir, "lineitem")
      val pq = l.aggregate(Seq(col("l_partkey").as("pk")), Seq(
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"),
        count(lit(1)).as("n")))
      l.join(pq, col("l_partkey") === col("pk"))
        .filterCol(col("l_quantity").cast(DecimalType(18, 2)) * col("n") * 5 <
          col("sq"))
        .aggregate(Seq.empty, Seq(
          round(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double") / 7.0, 4).as("avg_yearly"),
          count(lit(1)).as("n_small")))
    }),

    "q179_tpch_q20" -> ((s, dir) => {
      // TPC-H Q20 shape: suppliers dominating a part's yearly flow —
      // nested aggregates ((part, supplier) then part) with the >50%%
      // condition in integer-decimal arithmetic, semi-ish join resolved
      // as a count per supplier. Both aggregates partial-combine; the
      // second reuses the first's output (no rescan)
      val ps = t(s, dir, "lineitem")
        .filterCol(col("l_shipdate").cast("date") >=
            lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("l_shipdate").cast("date") <
            lit(java.sql.Date.valueOf("1998-01-01")))
        .aggregate(Seq(col("l_partkey"), col("l_suppkey")), Seq(
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq")))
      val pt = ps.aggregate(Seq(col("l_partkey").as("pk")), Seq(
        sum(col("sq")).as("tq")))
      ps.join(pt, col("l_partkey") === col("pk"))
        .filterCol(col("sq") * 2 > col("tq"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .aggregate(Seq(col("s_suppkey"), col("s_name")), Seq(
          count(lit(1)).as("n_dominant_parts")))
        .sortExprs(Seq(col("n_dominant_parts").desc, col("s_suppkey").asc))
        .limitOffset(0, Some(25))
    }),

    "q180_tpch_q8" -> ((s, dir) => {
      // TPC-H Q8 shape: market share — one nation's slice of another
      // nation's import revenue per year. Both the conditional and total
      // sums are decimal-exact out of the same aggregate; the share is
      // ONE double division
      val n = t(s, dir, "nation")
      val cn = n.selectCols(Seq(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation")))
      val sn = n.selectCols(Seq(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation")))
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .filterCol(col("cust_nation") === "NATION_1")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .aggregate(Seq(year(col("o_orderdate").cast("date")).cast("long")
          .as("o_year")), Seq(
          sum(when(col("supp_nation") === "NATION_2", rev)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double")
            .as("nation2_rev"),
          sum(rev).cast("double").as("total_rev")))
        .selectCols(Seq(col("o_year"),
          round(col("nation2_rev") / col("total_rev"), 6).as("mkt_share"),
          round(col("total_rev"), 4).as("total_rev")))
        .sortBy(Seq(col("o_year")))
    }),

    "q181_tpch_q9" -> ((s, dir) =>
      // TPC-H Q9 shape: product-line profit by supplier nation and year —
      // the LIKE filter prunes parts BEFORE the fact join, nation/supplier
      // broadcast, decimal-exact revenue (no ps_supplycost in the
      // synthetic schema; revenue stands in for profit)
      t(s, dir, "lineitem")
        .join(t(s, dir, "part")
            .filterCol(col("p_name").like("%widget%"))
            .selectCols(Seq(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .aggregate(Seq(col("n_name").as("supp_nation"),
          year(col("o_orderdate").cast("date")).cast("long").as("o_year")), Seq(
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double"), 4).as("profit")))
        .sortExprs(Seq(col("supp_nation").asc, col("o_year").desc))),

    "q182_tpch_q2" -> ((s, dir) => {
      // TPC-H Q2 shape: cheapest-supplier-per-part — the correlated MIN
      // becomes a per-(part, supplier) aggregate and a per-part argmin
      // (row_number, ties to the lower suppkey). unit_price is one
      // IEEE division per row, min'd exactly
      val up = t(s, dir, "lineitem")
        .filterCol(col("l_quantity") > 0)
        .aggregate(Seq(col("l_partkey"), col("l_suppkey")), Seq(
          min(col("l_extendedprice") / col("l_quantity")).as("unit_price")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
        .orderBy(col("unit_price").asc, col("l_suppkey").asc)
      up.withColumn("rn", row_number().over(w))
        .filterCol(col("rn") === 1)
        .join(t(s, dir, "part").filterCol(col("p_size") <= 5),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .selectCols(Seq(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("n_name"),
          round(col("unit_price"), 6).as("unit_price")))
        .sortBy(Seq(col("p_partkey")))
        .limitOffset(0, Some(30))
    }),

    "q183_quality_ensemble" -> ((s, dir) =>
      // the ensemble gate: gopher structural rules (q113) + DSIR target
      // affinity (q166) fused into one integer score with an auditable
      // reason bitmask — a dropped doc SAYS why. Threshold at parity +
      // all-rules-pass
      graft.operators.Pipeline.qualityEnsembleGate(
          t(s, dir, "documents"), col("doc_id"),
          TextFns.tokens(col("text")), col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .sortBy(Seq(col("doc_id")))),

    "q184_length_batching" -> ((s, dir) =>
      // inference-serving cost report: batches of 8 similar-length docs
      // (bucket width 16 tokens, descending length within bucket) with
      // integer padding-waste per batch — the number that decides whether
      // a serving fleet re-sorts its queue
      Corpus.lengthBatching(t(s, dir, "documents"), col("doc_id"),
          TextFns.tokenCount(col("text")), batchSize = 8, bucketWidth = 16)
        .sortBy(Seq(col("bucket"), col("batch_idx")))),

    "q185_embedding_pool" -> ((s, dir) =>
      // chunk-embeddings -> document-embedding mean pooling (groups of 4
      // consecutive vec_ids stand in for a doc's chunks) with L2 norm;
      // per-dim means decimal-exact, output exploded to scalar rows so
      // the hash compare sees plain doubles
      Similarity.meanPoolVectors(
          t(s, dir, "embeddings").filterCol(col("vec_id") < 256),
          expr("vec_id DIV 4"), col("embedding"))
        .selectCols(Seq(col("gid"), col("l2_norm"),
          posexplode(col("v_pooled")).as(Seq("dim", "pooled"))))
        .selectCols(Seq(col("gid"), col("dim").cast("long").as("dim"),
          round(col("pooled"), 6).as("pooled"),
          round(col("pooled") / col("l2_norm"), 6).as("normalized")))
        .sortBy(Seq(col("gid"), col("dim")))),

    "q186_exact_k_sample" -> ((s, dir) =>
      // eval-set construction: exactly 5 docs per language, picked by the
      // engine-replayable Knuth hash — reruns, engines, and partition
      // layouts all select the SAME five
      t(s, dir, "documents")
        .exactKSample(col("lang"), col("doc_id"), k = 5)
        .selectCols(Seq(col("doc_id"), col("lang"), col("sample_rank")))
        .sortBy(Seq(col("lang"), col("sample_rank")))),

    "q187_corpus_diff" -> ((s, dir) => {
      // versioned-lake snapshot diff — the one FULL OUTER join in the
      // suite: v2 derives deterministically from v1 (every 11th doc
      // removed, every remaining 7th edited, one added doc per 13th),
      // and every id is classified added/removed/changed/unchanged
      val v1 = t(s, dir, "documents")
      val v2base = v1.filterCol(pmod(col("doc_id"), lit(11)) =!= 0)
        .selectCols(Seq(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" v2-edit"))).otherwise(col("text"))
            .as("text")))
      val v2 = v2base.unionAll(
        v1.filterCol(pmod(col("doc_id"), lit(13)) === 0)
          .selectCols(Seq((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id")).as("text"))))
      Corpus.corpusDiff(v1, v2, col("doc_id"), col("text"))
        .sortBy(Seq(col("id")))
    }),

    "q188_backoff_lm" -> ((s, dir) => {
      // held-out stupid-backoff trigram LM (the full CCNet perplexity
      // filter whose bigram core is q99): train counts on the even-id
      // half of the corpus, score EVERY doc — odd docs genuinely hit
      // the backoff ladder (unseen trigrams -> bigram -> unigram -> OOV)
      val d = t(s, dir, "documents")
      Corpus.stupidBackoffScore(
          d.filterCol(pmod(col("doc_id"), lit(2)) === 0),
          TextFns.tokens(col("text")),
          d, col("doc_id"), TextFns.tokens(col("text")))
        .sortBy(Seq(col("id")))
    }),

    "q189_validation_report" -> ((s, dir) => {
      // Deequ-style batch gate: predicate rules folded into one scan per
      // table, key-uniqueness, and FK checks, unioned into a small report.
      // The rule mix is deliberately half-failing on this data (price cap,
      // short docs, duplicated (orderkey, linenumber) pairs) so both report
      // branches are exercised.
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val d = t(s, dir, "documents"); val c = t(s, dir, "customer")
      Validation.report(
          Validation.checkRules(o, Seq(
            "orders_custkey_complete" -> col("o_custkey").isNull,
            "orders_status_domain" -> !col("o_orderstatus").isin("O", "F", "P"),
            "orders_totalprice_cap_400k" -> (col("o_totalprice") > 400000.0),
            "orders_totalprice_positive" -> (col("o_totalprice") <= 0.0))),
          Validation.checkRules(d, Seq(
            "docs_min_100_chars" -> (col("n_chars") < 100L),
            "docs_nchars_consistent" ->
              (length(col("text")).cast("long") =!= col("n_chars")))),
          Validation.checkUnique(o, "orders_pk_unique", Seq(col("o_orderkey"))),
          Validation.checkUnique(l, "lineitem_line_unique",
            Seq(col("l_orderkey"), col("l_linenumber"))),
          Validation.checkForeignKey(l, "lineitem_orderkey_fk",
            col("l_orderkey"), o, col("o_orderkey")),
          Validation.checkForeignKey(o, "orders_custkey_fk",
            col("o_custkey"), c, col("c_custkey")))
        .sortBy(Seq(col("rule")))
    }),

    "q318_rolling_p95" -> ((s, dir) => {
      // the SLO read: exact lower p95 of event value (micros) over every
      // rolling 24 h window at hourly steps — q302's horizon-bounded
      // fan-out feeding q290's integer percentile rule; a latency monitor
      // with zero approximation and no per-window rescan
      // spread BEFORE the 24x window fan-out: events.parquet is one
      // split, so the explode otherwise runs fused into a single-task
      // scan emitting the full 2M fanned rows (measured: one 2.2 s
      // 1-task stage, sw=2,056,884) — the exchange moved below it
      // carries only the 100k narrow (vmic, h) rows
      val fanned = spread(t(s, dir, "events")
        .selectCols(Seq(
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("vmic"),
          unix_micros(date_trunc("hour", col("ts"))).as("h"))))
        .selectCols(Seq(col("vmic"), col("h"),
          explode(sequence(lit(0), lit(23))).as("k")))
        .selectCols(Seq(col("vmic"),
          (col("h") - col("k") * (3600L * 1000000L)).as("win_start_us")))
      fanned.weightedPercentile(Seq(col("win_start_us")), col("vmic"),
          lit(1L), pPpm = 950000L)
        .selectCols(Seq(col("g0").as("win_start_us"),
          col("total_w").as("n_values"), col("p_value").as("p95_mic"),
          col("cum_w")))
        .sortBy(Seq(col("win_start_us")))
    }),

    "q319_blocking_threshold_sweep" -> ((s, dir) => {
      // q309 swept across ground-truth strictness: the same candidates
      // scored against exact-Jaccard truth at 0.5 / 0.7 / 0.9 — one row
      // per threshold, recall and precision in floor ppm. The blocking
      // config is judged across the whole operating range in one pass.
      val docs = t(s, dir, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          ngram = 3, threshold = 0.5)
        .selectCols(Seq(col("id_a"), col("id_b"), col("jaccard")))
      val cand = Dedup.sortedNeighborhoodPairs(docs, col("doc_id"),
          TextFns.fingerprint(
            array_join(slice(TextFns.tokens(col("text")), 1, 3), " "),
            portable = true), w = 8)
        .selectCols(Seq(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b")))
        .distinct()
        .withColumn("in_cand", lit(1L))
      val joined = truth.join(cand, Seq("id_a", "id_b"), "left")
        .withColumn("in_cand", coalesce(col("in_cand"), lit(0L)))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      joined
        .selectCols(Seq(col("jaccard"), col("in_cand"),
          explode(array(lit(0.5), lit(0.7), lit(0.9))).as("t")))
        .filterCol(col("jaccard") >= col("t"))
        .groupBy(col("t").as("threshold"))
        .agg(count(lit(1)).as("n_truth"),
          sum(col("in_cand")).as("n_tp"))
        .crossJoin(broadcast(nCand))
        .selectExpr("threshold", "n_truth", "n_tp", "n_cand",
          "(n_tp * 1000000L) DIV n_truth AS recall_ppm",
          "(n_tp * 1000000L) DIV n_cand AS precision_ppm")
        .sortBy(Seq(col("threshold")))
    }),

    "q320_token_budget_quota" -> ((s, dir) =>
      // mixture planning that SUMS TO THE BUDGET: a 1M-token budget
      // apportioned across sources proportionally to their token counts
      // by Hamilton largest remainder — floor division alone leaks up to
      // (sources-1) units; the remainder ranking hands them back
      // deterministically
      Corpus.largestRemainderQuota(
          t(s, dir, "documents").selectCols(Seq(col("source"),
            graft.plans.TextExprs.tokenCount(col("text")).cast("long").as("ntok"))),
          col("source"), col("ntok"), budget = 1000000L)
        .sortBy(Seq(col("group")))),

    // Spatial coordinates for q321/q322: deterministic fixed-point projection
    // of the keys onto a 10000x10000 non-negative grid (prime multipliers,
    // BIGINT-safe — no 64-bit overflow at any SF). Supplier is the 9x fan-out
    // side (the smaller frame); customer is the single-cell side.
    "q321_spatial_nearest" -> ((s, dir) => {
      // per-customer supplier catchment: how many suppliers sit within
      // radius 700 of each customer, and which one is nearest (exact
      // integer d^2, ties to the smaller supplier id). Grid equi-join on
      // (cx, cy) — never a cross join; the DuckDB oracle IS the cross join.
      val cust = t(s, dir, "customer").selectCols(Seq(
        col("c_custkey").as("id"),
        (col("c_custkey") * 7919 % 10000).as("x"),
        (col("c_custkey") * 104729 % 10000).as("y")))
      val supp = t(s, dir, "supplier").selectCols(Seq(
        col("s_suppkey").as("id"),
        (col("s_suppkey") * 12553 % 10000).as("x"),
        (col("s_suppkey") * 30011 % 10000).as("y")))
      Spatial.nearestWithinRadius(supp, cust, radius = 700L)
        .sortBy(Seq(col("id")))
    }),

    "q322_spatial_knn" -> ((s, dir) => {
      // bounded-radius kNN: the 3 nearest suppliers within radius 1500 of
      // each customer, ranked. The radius cap is the contract that keeps
      // exact kNN grid-partitionable (no outward ring search per point).
      val cust = t(s, dir, "customer").selectCols(Seq(
        col("c_custkey").as("id"),
        (col("c_custkey") * 7919 % 10000).as("x"),
        (col("c_custkey") * 104729 % 10000).as("y")))
      val supp = t(s, dir, "supplier").selectCols(Seq(
        col("s_suppkey").as("id"),
        (col("s_suppkey") * 12553 % 10000).as("x"),
        (col("s_suppkey") * 30011 % 10000).as("y")))
      Spatial.knnWithinRadius(supp, cust, radius = 1500L, k = 3)
        .sortBy(Seq(col("id"), col("rank")))
    }),

    "q323_jw_name_pairs" -> ((s, dir) => {
      // entity-resolution scoring: distinct part names under brand
      // blocking, scored with the native Jaro-Winkler expression (IEEE
      // op order pinned to DuckDB — raw doubles hash-match). 0.9 keeps
      // the one-word-apart color-name variants.
      Dedup.jaroWinklerPairs(t(s, dir, "part"), col("p_name"), col("p_brand"),
          minSim = 0.9)
        .sortBy(Seq(col("blk"), col("sa"), col("sb")))
    }),

    "q324_jw_reconcile" -> ((s, dir) => {
      // fuzzy catalog reconciliation: each part name with one char
      // deterministically deleted (position p_partkey % len) is matched
      // back against the distinct clean-name catalog under first-char
      // blocking; best candidate per row by (sim DESC, name ASC), plus a
      // hit flag against the true origin — the ER accuracy harness.
      val part = t(s, dir, "part")
      val cat = part.selectCols(Seq(col("p_name").as("cand"))).distinct()
      val k = (col("p_partkey") % length(col("p_name"))).cast("int")
      val dirty = concat(
        col("p_name").substr(lit(1), k),
        col("p_name").substr(k + lit(2), length(col("p_name"))))
      val d = part.selectCols(Seq(col("p_partkey").as("id"),
        col("p_name").as("truth"), dirty.as("dirty")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("sim").desc, col("cand").asc)
      d.join(cat, substring(col("dirty"), 1, 1) === substring(col("cand"), 1, 1))
        .withColumn("sim", TextFns.jaroWinkler(col("dirty"), col("cand")))
        .withColumn("rn", row_number().over(w))
        .filterCol(col("rn") === 1)
        .selectCols(Seq(col("id"), col("dirty"), col("cand").as("best_match"),
          col("sim"), (col("cand") === col("truth")).cast("long").as("hit")))
        .sortBy(Seq(col("id")))
    }),

    "q325_token_bucket" -> ((s, dir) => {
      // rate-limiter tuning harness: replay the event log through a
      // per-user token bucket (3000 mtok cap, 1000/event, 100 mtok/h
      // refill) — exact integer-microsecond arithmetic, emitting the
      // admit/reject trace a limiter rollout is tuned on. The clamp
      // makes the fold non-linear: bounded-group mapGroups, oracle is a
      // recursive CTE.
      EventStreams.tokenBucketAdmission(t(s, dir, "events"), col("user_id"),
          col("ts"), col("event_id"),
          capacity = 3000L, cost = 1000L, refillPerHour = 100L)
        .sortBy(Seq(col("user_id"), col("rn")))
    }),

    "q326_phrase_search" -> ((s, dir) => {
      // quoted-query evaluation over positional postings: each phrase's
      // terms are filtered BEFORE any join (postings cost ∝ term df, not
      // corpus size), then k-1 equi-joins on (doc, aligned start). Two
      // selective trigrams + one frequent bigram, all occurrences.
      val docs = t(s, dir, "documents")
      Seq("slow hash batch", "part filter scan", "row column").map { p =>
        Retrieval.phraseOccurrences(docs, col("doc_id"), col("text"),
            p.split(" ").toSeq)
          .selectCols(Seq(lit(p).as("phrase"), col("doc_id"), col("pos")))
      }.reduce(_ union _)
        .sortBy(Seq(col("phrase"), col("doc_id"), col("pos")))
    }),

    "q327_weighted_jaccard" -> ((s, dir) => {
      // tf-aware near-dup pairs: multiset Jaccard ≥ 0.6 in floor ppm
      // over df-capped tokens (df ≤ 64 — ubiquitous tokens are pruned
      // from BOTH multiset sides, the stopword-pruning semantics that
      // also bounds the inverted-index fan-out), equi-join on shared
      // tokens only (Σ max via the n_a + n_b − Σ min identity).
      Dedup.weightedJaccardPairs(t(s, dir, "documents"), col("doc_id"),
          col("text"), minPpm = 600000L, maxDf = 64)
        .sortBy(Seq(col("id_a"), col("id_b")))
    }),

    "q328_interval_coverage" -> ((s, dir) => {
      // per-supplier in-transit coverage: half-open [ship_day, ship_day
      // + 1 + (orderkey+linenumber)%7) intervals swept into islands —
      // union length, island count, span. O(n log n) sweep per key, no
      // pair materialization.
      val li = t(s, dir, "lineitem")
        .withColumn("sday", unix_date(to_date(col("l_shipdate"))))
      Relational.intervalCoverage(li, col("l_suppkey"), col("sday"),
          col("sday") + lit(1) + (col("l_orderkey") + col("l_linenumber")) % 7)
        .sortBy(Seq(col("key")))
    }),

    "q329_multi_pattern" -> ((s, dir) => {
      // blocklist probe: 4 raw-substring patterns counted in ONE
      // Aho-Corasick pass per document (overlaps included) vs the
      // oracle's 4 per-position scans — the N-patterns-one-scan shape
      // contamination checks need at scale.
      val pats = Seq("scan", "scan slow", "table table", "row c")
      val patArr = array(pats.map(lit): _*)
      t(s, dir, "documents")
        .withColumn("counts", TextFns.multiPatternCounts(col("text"), pats))
        .select(col("doc_id"), posexplode(col("counts")).as(Seq("pi", "n")))
        .filterCol(col("n") > 0)
        .selectCols(Seq(col("doc_id"),
          element_at(patArr, col("pi") + 1).as("pattern"), col("n")))
        .sortBy(Seq(col("doc_id"), col("pattern")))
    }),

    "q330_group_ols" -> ((s, dir) => {
      // per-supplier price-vs-quantity trend line: exact closed-form OLS
      // over five decimal sums (one partial-agg groupBy), slope/
      // intercept/r² in truncation ppm. The per-segment regression scan.
      val li = t(s, dir, "lineitem").selectCols(Seq(
        col("l_suppkey").as("k"),
        col("l_quantity").cast("long").as("x"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("y")))
      Relational.groupOls(li, col("k"), col("x"), col("y"))
        .sortBy(Seq(col("key")))
    }),

    "q331_winnow_fingerprints" -> ((s, dir) => {
      // MOSS robust winnowing: rightmost-min FNV hash per window of 4
      // consecutive token 3-grams — the guarantee-carrying plagiarism
      // sketch (any ≥6-token match shares a fingerprint), fully
      // declarative in both engines.
      Dedup.winnowFingerprints(t(s, dir, "documents"), col("doc_id"),
          col("text"), k = 3, w = 4)
        .sortBy(Seq(col("doc_id"), col("pos"), col("h")))
    }),

    "q332_point_in_polygon" -> ((s, dir) => {
      // geofence containment: q321's projected customers against three
      // convex CCW polygons via bbox-cell equi-join + exact integer
      // cross-product test (boundary inclusive). Overlapping fences
      // multi-report, as geofencing must.
      import s.implicits._
      val cust = t(s, dir, "customer").selectCols(Seq(
        col("c_custkey").as("id"),
        (col("c_custkey") * 7919 % 10000).as("x"),
        (col("c_custkey") * 104729 % 10000).as("y")))
      val polys = Seq(
        ("pent", Seq((6500L, 5000L), (5464L, 6427L), (3787L, 5882L),
          (3787L, 4118L), (5464L, 3573L))),
        ("sq", Seq((2000L, 2000L), (7000L, 2000L), (7000L, 7000L),
          (2000L, 7000L))),
        ("tri", Seq((0L, 0L), (9999L, 0L), (0L, 9999L)))
      ).toDF("poly_id", "vraw")
        .withColumn("vs", transform(col("vraw"),
          v => struct(v("_1").as("x"), v("_2").as("y"))))
      Spatial.pointInConvexPolygon(cust, polys, cellSize = 2000L)
        .sortBy(Seq(col("poly_id"), col("id")))
    }),

    "q333_edit_distance_pairs" -> ((s, dir) => {
      // fuzzy key matching: every customer-name pair within one edit,
      // FastSS deletion-neighborhood candidates + exact Levenshtein
      // verify — the oracle IS the quadratic cross join, the operator
      // never builds it. NOT editDistancePairs: these names are uniform-
      // length, the degenerate case where length banding is the cross
      // join in disguise (q137 keeps banding — part names vary).
      Dedup.deletionNeighborhoodPairs(t(s, dir, "customer"), col("c_name"),
          maxDist = 1)
        .sortBy(Seq(col("sa"), col("sb")))
    }),

    "q334_dag_critical_path" -> ((s, dir) => {
      // critical-path depth over a layered co-purchase DAG: parts of
      // size k point at co-purchased parts of size k+1 (acyclic by
      // construction), edge weight = co-purchase order count; dist(v) =
      // heaviest dependency chain ending at v. 25 layers ⇒ rounds=24 is
      // the structural convergence bound at ANY scale factor; the oracle
      // replays it as (node, pathsum) pair enumeration in a recursive
      // CTE (bounded by distinct sums, never path count).
      val ps = t(s, dir, "part")
        .filterCol(col("p_size").between(1, 25))
        .selectCols(Seq(col("p_partkey"), col("p_size")))
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 30)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey"))).distinctAll
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") =!= col("y.l_partkey"))
        .join(broadcast(ps.alias("a")),
          col("a.p_partkey") === col("x.l_partkey"))
        .join(broadcast(ps.alias("b")),
          col("b.p_partkey") === col("y.l_partkey") &&
            col("b.p_size") === col("a.p_size") + 1)
        .aggregate(Seq(col("x.l_partkey").as("src"),
          col("y.l_partkey").as("dst")), Seq(count(lit(1)).as("w")))
      graft.operators.Graph.dagLongestPath(e, rounds = 24)
        .sortBy(Seq(col("id")))
    }),

    "q335_theil_sen" -> ((s, dir) => {
      // q330's trend line, robustified: per-supplier Theil-Sen median
      // slope of price-vs-quantity over one ship-year — the panel slice
      // that bounds the O(g²) pair fan-out. Lower-median ppm keeps both
      // engines on the same integer.
      val li = t(s, dir, "lineitem")
        .filterCol(col("l_shipdate").cast("date") >=
            lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("l_shipdate").cast("date") <
            lit(java.sql.Date.valueOf("1997-01-01")))
        .selectCols(Seq(
          col("l_suppkey").as("k"),
          col("l_quantity").cast("long").as("x"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("y")))
      Relational.theilSenSlope(li, col("k"), col("x"), col("y"))
        .sortBy(Seq(col("key")))
    }),

    "q336_holt_linear" -> ((s, dir) => {
      // trend-aware smoothing baseline: Holt linear over each event
      // type's daily value total (exact micros), α=0.3 β=0.1 in ppm with
      // truncation division — the recurrence replays bit-for-bit in the
      // recursive-CTE oracle.
      graft.streaming.EventStreams.holtLinear(
          t(s, dir, "events"), col("event_type"), col("ts"), col("value"),
          alphaPpm = 300000L, betaPpm = 100000L)
        .sortBy(Seq(col("key"), col("r")))
    }),

    "q337_grid_density_clusters" -> ((s, dir) => {
      // grid density clustering over five planted diagonal blobs plus
      // 1-in-11 uniform noise (all integer arithmetic both engines
      // replay): dense cells (>= 8 pts at cell 250) connect over the
      // 8-neighborhood, labels = min cell key per component, sparse
      // cells are noise and drop out.
      val blob = col("c_custkey") % 5
      val noise = col("c_custkey") % 11 === 0
      val c = t(s, dir, "customer").selectCols(Seq(
        col("c_custkey").as("id"),
        when(noise, (col("c_custkey") * 7919) % 10000)
          .otherwise(lit(1000) + blob * 1700 +
            (col("c_custkey") * 7919) % 1001).as("x"),
        when(noise, (col("c_custkey") * 104729) % 10000)
          .otherwise(lit(1000) + blob * 1700 +
            (col("c_custkey") * 104729) % 1001).as("y")))
      Spatial.gridDensityClusters(c, cellSize = 250L, minPts = 8L)
        .sortBy(Seq(col("cluster"), col("id")))
    }),

    "q338_image_patch_grid" -> ((s, dir) => {
      // ViT-style patch tokenization over a REAL decode: q145's synthetic
      // gray PNGs split into 4x4 patches, exact integer gray sum per
      // patch (edge patches partial, n_px says how). PNG lossless ⇒ every
      // patch sum replays as plain integer math in the oracle.
      val withPng = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(7))).cast("int").as("h"))))
        .withColumn("png", Multimodal.synthGrayPngUdf(col("doc_id"), col("w"), col("h")))
      withPng
        .withColumn("p", explode(Multimodal.patchGridUdf(4, 4)(col("png"))))
        .selectCols(Seq(col("doc_id").as("id"),
          col("p._1").cast("long").as("pr"), col("p._2").cast("long").as("pc"),
          col("p._3").as("n_px"), col("p._4").as("px_sum")))
        .sortByTruncated(Seq(col("id"), col("pr"), col("pc")))
    }),

    "q339_vad_segments" -> ((s, dir) => {
      // voice-activity segmentation over a REAL decode: burst-gated noise
      // WAVs (320-sample talk/silence blocks), 48-sample energy frames —
      // deliberately NOT aligned to the block length, so the threshold
      // genuinely decides the straddling frames — merged into islands of
      // mean|s| >= 4000. PCM lossless ⇒ the oracle replays every sample.
      val wavs = spread(t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"),
          (lit(2080) + pmod(col("doc_id"), lit(5L)).cast("int") * lit(32))
            .cast("int").as("n"))))
        .withColumn("wav", Multimodal.synthBurstPcmWavUdf(col("doc_id"), col("n")))
      Multimodal.vadSegments(wavs, col("doc_id").as("id"), col("wav"),
          window = 48, thrMilli = 4000000L, minFrames = 2)
        .sortBy(Seq(col("id"), col("w_start")))
    }),

    "q340_golden_record" -> ((s, dir) => {
      // MDM survivorship: each customer's order history as a dirty
      // version feed (status nulled on 1-in-3 versions, balance on
      // 1-in-5), merged to one golden record per field independently —
      // latest non-null wins, ordered by (date, orderkey).
      val v = t(s, dir, "orders").selectCols(Seq(
        col("o_custkey").as("k"),
        struct(col("o_orderdate").cast("date").as("d"),
          col("o_orderkey").as("i")).as("ord"),
        when(col("o_orderkey") % 3 === 0, lit(null))
          .otherwise(col("o_orderstatus")).as("status"),
        when(col("o_orderkey") % 5 === 0, lit(null))
          .otherwise((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long")).as("bal_c")))
      Relational.goldenRecord(v, col("k"), col("ord"), Seq("status", "bal_c"))
        .sortBy(Seq(col("key")))
    }),

    "q341_fence_occupancy" -> ((s, dir) => {
      // geofence occupancy report: q332's three fences with exact
      // shoelace metrics (2·area, 6A·centroid — integers, no division)
      // and the contained-point count per fence; density as points per
      // million area units, floor ppm of (2M·n)/area2.
      import s.implicits._
      val cust = t(s, dir, "customer").selectCols(Seq(
        col("c_custkey").as("id"),
        (col("c_custkey") * 7919 % 10000).as("x"),
        (col("c_custkey") * 104729 % 10000).as("y")))
      val polys = Seq(
        ("pent", Seq((6500L, 5000L), (5464L, 6427L), (3787L, 5882L),
          (3787L, 4118L), (5464L, 3573L))),
        ("sq", Seq((2000L, 2000L), (7000L, 2000L), (7000L, 7000L),
          (2000L, 7000L))),
        ("tri", Seq((0L, 0L), (9999L, 0L), (0L, 9999L)))
      ).toDF("poly_id", "vraw")
        .withColumn("vs", transform(col("vraw"),
          v => struct(v("_1").as("x"), v("_2").as("y"))))
      val inside = Spatial.pointInConvexPolygon(cust, polys, cellSize = 2000L)
        .aggregate(Seq(col("poly_id")), Seq(count(lit(1)).as("n_inside")))
      Spatial.polygonMetrics(polys)
        .join(inside, Seq("poly_id"), "left")
        .withColumn("n_inside", coalesce(col("n_inside"), lit(0L)))
        .withColumn("density_ppm", expr("(n_inside * 2000000L) DIV area2"))
        .sortBy(Seq(col("poly_id")))
    }),

    "q342_greedy_max_coverage" -> ((s, dir) => {
      // submodular curation: the 3 documents that greedily maximize
      // distinct word-3-gram coverage (q34's exact shingles, as strings —
      // coverage must not depend on hash collisions). The oracle unrolls
      // the same 3 greedy rounds.
      Corpus.greedyMaxCoverage(t(s, dir, "documents"), col("doc_id"),
          col("text"), k = 3)
        .sortBy(Seq(col("rank")))
    }),

    "q343_weighted_sssp" -> ((s, dir) => {
      // bounded-hop weighted routing: cheapest ≤4-hop path from the seed
      // parts (id % 97 = 0) over the undirected co-purchase graph, edge
      // cost 1 + count % 3 (coarse integer costs keep the oracle's
      // (node, dist, hops) enumeration bounded). Unreached-within-bound
      // nodes absent by the bfsDistances contract.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey"))).distinctAll
      val e0 = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .aggregate(Seq(col("x.l_partkey").as("a"),
          col("y.l_partkey").as("b")), Seq(count(lit(1)).as("n")))
        .withColumn("w", lit(1L) + col("n") % 3)
      val und = e0.selectCols(Seq(col("a").as("src"), col("b").as("dst"), col("w")))
        .union(e0.selectCols(Seq(col("b").as("src"), col("a").as("dst"), col("w"))))
      val seeds = und.selectCols(Seq(col("src").as("id"))).distinctAll
        .filterCol(col("id") % 97 === 0)
      graft.operators.Graph.shortestPaths(und, seeds, rounds = 4)
        .sortBy(Seq(col("id")))
    }),

    "q344_review_pair_matching" -> ((s, dir) => {
      // one-partner-each allocation: local-max greedy matching over the
      // co-purchase graph (strongest-association pairs first, no part
      // reused) — 3 deterministic rounds, oracle unrolls the same three.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey"))).distinctAll
      val e0 = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .aggregate(Seq(col("x.l_partkey").as("a"),
          col("y.l_partkey").as("b")), Seq(count(lit(1)).as("w")))
      graft.operators.Graph.localMaxMatching(e0, rounds = 3)
        .sortBy(Seq(col("round"), col("a"), col("b")))
    }),

    "q345_stratified_ate" -> ((s, dir) => {
      // experimentation analytics: treatment (custkey % 7 = 0) vs control
      // compared WITHIN exact account-balance deciles (q214's rank rule),
      // outcome = lifetime order spend in cents (0 for orderless). Per
      // stratum: arm sizes, exact outcome sums, and the mean difference
      // as one sign-split micro-cent integer (DECIMAL(38,0) cross
      // products — no float means); NULL when an arm is empty.
      val cust = t(s, dir, "customer").selectCols(Seq(
        col("c_custkey").as("id"),
        (col("c_acctbal").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("bal_c")))
      val spend = t(s, dir, "orders")
        .aggregate(Seq(col("o_custkey").as("id")), Seq(
          sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long")).as("out_c")))
      val bins = Relational.quantileBins(cust, col("id"), col("bal_c"), 10)
        .selectCols(Seq(col("id"), col("bin")))
      cust.join(spend, Seq("id"), "left")
        .withColumn("out_c", coalesce(col("out_c"), lit(0L)))
        .join(bins, Seq("id"))
        .withColumn("treat", (col("id") % 7 === 0).cast("long"))
        .aggregate(Seq(col("bin")), Seq(
          sum(col("treat")).as("n_t"),
          sum(lit(1L) - col("treat")).as("n_c"),
          sum(col("out_c") * col("treat")).as("sum_t"),
          sum(col("out_c") * (lit(1L) - col("treat"))).as("sum_c")))
        .withColumn("num", expr(
          "CAST(sum_t AS DECIMAL(38,0)) * n_c - CAST(sum_c AS DECIMAL(38,0)) * n_t"))
        .withColumn("diff_micro", expr(
          """CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
             WHEN num >= 0 THEN CAST((num * 1000000)
               DIV (CAST(n_t AS DECIMAL(38,0)) * n_c) AS BIGINT)
             ELSE CAST(-((-num * 1000000)
               DIV (CAST(n_t AS DECIMAL(38,0)) * n_c)) AS BIGINT) END"""))
        .selectCols(Seq(col("bin"), col("n_t"), col("n_c"), col("sum_t"),
          col("sum_c"), col("diff_micro")))
        .sortBy(Seq(col("bin")))
    }),

    "q346_rolling_ols" -> ((s, dir) => {
      // 7-day rolling trend per event type: exact OLS slope of daily
      // value micros over the trailing week at every day — q330's
      // decimal-exact regression as a RANGE-window monitor.
      val daily = t(s, dir, "events")
        .aggregate(Seq(col("event_type").as("k"),
          (unix_micros(date_trunc("day", col("ts"))) / 86400000000L)
            .cast("long").as("d")), Seq(
          sum((col("value").cast(DecimalType(18, 6)) * 1000000)
            .cast("long")).as("y")))
      Relational.rollingOls(daily, col("k"), col("d"), col("y"),
          windowRange = 6L)
        .sortBy(Seq(col("key"), col("x")))
    }),

    "q347_bitemporal_asof" -> ((s, dir) => {
      // bitemporal query: "what did we BELIEVE on 1997-07-01 about each
      // customer's latest state as of their own probe date" — orders as
      // a version feed (valid = order date, txn = valid + 0..4 late
      // days), corrections resolved by per-(key, valid) max-txn
      // struct-max ≤ the cutoff, then the one-shuffle as-of join on
      // valid time against per-customer probe dates.
      val day = 86400000000L
      val cutUs = unix_micros(lit("1997-07-01 00:00:00").cast("timestamp"))
      val baseUs = unix_micros(lit("1997-01-01 00:00:00").cast("timestamp"))
      val vers = t(s, dir, "orders").selectCols(Seq(
          col("o_custkey").as("k"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("valid_us"),
          (unix_micros(col("o_orderdate").cast("timestamp")) +
            (col("o_orderkey") % 5) * day).as("txn_us"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("val_c")))
        .filterCol(col("txn_us") <= cutUs)
        .aggregate(Seq(col("k"), col("valid_us")), Seq(
          max(struct(col("txn_us"), col("val_c"))).as("m")))
        .selectCols(Seq(col("k"), col("valid_us"),
          col("m.txn_us").as("txn_us"), col("m.val_c").as("val_c")))
      val probe = t(s, dir, "customer").selectCols(Seq(
        col("c_custkey").as("k"),
        (baseUs + (col("c_custkey") % 365) * day).as("probe_us")))
      probe.asofJoin(vers, Seq("k"), Seq("k"), "probe_us", "valid_us")
        .selectCols(Seq(col("l.k").as("custkey"),
          (col("l.probe_us") / day).cast("long").as("probe_day"),
          (col("r.valid_us") / day).cast("long").as("valid_day"),
          (col("r.txn_us") / day).cast("long").as("txn_day"),
          col("r.val_c").as("val_c")))
        .sortBy(Seq(col("custkey")))
    }),

    "q348_temporal_pairs" -> ((s, dir) => {
      // what follows what within the hour, per user: gap-bounded ordered
      // type pairs via the bucketed interval-join discipline (probe own
      // + next hour bucket, candidate Δt filter), share of each source
      // type's outgoing pairs in floor ppm. The oracle is the per-user
      // theta
      // join the operator exists to avoid.
      graft.streaming.EventStreams.temporalPairs(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), gapUs = 3600000000L)
        .sortBy(Seq(col("type_a"), col("type_b")))
    }),

    "q349_bipartite_check" -> ((s, dir) => {
      // two-colorability audit: the customer-part purchase graph is
      // bipartite by construction; part-part co-purchase edges (qty=50)
      // inject odd cycles. Components (min-label), BFS parity from each
      // component's min node (15-hop horizon — both engines cap
      // identically), conflict = edge whose endpoints share parity.
      // one lineitem scan feeds both thresholds (qty>=49 superset, >=50
      // flag) — the >=50 frame is a filter over the same projection, so
      // the scan + its pushed filter run once
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 49)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey"),
          (col("l_quantity") >= 50).as("is50")))
      val withCust = hi.join(t(s, dir, "orders")
          .selectCols(Seq(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .selectCols(Seq((col("o_custkey") + 1000000L).as("id_a"),
          col("l_partkey").as("id_b"))).distinctAll
      val hi49 = hi.filterCol(col("is50"))
        .selectCols(Seq(col("l_orderkey"), col("l_partkey"))).distinctAll
      val pp = hi49.alias("x").join(hi49.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .selectCols(Seq(col("x.l_partkey").as("id_a"),
          col("y.l_partkey").as("id_b"))).distinctAll
      // materialize the edge list once: components, the BFS (via its own
      // nbrs frame), and the conflict-audit joins below all consume it —
      // without the checkpoint the scan+join+distinct pipeline re-executes
      // three times (measured ~2x of this query's wall time)
      val tq0 = System.nanoTime()
      val edges = graft.operators.Iterative.truncate(
        withCust.union(pp).distinctAll, None)
      val tq1 = System.nanoTime()
      // comps feeds three consumers (seeds, the conflict join, node stats)
      // and its tail is a compose join over checkpointed label frames —
      // one more truncate stops that join re-executing per consumer
      val comps = graft.operators.Iterative.truncate(
        Dedup.nearDupComponents(edges), None)
      val tq2 = System.nanoTime()
      val seeds = comps.selectCols(Seq(col("component_id").as("id"))).distinctAll
      val dist = graft.operators.Graph.bfsDistances(edges, seeds, rounds = 15)
      val tq3 = System.nanoTime()
      System.err.println(f"[q349] edges=${(tq1-tq0)/1e9}%.2fs comps=${(tq2-tq1)/1e9}%.2fs bfs=${(tq3-tq2)/1e9}%.2fs")
      val e2 = edges
        .join(dist.selectCols(Seq(col("id").as("id_a"), col("dist").as("da"))), Seq("id_a"))
        .join(dist.selectCols(Seq(col("id").as("id_b"), col("dist").as("db"))), Seq("id_b"))
        .join(comps.selectCols(Seq(col("id").as("id_a"), col("component_id").as("comp"))), Seq("id_a"))
      val edgeStats = e2.aggregate(Seq(col("comp")), Seq(
        count(lit(1)).as("n_edges"),
        sum(((col("da") + col("db")) % 2 === 0).cast("long")).as("n_conflicts")))
      val nodeStats = comps.aggregate(Seq(col("component_id").as("comp")), Seq(
        count(lit(1)).as("n_nodes")))
      nodeStats.join(edgeStats, Seq("comp"), "left")
        .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
        .withColumn("n_conflicts", coalesce(col("n_conflicts"), lit(0L)))
        .withColumn("bipartite", col("n_conflicts") === 0)
        .sortBy(Seq(col("comp")))
    }),

    "q350_decayed_heavy_hitters" -> ((s, dir) => {
      // recency-weighted heavy hitters: per event type, the top-5 users
      // by half-life-decayed activity — day weight = 1e6 >> age_days
      // (exact integer halving, zero past 20 days), so yesterday's spam
      // outweighs last month's. One partial-agg groupBy + per-type rank.
      val daily = t(s, dir, "events")
        .aggregate(Seq(col("event_type").as("typ"), col("user_id").as("u"),
          (unix_micros(date_trunc("day", col("ts"))) / 86400000000L)
            .cast("long").as("d")), Seq(count(lit(1)).as("n")))
      val mx = daily.aggregate(Seq.empty, Seq(max(col("d")).as("dmax")))
      val scored = daily.crossJoin(broadcast(mx))
        .withColumn("w", expr(
          "n * (CAST(1000000 AS BIGINT) DIV shiftleft(CAST(1 AS BIGINT), CAST(dmax - d AS INT)))"))
        .aggregate(Seq(col("typ"), col("u")), Seq(
          sum(col("w")).as("decayed_micro"), sum(col("n")).as("n_raw")))
      scored.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("typ"))
            .orderBy(col("decayed_micro").desc, col("u").asc)).cast("long"))
        .filterCol(col("rank") <= 5)
        .selectCols(Seq(col("typ"), col("rank"), col("u"),
          col("decayed_micro"), col("n_raw")))
        .sortBy(Seq(col("typ"), col("rank")))
    }),

    "q351_timeline_resolve" -> ((s, dir) => {
      // override-layer timelines: each sampled supplier's Q1-1996
      // transit intervals as claims (priority = linenumber, value =
      // orderkey), resolved so the highest-priority covering claim wins
      // every instant, merged into maximal segments. The quarter slice
      // is the bounded-group contract.
      val ivl = t(s, dir, "lineitem")
        .filterCol(col("l_suppkey") % 10 === 0 &&
          col("l_shipdate").cast("date") >=
            lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("l_shipdate").cast("date") <
            lit(java.sql.Date.valueOf("1996-04-01")))
        .withColumn("sday", unix_date(to_date(col("l_shipdate"))).cast("long"))
        .selectCols(Seq(col("l_suppkey").as("k"),
          col("sday").as("s"),
          (col("sday") + lit(1) + (col("l_orderkey") + col("l_linenumber")) % 7)
            .cast("long").as("e"),
          col("l_linenumber").cast("long").as("p"),
          col("l_orderkey").as("v")))
      Relational.timelineResolve(ivl, col("k"), col("s"), col("e"),
          col("p"), col("v"))
        .sortBy(Seq(col("key"), col("seg_start")))
    }),

    "q352_pseudonymize_audit" -> ((s, dir) => {
      // privacy rewrite with referential integrity: customer and order
      // keys replaced by the SAME keyed hash (FNV-1a + one xorshift64
      // round — the q315 mixer), then orders re-joined to customers ON
      // THE PSEUDONYM. Per nation: customers, distinct pseudonyms
      // (injectivity witness), and orders surviving the pseudonym join
      // (must equal the raw-key join — the integrity claim the oracle
      // hash pins cross-engine).
      def mix64(c: Column): Column = {
        val z1 = c.bitwiseXOR(shiftleft(c, 13))
        val z2 = z1.bitwiseXOR(shiftrightunsigned(z1, 7))
        z2.bitwiseXOR(shiftleft(z2, 17))
      }
      def pid(c: Column): Column =
        mix64(graft.plans.TextExprs.fnv64(concat(lit("p:"), c.cast("string"))))
      val custP = t(s, dir, "customer").selectCols(Seq(
        col("c_nationkey").cast("long").as("nation"),
        pid(col("c_custkey")).as("h")))
      val ordP = t(s, dir, "orders").selectCols(Seq(
        pid(col("o_custkey")).as("h")))
      val perNation = custP.aggregate(Seq(col("nation")), Seq(
        count(lit(1)).as("n_cust"),
        countDistinct(col("h")).as("n_pids")))
      val joined = ordP.join(custP, Seq("h"))
        .aggregate(Seq(col("nation")), Seq(count(lit(1)).as("n_orders")))
      perNation.join(joined, Seq("nation"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .sortBy(Seq(col("nation")))
    }),

    "q353_gram_matrix" -> ((s, dir) => {
      // PCA-prep statistic: exact upper-triangle Gram matrix of the
      // corpus embeddings, quantized floor(x·1000) — join-free per-row
      // outer products into one partial-agg groupBy; the shuffle carries
      // ≤ d(d+1)/2 cells per partition however many rows there are.
      Similarity.gramMatrix(t(s, dir, "embeddings"), col("vec_id"),
          col("embedding"), scale = 1000L)
        .sortBy(Seq(col("i"), col("j")))
    }),

    "q354_trigram_search" -> ((s, dir) => {
      // pg_trgm-style exact substring search: inverted trigram index →
      // all-trigrams candidate count → contains verify on candidates
      // only; the oracle is the full-scan LIKE the index exists to avoid.
      Retrieval.trigramSubstringSearch(t(s, dir, "documents"),
          col("doc_id"), col("text"),
          Seq("fast sort", "table table", "scan query big", "merge batch"))
        .sortBy(Seq(col("pattern"), col("id")))
    }),

    "q355_bandit_replay" -> ((s, dir) => {
      // offline policy evaluation: ε-greedy (explore every 5th round,
      // cross-multiplied exact argmax otherwise) replayed over the
      // logged event stream per user cohort — pulls bank the logged
      // reward only when policy and log agree (the replay method).
      // Recursive-CTE oracle carries the full 10-register state.
      graft.streaming.EventStreams.epsilonGreedyReplay(
          t(s, dir, "events"), col("user_id") % 8, col("ts"),
          col("event_id"), col("event_type"), col("value"),
          arms = Seq("click", "error", "purchase", "signup", "view"))
        .sortBy(Seq(col("cohort"), col("arm_idx")))
    }),

    "q356_shapley_attribution" -> ((s, dir) => {
      // data valuation: exact Shapley payout of "distinct users covered"
      // to each event type (coverage game, k=5 players, x120 so every
      // value is an exact BIGINT). One data-sized shuffle (per-user
      // bit_or mask); the 32-coalition lattice is broadcast algebra.
      graft.streaming.EventStreams.shapleyCoverage(
          t(s, dir, "events"), col("user_id"), col("event_type"),
          players = Seq("click", "error", "purchase", "signup", "view"))
        .sortBy(Seq(col("player_idx")))
    }),

    "q357_kendall_concordance" -> ((s, dir) => {
      // rank-correlation audit per nation: does a customer's order count
      // move with its total spend — exact concordant/discordant/tie pair
      // counts via the O(n log n) Fenwick fold (the oracle runs the
      // O(n^2) pair join this operator exists to avoid) + tau-a ppm.
      val cust = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .aggregate(Seq(col("c_nationkey").as("nk"), col("o_custkey").as("ck")),
          Seq(count(lit(1)).as("x"),
            sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
              .cast("long")).as("y")))
      graft.operators.Validation.kendallConcordance(
          cust, col("nk"), col("x"), col("y"))
        .sortBy(Seq(col("grp")))
    }),

    "q358_lpm_enrichment" -> ((s, dir) => {
      // log enrichment by CIDR ownership: nations own deterministic /8,
      // /16 (nested in another nation's /8) and /24 blocks; each event
      // derives an IPv4 and is tagged by longest-prefix match — zero
      // shuffles, one broadcast join per prefix length. Report matched
      // traffic per (owner, prefix length) with distinct users.
      val n = t(s, dir, "nation").selectCols(Seq(
        col("n_nationkey").cast("long").as("k"), col("n_name").as("owner")))
      val pfx = n.select(expr("shiftleft(k * 5 % 64 + 16, 24)").as("net"),
          lit(8).as("len"), col("owner"))
        .union(n.select(
          expr("shiftleft((k + 3) % 25 * 5 % 64 + 16, 24) + shiftleft(k * 41 % 256, 16)").as("net"),
          lit(16).as("len"), col("owner")))
        .union(n.select(
          expr("""shiftleft((k + 7) % 25 * 5 % 64 + 16, 24)
                  + shiftleft((k * 41 + 64) % 256, 16)
                  + shiftleft(k * 13 % 256, 8)""").as("net"),
          lit(24).as("len"), col("owner")))
      val ev = t(s, dir, "events")
        .selectCols(Seq(col("event_id").cast("long").as("eid"), col("user_id")))
        .withColumn("ip", expr(
          """CASE WHEN eid % 97 = 0 THEN
               shiftleft((eid % 25 + 7) % 25 * 5 % 64 + 16, 24)
               + shiftleft((eid % 25 * 41 + 64) % 256, 16)
               + shiftleft(eid % 25 * 13 % 256, 8) + eid % 256
             WHEN eid % 13 = 0 THEN
               shiftleft((eid % 25 + 3) % 25 * 5 % 64 + 16, 24)
               + shiftleft(eid % 25 * 41 % 256, 16) + eid * 7 % 65536
             WHEN eid % 7 = 0 THEN
               shiftleft(200 + eid % 40, 24) + eid * 3 % 16777216
             ELSE shiftleft(eid % 25 * 5 % 64 + 16, 24)
               + shiftleft(eid * 11 % 256, 16)
               + shiftleft(eid * 13 % 256, 8) + eid * 17 % 256 END"""))
      graft.operators.Relational.lpmEnrich(ev, col("ip"), pfx)
        .aggregate(
          Seq(coalesce(col("lpm_owner"), lit("(unmatched)")).as("owner"),
            coalesce(col("lpm_len"), lit(-1)).cast("long").as("plen")),
          Seq(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users")))
        .sortBy(Seq(col("owner"), col("plen")))
    }),

    "q359_lis_persistence" -> ((s, dir) => {
      // trend persistence per user: longest strictly-increasing and
      // strictly-decreasing subsequences of the event-value stream via
      // patience sorting — the oracle replays the same pile-top state as
      // a recursive CTE carrying two BIGINT lists.
      graft.streaming.EventStreams.lisLengths(
          t(s, dir, "events"), col("user_id"), col("ts"),
          col("event_id"), col("value"))
        .sortBy(Seq(col("u")))
    }),

    "q360_ols_two_regressors" -> ((s, dir) => {
      // multivariate step q330 can't take: price vs quantity AFTER
      // controlling for discount, per (returnflag, linestatus) — exact
      // 3x3 normal equations via Cramer in DECIMAL(38,0); one 9-sum
      // map-side-combined groupBy carries the whole fit.
      val li = t(s, dir, "lineitem").selectCols(Seq(
        concat(col("l_returnflag"), lit("|"), col("l_linestatus")).as("k"),
        col("l_quantity").cast("long").as("q"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,6)) * 10000 AS BIGINT)")
          .as("disc_bp"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("price_c")))
      graft.operators.Relational.olsTwo(
          li, col("k"), col("q"), col("disc_bp"), col("price_c"))
        .sortBy(Seq(col("key")))
    }),

    "q361_rank_biased_overlap" -> ((s, dir) => {
      // judgment-free ranking agreement per nation: do "top-10 customers
      // by revenue" and "by order count" agree — RBO(p=0.9, depth 10) as
      // exact pinned-weight integers; each common doc contributes one
      // cumulative weight at max(rank_a, rank_b).
      import org.apache.spark.sql.expressions.Window
      val per = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .aggregate(
          Seq(col("c_nationkey").as("qid"), col("o_custkey").as("doc_id")),
          Seq(sum(expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
            .as("rev"), count(lit(1)).as("cnt")))
      val byRev = Window.partitionBy(col("qid"))
        .orderBy(col("rev").desc, col("doc_id"))
      val byCnt = Window.partitionBy(col("qid"))
        .orderBy(col("cnt").desc, col("doc_id"))
      val a = per.withColumn("rank", row_number().over(byRev))
        .filterCol(col("rank") <= 10).selectCols(Seq(col("qid"),
          col("doc_id"), col("rank")))
      val b = per.withColumn("rank", row_number().over(byCnt))
        .filterCol(col("rank") <= 10).selectCols(Seq(col("qid"),
          col("doc_id"), col("rank")))
      graft.operators.Retrieval.rankBiasedOverlap10(a, b)
        .sortBy(Seq(col("qid")))
    }),

    "q362_ndcg" -> ((s, dir) => {
      // graded ranking quality per user: rank events by value, grade by
      // conversion strength (purchase 3, signup 2, click 1) — NDCG@10
      // with pinned integer log2 discounts; IDCG from the same grade
      // multiset sorted descending, no second shuffle.
      import org.apache.spark.sql.expressions.Window
      val byVal = Window.partitionBy(col("qid")).orderBy(
        col("value_micro").desc, col("event_id"))
      val ranked = t(s, dir, "events").selectCols(Seq(
          col("user_id").as("qid"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
            .as("value_micro"),
          expr("""CASE event_type WHEN 'purchase' THEN 3
                  WHEN 'signup' THEN 2 WHEN 'click' THEN 1
                  ELSE 0 END""").as("grade")))
        .withColumn("rank", row_number().over(byVal))
        .filterCol(col("rank") <= 10)
      graft.operators.Retrieval.ndcg10(ranked)
        .sortBy(Seq(col("qid")))
    }),

    "q363_dtw_profile_drift" -> ((s, dir) => {
      // phase-tolerant behavior drift per user: 12-bucket (2-hour)
      // activity profile on even vs odd days, compared by BOTH L1 and
      // DTW — a shifted-but-same-shape profile shows high L1, low DTW.
      // One groupBy builds both dense profiles; DTW is a row-local map.
      val prof = t(s, dir, "events")
        .selectCols(Seq(col("user_id").as("u"),
          expr("CAST(hour(ts) AS INT) DIV 2").as("bkt"),
          expr("day(ts) % 2").as("half")))
        .groupBy(col("u"))
        .agg(
          array((0 until 12).map(i => sum(when(col("bkt") === i &&
            col("half") === 0, 1L).otherwise(0L))): _*).as("a"),
          array((0 until 12).map(i => sum(when(col("bkt") === i &&
            col("half") === 1, 1L).otherwise(0L))): _*).as("b"))
      graft.streaming.EventStreams.dtwDistance(
          prof, col("u"), col("a"), col("b"))
        .sortBy(Seq(col("u")))
    }),

    "q364_allen_census" -> ((s, dir) => {
      // temporal-topology census: each user's per-type activity span
      // [first, last event], every ordered type pair classified into
      // Allen's 13 interval relations — one bounded per-user self-join
      // (≤10 pairs/user), endpoint-only comparisons.
      val iv = t(s, dir, "events").aggregate(
        Seq(col("user_id").as("u"), col("event_type").as("ty")),
        Seq(min(unix_micros(col("ts"))).as("st"),
          max(unix_micros(col("ts"))).as("en")))
      iv.alias("x").join(iv.alias("y"),
          col("x.u") === col("y.u") && col("x.ty") < col("y.ty"))
        .selectCols(Seq(col("x.u").as("u"),
          graft.operators.Relational.allenRelation(col("x.st"), col("x.en"),
            col("y.st"), col("y.en")).as("rel")))
        .aggregate(Seq(col("rel")), Seq(count(lit(1)).as("n_pairs"),
          countDistinct(col("u")).as("n_users")))
        .sortBy(Seq(col("rel")))
    }),

    "q365_huffman_budget" -> ((s, dir) => {
      // compression leverage of the corpus: exact Huffman bit budget for
      // the top-32 tokens (sum-of-merged-weights identity, no tree, no
      // logs) vs the 5-bit fixed-width budget. Real work = one (term,
      // count) groupBy + TakeOrdered; the greedy is a bounded 32-row fold.
      graft.operators.Corpus.huffmanBudget(
        t(s, dir, "documents"), graft.functions.TextFns.tokens(col("text")),
        k = 32)
    }),

    "q366_isotonic_calibration" -> ((s, dir) => {
      // monotone calibration of P(status=F) vs order-size bin: PAVA with
      // cross-multiplied exact pooling; the oracle computes the minimax
      // closed form max_{j<=i} min_{k>=i} avg(j..k) — an independent
      // characterization of the same optimum (floor commutes with
      // min/max, so ppm floors agree exactly).
      graft.operators.Validation.isotonicCalibration(
          t(s, dir, "orders"),
          least(lit(19L), expr("CAST(FLOOR(o_totalprice / 30000) AS BIGINT)")),
          col("o_orderstatus") === "F")
        .sortBy(Seq(col("bin")))
    }),

    "q367_skyline3d" -> ((s, dir) => {
      // part value frontier in three dimensions: cheapest list price,
      // most units sold, broadest order reach — no part on the frontier
      // is beaten on all three. Streaming BNL local pass + broadcast
      // anti-dominance join over candidates; oracle is NOT EXISTS.
      val per = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .aggregate(Seq(col("p_partkey").as("pk"),
          expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("price_c")),
          Seq(sum(col("l_quantity").cast("long")).as("qty"),
            countDistinct(col("l_orderkey")).as("ords")))
      graft.operators.Relational.skyline3D(per, col("pk"),
          col("price_c"), -col("qty"), -col("ords"))
        .sortBy(Seq(col("id")))
    }),

    "q368_activity_selection" -> ((s, dir) => {
      // scheduling capacity per user: events become sessions
      // [ts, ts + value seconds]; the earliest-finish greedy (optimal)
      // counts how many could run back-to-back without overlap —
      // q328's union sweep measures covered TIME, this counts JOBS.
      val iv = t(s, dir, "events").selectCols(Seq(
        col("user_id").as("u"), col("event_id").as("i"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
          .as("en")))
      graft.streaming.EventStreams.activitySelection(
          iv, col("u"), col("st"), col("en"), col("i"))
        .sortBy(Seq(col("u")))
    }),

    "q369_cuped" -> ((s, dir) => {
      // variance-reduced A/B readout: arm = user parity, Y = spend
      // (cents) on days 16+, X = pre-period spend on days 1-15; CUPED
      // adjusts each arm's mean by theta = Cov(X,Y)/Var(X), all exact
      // rationals with one sign-split ppm floor at the end.
      val per = t(s, dir, "events").aggregate(
        Seq(col("user_id").as("u")),
        Seq(sum(when(expr("day(ts) <= 15"),
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)"))
          .otherwise(0L)).as("x"),
          sum(when(expr("day(ts) > 15"),
            expr("CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)"))
          .otherwise(0L)).as("y")))
      graft.operators.Validation.cupedAdjustment(
          per, col("u") % 2, col("x"), col("y"))
        .sortBy(Seq(col("arm")))
    }),

    "q403_dataset_card" -> ((s, dir) =>
      // one-call dataset-card export (round-10 surface growth): column
      // profile + n_chars histogram + top-10 token heavy hitters composed
      // into ONE long-format driver fact (section, key, metric,
      // value_str) — the card a lake publishes next to a dataset version.
      // Three partial-agg passes over one scan; every cell is a count, an
      // exact distinct, a bucket id, or a raw min/max string, so the
      // whole card replays in DuckDB.
      Validation.datasetCard(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"),
          col("n_chars").cast("double"), histLo = 0.0, histHi = 2000.0,
          histBuckets = 8, tokens = TextFns.tokens(col("text")), topK = 10)
        .sortBy(Seq(col("section"), col("key"), col("metric")))),

    "q404_arrow_roundtrip" -> ((s, dir) => {
      // Arrow IPC interchange round trip (the reference's SRecordBatch
      // surface, main.rs:103-105, distributed): every partition encodes
      // to Arrow record batches and decodes back; hash-matching the plain
      // projection proves the interchange is lossless for ids,
      // categoricals, numerics AND free text (Arrow UTF-8 is exact, so
      // text rides along — unlike the XML roundtrip where readers trim).
      val docs = t(s, dir, "documents")
        .selectCols(Seq(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text")))
      Engine.fromArrowBatches(s, Engine.toArrowBatches(docs), docs.schema)
        .sortBy(Seq(col("doc_id")))
    }),

    "q405_ivf_index_persist" -> ((s, dir) => {
      // Build-once/serve-many ANN (r11): the IVF index — centroids plus
      // the corpus cell assignments PARTITIONED BY cell — persists to
      // parquet and top-k is served from the stored layout: no centroid
      // training, no corpus re-assignment, and with nprobe < nlist only
      // the probed cell directories are read (partition pruning applied
      // to vector search). Same fixture quantizer and probe config as
      // q38, so the served answer must hash-match q38's independent
      // DuckDB replay verbatim — the layout changes the plan, never the
      // answer (the q150 pattern). The write is inside the timed query:
      // amortizing it across queries is exactly the trade being measured.
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"), col("embedding").as("v")))
      val queries = corpus.filterCol(col("id") < 10)
      val cents = corpus.filterCol(col("id") < 16)
        .selectCols(Seq(col("id").cast("int").as("cell"), col("v").as("cv")))
      val sf = new java.io.File(dir).getName
      val idx = s"${scratchRoot}/$sf/ivf_index"
      Similarity.writeIvfIndex(corpus, idx, nlist = 16, centroids = Some(cents))
      Similarity.ivfTopKIndexed(s, idx, queries, nprobe = 4, k = 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumn("rank", col("rank").cast("long"))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q406_ivfpq_index_persist" -> ((s, dir) => {
      // q174's IVFADC served from a PERSISTED quantizer pair (coarse
      // centroids + PQ residual codebooks reloaded from parquet): codebook
      // training is the once-per-corpus cost, serving pays only LUT build
      // + probed-cell ADC scan. The SAME pqFixture builder as q174, so
      // "identical quantizer, hash-match q174's oracle verbatim" is true
      // by construction, not by keeping two copied blocks in lockstep.
      val e = t(s, dir, "embeddings")
      val corpus = e.selectCols(Seq(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v")))
      val (cents, cb) = pqFixture(corpus)
      val sf = new java.io.File(dir).getName
      val idx = s"${scratchRoot}/$sf/pq_index"
      Similarity.writePqIndex(cents, cb, idx)
      val (centsR, cbR) = Similarity.readPqIndex(s, idx)
      Similarity.ivfPqAdcTopK(corpus, corpus.filterCol(col("id") < 4),
          centsR, cbR, m = 8, subDims = 8, nprobe = 2, k = 5)
        .withColumn("adist", round(col("adist"), 6))
        .sortBy(Seq(col("query_id"), col("rank")))
    }),

    "q408_leak_safe_split" -> ((s, dir) => {
      // Leakage-safe train/validation split (r11): a per-doc random
      // holdout strands near-dup twins on opposite sides of the boundary
      // — val contamination by construction; splitting by the near-dup
      // COMPONENT id keeps every clique on one side, provably (leak_group
      // must be 0). One row: corpus size, ≥0.8-Jaccard pair volume, val
      // sizes and cross-split pair counts under both keys. Exact pair
      // generation + recursive-CTE components + the HUGEINT FNV fold all
      // replay in DuckDB, so the oracle verifies the leak numbers, not
      // just the split arithmetic. At 100 TB swap the exact pair oracle
      // for minhashLshPairs — groupHoldout itself is one stateless
      // projection either way.
      val docs = t(s, dir, "documents").selectCols(Seq(col("doc_id"), col("text")))
      // pairs feed components (consumed eagerly inside) AND the leak
      // join; sp feeds one aggregate and both sides of that join — both
      // persist so the quadratic pair generation and the split projection
      // run once (tiny frames; the bench's clearCache drops them between
      // passes, the repo's minhashLshPairs convention)
      val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          threshold = 0.8)
        .selectCols(Seq(col("id_a"), col("id_b")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comp = Dedup.nearDupComponents(pairs)
      val fam = docs.join(comp, docs("doc_id") === comp("id"), "left")
        .selectCols(Seq(col("doc_id"),
          coalesce(col("component_id"), col("doc_id")).as("family")))
      val naive = Corpus.groupHoldout(fam, col("doc_id"), col("doc_id"), 128)
        .selectCols(Seq(col("id"), col("split").as("s_naive")))
      val grp = Corpus.groupHoldout(fam, col("doc_id"), col("family"), 128)
        .selectCols(Seq(col("id").as("gid"), col("split").as("s_group")))
      val sp = naive.join(grp, col("id") === col("gid"))
        .selectCols(Seq(col("id"), col("s_naive"), col("s_group")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val agg = sp.aggregate(Seq.empty, Seq(
        count(lit(1)).as("n_docs"),
        sum(when(col("s_naive") === "val", 1L).otherwise(0L)).as("n_val_naive"),
        sum(when(col("s_group") === "val", 1L).otherwise(0L)).as("n_val_group")))
      val a = sp.selectCols(Seq(col("id").as("id_a"),
        col("s_naive").as("na"), col("s_group").as("ga")))
      val b = sp.selectCols(Seq(col("id").as("id_b"),
        col("s_naive").as("nb"), col("s_group").as("gb")))
      val leak = pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .aggregate(Seq.empty, Seq(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)), lit(0L))
            .as("leak_naive"),
          coalesce(sum(when(col("ga") =!= col("gb"), 1L).otherwise(0L)), lit(0L))
            .as("leak_group")))
      agg.crossJoin(leak)
        .selectCols(Seq(col("n_docs"), col("n_pairs"), col("n_val_naive"),
          col("n_val_group"), col("leak_naive"), col("leak_group")))
    }),

    "q409_quality_filter_eval" -> ((s, dir) =>
      // the learned filter's HONEST number (r11): deterministic hash
      // holdout (the groupHoldout FNV low-bit rule, 128/1024 held out),
      // depth-2 tree trained on the train partition ONLY, confusion
      // matrix on the held-out partition — training, feature selection,
      // every leaf's majority vote, and the val-side scoring all replay
      // in DuckDB via the generated eval oracle. q246/q407 report
      // training-set fit; this is the generalization metric a learned
      // quality filter must clear before replacing the q28 heuristics
      Validation.decisionTree2Eval(t(s, dir, "documents"),
        Seq("len" -> col("n_chars"),
          "ntok" -> size(TextFns.tokens(col("text"))).cast("long")),
        col("lang") === "en",
        isTrain = pmod(graft.plans.TextExprs.fnv64(
          col("doc_id").cast("string")), lit(1024L)) >= 128)),

    "q407_decision_tree2" -> ((s, dir) =>
      // the learned-quality-filter baseline (r11): exact depth-2 decision
      // tree over (n_chars, token count) predicting lang='en' — feature
      // SELECTION at every node (decile-edge candidates, integer Gini,
      // (wg, feature, threshold) tie order), root winner splits, branches
      // train their own stumps. The whole training run — which feature
      // each node picked included — replays in DuckDB via the generated
      // 3-node oracle (treeOracle); q246's one-split stump is the
      // baseline this must beat on reduction_ppm to justify depth
      Validation.decisionTree2(t(s, dir, "documents"),
          Seq("len" -> col("n_chars"),
            "ntok" -> size(TextFns.tokens(col("text"))).cast("long")),
          col("lang") === "en")
        .sortBy(Seq(col("node")))),

    "q402_mst_distributed" -> ((s, dir) => {
      // q370's forest through the DISTRIBUTED Borůvka rounds
      // (maxLocalEdges=0 — the 100 TB code path; q370 itself takes the
      // driver Kruskal at sf scales): per-component lightest edge,
      // functional-graph merge, geometric edge shrink — against the SAME
      // Kruskal-replaying oracle. Three independent algorithms (driver
      // Kruskal, distributed Borůvka, recursive-CTE Kruskal) now pin one
      // verified edge set, and the cluster-scale tier is driver-verified
      // per round rather than spec-only.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey"))).distinctAll
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .aggregate(Seq(col("x.l_partkey").as("a"),
          col("y.l_partkey").as("b")), Seq(count(lit(1)).as("n")))
        .selectCols(Seq(col("a"), col("b"),
          (lit(1L) + col("n") % 7).as("w")))
      graft.operators.Graph.boruvkaMst(e, maxLocalEdges = 0L)
        .sortBy(Seq(col("w"), col("a"), col("b")))
    }),

    "q370_boruvka_mst" -> ((s, dir) => {
      // minimum spanning forest of the weighted co-purchase graph by
      // Borůvka (per-component lightest edge, components halve per
      // round); (w, a, b) tuple order makes the forest unique, so the
      // Kruskal-replaying oracle must select the IDENTICAL edge set —
      // two different algorithms, one verified answer.
      val hi = t(s, dir, "lineitem").filterCol(col("l_quantity") >= 45)
        .selectCols(Seq(col("l_orderkey"), col("l_partkey"))).distinctAll
      val e = hi.alias("x").join(hi.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .aggregate(Seq(col("x.l_partkey").as("a"),
          col("y.l_partkey").as("b")), Seq(count(lit(1)).as("n")))
        .selectCols(Seq(col("a"), col("b"),
          (lit(1L) + col("n") % 7).as("w")))
      graft.operators.Graph.boruvkaMst(e)
        .sortBy(Seq(col("w"), col("a"), col("b")))
    })
  )
}
