package graft

import graft.SparkEntry.{hilbertOracle, kcenterOracle, mmrOracle, bpeCtes, bpeOracle, bpeVocabOracle}

/** [[SparkEntry.oracleSql]] base part: 141 entries, q38_ann_ivf .. q386_corr_matrix. Mechanical
  * split of the single oracle map (round 12) — entry order, SQL text, and
  * keys are unchanged; SparkEntry composes the parts and asserts key
  * disjointness.
  */
private[graft] object SparkEntryOraclesA {
  def m: Map[String, String] = Map(
    // Full IVF replay (r10, replacing the r9 pin): fixture coarse quantizer
    // (first-16 vectors as cells) -> corpus cell assignment (argmax cosine,
    // tie to lower cell), query probe selection (top-4 cells), probe join,
    // exact cosine, top-5 — every stage re-derived by DuckDB from the raw
    // parquet, nothing quoted from the implementation.
    "q38_ann_ivf" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         cent AS (SELECT id AS cell, v AS cv FROM e WHERE id < 16),
         ca AS (SELECT id, cell FROM (
             SELECT e.id, cent.cell,
               row_number() OVER (PARTITION BY e.id
                 ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.cell) AS rn
             FROM e CROSS JOIN cent) WHERE rn = 1),
         qp AS (SELECT id AS q_id, cell FROM (
             SELECT e.id, cent.cell,
               row_number() OVER (PARTITION BY e.id
                 ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.cell) AS rn
             FROM e CROSS JOIN cent WHERE e.id < 10) WHERE rn <= 4),
         s AS (SELECT qp.q_id, ca.id AS c_id,
                 list_cosine_similarity(qv.v, cv.v) AS score
               FROM qp JOIN ca USING (cell)
               JOIN e qv ON qv.id = qp.q_id
               JOIN e cv ON cv.id = ca.id
               WHERE ca.id <> qp.q_id),
         r AS (SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rnk
               FROM s)
         SELECT q_id AS query_id, c_id AS neighbor_id,
                round(score, 6) AS cosine, rnk AS rank
         FROM r WHERE rnk <= 5 ORDER BY query_id, rank""",

    // Describe stats derived directly in SQL (r10, replacing the r9 pin):
    // counts as longs, numeric stats printed through DECIMAL(38,6) (the
    // engine-independent fixed-point print describeDf uses), median =
    // quantile_cont == Spark's exact interpolated percentile (q61-pinned
    // equivalence).
    "q25_describe" ->
      """SELECT 'count' AS "describe",
           CAST(COUNT(l_quantity) AS VARCHAR) AS l_quantity,
           CAST(COUNT(l_extendedprice) AS VARCHAR) AS l_extendedprice,
           CAST(COUNT(l_returnflag) AS VARCHAR) AS l_returnflag
         FROM lineitem
         UNION ALL
         SELECT 'null_count',
           CAST(COUNT(*) - COUNT(l_quantity) AS VARCHAR),
           CAST(COUNT(*) - COUNT(l_extendedprice) AS VARCHAR),
           CAST(COUNT(*) - COUNT(l_returnflag) AS VARCHAR)
         FROM lineitem
         UNION ALL
         SELECT 'mean',
           CAST(CAST(AVG(l_quantity) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(CAST(AVG(l_extendedprice) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(NULL AS VARCHAR)
         FROM lineitem
         UNION ALL
         SELECT 'std',
           CAST(CAST(STDDEV_SAMP(l_quantity) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(CAST(STDDEV_SAMP(l_extendedprice) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(NULL AS VARCHAR)
         FROM lineitem
         UNION ALL
         SELECT 'min',
           CAST(CAST(MIN(l_quantity) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(CAST(MIN(l_extendedprice) AS DECIMAL(38,6)) AS VARCHAR),
           MIN(l_returnflag)
         FROM lineitem
         UNION ALL
         SELECT 'max',
           CAST(CAST(MAX(l_quantity) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(CAST(MAX(l_extendedprice) AS DECIMAL(38,6)) AS VARCHAR),
           MAX(l_returnflag)
         FROM lineitem
         UNION ALL
         SELECT 'median',
           CAST(CAST(quantile_cont(l_quantity, 0.5) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(NULL AS VARCHAR)
         FROM lineitem""",

    // The interchange must be exactly the identity — the oracle is the
    // plain projection.
    "q404_arrow_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, text
         FROM documents ORDER BY doc_id""",

    // Full card replay: per-column profile stats (the q25 discipline —
    // counts as strings, raw min/max), the clamped-bucket histogram rule,
    // and the (count desc, term asc) top-k over the shared token
    // tokenization.
    "q403_dataset_card" ->
      """WITH d AS (SELECT doc_id, lang, source, n_chars, text FROM documents)
         SELECT * FROM (
         SELECT 'profile' AS section, 'doc_id' AS key, 'n_rows' AS metric, CAST(COUNT(*) AS VARCHAR) AS value_str FROM d
         UNION ALL SELECT 'profile', 'doc_id', 'n_nulls', CAST(COUNT(*) - COUNT(doc_id) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'doc_id', 'n_distinct', CAST(COUNT(DISTINCT doc_id) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'doc_id', 'min', CAST(MIN(doc_id) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'doc_id', 'max', CAST(MAX(doc_id) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'lang', 'n_rows', CAST(COUNT(*) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'lang', 'n_nulls', CAST(COUNT(*) - COUNT(lang) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'lang', 'n_distinct', CAST(COUNT(DISTINCT lang) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'lang', 'min', MIN(lang) FROM d
         UNION ALL SELECT 'profile', 'lang', 'max', MAX(lang) FROM d
         UNION ALL SELECT 'profile', 'source', 'n_rows', CAST(COUNT(*) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'source', 'n_nulls', CAST(COUNT(*) - COUNT(source) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'source', 'n_distinct', CAST(COUNT(DISTINCT source) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'source', 'min', MIN(source) FROM d
         UNION ALL SELECT 'profile', 'source', 'max', MAX(source) FROM d
         UNION ALL SELECT 'profile', 'n_chars', 'n_rows', CAST(COUNT(*) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'n_chars', 'n_nulls', CAST(COUNT(*) - COUNT(n_chars) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'n_chars', 'n_distinct', CAST(COUNT(DISTINCT n_chars) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'n_chars', 'min', CAST(MIN(n_chars) AS VARCHAR) FROM d
         UNION ALL SELECT 'profile', 'n_chars', 'max', CAST(MAX(n_chars) AS VARCHAR) FROM d
         UNION ALL
         SELECT 'histogram', CAST(b AS VARCHAR), 'count', CAST(COUNT(*) AS VARCHAR)
         FROM (SELECT CAST(LEAST(GREATEST(FLOOR(CAST(n_chars AS DOUBLE) / 250.0), 0), 7) AS BIGINT) AS b FROM d)
         GROUP BY b
         UNION ALL
         SELECT 'top_terms', term, 'count', CAST(n AS VARCHAR) FROM (
           SELECT term, COUNT(*) AS n FROM (
             SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS term FROM d)
           GROUP BY term ORDER BY n DESC, term LIMIT 10)
         ) ORDER BY section, key, metric""",

    // Full sign-LSH replay (r10, replacing the r9 pin): the splitmix64
    // hyperplane generator IS portable SQL after all — wrapping 64-bit
    // arithmetic runs in HUGEINT mod 2^64 (the 64x64-bit multiply split
    // into 32-bit halves so no intermediate exceeds 2^97; logical shifts
    // are floor-divisions on the non-negative representative; the final
    // signed reinterpretation routes through BIGINT because DuckDB's
    // HUGEINT->DOUBLE cast double-rounds). Bit-exact vs the Scala
    // coefficients (4608/4608 measured equal); everything downstream —
    // per-(table, plane) dots in Scala's summation order, sign buckets,
    // band equi-join, exact-cosine verify — is the q174-style replay.
    "q43_emb_lsh" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         grid AS (SELECT t.t, p.p, d.d
           FROM (SELECT unnest(range(6)) AS t) t,
                (SELECT unnest(range(12)) AS p) p,
                (SELECT unnest(range(64)) AS d) d),
         c AS (SELECT t, p, d,
           CAST(11400714819323198485 AS HUGEINT) AS C1,
           CAST(13787848793156543929 AS HUGEINT) AS C2,
           CAST(10723151780598845931 AS HUGEINT) AS C3,
           CAST(18446744073709551616 AS HUGEINT) AS M
           FROM grid),
         z0 AS (SELECT *, (t*C1 + p*C2 + d*C3) % M AS z FROM c),
         x1 AS (SELECT *, xor(z, z // 1073741824) AS x FROM z0),
         z1 AS (SELECT *, ((x % 4294967296) * C2 +
             ((x // 4294967296) * (C2 % 4294967296)) % 4294967296 * 4294967296) % M AS z2
           FROM x1),
         x2 AS (SELECT *, xor(z2, z2 // 134217728) AS y FROM z1),
         z2b AS (SELECT *, ((y % 4294967296) * C3 +
             ((y // 4294967296) * (C3 % 4294967296)) % 4294967296 * 4294967296) % M AS z3
           FROM x2),
         fin AS (SELECT t, p, d, xor(z3, z3 // 2147483648) AS zf FROM z2b),
         co AS (SELECT t, p, d,
           CAST(CAST(CASE WHEN zf >= CAST(9223372036854775808 AS HUGEINT)
                          THEN zf - CAST(18446744073709551616 AS HUGEINT)
                          ELSE zf END AS BIGINT) AS DOUBLE)
             / 9223372036854775807.0 AS coeff
           FROM fin),
         pl AS (SELECT t, p, list(coeff ORDER BY d) AS w FROM co GROUP BY t, p),
         dots AS (SELECT e.id, pl.t, pl.p,
             list_sum(list_transform(range(1, 65), i -> e.v[i] * pl.w[i])) AS dot
           FROM e CROSS JOIN pl),
         bkt AS (SELECT id, t,
             CAST(SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
               AS BIGINT) AS bucket
           FROM dots GROUP BY id, t),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM bkt a JOIN bkt b
                  ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
         outp AS (SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS cos
                  FROM cand c JOIN e ea ON ea.id = c.id_a
                  JOIN e eb ON eb.id = c.id_b)
         SELECT id_a, id_b, round(cos, 6) AS cosine
         FROM outp WHERE cos >= 0.35 ORDER BY id_a, id_b""",

    "q01_select" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS disc_price
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q02_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         CAST(l_shipdate AS DATE) AS ship_date
         FROM lineitem WHERE l_quantity < 5 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",

    "q03_with_column" ->
      """SELECT o_orderkey AS order_id, o_totalprice / 100000.0 AS price_ratio
         FROM orders ORDER BY order_id""",

    "q04_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q05_agg_global" ->
      """SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         COUNT(DISTINCT l_orderkey) AS n_orders
         FROM lineitem""",

    "q06_window" ->
      """SELECT l_orderkey, l_linenumber, w0, w1, w2 FROM (
           SELECT l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS w0,
             rank()       OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC) AS w1,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey) AS DOUBLE) AS w2
           FROM lineitem)
         WHERE w0 <= 2 ORDER BY l_orderkey, w0""",

    "q07_sort_nulls" ->
      """SELECT event_id, CASE WHEN value < 1 THEN NULL ELSE value END AS v
         FROM events ORDER BY v ASC NULLS LAST, event_id LIMIT 100""",

    "q08_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 10 OFFSET 100""",

    "q09_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",

    "q10_distinct_on" ->
      """SELECT * FROM (
           SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
           FROM orders ORDER BY o_custkey, o_orderdate DESC, o_orderkey)
         ORDER BY o_custkey""",

    "q11_join_names" ->
      """SELECT l_orderkey, l_linenumber, p_name, p_retailprice
         FROM lineitem JOIN part ON l_partkey = p_partkey AND p_retailprice > 990.0
         ORDER BY l_orderkey, l_linenumber""",

    "q12_join_left" ->
      """SELECT c_custkey, c_name, o_orderkey
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey NULLS LAST""",

    "q13_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
         ORDER BY o_orderkey""",

    "q14_join_anti" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey""",

    "q15_join_theta" ->
      """SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey AND s_acctbal > 2000.0
         ORDER BY s_suppkey""",

    "q16_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",

    "q17_union_all" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000.0
         UNION ALL
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 450000.0
         ORDER BY o_orderkey, o_totalprice""",

    "q18_union_distinct" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000.0
         UNION
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 450000.0
         ORDER BY o_orderkey, o_totalprice""",

    "q19_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""",

    "q20_except" ->
      """SELECT c_custkey AS ck FROM customer
         EXCEPT SELECT o_custkey AS ck FROM orders
                WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
         ORDER BY ck""",

    // DuckDB has native ASOF JOIN (largest right ts <= left ts, inner) —
    // the oracle for the union+window formulation. Both sides compare at
    // microsecond precision (CAST truncates ns, matching Spark's div 1000).
    "q56_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click')
         SELECT p.event_id AS purchase_id, p.user_id AS user_id,
                c.event_id AS click_id,
                epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
         FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY purchase_id""",

    "q53_histogram" ->
      """WITH b AS (
           SELECT CAST(least(greatest(floor((l_extendedprice - 900.0) / 5205.0), 0.0), 19.0) AS BIGINT) AS bucket
           FROM lineitem)
         SELECT bucket, round(900.0 + bucket * 5205.0, 6) AS bucket_lo, COUNT(*) AS n
         FROM b GROUP BY bucket ORDER BY bucket""",

    "q54_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST(((doc_id * 2654435761) % 4294967296 + 4294967296) % 4294967296 AS DOUBLE)
               < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.25 ELSE 0.1 END) * 4294967296.0
         ORDER BY doc_id""",

    // The salted join must equal the plain join — the oracle is unsalted.
    "q47_salted_join" ->
      """SELECT l_orderkey, l_linenumber, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber""",

    "q21_case" ->
      """SELECT o_orderkey,
         CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open' END AS status_word,
         CASE WHEN o_totalprice > 300000.0 THEN 'big'
              WHEN o_totalprice > 100000.0 THEN 'mid'
              ELSE 'small' END AS size_bucket
         FROM orders ORDER BY o_orderkey""",

    "q22_like" ->
      """SELECT p_partkey, p_name FROM part
         WHERE p_name ILIKE '%RED%' AND p_name NOT LIKE '%bolt%'
         ORDER BY p_partkey""",

    "q23_arith" ->
      """SELECT l_orderkey, l_linenumber,
         l_quantity + l_tax + l_discount AS s3,
         l_extendedprice - l_tax - l_discount AS d3,
         l_quantity * l_extendedprice AS m2,
         l_extendedprice / l_quantity / 2.0 AS v3
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q24_udf" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 + l_tax) * (1 - l_discount) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q27_text_stats" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks,
             len(text) AS n
           FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks)
           END AS mean_tok_len,
           CAST(n AS BIGINT) AS n_chars_calc
         FROM t ORDER BY doc_id""",

    "q28_lang_quality" ->
      """WITH t AS (
           SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks,
             len(text) AS n,
             len(text) - len(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
           FROM documents),
         h AS (
           SELECT doc_id, lang, toks, n, cjk,
             len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','it','was','with','for'], x))) AS h_en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für'], x))) AS h_de,
             len(list_filter(toks, x -> list_contains(['el','la','los','las','que','es','por','con','una','del'], x))) AS h_es,
             len(list_filter(toks, x -> list_contains(['le','les','des','une','est','dans','pour','qui','sur','avec'], x))) AS h_fr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END AS mtl,
             CASE WHEN n = 0 THEN 0.0
                  ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) / n END AS pr
           FROM t)
         SELECT doc_id, lang,
           CASE WHEN cjk * 4 > n THEN 'zh'
                WHEN greatest(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
                WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
                WHEN h_es >= h_fr THEN 'es'
                ELSE 'fr' END AS lang_pred,
           round(((CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) +
                  (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) +
                  (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
         FROM h ORDER BY doc_id""",

    "q44_stopword_ratio" ->
      """WITH t AS (
           SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
           FROM documents)
         SELECT doc_id, lang,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','is','that','it','was','with','for'], x))) AS DOUBLE)
                     / len(toks) END AS sw_ratio
         FROM t ORDER BY doc_id""",

    // Same URL-then-email replacement order, RE2/Java-agnostic patterns;
    // the full redacted text is hash-compared, not just counts.
    "q55_redact" ->
      """WITH r AS (
           SELECT doc_id, text,
             regexp_replace(regexp_replace(text, 'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS clean_text
           FROM documents)
         SELECT doc_id, clean_text,
           CAST(len(text) - len(clean_text) AS BIGINT) AS removed_chars
         FROM r ORDER BY doc_id""",

    // Repetition signals recomputed exactly: same non-blank-line filter,
    // same code-point window count, identical double-division op order.
    "q52_repetition" ->
      """WITH t AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\n'), x -> len(trim(x)) > 0) AS lines
           FROM documents)
         SELECT doc_id,
           CASE WHEN len(lines) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
           END AS dup_line_ratio,
           CASE WHEN greatest(len(text) - 4, 0) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(list_transform(
                       range(1, greatest(len(text) - 4, 0) + 1),
                       i -> text[i:i+4]))) AS DOUBLE) / greatest(len(text) - 4, 0)
           END AS rep_5gram_ratio
         FROM t ORDER BY doc_id""",

    // BPE-ish subword count re-derived from the split-regex semantics:
    // a maximal letter run of length L yields ceil(L/4) pieces (the \G.{4}
    // boundary), any maximal non-letter non-space run yields 1 piece
    // (boundaries exist only at letter<->other transitions).
    "q48_bpeish_tokens" ->
      """SELECT doc_id,
           CAST(coalesce(list_sum(list_transform(
             regexp_extract_all(text, '[\p{L}]+|[^\p{L}\s]+'),
             r -> CASE WHEN regexp_matches(r[1:1], '[\p{L}]')
                  THEN CAST(ceil(len(r)/4.0) AS BIGINT)
                  ELSE CAST(1 AS BIGINT) END)), 0) AS BIGINT) AS n_bpeish
         FROM documents ORDER BY doc_id""",

    // Exact replay of the portable fingerprint: FNV-1a per token over code
    // points (HUGEINT fold mod 2^64), then rotl(acc,5)^h over tokens in
    // order (rotl = acc*32 mod 2^64 + acc >> 59 — disjoint bits, so + = |),
    // finally two's-complement narrowing to BIGINT.
    "q29_fingerprint" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         hs AS (
           SELECT doc_id, list_transform(ts, tok ->
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(string_split(tok, ''), ch -> CAST(unicode(ch) AS HUGEINT))),
               (acc, c) -> (xor(acc, c) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))) AS hlist
           FROM toks),
         fp AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS HUGEINT), hlist),
               (acc, h) -> xor((acc * 32) % CAST('18446744073709551616' AS HUGEINT)
                               + acc // CAST('576460752303423488' AS HUGEINT), h)) AS u
           FROM hs)
         SELECT doc_id,
           CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
                     THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END AS BIGINT) AS fp
         FROM fp ORDER BY doc_id""",

    "q30_char_ngrams" ->
      """SELECT doc_id,
         CAST(len(list_distinct(list_transform(
           range(1, greatest(len(text) - 4, 0) + 1),
           i -> text[i:i+4]))) AS BIGINT) AS n_5grams
         FROM documents ORDER BY doc_id""",

    "q31_dedup_exact" ->
      """SELECT doc_id, source, lang FROM (
           SELECT doc_id, source, lang,
             row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id""",

    "q32_dup_map" ->
      """WITH k AS (SELECT source || '|' || lang AS k, doc_id FROM documents),
         s AS (SELECT k, MIN(doc_id) AS survivor_id FROM k GROUP BY k)
         SELECT survivor_id, doc_id AS dup_id
         FROM k JOIN s USING (k) WHERE doc_id <> survivor_id
         ORDER BY survivor_id, dup_id""",

    // NOTE: q33's hash-match against this EXACT-Jaccard oracle is
    // probabilistic by construction: LSH (k=128, b=32) misses a
    // >=0.8-Jaccard pair with P ~= 5e-9 (plus xxhash64 shingle-collision
    // risk). Deterministic and verified on this testdata; q34 runs the same
    // oracle over the exact inverted-index operator as the ground truth.
    "q33_minhash_lsh" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM t),
         inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(s) AS n FROM sh)
         SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
         ORDER BY id_a, id_b""",

    // Exact replay of the portable simhash: FNV-1a per token (same fold as
    // q29), per-bit +1/-1 votes across tokens WITH multiplicity, sign
    // vector -> 64-bit fingerprint; then brute-force all pairs at hamming
    // <= 3. The Spark side's 4x16-bit pigeonhole candidate generation is
    // exact for hamming <= 3, so the answer sets must match exactly.
    "q35_simhash" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                      x -> len(x) > 0) AS ts
           FROM documents),
         hs AS (
           SELECT doc_id, list_transform(ts, tok ->
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(string_split(tok, ''), ch -> CAST(unicode(ch) AS HUGEINT))),
               (acc, c) -> (xor(acc, c) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))) AS hlist
           FROM toks),
         tok AS (SELECT doc_id, unnest(hlist) AS h FROM hs),
         bits AS (
           SELECT doc_id, r.b,
             SUM(CASE WHEN (h // (CAST(1 AS HUGEINT) << r.b)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
           FROM tok CROSS JOIN range(64) r(b)
           GROUP BY doc_id, r.b),
         fpu AS (
           SELECT doc_id,
             COALESCE(SUM(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b ELSE 0 END), 0) AS u
           FROM bits GROUP BY doc_id),
         fp AS (
           SELECT d.doc_id,
             CAST(CASE WHEN COALESCE(f.u, 0) >= CAST('9223372036854775808' AS HUGEINT)
                       THEN COALESCE(f.u, 0) - CAST('18446744073709551616' AS HUGEINT)
                       ELSE COALESCE(f.u, 0) END AS BIGINT) AS s
           FROM documents d LEFT JOIN fpu f ON d.doc_id = f.doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.s, b.s)) <= 3
         ORDER BY id_a, id_b""",

    "q34_ngram_jaccard" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM t),
         inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(s) AS n FROM sh)
         SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
         ORDER BY id_a, id_b""",

    // Components via recursive CTE: reach(id, r) = ids reachable from id
    // over the (undirected) pair edges; component = min reachable.
    // q193 runs the identical pair graph through the DISTRIBUTED
    // components tier — same fixed point, same oracle as q50
    "q193_components_distributed" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM t),
         inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(s) AS n FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         SELECT id, MIN(r) AS component_id FROM reach GROUP BY id ORDER BY id""",

    "q50_neardup_components" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM t),
         inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(s) AS n FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         SELECT id, MIN(r) AS component_id FROM reach GROUP BY id ORDER BY id""",

    // The full pipeline, stage by stage: q28's scoring -> gate -> exact
    // dedup (min id per identical text) -> q34's pair generation on the
    // survivors -> recursive components -> drop non-representatives.
    "q51_clean_corpus" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks,
             len(text) AS n,
             len(text) - len(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
           FROM documents),
         h AS (
           SELECT doc_id, text, toks, n, cjk,
             len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','it','was','with','for'], x))) AS h_en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für'], x))) AS h_de,
             len(list_filter(toks, x -> list_contains(['el','la','los','las','que','es','por','con','una','del'], x))) AS h_es,
             len(list_filter(toks, x -> list_contains(['le','les','des','une','est','dans','pour','qui','sur','avec'], x))) AS h_fr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END AS mtl,
             CASE WHEN n = 0 THEN 0.0
                  ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) / n END AS pr
           FROM t),
         scored AS (
           SELECT doc_id AS id, text, toks,
             CASE WHEN cjk * 4 > n THEN 'zh'
                  WHEN greatest(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
                  WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
                  WHEN h_es >= h_fr THEN 'es'
                  ELSE 'fr' END AS lang_pred,
             round(((CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) +
                    (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) +
                    (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
           FROM h),
         gated AS (SELECT * FROM scored WHERE quality >= 0.66 AND lang_pred <> 'und'),
         ex AS (SELECT text, MIN(id) AS id FROM gated GROUP BY text),
         ded AS (SELECT g.id, g.toks, g.lang_pred, g.quality
                 FROM gated g JOIN ex ON g.id = ex.id),
         sh AS (
           SELECT id, list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM ded),
         inv AS (SELECT id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
           GROUP BY 1, 2),
         sizes AS (SELECT id, len(s) AS sn FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
           WHERE CAST(c AS DOUBLE) / (sa.sn + sb.sn - c) >= 0.8),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id),
         losers AS (SELECT id FROM comp WHERE id <> c)
         SELECT d.id, d.lang_pred, d.quality
         FROM ded d LEFT JOIN losers l ON d.id = l.id
         WHERE l.id IS NULL ORDER BY d.id""",

    // The LSH composition is exact-Jaccard-verified (P[miss] ~ 5e-9 at
    // k=128/b=32), so it replays q51's exact-pair oracle verbatim.
    "q144_clean_corpus_lsh" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks,
             len(text) AS n,
             len(text) - len(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
           FROM documents),
         h AS (
           SELECT doc_id, text, toks, n, cjk,
             len(list_filter(toks, x -> list_contains(['the','and','of','to','is','that','it','was','with','for'], x))) AS h_en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für'], x))) AS h_de,
             len(list_filter(toks, x -> list_contains(['el','la','los','las','que','es','por','con','una','del'], x))) AS h_es,
             len(list_filter(toks, x -> list_contains(['le','les','des','une','est','dans','pour','qui','sur','avec'], x))) AS h_fr,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END AS mtl,
             CASE WHEN n = 0 THEN 0.0
                  ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) / n END AS pr
           FROM t),
         scored AS (
           SELECT doc_id AS id, text, toks,
             CASE WHEN cjk * 4 > n THEN 'zh'
                  WHEN greatest(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
                  WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
                  WHEN h_es >= h_fr THEN 'es'
                  ELSE 'fr' END AS lang_pred,
             round(((CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) +
                    (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) +
                    (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
           FROM h),
         gated AS (SELECT * FROM scored WHERE quality >= 0.66 AND lang_pred <> 'und'),
         ex AS (SELECT text, MIN(id) AS id FROM gated GROUP BY text),
         ded AS (SELECT g.id, g.toks, g.lang_pred, g.quality
                 FROM gated g JOIN ex ON g.id = ex.id),
         sh AS (
           SELECT id, list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM ded),
         inv AS (SELECT id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
           GROUP BY 1, 2),
         sizes AS (SELECT id, len(s) AS sn FROM sh),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
           WHERE CAST(c AS DOUBLE) / (sa.sn + sb.sn - c) >= 0.8),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id),
         losers AS (SELECT id FROM comp WHERE id <> c)
         SELECT d.id, d.lang_pred, d.quality
         FROM ded d LEFT JOIN losers l ON d.id = l.id
         WHERE l.id IS NULL ORDER BY d.id""",

    // Replays the codec round trip as integer arithmetic: PNG is lossless,
    // so decode(synth(seed,w,h)) reports the formula's pixel sums, and the
    // 8x8 NN resample reads src pixel (x*w//8, y*h//8).
    "q145_image_decode" ->
      """WITH d AS (
           SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
         px AS (
           SELECT doc_id,
             CAST(list_sum(flatten(list_transform(range(0, h), y ->
               list_transform(range(0, w), x ->
                 (doc_id*31 + x*7 + y*13) % 256)))) AS BIGINT) AS pix_sum
           FROM d),
         rx AS (
           SELECT doc_id,
             CAST(list_sum(flatten(list_transform(range(0, 8), y ->
               list_transform(range(0, 8), x ->
                 (doc_id*31 + ((x*w)//8)*7 + ((y*h)//8)*13) % 256)))) AS BIGINT) AS r_pix_sum
           FROM d)
         SELECT d.doc_id AS id,
           CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           px.pix_sum,
           round(CAST(px.pix_sum AS DOUBLE) / (d.w * d.h), 6) AS mean_px,
           rx.r_pix_sum,
           round(CAST(rx.r_pix_sum AS DOUBLE) / 64.0, 6) AS r_mean_px
         FROM d JOIN px USING (doc_id) JOIN rx USING (doc_id)
         ORDER BY id""",

    // PCM WAV is lossless: decode(synth(seed,n)) reports the sample
    // formula's exact sums.
    "q146_audio_decode" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 41 AS n FROM documents),
         s AS (
           SELECT doc_id, n,
             CAST(list_sum(list_transform(range(0, n), i ->
               (doc_id*31 + i*7) % 65536 - 32768)) AS BIGINT) AS sample_sum,
             CAST(list_sum(list_transform(range(0, n), i ->
               abs((doc_id*31 + i*7) % 65536 - 32768))) AS BIGINT) AS abs_sum
           FROM d)
         SELECT doc_id AS id, CAST(n AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
           sample_sum, abs_sum,
           round(CAST(abs_sum AS DOUBLE) / n, 6) AS mean_abs
         FROM s ORDER BY id""",

    // GIF LZW is lossless on the indexed raster: demux+decode of frame f
    // reports the synth formula's pixel sums; sampling keeps even frames.
    "q149_video_frames" ->
      """WITH d AS (
           SELECT doc_id, 6 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
                  3 + doc_id % 4 AS nf
           FROM documents),
         fr AS (
           SELECT doc_id, w, h,
                  unnest(list_filter(range(0, nf), f -> f % 2 = 0)) AS f
           FROM d),
         px AS (
           SELECT doc_id, w, h, f,
             CAST(list_sum(flatten(list_transform(range(0, h), y ->
               list_transform(range(0, w), x ->
                 (doc_id*31 + f*17 + x*7 + y*13) % 256)))) AS BIGINT) AS pix_sum
           FROM fr)
         SELECT doc_id AS id, CAST(f AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           pix_sum,
           round(CAST(pix_sum AS DOUBLE) / (w * h), 6) AS mean_px
         FROM px ORDER BY id, frame_idx""",

    // The bucketed layout changes the plan, not the answer: the oracle is
    // the plain join+agg over the original tables.
    "q150_bucketed_join" ->
      """SELECT o.o_orderkey, o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         GROUP BY 1, 2 ORDER BY o.o_orderkey""",

    // Same: partition pruning is I/O elision, the answer must equal the
    // unpartitioned filter+agg.
    "q151_partition_pruned_scan" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_click,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events WHERE event_type = 'click'
         GROUP BY 1 ORDER BY user_id""",

    // top-k replayed by row_number (score DESC, id ASC — TopKAgg's order);
    // corr replays q78's decimal co-moment formula per group.
    "q152_udaf_sql" ->
      """WITH r AS (
           SELECT l_returnflag, l_orderkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey) AS rnk
           FROM lineitem),
         m AS (
           SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(30,6))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS sy,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS sxy,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS sxx,
             SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS syy
           FROM lineitem GROUP BY l_returnflag),
         d AS (
           SELECT l_returnflag,
             CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
             CAST(syy AS DOUBLE) AS syy
           FROM m),
         c AS (
           SELECT l_returnflag,
             round(CASE WHEN nd * sxx - sx * sx > 0 AND nd * syy - sy * sy > 0
               THEN (nd * sxy - sx * sy)
                 / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
               END, 6) AS corr
           FROM d)
         SELECT r.l_returnflag, CAST(rnk AS BIGINT) AS rank,
           r.l_orderkey AS top_orderkey, r.l_extendedprice AS top_price,
           c.corr
         FROM r JOIN c USING (l_returnflag)
         WHERE rnk <= 3 ORDER BY l_returnflag, rank""",

    // The storage format changes the bytes, not the rows: both round-trip
    // columns must equal the parquet original verbatim.
    "q153_source_roundtrip" ->
      """SELECT doc_id, text AS text_orc, text AS text_json,
           lang AS lang_json
         FROM documents ORDER BY doc_id""",

    // DPP is I/O elision at runtime; the answer equals the plain
    // dim-filtered join.
    "q154_dynamic_partition_pruning" ->
      """WITH dim(event_type, category) AS (VALUES
           ('click', 'engagement'), ('view', 'engagement'),
           ('purchase', 'commerce'), ('signup', 'account'), ('error', 'ops'))
         SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events e JOIN dim d USING (event_type)
         WHERE d.category = 'engagement'
         GROUP BY 1 ORDER BY e.event_type""",

    // The exactly-once streamed layout must carry exactly the source rows.
    "q155_streaming_partitioned_ingest" ->
      """SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY event_type""",

    // Scalar-subquery HAVING: both sides of the comparison come from the
    // same decimal-exact sum, surfaced as identical doubles.
    "q156_tpch_q11" ->
      """WITH val AS (
           SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
           FROM lineitem GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM lineitem)
         SELECT p.p_partkey, p.p_name, v.value
         FROM val v JOIN part p ON v.l_partkey = p.p_partkey CROSS JOIN tot
         WHERE v.value > tot.total * 0.0005
         ORDER BY v.value DESC, p.p_partkey""",

    // EXISTS with a correlated cross-side date predicate (integer date
    // arithmetic — exact in both engines).
    "q157_tpch_q4" ->
      """SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
         FROM orders o
         WHERE EXISTS (
           SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_returnflag = 'R'
             AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
         GROUP BY 1 ORDER BY o.o_orderpriority""",

    // c_acctbal passes through raw (identical stored double both sides).
    "q158_tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
           AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c.c_custkey
         LIMIT 20""",

    // NOT IN is anti-join-safe here: s_suppkey is never null.
    "q159_tpch_q16" ->
      """WITH assoc AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT p.p_brand, p.p_size,
           CAST(COUNT(DISTINCT a.l_suppkey) AS BIGINT) AS supplier_cnt
         FROM part p JOIN assoc a ON p.p_partkey = a.l_partkey
         WHERE p.p_brand <> 'Brand#1'
           AND p.p_size IN (1, 7, 14, 23, 36, 45)
           AND a.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
         GROUP BY 1, 2
         ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""",

    // Argmax by scalar subquery, ties included; the equality compares the
    // same decimal-exact double on both sides.
    "q160_tpch_q15" ->
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
           GROUP BY 1),
         mx AS (SELECT max(total_revenue) AS m FROM rev)
         SELECT s.s_suppkey, s.s_name, round(r.total_revenue, 4) AS total_revenue
         FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey CROSS JOIN mx
         WHERE r.total_revenue = mx.m
         ORDER BY s.s_suppkey""",

    // EXISTS + NOT EXISTS self-correlation on the same order key.
    "q161_tpch_q21" ->
      """SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         FROM supplier s
         JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
         WHERE l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY 1, 2
         ORDER BY numwait DESC, s.s_suppkey
         LIMIT 10""",

    // Bilateral nation-pair volume by ship year.
    "q162_tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS BIGINT) AS l_year,
           round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
             OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
           AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
         GROUP BY 1, 2, 3
         ORDER BY supp_nation, cust_nation, l_year""",

    // Unrolled 8-round BPE: same word-frequency state, same doubled-
    // separator greedy rewrite, same (count desc, left, right) argmax.
    "q165_bpe_merges" -> bpeOracle(8),

    // Training's final symbol state IS inference's output on the same
    // corpus — one oracle covers both directions.
    "q167_bpe_segment" -> bpeVocabOracle(8, 20),

    // Same Knuth-hash ordering as q93's oracle.
    "q186_exact_k_sample" ->
      """WITH h AS (
           SELECT doc_id, lang,
             (doc_id * 2654435761) % 4294967296 AS hv
           FROM documents),
         r AS (
           SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS BIGINT) AS sample_rank
           FROM h)
         SELECT doc_id, lang, sample_rank
         FROM r WHERE sample_rank <= 5
         ORDER BY lang, sample_rank""",

    // Same derived v2; FULL OUTER classification.
    "q187_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2-edit' ELSE text END AS text
           FROM documents WHERE doc_id % 11 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, 'new doc ' || CAST(doc_id AS VARCHAR) AS text
           FROM documents WHERE doc_id % 13 = 0)
         SELECT COALESCE(v1.doc_id, v2.doc_id) AS id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.text = v2.text THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
         ORDER BY id""",

    // Same train/score split, same integer floor divisions (alpha = 2/5
    // exact); the backoff CASE replays branch-for-branch.
    "q188_backoff_lm" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
             x -> len(x) > 0) AS toks
           FROM documents),
         tr AS (SELECT toks FROM tk WHERE doc_id % 2 = 0),
         n AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM tr),
         uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY w),
         bi AS (SELECT toks[i] AS wa, toks[i+1] AS wb,
                  CAST(count(*) AS BIGINT) AS cb
                FROM tr, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
                WHERE len(toks) >= 2 GROUP BY 1, 2),
         tri AS (SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
                   CAST(count(*) AS BIGINT) AS c123
                 FROM tr, LATERAL (SELECT unnest(range(1, len(toks)-1)) AS i) u
                 WHERE len(toks) >= 3 GROUP BY 1, 2, 3),
         dg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
                FROM tk, LATERAL (SELECT unnest(range(1, len(toks)-1)) AS i) u
                WHERE len(toks) >= 3),
         j AS (
           SELECT dg.doc_id,
             CASE WHEN tri.c123 IS NOT NULL THEN (tri.c123 * 1000000) // b12.cb
                  WHEN b23.cb IS NOT NULL THEN (2 * 1000000 * b23.cb) // (5 * u2.cu)
                  WHEN u3.cu IS NOT NULL THEN (4 * 1000000 * u3.cu) // (25 * n.n_tokens)
                  ELSE 0 END AS s,
             CASE WHEN tri.c123 IS NOT NULL THEN 0
                  WHEN b23.cb IS NOT NULL THEN 1
                  WHEN u3.cu IS NOT NULL THEN 2 ELSE 3 END AS lvl
           FROM dg
           LEFT JOIN tri ON tri.w1 = dg.w1 AND tri.w2 = dg.w2 AND tri.w3 = dg.w3
           LEFT JOIN bi b12 ON b12.wa = dg.w1 AND b12.wb = dg.w2
           LEFT JOIN bi b23 ON b23.wa = dg.w2 AND b23.wb = dg.w3
           LEFT JOIN uni u2 ON u2.w = dg.w2
           LEFT JOIN uni u3 ON u3.w = dg.w3
           CROSS JOIN n)
         SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hit,
           CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_hit,
           CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_hit,
           CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(sum(s) AS BIGINT) AS score_sum,
           CAST(sum(s) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_score
         FROM j GROUP BY doc_id ORDER BY id""",

    // The sweep replayed as one global running sum; ties (t, d, id) with
    // the -1 boundary first — the half-open convention both sides share.
    // q195's batch drift shape over the same even/odd split — stream ==
    // batch is the claim, so the oracle is the batch SQL.
    // q302's fan-out feeding q311's percentile replay, keyed per window.
    "q318_rolling_p95" ->
      """WITH ev AS (SELECT
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vmic,
             epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h
           FROM events),
         f AS (SELECT vmic, h - k.k * 3600000000 AS w
           FROM ev, LATERAL (SELECT unnest(range(0, 24)) AS k) k),
         pv AS (SELECT w, vmic, CAST(COUNT(*) AS BIGINT) AS vw
           FROM f GROUP BY 1, 2),
         cum AS (SELECT w, vmic,
             CAST(SUM(vw) OVER (PARTITION BY w ORDER BY vmic) AS BIGINT) AS cum
           FROM pv),
         tt AS (SELECT w, MAX(cum) AS total FROM cum GROUP BY w),
         pick AS (SELECT c.w, c.vmic, c.cum,
             ROW_NUMBER() OVER (PARTITION BY c.w ORDER BY c.vmic) AS rk
           FROM cum c JOIN tt ON c.w = tt.w
           WHERE c.cum * 1000000 >= tt.total * 950000)
         SELECT p.w AS win_start_us, tt.total AS n_values,
           p.vmic AS p95_mic, p.cum AS cum_w
         FROM pick p JOIN tt ON p.w = tt.w WHERE p.rk = 1
         ORDER BY win_start_us""",

    // q309's generators with the Jaccard value carried; thresholds as a
    // VALUES list, counts per threshold.
    "q319_blocking_threshold_sweep" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM t),
         inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(s) AS n FROM sh),
         truthj AS (
           SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
           FROM inter
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
         hsf AS (
           SELECT doc_id, list_transform(toks[1:3], tok ->
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(string_split(tok, ''), ch -> CAST(unicode(ch) AS HUGEINT))),
               (acc, c) -> (xor(acc, c) * 1099511628211)
                 % CAST('18446744073709551616' AS HUGEINT))) AS hlist
           FROM t),
         fp AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS HUGEINT), hlist),
               (acc, h) -> xor((acc * 32) % CAST('18446744073709551616' AS HUGEINT)
                               + acc // CAST('576460752303423488' AS HUGEINT), h)) AS u
           FROM hsf),
         k AS (
           SELECT doc_id,
             CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
                       THEN u - CAST('18446744073709551616' AS HUGEINT) ELSE u END AS BIGINT) AS k
           FROM fp),
         r AS (SELECT doc_id, k, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM k),
         cand AS (
           SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b
           FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 7),
         m AS (SELECT tj.j,
             CASE WHEN cand.id_a IS NULL THEN 0 ELSE 1 END AS in_cand
           FROM truthj tj LEFT JOIN cand
             ON tj.id_a = cand.id_a AND tj.id_b = cand.id_b),
         th AS (SELECT unnest([0.5, 0.7, 0.9]) AS t),
         c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand)
         SELECT th.t AS threshold, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(m.in_cand) AS BIGINT) AS n_tp, c2.n_cand,
           CAST((SUM(m.in_cand) * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm,
           CAST((SUM(m.in_cand) * 1000000) // c2.n_cand AS BIGINT) AS precision_ppm
         FROM m, th, c2 WHERE m.j >= th.t
         GROUP BY th.t, c2.n_cand ORDER BY threshold""",

    // per-source token totals, DECIMAL base/remainder split, leftover
    // units to the largest remainders (ties to the smaller source).
    "q320_token_budget_quota" ->
      """WITH d AS (SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS BIGINT) AS ntok
           FROM documents),
         g AS (SELECT source AS "group", CAST(SUM(ntok) AS BIGINT) AS w
           FROM d GROUP BY source),
         tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM g),
         based AS (SELECT g."group", g.w,
             CAST((CAST(1000000 AS HUGEINT) * g.w) // tot.tw AS BIGINT) AS base,
             CAST((CAST(1000000 AS HUGEINT) * g.w) % tot.tw AS BIGINT) AS rem
           FROM g, tot),
         short AS (SELECT 1000000 - CAST(SUM(base) AS BIGINT) AS leftover FROM based),
         rk AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, "group")
             AS BIGINT) AS rnk FROM based)
         SELECT rk."group", rk.w,
           rk.base + CASE WHEN rk.rnk <= short.leftover THEN 1 ELSE 0 END AS quota,
           rk.base, rk.rem
         FROM rk, short ORDER BY rk."group"""",

    // brute-force cross join + exact integer d^2 — the ground truth the
    // grid equi-join must reproduce pair-for-pair.
    "q321_spatial_nearest" ->
      """WITH c AS (SELECT c_custkey AS id, (c_custkey*7919)%10000 AS x,
             (c_custkey*104729)%10000 AS y FROM customer),
         s AS (SELECT s_suppkey AS id, (s_suppkey*12553)%10000 AS x,
             (s_suppkey*30011)%10000 AS y FROM supplier),
         p AS (SELECT c.id AS b_id, s.id AS a_id,
             (c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) AS d2
           FROM c CROSS JOIN s
           WHERE (c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) <= 700*700),
         r AS (SELECT b_id, a_id, d2,
             ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY d2, a_id) AS rn,
             COUNT(*) OVER (PARTITION BY b_id) AS n_within
           FROM p)
         SELECT b_id AS id, CAST(n_within AS BIGINT) AS n_within,
           a_id AS nearest_id, CAST(d2 AS BIGINT) AS nearest_d2
         FROM r WHERE rn = 1 ORDER BY id""",

    "q322_spatial_knn" ->
      """WITH c AS (SELECT c_custkey AS id, (c_custkey*7919)%10000 AS x,
             (c_custkey*104729)%10000 AS y FROM customer),
         s AS (SELECT s_suppkey AS id, (s_suppkey*12553)%10000 AS x,
             (s_suppkey*30011)%10000 AS y FROM supplier),
         p AS (SELECT c.id AS b_id, s.id AS a_id,
             (c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) AS d2
           FROM c CROSS JOIN s
           WHERE (c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) <= 1500*1500),
         r AS (SELECT b_id, a_id, d2,
             ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY d2, a_id) AS rn
           FROM p)
         SELECT b_id AS id, CAST(rn AS BIGINT) AS rank,
           a_id AS neighbor_id, CAST(d2 AS BIGINT) AS d2
         FROM r WHERE rn <= 3 ORDER BY id, rank""",

    // DuckDB's jaro_winkler_similarity is the bit-compatible reference
    // the native expression is pinned to — raw doubles hash-match.
    "q323_jw_name_pairs" ->
      """WITH v AS (SELECT DISTINCT p_brand AS blk, p_name AS nm FROM part),
         p AS (SELECT a.blk, a.nm AS sa, b.nm AS sb,
             jaro_winkler_similarity(a.nm, b.nm) AS sim
           FROM v a JOIN v b ON a.blk = b.blk AND a.nm < b.nm)
         SELECT blk, sa, sb, sim FROM p WHERE sim >= 0.9
         ORDER BY blk, sa, sb""",

    "q324_jw_reconcile" ->
      """WITH cat AS (SELECT DISTINCT p_name AS cand FROM part),
         d AS (SELECT p_partkey AS id, p_name AS truth,
             substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT)) ||
             substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2,
                    length(p_name)) AS dirty
           FROM part),
         m AS (SELECT d.id, d.truth, d.dirty, c.cand,
             jaro_winkler_similarity(d.dirty, c.cand) AS sim
           FROM d JOIN cat c ON substr(d.dirty, 1, 1) = substr(c.cand, 1, 1)),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
             ORDER BY sim DESC, cand) AS rn FROM m)
         SELECT id, dirty, cand AS best_match, sim,
           CAST(cand = truth AS BIGINT) AS hit
         FROM r WHERE rn = 1 ORDER BY id""",

    // the non-linear fold (min-clamp) as a recursive CTE: one step per
    // per-user event rank; integer-us refill identical to the Scala fold.
    "q325_token_bucket" ->
      """WITH RECURSIVE e AS (
           SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         tb AS (
           SELECT user_id, event_id, tus, rn,
             CAST(3000 AS BIGINT) AS tokens_before,
             CAST(1 AS BIGINT) AS admit,
             CAST(2000 AS BIGINT) AS tokens_after
           FROM e WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.event_id, e.tus, e.rn,
             LEAST(3000, tb.tokens_after + (e.tus - tb.tus) * 100 // 3600000000),
             CAST(CASE WHEN LEAST(3000, tb.tokens_after + (e.tus - tb.tus) * 100 // 3600000000) >= 1000
                  THEN 1 ELSE 0 END AS BIGINT),
             CAST(CASE WHEN LEAST(3000, tb.tokens_after + (e.tus - tb.tus) * 100 // 3600000000) >= 1000
                  THEN LEAST(3000, tb.tokens_after + (e.tus - tb.tus) * 100 // 3600000000) - 1000
                  ELSE LEAST(3000, tb.tokens_after + (e.tus - tb.tus) * 100 // 3600000000) END AS BIGINT)
           FROM tb JOIN e ON e.user_id = tb.user_id AND e.rn = tb.rn + 1)
         SELECT user_id, event_id, rn, tokens_before, admit, tokens_after
         FROM tb ORDER BY user_id, rn""",

    "q326_phrase_search" ->
      """WITH tok0 AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0) AS tk
           FROM documents),
         t AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
               FROM tok0, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) u),
         o1 AS (SELECT 'slow hash batch' AS phrase, t0.doc_id,
               CAST(t0.pos AS BIGINT) AS pos
             FROM t t0
             JOIN t t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
               AND t1.tok = 'hash'
             JOIN t t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
               AND t2.tok = 'batch'
             WHERE t0.tok = 'slow'),
         o2 AS (SELECT 'part filter scan' AS phrase, t0.doc_id,
               CAST(t0.pos AS BIGINT) AS pos
             FROM t t0
             JOIN t t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
               AND t1.tok = 'filter'
             JOIN t t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
               AND t2.tok = 'scan'
             WHERE t0.tok = 'part'),
         o3 AS (SELECT 'row column' AS phrase, t0.doc_id,
               CAST(t0.pos AS BIGINT) AS pos
             FROM t t0
             JOIN t t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
               AND t1.tok = 'column'
             WHERE t0.tok = 'row')
         SELECT * FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2
           UNION ALL SELECT * FROM o3)
         ORDER BY phrase, doc_id, pos""",

    "q327_weighted_jaccard" ->
      """WITH tf AS (
           SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
             SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS tok
             FROM documents) GROUP BY doc_id, tok),
         kept AS (SELECT tf.* FROM tf JOIN (SELECT tok FROM tf
             GROUP BY tok HAVING COUNT(*) <= 64) d USING (tok)),
         tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n
           FROM kept GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS inter
           FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (SELECT id_a, id_b, inter, ta.n + tb.n - inter AS uni
           FROM inter
           JOIN tot ta ON ta.doc_id = id_a
           JOIN tot tb ON tb.doc_id = id_b)
         SELECT id_a, id_b, inter, uni, inter * 1000000 // uni AS wjacc_ppm
         FROM j WHERE inter * 1000000 // uni >= 600000
         ORDER BY id_a, id_b""",

    // the sweep replayed with SQL windows; island totals are tie-order
    // independent (see Relational.intervalCoverage scaladoc). Rows tied on
    // (k, s, e) differ only in ni, and at most one has ni = 1: `isl` puts
    // that row first, or a tied ni = 0 copy would join the previous island.
    "q328_interval_coverage" ->
      """WITH iv AS (SELECT l_suppkey AS k,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               + 1 + (l_orderkey + l_linenumber) % 7 AS e
           FROM lineitem),
         m AS (SELECT k, s, e,
             max(e) OVER (PARTITION BY k ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
           FROM iv WHERE e > s),
         fl AS (SELECT k, s, e,
             CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni
           FROM m),
         isl AS (SELECT k, s, e,
             sum(ni) OVER (PARTITION BY k ORDER BY s, e, ni DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM fl),
         g AS (SELECT k, island, min(s) AS i_s, max(e) AS i_e,
             count(*) AS n
           FROM isl GROUP BY k, island)
         SELECT k AS key, CAST(sum(n) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_e - i_s) AS BIGINT) AS covered,
           CAST(max(i_e) - min(i_s) AS BIGINT) AS span
         FROM g GROUP BY k ORDER BY key""",

    // per-position substring equality = the automaton's overlap-inclusive
    // count, one scan per pattern (the thing the automaton amortizes).
    "q329_multi_pattern" ->
      """WITH pats AS (SELECT * FROM (VALUES ('scan'), ('scan slow'),
             ('table table'), ('row c')) AS p(pattern)),
         occ AS (
           SELECT d.doc_id, p.pattern, CAST(count(*) AS BIGINT) AS n
           FROM documents d, pats p,
             LATERAL (SELECT unnest(range(1,
               len(d.text) - len(p.pattern) + 2)) AS i) u
           WHERE substr(d.text, CAST(i AS INT), len(p.pattern)) = p.pattern
           GROUP BY 1, 2)
         SELECT doc_id, pattern, n FROM occ ORDER BY doc_id, pattern""",

    // the five-sum closed forms in HUGEINT (DuckDB's exact int128 —
    // Spark computes the same values in DECIMAL(38,0)); sign-split //
    // replicates Spark's truncation-toward-zero DIV.
    "q330_group_ols" ->
      """WITH b AS (SELECT l_suppkey AS key, CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           FROM lineitem),
         s AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x*y) AS HUGEINT) AS sxy,
             CAST(sum(x*x) AS HUGEINT) AS sxx,
             CAST(sum(y*y) AS HUGEINT) AS syy
           FROM b GROUP BY key),
         c AS (SELECT key, n,
             n*sxx - sx*sx AS den, n*syy - sy*sy AS den2,
             n*sxy - sx*sy AS num, sy*sxx - sx*sxy AS numi
           FROM s)
         SELECT key, n,
           CASE WHEN den = 0 THEN NULL
                WHEN num >= 0 THEN CAST((num * 1000000) // den AS BIGINT)
                ELSE CAST(-((-num * 1000000) // den) AS BIGINT) END AS slope_ppm,
           CASE WHEN den = 0 THEN NULL
                WHEN numi >= 0 THEN CAST((numi * 1000000) // den AS BIGINT)
                ELSE CAST(-((-numi * 1000000) // den) AS BIGINT) END AS intercept_ppm,
           CASE WHEN den = 0 OR den2 = 0 THEN NULL
                ELSE CAST((num * num * 1000000) // (den * den2) AS BIGINT) END AS r2_ppm
         FROM c ORDER BY key""",

    // positional 3-grams via the lateral-range index, FNV HUGEINT fold
    // (q173's pattern), rightmost-min as min(struct(h, -pos)) over the
    // same 4-gram frame, distinct selections.
    "q331_winnow_fingerprints" ->
      """WITH tok0 AS (SELECT doc_id, list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0) AS tk
           FROM documents),
         g AS (SELECT doc_id, len(tk) - 2 AS m, i AS pos,
             array_to_string(tk[i+1:i+3], ' ') AS gs
           FROM tok0, LATERAL (SELECT unnest(range(0, len(tk) - 2)) AS i) u
           WHERE len(tk) >= 3),
         hh AS (SELECT doc_id, m, pos,
             CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
                  THEN u - CAST('18446744073709551616' AS HUGEINT)
                  ELSE u END AS BIGINT) AS h
           FROM (SELECT doc_id, m, pos,
               list_reduce(
                 list_prepend(CAST('14695981039346656037' AS HUGEINT),
                   list_transform(string_split(gs, ''),
                     ch -> CAST(unicode(ch) AS HUGEINT))),
                 (acc, c) -> (xor(acc, c) * 1099511628211)
                   % CAST('18446744073709551616' AS HUGEINT)) AS u
             FROM g)),
         wm AS (SELECT doc_id, m, pos,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
           FROM hh),
         sel AS (SELECT DISTINCT doc_id,
             CAST(-(wmin.np) AS BIGINT) AS pos, wmin.h AS h
           FROM wm WHERE pos <= m - 4)
         SELECT doc_id, pos, h FROM sel ORDER BY doc_id, pos, h""",

    // the polygons unrolled to edge rows; containment = bool_and of the
    // same integer cross products (the grid only bounds candidates, so
    // the oracle needs no grid).
    "q332_point_in_polygon" ->
      """WITH pts AS (SELECT c_custkey AS id, (c_custkey*7919)%10000 AS x,
             (c_custkey*104729)%10000 AS y FROM customer),
         e AS (SELECT * FROM (VALUES
             ('tri', 0, 0, 9999, 0), ('tri', 9999, 0, 0, 9999),
             ('tri', 0, 9999, 0, 0),
             ('sq', 2000, 2000, 7000, 2000), ('sq', 7000, 2000, 7000, 7000),
             ('sq', 7000, 7000, 2000, 7000), ('sq', 2000, 7000, 2000, 2000),
             ('pent', 6500, 5000, 5464, 6427), ('pent', 5464, 6427, 3787, 5882),
             ('pent', 3787, 5882, 3787, 4118), ('pent', 3787, 4118, 5464, 3573),
             ('pent', 5464, 3573, 6500, 5000))
           AS e(poly_id, x1, y1, x2, y2)),
         m AS (SELECT p.id, p.x, p.y, e.poly_id,
             bool_and((e.x2-e.x1)*(p.y-e.y1) - (e.y2-e.y1)*(p.x-e.x1) >= 0)
               AS inside
           FROM pts p CROSS JOIN e GROUP BY 1, 2, 3, 4)
         SELECT id, x, y, poly_id FROM m WHERE inside
         ORDER BY poly_id, id""",

    // the oracle is the brute-force cross join the operator exists to avoid
    "q333_edit_distance_pairs" ->
      """WITH s AS (SELECT DISTINCT c_name AS nm FROM customer
             WHERE c_name IS NOT NULL AND length(c_name) <= 64)
         SELECT a.nm AS sa, b.nm AS sb,
                CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
         FROM s a JOIN s b ON a.nm < b.nm
         WHERE levenshtein(a.nm, b.nm) <= 1
         ORDER BY sa, sb""",

    // the recursive CTE enumerates distinct (node, pathsum) pairs — the
    // UNION dedup bounds it by distinct sums, never path count — and the
    // final max per node is the converged relaxation.
    "q334_dag_critical_path" ->
      """WITH RECURSIVE
         ps AS (SELECT p_partkey, p_size FROM part WHERE p_size BETWEEN 1 AND 25),
         hi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_quantity >= 30),
         e AS (SELECT x.l_partkey AS src, y.l_partkey AS dst,
                      COUNT(*) AS w
               FROM hi x JOIN hi y ON x.l_orderkey = y.l_orderkey
                 AND x.l_partkey <> y.l_partkey
               JOIN ps a ON a.p_partkey = x.l_partkey
               JOIN ps b ON b.p_partkey = y.l_partkey
                 AND b.p_size = a.p_size + 1
               GROUP BY 1, 2),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         d(id, dist) AS (
           SELECT id, CAST(0 AS BIGINT) FROM nodes
           UNION
           SELECT e.dst, d.dist + e.w FROM d JOIN e ON e.src = d.id)
         SELECT id, MAX(dist) AS dist FROM d GROUP BY id ORDER BY id""",

    // pairwise slopes in sign-split truncation ppm, lower median by rank
    "q335_theil_sen" ->
      """WITH b AS (SELECT l_suppkey AS key, CAST(l_quantity AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'),
         p AS (SELECT u.key,
             CASE WHEN (v.y - u.y) >= 0
                  THEN CAST(((v.y - u.y) * 1000000) // (v.x - u.x) AS BIGINT)
                  ELSE CAST(-((-(v.y - u.y) * 1000000) // (v.x - u.x)) AS BIGINT)
             END AS slope_ppm
           FROM b u JOIN b v ON u.key = v.key AND u.x < v.x),
         r AS (SELECT key, slope_ppm,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY slope_ppm) AS rn,
             COUNT(*) OVER (PARTITION BY key) AS n_pairs
           FROM p)
         SELECT key, n_pairs, slope_ppm AS ts_slope_ppm
         FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY key""",

    // the recurrence replayed row-by-row; the inner derived table computes
    // the new level once so trend can reuse it. Truncation division is the
    // sign-split CASE (all a*y terms are non-negative here, trend is not).
    "q336_holt_linear" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type AS key,
             epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS dus,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
               AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         o AS (SELECT key, y,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY dus) AS r
           FROM daily),
         h(key, r, y, level, trend) AS (
           SELECT key, r, y, y, CAST(0 AS BIGINT) FROM o WHERE r = 1
           UNION ALL
           SELECT key, r, y, lvl,
             CASE WHEN (100000 * (lvl - plevel) + 900000 * ptrend) >= 0
                  THEN (100000 * (lvl - plevel) + 900000 * ptrend) // 1000000
                  ELSE -((-(100000 * (lvl - plevel) + 900000 * ptrend)) // 1000000)
             END
           FROM (
             SELECT o.key, o.r, o.y, h.level AS plevel, h.trend AS ptrend,
               CASE WHEN (300000 * o.y + 700000 * (h.level + h.trend)) >= 0
                    THEN (300000 * o.y + 700000 * (h.level + h.trend)) // 1000000
                    ELSE -((-(300000 * o.y + 700000 * (h.level + h.trend))) // 1000000)
               END AS lvl
             FROM h JOIN o ON o.key = h.key AND o.r = h.r + 1) t)
         SELECT key, r, y, level, trend, level + trend AS forecast
         FROM h ORDER BY key, r""",

    // dense cells, 8-neighbor adjacency as a tiny cell-level theta join,
    // min-label closure via reachable-label enumeration, points mapped back
    "q337_grid_density_clusters" ->
      """WITH RECURSIVE pts AS (
           SELECT c_custkey AS id,
             CASE WHEN c_custkey % 11 = 0 THEN (c_custkey*7919) % 10000
                  ELSE 1000 + (c_custkey % 5)*1700 + (c_custkey*7919) % 1001
             END AS x,
             CASE WHEN c_custkey % 11 = 0 THEN (c_custkey*104729) % 10000
                  ELSE 1000 + (c_custkey % 5)*1700 + (c_custkey*104729) % 1001
             END AS y
           FROM customer),
         pc AS (SELECT id, x, y, x // 250 AS cx, y // 250 AS cy FROM pts),
         dense AS (SELECT cx, cy, cx*32768 + cy AS ckey
                   FROM pc GROUP BY cx, cy HAVING COUNT(*) >= 8),
         e AS (SELECT a.ckey AS src, b.ckey AS dst
               FROM dense a JOIN dense b
                 ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
                 AND a.ckey <> b.ckey),
         l(id, lbl) AS (
           SELECT ckey, ckey FROM dense
           UNION
           SELECT e.dst, l.lbl FROM l JOIN e ON e.src = l.id),
         comp AS (SELECT id AS ckey, MIN(lbl) AS cluster FROM l GROUP BY id)
         SELECT p.id, p.x, p.y, c.cluster
         FROM pc p JOIN comp c ON p.cx*32768 + p.cy = c.ckey
         ORDER BY cluster, id""",

    // the PNG is lossless, so the oracle regenerates the raster from the
    // synth formula and sums patches as integer math
    "q338_image_patch_grid" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
                    FROM documents),
         px AS (SELECT d.doc_id, gx.x, gy.y,
                  (d.doc_id*31 + gx.x*7 + gy.y*13) % 256 AS v
                FROM d JOIN generate_series(0, 16) AS gx(x) ON gx.x < d.w
                       JOIN generate_series(0, 14) AS gy(y) ON gy.y < d.h)
         SELECT doc_id AS id, y // 4 AS pr, x // 4 AS pc,
                CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(v) AS BIGINT) AS px_sum
         FROM px GROUP BY 1, 2, 3 ORDER BY id, pr, pc""",

    // burst-gated noise replayed sample-by-sample, framed at 48, islands
    // via the w - row_number trick, slivers < 2 frames dropped
    "q339_vad_segments" ->
      """WITH docs AS (SELECT doc_id, 2080 + (doc_id % 5)*32 AS n FROM documents),
         s1 AS (SELECT d.doc_id, u.i,
             ((d.doc_id * 1000003 + u.i) * 2654435761) % 4294967296 AS h1,
             ((u.i // 320) + d.doc_id) % 3 AS blk
           FROM docs d JOIN generate_series(0, 2207) AS u(i) ON u.i < d.n),
         smp AS (SELECT doc_id, i // 48 AS w, COUNT(*) AS n,
             SUM(CASE WHEN blk = 0
               THEN ABS((((xor(h1, h1 // 65536)) * 40503) % 4294967296)
                 // 65536 - 32768)
               ELSE 0 END) AS abs_sum
           FROM s1 GROUP BY 1, 2),
         act AS (SELECT doc_id, w, abs_sum,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w) AS rn
           FROM smp WHERE abs_sum * 1000 >= 4000000 * n),
         seg AS (SELECT doc_id, w - rn AS g, MIN(w) AS w_start,
             MAX(w) AS w_end, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(abs_sum) AS BIGINT) AS abs_total
           FROM act GROUP BY 1, 2)
         SELECT doc_id AS id, w_start, w_end, n_frames, abs_total
         FROM seg WHERE n_frames >= 2 ORDER BY id, w_start""",

    // latest non-null per field: ordered filtered list, first element
    "q340_golden_record" ->
      """WITH v AS (SELECT o_custkey AS key, CAST(o_orderdate AS DATE) AS d,
             o_orderkey AS i,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             END AS bal_c
           FROM orders)
         SELECT key, CAST(COUNT(*) AS BIGINT) AS n_versions,
           (list(status ORDER BY d DESC, i DESC)
              FILTER (WHERE status IS NOT NULL))[1] AS status_latest,
           (list(bal_c ORDER BY d DESC, i DESC)
              FILTER (WHERE bal_c IS NOT NULL))[1] AS bal_c_latest
         FROM v GROUP BY key ORDER BY key""",

    // q332's edge rows again: shoelace sums per polygon + containment count
    "q341_fence_occupancy" ->
      """WITH pts AS (SELECT c_custkey AS id, (c_custkey*7919)%10000 AS x,
             (c_custkey*104729)%10000 AS y FROM customer),
         e AS (SELECT * FROM (VALUES
             ('tri', 0, 0, 9999, 0), ('tri', 9999, 0, 0, 9999),
             ('tri', 0, 9999, 0, 0),
             ('sq', 2000, 2000, 7000, 2000), ('sq', 7000, 2000, 7000, 7000),
             ('sq', 7000, 7000, 2000, 7000), ('sq', 2000, 7000, 2000, 2000),
             ('pent', 6500, 5000, 5464, 6427), ('pent', 5464, 6427, 3787, 5882),
             ('pent', 3787, 5882, 3787, 4118), ('pent', 3787, 4118, 5464, 3573),
             ('pent', 5464, 3573, 6500, 5000))
           AS e(poly_id, x1, y1, x2, y2)),
         met AS (SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n_vertices,
             CAST(SUM(CAST(x1 AS BIGINT)*y2 - CAST(x2 AS BIGINT)*y1) AS BIGINT) AS area2,
             CAST(SUM((CAST(x1 AS BIGINT)+x2) *
               (CAST(x1 AS BIGINT)*y2 - CAST(x2 AS BIGINT)*y1)) AS BIGINT) AS cx6,
             CAST(SUM((CAST(y1 AS BIGINT)+y2) *
               (CAST(x1 AS BIGINT)*y2 - CAST(x2 AS BIGINT)*y1)) AS BIGINT) AS cy6
           FROM e GROUP BY poly_id),
         m AS (SELECT p.id, e.poly_id,
             bool_and((e.x2-e.x1)*(p.y-e.y1) - (e.y2-e.y1)*(p.x-e.x1) >= 0)
               AS inside
           FROM pts p CROSS JOIN e GROUP BY 1, 2),
         cnt AS (SELECT poly_id, CAST(COUNT(*) AS BIGINT) AS n_inside
                 FROM m WHERE inside GROUP BY poly_id)
         SELECT met.poly_id, met.n_vertices, met.area2, met.cx6, met.cy6,
           COALESCE(cnt.n_inside, 0) AS n_inside,
           (COALESCE(cnt.n_inside, 0) * 2000000) // met.area2 AS density_ppm
         FROM met LEFT JOIN cnt ON met.poly_id = cnt.poly_id
         ORDER BY met.poly_id""",

    // q34's shingles, three greedy rounds unrolled; ANTI JOIN = the
    // covered-set subtraction, (gain DESC, doc_id) = the tie rule
    "q342_greedy_max_coverage" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS s
           FROM t),
         inv AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh),
         p1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM inv
                GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
         c1 AS (SELECT g FROM inv WHERE doc_id = (SELECT doc_id FROM p1)),
         p2 AS (SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
                FROM inv i ANTI JOIN c1 ON i.g = c1.g
                GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
         c2 AS (SELECT g FROM c1 UNION ALL
                SELECT g FROM inv WHERE doc_id = (SELECT doc_id FROM p2)),
         p3 AS (SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
                FROM inv i ANTI JOIN c2 ON i.g = c2.g
                GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS rank, doc_id, gain,
                gain AS covered_total FROM p1
         UNION ALL
         SELECT 2, doc_id, gain, (SELECT gain FROM p1) + gain FROM p2
         UNION ALL
         SELECT 3, doc_id, gain,
           (SELECT gain FROM p1) + (SELECT gain FROM p2) + gain FROM p3
         ORDER BY rank""",

    // (node, dist, hops) enumeration with the hop cap in the recursion
    // guard; coarse costs (1..3) bound distinct sums. min at the end.
    "q343_weighted_sssp" ->
      """WITH RECURSIVE hi AS (SELECT DISTINCT l_orderkey, l_partkey
             FROM lineitem WHERE l_quantity >= 45),
         e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
                  1 + COUNT(*) % 3 AS w
                FROM hi x JOIN hi y ON x.l_orderkey = y.l_orderkey
                  AND x.l_partkey < y.l_partkey
                GROUP BY 1, 2),
         e AS (SELECT a AS src, b AS dst, w FROM e0
               UNION ALL SELECT b, a, w FROM e0),
         seeds AS (SELECT DISTINCT src AS id FROM e WHERE src % 97 = 0),
         d(id, dist, hops) AS (
           SELECT id, CAST(0 AS BIGINT), 0 FROM seeds
           UNION
           SELECT e.dst, d.dist + e.w, d.hops + 1
           FROM d JOIN e ON e.src = d.id WHERE d.hops < 4)
         SELECT id, MIN(dist) AS dist FROM d GROUP BY id ORDER BY id""",

    // three unrolled local-max rounds: per-node best incident edge by
    // (w DESC, a, b), matched iff both endpoints agree, matched nodes out
    "q344_review_pair_matching" ->
      """WITH hi AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
             WHERE l_quantity >= 45),
         e1 AS MATERIALIZED (SELECT x.l_partkey AS a, y.l_partkey AS b,
                  CAST(COUNT(*) AS BIGINT) AS w
                FROM hi x JOIN hi y ON x.l_orderkey = y.l_orderkey
                  AND x.l_partkey < y.l_partkey GROUP BY 1, 2),
         o1 AS MATERIALIZED (SELECT a AS node, a, b, w FROM e1
                UNION ALL SELECT b, a, b, w FROM e1),
         b1 AS MATERIALIZED (SELECT node, a, b FROM (SELECT node, a, b, ROW_NUMBER()
                  OVER (PARTITION BY node ORDER BY w DESC, a, b) AS rn
                FROM o1) WHERE rn = 1),
         m1 AS MATERIALIZED (SELECT e.a, e.b, e.w FROM e1 e
                JOIN b1 x ON x.node = e.a AND x.a = e.a AND x.b = e.b
                JOIN b1 y ON y.node = e.b AND y.a = e.a AND y.b = e.b),
         t1 AS MATERIALIZED (SELECT a AS n FROM m1 UNION SELECT b FROM m1),
         e2 AS MATERIALIZED (SELECT e.a, e.b, e.w FROM e1 e
                WHERE e.a NOT IN (SELECT n FROM t1)
                  AND e.b NOT IN (SELECT n FROM t1)),
         o2 AS MATERIALIZED (SELECT a AS node, a, b, w FROM e2
                UNION ALL SELECT b, a, b, w FROM e2),
         b2 AS MATERIALIZED (SELECT node, a, b FROM (SELECT node, a, b, ROW_NUMBER()
                  OVER (PARTITION BY node ORDER BY w DESC, a, b) AS rn
                FROM o2) WHERE rn = 1),
         m2 AS MATERIALIZED (SELECT e.a, e.b, e.w FROM e2 e
                JOIN b2 x ON x.node = e.a AND x.a = e.a AND x.b = e.b
                JOIN b2 y ON y.node = e.b AND y.a = e.a AND y.b = e.b),
         t2 AS MATERIALIZED (SELECT a AS n FROM m2 UNION SELECT b FROM m2),
         e3 AS MATERIALIZED (SELECT e.a, e.b, e.w FROM e2 e
                WHERE e.a NOT IN (SELECT n FROM t2)
                  AND e.b NOT IN (SELECT n FROM t2)),
         o3 AS MATERIALIZED (SELECT a AS node, a, b, w FROM e3
                UNION ALL SELECT b, a, b, w FROM e3),
         b3 AS MATERIALIZED (SELECT node, a, b FROM (SELECT node, a, b, ROW_NUMBER()
                  OVER (PARTITION BY node ORDER BY w DESC, a, b) AS rn
                FROM o3) WHERE rn = 1),
         m3 AS MATERIALIZED (SELECT e.a, e.b, e.w FROM e3 e
                JOIN b3 x ON x.node = e.a AND x.a = e.a AND x.b = e.b
                JOIN b3 y ON y.node = e.b AND y.a = e.a AND y.b = e.b)
         SELECT a, b, w, CAST(1 AS BIGINT) AS round FROM m1
         UNION ALL SELECT a, b, w, 2 FROM m2
         UNION ALL SELECT a, b, w, 3 FROM m3
         ORDER BY round, a, b""",

    // q214's exact rank-decile rule, then per-stratum arm sums and the
    // HUGEINT cross-product mean difference in sign-split micro-cents
    "q345_stratified_ate" ->
      """WITH cust AS (SELECT c_custkey AS id,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
           FROM customer),
         spend AS (SELECT o_custkey AS id,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS out_c
           FROM orders GROUP BY 1),
         r AS (SELECT id, ROW_NUMBER() OVER (ORDER BY bal_c, id) AS rank,
             COUNT(*) OVER () AS n FROM cust),
         base AS (SELECT c.id, ((r.rank - 1) * 10) // r.n AS bin,
             COALESCE(s.out_c, 0) AS out_c,
             CASE WHEN c.id % 7 = 0 THEN 1 ELSE 0 END AS treat
           FROM cust c JOIN r ON r.id = c.id
           LEFT JOIN spend s ON s.id = c.id),
         agg AS (SELECT bin, CAST(SUM(treat) AS BIGINT) AS n_t,
             CAST(SUM(1 - treat) AS BIGINT) AS n_c,
             CAST(SUM(out_c * treat) AS BIGINT) AS sum_t,
             CAST(SUM(out_c * (1 - treat)) AS BIGINT) AS sum_c
           FROM base GROUP BY bin),
         d AS (SELECT *, CAST(sum_t AS HUGEINT) * n_c -
             CAST(sum_c AS HUGEINT) * n_t AS num FROM agg)
         SELECT bin, n_t, n_c, sum_t, sum_c,
           CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                WHEN num >= 0 THEN CAST((num * 1000000)
                  // (CAST(n_t AS HUGEINT) * n_c) AS BIGINT)
                ELSE CAST(-((-num * 1000000)
                  // (CAST(n_t AS HUGEINT) * n_c)) AS BIGINT) END AS diff_micro
         FROM d ORDER BY bin""",

    // the same five HUGEINT window sums over RANGE 6 PRECEDING, then the
    // q330 sign-split slope
    "q346_rolling_ols" ->
      """WITH daily AS (SELECT event_type AS k,
             epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000
               AS d,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
               AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         wnd AS (SELECT k AS key, x, y,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             SUM(CAST(x AS HUGEINT)) OVER w AS sx,
             SUM(CAST(y AS HUGEINT)) OVER w AS sy,
             SUM(CAST(x AS HUGEINT) * y) OVER w AS sxy,
             SUM(CAST(x AS HUGEINT) * x) OVER w AS sxx
           FROM (SELECT k, d AS x, y FROM daily)
           WINDOW w AS (PARTITION BY k ORDER BY x
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
         c AS (SELECT key, x, y, n, n * sxx - sx * sx AS den,
             n * sxy - sx * sy AS num FROM wnd)
         SELECT key, x, y, n,
           CASE WHEN den = 0 THEN NULL
                WHEN num >= 0 THEN CAST((num * 1000000) // den AS BIGINT)
                ELSE CAST(-((-num * 1000000) // den) AS BIGINT) END AS slope_ppm
         FROM c ORDER BY key, x""",

    // txn-filtered snapshot, correction dedup by (txn DESC, val DESC),
    // then the as-of pick = max valid <= probe per customer
    "q347_bitemporal_asof" ->
      """WITH vers0 AS (SELECT o_custkey AS k,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS valid_us,
             epoch_us(CAST(o_orderdate AS TIMESTAMP))
               + (o_orderkey % 5) * 86400000000 AS txn_us,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_c
           FROM orders),
         snap AS (SELECT k, valid_us, txn_us, val_c FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY k, valid_us
                 ORDER BY txn_us DESC, val_c DESC) AS rn
             FROM vers0
             WHERE txn_us <= epoch_us(TIMESTAMP '1997-07-01 00:00:00'))
           WHERE rn = 1),
         probe AS (SELECT c_custkey AS k,
             epoch_us(TIMESTAMP '1997-01-01 00:00:00')
               + (c_custkey % 365) * 86400000000 AS probe_us
           FROM customer),
         m AS (SELECT p.k, p.probe_us, s.valid_us, s.txn_us, s.val_c,
             ROW_NUMBER() OVER (PARTITION BY p.k
               ORDER BY s.valid_us DESC) AS rn
           FROM probe p JOIN snap s
             ON s.k = p.k AND s.valid_us <= p.probe_us)
         SELECT k AS custkey, probe_us // 86400000000 AS probe_day,
           valid_us // 86400000000 AS valid_day,
           txn_us // 86400000000 AS txn_day, val_c
         FROM m WHERE rn = 1 ORDER BY custkey""",

    // the per-user theta join is the oracle instrument; shares re-derived
    "q348_temporal_pairs" ->
      """WITH b AS (SELECT user_id AS u,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_type AS t
           FROM events),
         p AS (SELECT a.t AS type_a, c.t AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM b a JOIN b c ON a.u = c.u AND c.tus > a.tus
             AND c.tus - a.tus <= 3600000000
           GROUP BY 1, 2),
         tot AS (SELECT type_a, CAST(SUM(n_pairs) AS BIGINT) AS n_from_a
                 FROM p GROUP BY 1)
         SELECT p.type_a, p.type_b, p.n_pairs, tot.n_from_a,
           (p.n_pairs * 1000000) // tot.n_from_a AS share_ppm
         FROM p JOIN tot ON p.type_a = tot.type_a
         ORDER BY p.type_a, p.type_b""",

    // min-label closure for components, capped (node, dist) enumeration
    // for parity, conflicts = same-parity edges; all per component
    "q349_bipartite_check" ->
      """WITH RECURSIVE hi AS (SELECT l_orderkey, l_partkey FROM lineitem
             WHERE l_quantity >= 49),
         wc AS (SELECT DISTINCT o.o_custkey + 1000000 AS a, h.l_partkey AS b
                FROM hi h JOIN orders o ON o.o_orderkey = h.l_orderkey),
         h50 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                 WHERE l_quantity >= 50),
         pp AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
                FROM h50 x JOIN h50 y ON x.l_orderkey = y.l_orderkey
                  AND x.l_partkey < y.l_partkey),
         e AS (SELECT a, b FROM wc UNION SELECT a, b FROM pp),
         u AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
         n AS (SELECT DISTINCT s AS id FROM u),
         l(id, lbl) AS (SELECT id, id FROM n
           UNION SELECT u.d, l.lbl FROM l JOIN u ON u.s = l.id),
         comp AS (SELECT id, MIN(lbl) AS comp FROM l GROUP BY id),
         seeds AS (SELECT DISTINCT comp AS id FROM comp),
         d0(id, dist) AS (SELECT id, 0 FROM seeds
           UNION SELECT u.d, d0.dist + 1 FROM d0 JOIN u ON u.s = d0.id
           WHERE d0.dist < 15),
         dist AS (SELECT id, CAST(MIN(dist) AS BIGINT) AS dist
                  FROM d0 GROUP BY id),
         es AS (SELECT c.comp, CAST(COUNT(*) AS BIGINT) AS n_edges,
                  CAST(SUM(CASE WHEN (da.dist + db.dist) % 2 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_conflicts
                FROM e JOIN dist da ON da.id = e.a
                  JOIN dist db ON db.id = e.b
                  JOIN comp c ON c.id = e.a
                GROUP BY 1),
         ns AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_nodes
                FROM comp GROUP BY 1)
         SELECT ns.comp, ns.n_nodes, COALESCE(es.n_edges, 0) AS n_edges,
           COALESCE(es.n_conflicts, 0) AS n_conflicts,
           COALESCE(es.n_conflicts, 0) = 0 AS bipartite
         FROM ns LEFT JOIN es ON ns.comp = es.comp ORDER BY ns.comp""",

    // integer halving decay replayed with the same shift
    "q350_decayed_heavy_hitters" ->
      """WITH daily AS (SELECT event_type AS typ, user_id AS u,
             epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
               // 86400000000 AS d,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2, 3),
         mx AS (SELECT MAX(d) AS dmax FROM daily),
         sc AS (SELECT typ, u,
             CAST(SUM(n * (1000000 //
               (CAST(1 AS BIGINT) << CAST(dmax - d AS INT)))) AS BIGINT)
               AS decayed_micro,
             CAST(SUM(n) AS BIGINT) AS n_raw
           FROM daily, mx GROUP BY 1, 2),
         r AS (SELECT typ, u, decayed_micro, n_raw,
             ROW_NUMBER() OVER (PARTITION BY typ
               ORDER BY decayed_micro DESC, u) AS rank
           FROM sc)
         SELECT typ, CAST(rank AS BIGINT) AS rank, u, decayed_micro, n_raw
         FROM r WHERE rank <= 5 ORDER BY typ, rank""",

    // boundary sweep: elementary segments by LEAD, winner rn=1 by
    // (p DESC, s DESC, v DESC), run merge by the lag-flag cumulative sum
    "q351_timeline_resolve" ->
      """WITH ivl AS (SELECT l_suppkey AS k,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
               + 1 + (l_orderkey + l_linenumber) % 7 AS BIGINT) AS e,
             CAST(l_linenumber AS BIGINT) AS p, l_orderkey AS v
           FROM lineitem
           WHERE l_suppkey % 10 = 0
             AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'),
         b AS (SELECT k, s AS bd FROM ivl UNION SELECT k, e FROM ivl),
         segs AS (SELECT k, bd AS seg_s,
             LEAD(bd) OVER (PARTITION BY k ORDER BY bd) AS seg_e FROM b),
         w AS (SELECT k, seg_s, seg_e, p, v FROM (
             SELECT s2.k, s2.seg_s, s2.seg_e, i.p, i.v,
               ROW_NUMBER() OVER (PARTITION BY s2.k, s2.seg_s
                 ORDER BY i.p DESC, i.s DESC, i.v DESC) AS rn
             FROM segs s2 JOIN ivl i ON i.k = s2.k
               AND i.s <= s2.seg_s AND s2.seg_s < i.e
             WHERE s2.seg_e IS NOT NULL) WHERE rn = 1),
         r AS (SELECT *, CASE WHEN LAG(seg_e) OVER w1 = seg_s
                 AND LAG(p) OVER w1 = p AND LAG(v) OVER w1 = v
               THEN 0 ELSE 1 END AS newrun
           FROM w WINDOW w1 AS (PARTITION BY k ORDER BY seg_s)),
         r2 AS (SELECT *, SUM(newrun) OVER (PARTITION BY k ORDER BY seg_s)
               AS run FROM r)
         SELECT k AS key, MIN(seg_s) AS seg_start, MAX(seg_e) AS seg_end,
           CAST(MIN(p) AS BIGINT) AS prio, CAST(MIN(v) AS BIGINT) AS value
         FROM r2 GROUP BY k, run ORDER BY key, seg_start""",

    // the q315 FNV-1a + xorshift64 replay keyed 'p:', applied to BOTH
    // tables, orders re-joined on the pseudonym
    "q352_pseudonymize_audit" ->
      """WITH ids AS (SELECT DISTINCT id FROM (
             SELECT c_custkey AS id FROM customer
             UNION ALL SELECT o_custkey FROM orders)),
         hv AS (SELECT id, list_reduce(
             list_prepend(CAST('14695981039346656037' AS HUGEINT),
               list_transform(string_split('p:' || CAST(id AS VARCHAR), ''),
                 ch -> CAST(unicode(ch) AS HUGEINT))),
             (acc, c) -> (xor(acc, c) * 1099511628211)
               % CAST('18446744073709551616' AS HUGEINT)) AS h0
           FROM ids),
         z1 AS (SELECT id, xor(h0, (h0 * 8192)
             % CAST('18446744073709551616' AS HUGEINT)) AS z FROM hv),
         z2 AS (SELECT id, xor(z, z // 128) AS z FROM z1),
         z3 AS (SELECT id, xor(z, (z * 131072)
             % CAST('18446744073709551616' AS HUGEINT)) AS h FROM z2),
         pid AS (SELECT id,
             CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
               THEN h - CAST('18446744073709551616' AS HUGEINT)
               ELSE h END AS BIGINT) AS h
           FROM z3),
         custp AS (SELECT CAST(c.c_nationkey AS BIGINT) AS nation, p.h
           FROM customer c JOIN pid p ON p.id = c.c_custkey),
         ordp AS (SELECT p.h FROM orders o JOIN pid p ON p.id = o.o_custkey),
         pn AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_pids
           FROM custp GROUP BY nation),
         j AS (SELECT c.nation, CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM ordp o JOIN custp c ON o.h = c.h GROUP BY c.nation)
         SELECT pn.nation, pn.n_cust, pn.n_pids,
           COALESCE(j.n_orders, 0) AS n_orders
         FROM pn LEFT JOIN j ON pn.nation = j.nation
         ORDER BY pn.nation""",

    // same floor(double·1000) quantization, the pair join IS the oracle
    "q353_gram_matrix" ->
      """WITH q AS (SELECT vec_id, g.i,
             CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000)
               AS BIGINT) AS qx
           FROM embeddings JOIN generate_series(0, 63) AS g(i) ON TRUE),
         p AS (SELECT a.i AS i, b.i AS j, a.qx * b.qx AS prod
           FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i)
         SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(prod) AS BIGINT) AS dot
         FROM p GROUP BY 1, 2 ORDER BY i, j""",

    // the full-scan contains the index-side must equal
    "q354_trigram_search" ->
      """WITH p AS (SELECT * FROM (VALUES ('fast sort'), ('table table'),
             ('scan query big'), ('merge batch')) AS p(pattern))
         SELECT d.doc_id AS id, p.pattern
         FROM documents d JOIN p ON contains(d.text, p.pattern)
         ORDER BY p.pattern, id""",

    // the full 10-register (counts + sums per arm) state walked row by
    // row; exploit argmax = list_reduce with the cross-multiplied
    // comparator, optimistic never-pulled short-circuit, explore cycle
    "q355_bandit_replay" ->
      """WITH RECURSIVE ev AS MATERIALIZED (SELECT user_id % 8 AS co,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id AS i,
             CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
               WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
               WHEN 'view' THEN 4 END AS a,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS rew
           FROM events),
         o AS MATERIALIZED (SELECT co, a, rew,
             ROW_NUMBER() OVER (PARTITION BY co ORDER BY tus, i) AS r
           FROM ev),
         st(co, r, c0, c1, c2, c3, c4, s0, s1, s2, s3, s4) AS (
           SELECT DISTINCT co, CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           FROM o
           UNION ALL
           SELECT co, r,
             c0 + CASE WHEN a = 0 AND ch = 0 THEN 1 ELSE 0 END,
             c1 + CASE WHEN a = 1 AND ch = 1 THEN 1 ELSE 0 END,
             c2 + CASE WHEN a = 2 AND ch = 2 THEN 1 ELSE 0 END,
             c3 + CASE WHEN a = 3 AND ch = 3 THEN 1 ELSE 0 END,
             c4 + CASE WHEN a = 4 AND ch = 4 THEN 1 ELSE 0 END,
             s0 + CASE WHEN a = 0 AND ch = 0 THEN rew ELSE 0 END,
             s1 + CASE WHEN a = 1 AND ch = 1 THEN rew ELSE 0 END,
             s2 + CASE WHEN a = 2 AND ch = 2 THEN rew ELSE 0 END,
             s3 + CASE WHEN a = 3 AND ch = 3 THEN rew ELSE 0 END,
             s4 + CASE WHEN a = 4 AND ch = 4 THEN rew ELSE 0 END
           FROM (
             SELECT st.co, o.r, o.a, o.rew,
               st.c0, st.c1, st.c2, st.c3, st.c4,
               st.s0, st.s1, st.s2, st.s3, st.s4,
               CASE WHEN o.r % 5 = 0 THEN (o.r // 5) % 5
                    WHEN st.c0 = 0 THEN 0 WHEN st.c1 = 0 THEN 1
                    WHEN st.c2 = 0 THEN 2 WHEN st.c3 = 0 THEN 3
                    WHEN st.c4 = 0 THEN 4
                    ELSE list_reduce([0, 1, 2, 3, 4], (acc, i) ->
                      CASE WHEN
                        [st.s0, st.s1, st.s2, st.s3, st.s4][i + 1] *
                          [st.c0, st.c1, st.c2, st.c3, st.c4][acc + 1] >
                        [st.s0, st.s1, st.s2, st.s3, st.s4][acc + 1] *
                          [st.c0, st.c1, st.c2, st.c3, st.c4][i + 1]
                      THEN i ELSE acc END)
               END AS ch
             FROM st JOIN o ON o.co = st.co AND o.r = st.r + 1) t),
         fin AS MATERIALIZED (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
             (PARTITION BY co ORDER BY r DESC) AS rn FROM st) WHERE rn = 1)
         SELECT co AS cohort, CAST(0 AS BIGINT) AS arm_idx, 'click' AS arm,
                c0 AS pulls, s0 AS reward_micro FROM fin
         UNION ALL SELECT co, 1, 'error', c1, s1 FROM fin
         UNION ALL SELECT co, 2, 'purchase', c2, s2 FROM fin
         UNION ALL SELECT co, 3, 'signup', c3, s3 FROM fin
         UNION ALL SELECT co, 4, 'view', c4, s4 FROM fin
         ORDER BY cohort, arm_idx""",

    // per-user bit_or mask -> 32-mask histogram -> v(S) containment sum
    // over the coalition lattice -> Shapley marginals with |S|!(4-|S|)!
    // weights (x120 keeps everything integral)
    "q356_shapley_attribution" ->
      """WITH tm(player, pi) AS (VALUES ('click', 0), ('error', 1),
             ('purchase', 2), ('signup', 3), ('view', 4)),
         um AS (SELECT user_id AS u, bit_or(1 << pi) AS mask
           FROM events JOIN tm ON event_type = player GROUP BY u),
         mc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS n
           FROM um GROUP BY mask),
         co AS (SELECT UNNEST(range(32)) AS s),
         v AS (SELECT s, COALESCE((SELECT CAST(SUM(n) AS BIGINT) FROM mc
             WHERE (mask & s) <> 0), CAST(0 AS BIGINT)) AS v FROM co),
         w(sz, w) AS (VALUES (0, 24), (1, 6), (2, 4), (3, 6), (4, 24)),
         sh AS (SELECT pi, player,
             CAST(SUM(w.w * (v1.v - v0.v)) AS BIGINT) AS shapley_xkfact
           FROM tm CROSS JOIN co
           JOIN v v0 ON v0.s = co.s
           JOIN v v1 ON v1.s = (co.s | (1 << pi))
           JOIN w ON w.sz = bit_count(co.s)
           WHERE ((co.s >> pi) & 1) = 0 GROUP BY pi, player)
         SELECT CAST(pi AS BIGINT) AS player_idx, player,
           (SELECT v FROM v WHERE s = (1 << pi)) AS v_solo, shapley_xkfact
         FROM sh ORDER BY player_idx""",

    // the quadratic ground truth: every customer pair per nation CASE'd
    // into concordant/discordant/tie buckets; tau-a sign-split ppm
    "q357_kendall_concordance" ->
      """WITH c AS (SELECT c_nationkey AS nk, o_custkey AS ck,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS y
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         t AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY nk),
         p AS (SELECT a.nk,
             CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
               OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS cc,
             CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
               OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS dd,
             CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty,
             CAST(SUM(CASE WHEN a.x = b.x AND a.y = b.y THEN 1 ELSE 0 END)
               AS BIGINT) AS txy
           FROM c a JOIN c b ON a.nk = b.nk AND a.ck < b.ck GROUP BY a.nk)
         SELECT CAST(t.nk AS VARCHAR) AS grp, t.n,
           t.n * (t.n - 1) // 2 AS n_pairs,
           COALESCE(cc, 0) AS concordant, COALESCE(dd, 0) AS discordant,
           COALESCE(tx, 0) AS ties_x, COALESCE(ty, 0) AS ties_y,
           COALESCE(txy, 0) AS ties_xy,
           CASE WHEN t.n < 2 THEN NULL
                WHEN cc >= dd THEN ((cc - dd) * 1000000) // (t.n * (t.n - 1) // 2)
                ELSE -(((dd - cc) * 1000000) // (t.n * (t.n - 1) // 2))
                END AS tau_a_ppm
         FROM t LEFT JOIN p ON t.nk = p.nk ORDER BY grp""",

    // same deterministic CIDR lattice + event IPs; LPM as three masked
    // LEFT joins with a longest-first COALESCE (unique per (len, key))
    "q358_lpm_enrichment" ->
      """WITH n AS (SELECT n_nationkey AS k, n_name AS owner FROM nation),
         pf AS (
           SELECT ((k * 5 % 64 + 16) << 24) AS net, 8 AS len, owner FROM n
           UNION ALL
           SELECT (((k + 3) % 25 * 5 % 64 + 16) << 24)
             + ((k * 41 % 256) << 16), 16, owner FROM n
           UNION ALL
           SELECT (((k + 7) % 25 * 5 % 64 + 16) << 24)
             + (((k * 41 + 64) % 256) << 16) + ((k * 13 % 256) << 8),
             24, owner FROM n),
         ev AS (SELECT event_id AS eid, user_id,
           CASE WHEN event_id % 97 = 0 THEN
               (((event_id % 25 + 7) % 25 * 5 % 64 + 16) << 24)
               + (((event_id % 25 * 41 + 64) % 256) << 16)
               + ((event_id % 25 * 13 % 256) << 8) + (event_id % 256)
             WHEN event_id % 13 = 0 THEN
               (((event_id % 25 + 3) % 25 * 5 % 64 + 16) << 24)
               + ((event_id % 25 * 41 % 256) << 16) + (event_id * 7 % 65536)
             WHEN event_id % 7 = 0 THEN
               ((200 + event_id % 40) << 24) + (event_id * 3 % 16777216)
             ELSE ((event_id % 25 * 5 % 64 + 16) << 24)
               + ((event_id * 11 % 256) << 16)
               + ((event_id * 13 % 256) << 8) + (event_id * 17 % 256)
             END AS ip FROM events),
         m AS (SELECT ev.user_id,
             COALESCE(p24.owner, p16.owner, p8.owner, '(unmatched)') AS owner,
             CASE WHEN p24.owner IS NOT NULL THEN 24
                  WHEN p16.owner IS NOT NULL THEN 16
                  WHEN p8.owner IS NOT NULL THEN 8 ELSE -1 END AS plen
           FROM ev
           LEFT JOIN pf p8 ON p8.len = 8 AND (ev.ip >> 24) = (p8.net >> 24)
           LEFT JOIN pf p16 ON p16.len = 16 AND (ev.ip >> 16) = (p16.net >> 16)
           LEFT JOIN pf p24 ON p24.len = 24 AND (ev.ip >> 8) = (p24.net >> 8))
         SELECT owner, CAST(plen AS BIGINT) AS plen,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM m GROUP BY 1, 2 ORDER BY owner, plen""",

    // patience piles as recursive-CTE list state: c = tops < x decides
    // replace-vs-append for the increasing piles, d = tops > x for the
    // decreasing ones; final pile counts are the subsequence lengths
    "q359_lis_persistence" ->
      """WITH RECURSIVE ev AS (SELECT user_id AS u,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id AS i,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x
           FROM events),
         o AS (SELECT u, x,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY tus, i) AS r
           FROM ev),
         st(u, r, L, M) AS (
           SELECT DISTINCT u, CAST(0 AS BIGINT),
             CAST([] AS BIGINT[]), CAST([] AS BIGINT[]) FROM o
           UNION ALL
           SELECT u, r,
             CASE WHEN c = len(L) THEN list_append(L, x)
                  ELSE list_slice(L, 1, c) || [x]
                    || list_slice(L, c + 2, len(L)) END,
             CASE WHEN d = len(M) THEN list_append(M, x)
                  ELSE list_slice(M, 1, d) || [x]
                    || list_slice(M, d + 2, len(M)) END
           FROM (SELECT st.u, o.r, o.x, st.L, st.M,
               len(list_filter(st.L, e -> e < o.x)) AS c,
               len(list_filter(st.M, e -> e > o.x)) AS d
             FROM st JOIN o ON o.u = st.u AND o.r = st.r + 1) t),
         fin AS (SELECT u, L, M, ROW_NUMBER() OVER
             (PARTITION BY u ORDER BY r DESC) AS rn FROM st)
         SELECT f.u, c.n, CAST(len(f.L) AS BIGINT) AS lis_len,
           CAST(len(f.M) AS BIGINT) AS lds_len
         FROM fin f JOIN (SELECT u, CAST(COUNT(*) AS BIGINT) AS n
           FROM o GROUP BY u) c USING (u)
         WHERE f.rn = 1 ORDER BY u""",

    // the same nine sufficient statistics in HUGEINT, the same four
    // Cramer determinants, det sign-normalized before the sign-split ppm
    "q360_ols_two_regressors" ->
      """WITH b AS (SELECT l_returnflag || '|' || l_linestatus AS key,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(CAST(l_discount AS DECIMAL(18,6)) * 10000 AS BIGINT) AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yy
           FROM lineitem),
         a AS (SELECT key, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
             CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
             CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
             CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
             CAST(SUM(yy) AS HUGEINT) AS sy,
             CAST(SUM(x1 * yy) AS HUGEINT) AS s1y,
             CAST(SUM(x2 * yy) AS HUGEINT) AS s2y
           FROM b GROUP BY key),
         d AS (SELECT key, CAST(n AS BIGINT) AS n_out,
             n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s12 - s11 * s2) AS det,
             sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
               + s2 * (s1y * s12 - s11 * s2y) AS det0,
             n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS det1,
             n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * s12 - s11 * s2) AS det2
           FROM a),
         e AS (SELECT key, n_out,
             CASE WHEN det < 0 THEN -det ELSE det END AS deta,
             CASE WHEN det < 0 THEN -det0 ELSE det0 END AS nd0,
             CASE WHEN det < 0 THEN -det1 ELSE det1 END AS nd1,
             CASE WHEN det < 0 THEN -det2 ELSE det2 END AS nd2
           FROM d)
         SELECT key, n_out AS n,
           CASE WHEN deta = 0 THEN NULL
                WHEN nd0 >= 0 THEN CAST((nd0 * 1000000) // deta AS BIGINT)
                ELSE -CAST(((-nd0) * 1000000) // deta AS BIGINT) END AS b0_ppm,
           CASE WHEN deta = 0 THEN NULL
                WHEN nd1 >= 0 THEN CAST((nd1 * 1000000) // deta AS BIGINT)
                ELSE -CAST(((-nd1) * 1000000) // deta AS BIGINT) END AS b1_ppm,
           CASE WHEN deta = 0 THEN NULL
                WHEN nd2 >= 0 THEN CAST((nd2 * 1000000) // deta AS BIGINT)
                ELSE -CAST(((-nd2) * 1000000) // deta AS BIGINT) END AS b2_ppm
         FROM e ORDER BY key""",

    // same pinned cumulative weights W(m) = sum_{d=m..10} 9^(d-1)
    // 10^(10-d) 2520/d; join on max(rank_a, rank_b); 2520(10^10-9^10)
    // is the identical-ranking normalizer
    "q361_rank_biased_overlap" ->
      """WITH per AS (SELECT c_nationkey AS qid, o_custkey AS doc,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS rev,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
         a AS (SELECT qid, doc, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY rev DESC, doc) AS ra FROM per QUALIFY ra <= 10),
         b AS (SELECT qid, doc, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY cnt DESC, doc) AS rb FROM per QUALIFY rb <= 10),
         w(m, wt) AS (VALUES (1, 5932493265528), (2, 3412493265528),
           (3, 2278493265528), (4, 1598093265528), (5, 1138823265528),
           (6, 808148865528), (7, 560143065528), (8, 368824305528),
           (9, 218160782028), (10, 97629963228)),
         j AS (SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(w.wt) AS BIGINT) AS rbo_scaled
           FROM a JOIN b ON a.qid = b.qid AND a.doc = b.doc
           JOIN w ON w.m = GREATEST(a.ra, b.rb) GROUP BY a.qid)
         SELECT q.qid, COALESCE(n_common, CAST(0 AS BIGINT)) AS n_common,
           COALESCE(rbo_scaled, CAST(0 AS BIGINT)) AS rbo_scaled,
           CAST(CAST(COALESCE(rbo_scaled, 0) AS HUGEINT) * 1000000
             // 16413303309480 AS BIGINT) AS rbo_ppm
         FROM (SELECT qid FROM a UNION SELECT qid FROM b) q
         LEFT JOIN j ON q.qid = j.qid ORDER BY q.qid""",

    // same pinned floor(1e9/log2(r+1)) discounts; IDCG re-ranks the
    // grade multiset descending with a second ROW_NUMBER
    "q362_ndcg" ->
      """WITH ev AS (SELECT user_id AS qid, event_id,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm,
             CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
               WHEN 'click' THEN 1 ELSE 0 END AS grade
           FROM events),
         r AS (SELECT qid, grade, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY vm DESC, event_id) AS rk FROM ev QUALIFY rk <= 10),
         d(rk, disc) AS (VALUES (1, 1000000000), (2, 630929753),
           (3, 500000000), (4, 430676558), (5, 386852807),
           (6, 356207187), (7, 333333333), (8, 315464876),
           (9, 301029995), (10, 289064826)),
         dcg AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(grade AS BIGINT) * disc) AS BIGINT) AS dcg_scaled
           FROM r JOIN d USING (rk) GROUP BY qid),
         i AS (SELECT qid, grade, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY grade DESC) AS rk FROM r),
         idcg AS (SELECT qid, CAST(SUM(CAST(grade AS BIGINT) * disc) AS BIGINT)
             AS idcg_scaled
           FROM i JOIN d USING (rk) GROUP BY qid)
         SELECT qid, n, dcg_scaled, idcg_scaled,
           CASE WHEN idcg_scaled = 0 THEN NULL
                ELSE CAST(dcg_scaled * 1000000 // idcg_scaled AS BIGINT)
                END AS ndcg_ppm
         FROM dcg JOIN idcg USING (qid) ORDER BY qid""",

    // DTW DP replayed cell-by-cell (row-major): the recursive state
    // carries the last 13 dp values, so up = win[2], up-left = win[1],
    // left = win[13]; edge rows/cols CASE around the zero init
    "q363_dtw_profile_drift" ->
      """WITH RECURSIVE ev AS (SELECT user_id AS u,
             CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) // 2 AS bkt,
             day(CAST(ts AS TIMESTAMP)) % 2 AS half
           FROM events),
         arr AS (SELECT u,
             [CAST(SUM(CASE WHEN bkt = 0 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 1 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 2 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 3 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 4 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 5 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 6 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 7 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 8 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 9 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 10 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 11 AND half = 0 THEN 1 ELSE 0 END) AS BIGINT)] AS a,
             [CAST(SUM(CASE WHEN bkt = 0 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 1 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 2 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 3 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 4 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 5 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 6 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 7 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 8 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 9 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 10 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN bkt = 11 AND half = 1 THEN 1 ELSE 0 END) AS BIGINT)] AS b
           FROM ev GROUP BY u),
         st(u, idx, win) AS (
           SELECT u, 0, CAST([0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
             AS BIGINT[]) FROM arr
           UNION ALL
           SELECT u, idx, list_slice(win, 2, 13) || [dp]
           FROM (SELECT st.u, st.idx + 1 AS idx, st.win,
               abs(arr.a[st.idx // 12 + 1] - arr.b[st.idx % 12 + 1])
               + CASE WHEN st.idx // 12 = 0 AND st.idx % 12 = 0 THEN 0
                      WHEN st.idx // 12 = 0 THEN win[13]
                      WHEN st.idx % 12 = 0 THEN win[2]
                      ELSE least(win[1], win[2], win[13]) END AS dp
             FROM st JOIN arr USING (u) WHERE st.idx < 144) t),
         fin AS (SELECT u, win[13] AS dtw FROM st WHERE idx = 144)
         SELECT arr.u AS u,
           CAST(list_sum(list_transform([1, 2, 3, 4, 5, 6, 7, 8, 9, 10,
             11, 12], x -> abs(a[x] - b[x]))) AS BIGINT) AS l1,
           CAST(fin.dtw AS BIGINT) AS dtw
         FROM arr JOIN fin USING (u) ORDER BY u""",

    // same span construction, same classification CASE in the same
    // order (degenerate intervals resolve by clause order)
    "q364_allen_census" ->
      """WITH iv AS (SELECT user_id AS u, event_type AS ty,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS st,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS en
           FROM events GROUP BY 1, 2),
         p AS (SELECT x.u,
             CASE WHEN x.st = y.st AND x.en = y.en THEN 'equals'
                  WHEN x.en < y.st THEN 'before'
                  WHEN y.en < x.st THEN 'after'
                  WHEN x.en = y.st THEN 'meets'
                  WHEN y.en = x.st THEN 'met_by'
                  WHEN x.st < y.st AND x.en > y.st AND x.en < y.en
                    THEN 'overlaps'
                  WHEN y.st < x.st AND y.en > x.st AND y.en < x.en
                    THEN 'overlapped_by'
                  WHEN x.st = y.st AND x.en < y.en THEN 'starts'
                  WHEN x.st = y.st AND x.en > y.en THEN 'started_by'
                  WHEN x.st > y.st AND x.en < y.en THEN 'during'
                  WHEN x.st < y.st AND x.en > y.en THEN 'contains'
                  WHEN x.en = y.en AND x.st > y.st THEN 'finishes'
                  ELSE 'finished_by' END AS rel
           FROM iv x JOIN iv y ON x.u = y.u AND x.ty < y.ty)
         SELECT rel, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
         FROM p GROUP BY rel ORDER BY rel""",

    // the same greedy as a recursive CTE: L sorted ascending, each step
    // merges L[1]+L[2] and banks the merged weight; fixed width by the
    // same integer ladder
    "q365_huffman_budget" ->
      """WITH RECURSIVE tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS term FROM documents)
           GROUP BY term ORDER BY n DESC, term LIMIT 32),
         init AS (SELECT list_sort(list(n)) AS L FROM tc),
         st(step, L, acc) AS (
           SELECT 0, L, CAST(0 AS BIGINT) FROM init
           UNION ALL
           SELECT step + 1,
             list_sort(list_slice(L, 3, len(L)) || [L[1] + L[2]]),
             acc + L[1] + L[2]
           FROM st WHERE len(L) > 1),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_symbols,
             CAST(SUM(n) AS BIGINT) AS total_count FROM tc)
         SELECT n_symbols, total_count,
           (CASE WHEN n_symbols <= 2 THEN 1 WHEN n_symbols <= 4 THEN 2
                 WHEN n_symbols <= 8 THEN 3 WHEN n_symbols <= 16 THEN 4
                 WHEN n_symbols <= 32 THEN 5 ELSE 6 END) * total_count
             AS fixed_bits,
           (SELECT CAST(acc AS BIGINT) FROM st WHERE len(L) = 1)
             AS huffman_bits
         FROM agg""",

    // minimax closed form of the isotonic fit over present bins in
    // order: segment means from prefix sums, inner MIN over k >= i,
    // outer MAX over j <= i; floor-ppm commutes with both
    "q366_isotonic_calibration" ->
      """WITH bins AS (SELECT
             LEAST(19, CAST(FLOOR(o_totalprice / 30000) AS BIGINT)) AS b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS c
           FROM orders GROUP BY 1),
         idx AS (SELECT b, n, c, ROW_NUMBER() OVER (ORDER BY b) AS i
           FROM bins),
         pre AS (SELECT i, SUM(c) OVER (ORDER BY i) AS cc,
             SUM(n) OVER (ORDER BY i) AS nn FROM idx),
         seg AS (SELECT pj.i AS j, pk.i AS k,
             (1000000 * (pk.cc - COALESCE(p0.cc, 0)))
               // (pk.nn - COALESCE(p0.nn, 0)) AS a
           FROM pre pj JOIN pre pk ON pk.i >= pj.i
           LEFT JOIN pre p0 ON p0.i = pj.i - 1),
         fit AS (SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_ppm FROM (
             SELECT x.i AS i, s.j, MIN(s.a) AS mn
             FROM idx x JOIN seg s ON s.j <= x.i AND s.k >= x.i
             GROUP BY x.i, s.j) t GROUP BY i)
         SELECT idx.b AS bin, idx.n, idx.c AS conv,
           CAST((idx.c * 1000000) // idx.n AS BIGINT) AS raw_ppm,
           fit.iso_ppm
         FROM idx JOIN fit USING (i) ORDER BY bin""",

    // the dominance definition verbatim as NOT EXISTS over the same
    // per-part aggregates (y, z negated to minimize)
    "q367_skyline3d" ->
      """WITH per AS (SELECT p_partkey AS id,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             -CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y,
             -CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS z
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2)
         SELECT id, x, y, z FROM per p
         WHERE NOT EXISTS (SELECT 1 FROM per d
           WHERE d.x <= p.x AND d.y <= p.y AND d.z <= p.z
             AND (d.x < p.x OR d.y < p.y OR d.z < p.z))
         ORDER BY id""",

    // the same two-register greedy (lastEnd, count) walked over the
    // (end, start, id)-ordered stream per user
    "q368_activity_selection" ->
      """WITH RECURSIVE iv AS (SELECT user_id AS u, event_id AS i,
             epoch_us(CAST(ts AS TIMESTAMP)) AS st,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS en
           FROM events),
         o AS (SELECT u, st, en, ROW_NUMBER() OVER (PARTITION BY u
             ORDER BY en, st, i) AS r FROM iv),
         rec(u, r, cnt, le) AS (
           SELECT DISTINCT u, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(-4611686018427387904 AS BIGINT) FROM o
           UNION ALL
           SELECT rec.u, o.r,
             CASE WHEN o.st >= rec.le THEN rec.cnt + 1 ELSE rec.cnt END,
             CASE WHEN o.st >= rec.le THEN o.en ELSE rec.le END
           FROM rec JOIN o ON o.u = rec.u AND o.r = rec.r + 1),
         fin AS (SELECT u, cnt, le, ROW_NUMBER() OVER (PARTITION BY u
             ORDER BY r DESC) AS rn FROM rec),
         tot AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY u)
         SELECT t.u, t.n AS n_intervals, f.cnt AS max_nonoverlap,
           CASE WHEN f.cnt = 0 THEN 0 ELSE f.le END AS last_end
         FROM tot t JOIN fin f ON t.u = f.u AND f.rn = 1 ORDER BY t.u""",

    // same moments in HUGEINT; theta kept as a fraction, the adjusted
    // mean assembled as one integer fraction before the ppm floor
    "q369_cuped" ->
      """WITH per AS (SELECT user_id AS u,
             CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
               THEN CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)
               ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15
               THEN CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT)
               ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY u),
         g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(x * y) AS HUGEINT) AS sxy
           FROM per),
         a AS (SELECT u % 2 AS arm, CAST(COUNT(*) AS HUGEINT) AS na,
             CAST(SUM(x) AS HUGEINT) AS sxa,
             CAST(SUM(y) AS HUGEINT) AS sya
           FROM per GROUP BY 1),
         e AS (SELECT arm, na, sxa, sya, n, sx,
             n * sxy - sx * sy AS tn, n * sxx - sx * sx AS td
           FROM a CROSS JOIN g)
         SELECT CAST(arm AS BIGINT) AS arm, CAST(na AS BIGINT) AS n,
           CAST(sxa AS BIGINT) AS sum_x, CAST(sya AS BIGINT) AS sum_y,
           CASE WHEN sya >= 0 THEN CAST((sya * 1000000) // na AS BIGINT)
                ELSE -CAST(((-sya) * 1000000) // na AS BIGINT)
                END AS raw_mean_ppm,
           CASE WHEN td = 0 THEN NULL
                WHEN sya * td * n - tn * (sxa * n - sx * na) >= 0 THEN
                  CAST(((sya * td * n - tn * (sxa * n - sx * na)) * 1000000)
                    // (na * td * n) AS BIGINT)
                ELSE -CAST(((tn * (sxa * n - sx * na) - sya * td * n) * 1000000)
                    // (na * td * n) AS BIGINT)
                END AS adj_mean_ppm,
           CASE WHEN td = 0 THEN NULL
                WHEN tn >= 0 THEN CAST((tn * 1000000) // td AS BIGINT)
                ELSE -CAST(((-tn) * 1000000) // td AS BIGINT)
                END AS theta_ppm
         FROM e ORDER BY arm""",

    // q402: identical Kruskal oracle — the distributed Borůvka tier must
    // select the same unique forest
    "q402_mst_distributed" ->
      """WITH RECURSIVE hi AS (SELECT DISTINCT l_orderkey, l_partkey
             FROM lineitem WHERE l_quantity >= 45),
         e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM hi x JOIN hi y ON x.l_orderkey = y.l_orderkey
             AND x.l_partkey < y.l_partkey GROUP BY 1, 2),
         e AS (SELECT a, b, CAST(1 + n % 7 AS BIGINT) AS w FROM e0),
         nd AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS ix
           FROM (SELECT a AS id FROM e UNION SELECT b FROM e)),
         cnt AS (SELECT COUNT(*) AS n FROM nd),
         eo AS (SELECT e.a, e.b, e.w, na.ix AS ia, nb.ix AS ib,
             ROW_NUMBER() OVER (ORDER BY e.w, e.a, e.b) AS r
           FROM e JOIN nd na ON na.id = e.a JOIN nd nb ON nb.id = e.b),
         init AS (SELECT range(1, n + 1) AS L FROM cnt),
         st(r, a, b, w, acc, L) AS (
           SELECT CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), FALSE, L
           FROM init
           UNION ALL
           SELECT t.r, t.a, t.b, t.w, t.la <> t.lb,
             CASE WHEN t.la <> t.lb THEN
               list_transform(t.L, x -> CASE
                 WHEN x = greatest(t.la, t.lb) THEN least(t.la, t.lb)
                 ELSE x END)
             ELSE t.L END
           FROM (SELECT eo.r, eo.a, eo.b, eo.w, st.L,
               st.L[eo.ia] AS la, st.L[eo.ib] AS lb
             FROM st JOIN eo ON eo.r = st.r + 1) t)
         SELECT a, b, w FROM st WHERE acc ORDER BY w, a, b""",

    // Kruskal over the same (w, a, b)-ordered edges with a union-find
    // label LIST in the recursive state: accept iff labels differ, then
    // rewrite the greater label to the smaller
    "q370_boruvka_mst" ->
      """WITH RECURSIVE hi AS (SELECT DISTINCT l_orderkey, l_partkey
             FROM lineitem WHERE l_quantity >= 45),
         e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM hi x JOIN hi y ON x.l_orderkey = y.l_orderkey
             AND x.l_partkey < y.l_partkey GROUP BY 1, 2),
         e AS (SELECT a, b, CAST(1 + n % 7 AS BIGINT) AS w FROM e0),
         nd AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS ix
           FROM (SELECT a AS id FROM e UNION SELECT b FROM e)),
         cnt AS (SELECT COUNT(*) AS n FROM nd),
         eo AS (SELECT e.a, e.b, e.w, na.ix AS ia, nb.ix AS ib,
             ROW_NUMBER() OVER (ORDER BY e.w, e.a, e.b) AS r
           FROM e JOIN nd na ON na.id = e.a JOIN nd nb ON nb.id = e.b),
         init AS (SELECT range(1, n + 1) AS L FROM cnt),
         st(r, a, b, w, acc, L) AS (
           SELECT CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), FALSE, L
           FROM init
           UNION ALL
           SELECT t.r, t.a, t.b, t.w, t.la <> t.lb,
             CASE WHEN t.la <> t.lb THEN
               list_transform(t.L, x -> CASE
                 WHEN x = greatest(t.la, t.lb) THEN least(t.la, t.lb)
                 ELSE x END)
             ELSE t.L END
           FROM (SELECT eo.r, eo.a, eo.b, eo.w, st.L,
               st.L[eo.ia] AS la, st.L[eo.ib] AS lb
             FROM st JOIN eo ON eo.r = st.r + 1) t)
         SELECT a, b, w FROM st WHERE acc ORDER BY w, a, b""",

    // same rank identity in HUGEINT; ROW_NUMBER tie order is irrelevant
    // by the tie-invariance of sum(i * x)
    "q371_concentration" ->
      """WITH per AS (SELECT c_nationkey AS nk, o_custkey AS ck,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         r AS (SELECT nk, rev, ROW_NUMBER() OVER (PARTITION BY nk
             ORDER BY rev) AS rn FROM per),
         a AS (SELECT nk AS key, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(rev) AS HUGEINT) AS sv,
             CAST(SUM(CAST(rn AS HUGEINT) * rev) AS HUGEINT) AS siv,
             CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS svv,
             CAST(MAX(rev) AS HUGEINT) AS mx
           FROM r GROUP BY 1)
         SELECT key, CAST(n AS BIGINT) AS n, CAST(sv AS BIGINT) AS total,
           CASE WHEN sv = 0 THEN NULL ELSE
             CAST(((2 * siv - (n + 1) * sv) * 1000000) // (n * sv)
               AS BIGINT) END AS gini_ppm,
           CASE WHEN sv = 0 THEN NULL ELSE
             CAST((svv * 1000000) // (sv * sv) AS BIGINT) END AS hhi_ppm,
           CASE WHEN sv = 0 THEN NULL ELSE
             CAST((mx * 1000000) // sv AS BIGINT) END AS top1_ppm
         FROM a ORDER BY key""",

    // the DP as list state: E = processed ends (non-decreasing), D = dp
    // table with leading 0; predecessor = count of ends <= start
    "q372_weighted_scheduling" ->
      """WITH RECURSIVE iv AS (SELECT user_id AS u, event_id AS i,
             epoch_us(CAST(ts AS TIMESTAMP)) AS st,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS en,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
           FROM events),
         o AS (SELECT u, st, en, vm, ROW_NUMBER() OVER (PARTITION BY u
             ORDER BY en, st, i) AS r FROM iv),
         rec(u, r, E, D) AS (
           SELECT DISTINCT u, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
             CAST([0] AS BIGINT[]) FROM o
           UNION ALL
           SELECT t.u, t.r, list_append(t.E, t.en),
             list_append(t.D, greatest(t.D[t.r], t.vm + t.D[t.c + 1]))
           FROM (SELECT rec.u, o.r, o.en, o.vm, rec.E, rec.D,
               len(list_filter(rec.E, e -> e <= o.st)) AS c
             FROM rec JOIN o ON o.u = rec.u AND o.r = rec.r + 1) t),
         fin AS (SELECT u, D, ROW_NUMBER() OVER (PARTITION BY u
             ORDER BY r DESC) AS rn FROM rec)
         SELECT f.u, CAST(len(f.D) - 1 AS BIGINT) AS n_intervals,
           CAST(f.D[len(f.D)] AS BIGINT) AS best_value
         FROM fin f WHERE f.rn = 1 ORDER BY u""",

    // same ppm floor recurrence as a recursive CTE over rank-ordered
    // (group, time) steps; n_risk = suffix sum including the current row
    "q373_kaplan_meier" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
             event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
         entry AS (SELECT user_id AS u, MIN(tm) AS ent FROM ev
           WHERE event_type = 'signup' GROUP BY 1),
         subj AS (SELECT e.u, e.ent, MIN(d.tm) AS dt
           FROM entry e LEFT JOIN ev d ON d.user_id = e.u
             AND d.event_type = 'error' AND d.tm >= e.ent
           GROUP BY 1, 2),
         base AS (SELECT u % 3 AS g,
             (COALESCE(dt, (SELECT MAX(tm) FROM ev)) - ent) // 1000000
               AS dur,
             CASE WHEN dt IS NOT NULL THEN 1 ELSE 0 END AS ev FROM subj),
         agg AS (SELECT g, dur, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS m FROM base GROUP BY 1, 2),
         o AS (SELECT g, dur, d,
             CAST(SUM(m) OVER (PARTITION BY g ORDER BY dur
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS nr,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY dur) AS rn
           FROM agg),
         rec(g, rn, surv) AS (
           SELECT g, CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
           FROM (SELECT DISTINCT g FROM o)
           UNION ALL
           SELECT o.g, o.rn, CASE WHEN o.d = 0 THEN rec.surv
             ELSE (rec.surv * (o.nr - o.d)) // o.nr END
           FROM rec JOIN o ON o.g = rec.g AND o.rn = rec.rn + 1)
         SELECT o.g, o.dur AS t, o.nr AS n_risk, o.d, rec.surv AS surv_ppm
         FROM rec JOIN o ON o.g = rec.g AND o.rn = rec.rn
         WHERE o.d > 0 ORDER BY o.g, t""",

    // four conditional (sum,count) cells, common-denominator rational in
    // HUGEINT, one sign-split ppm floor
    "q374_did" ->
      """WITH b AS (SELECT event_type AS g, user_id % 2 AS tr,
             CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15 THEN 1 ELSE 0 END
               AS po,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
           FROM events),
         c AS (SELECT g,
             CAST(SUM(CASE WHEN tr = 1 AND po = 1 THEN v ELSE 0 END)
               AS HUGEINT) AS s11,
             CAST(SUM(CASE WHEN tr = 1 AND po = 1 THEN 1 ELSE 0 END)
               AS HUGEINT) AS n11,
             CAST(SUM(CASE WHEN tr = 1 AND po = 0 THEN v ELSE 0 END)
               AS HUGEINT) AS s10,
             CAST(SUM(CASE WHEN tr = 1 AND po = 0 THEN 1 ELSE 0 END)
               AS HUGEINT) AS n10,
             CAST(SUM(CASE WHEN tr = 0 AND po = 1 THEN v ELSE 0 END)
               AS HUGEINT) AS s01,
             CAST(SUM(CASE WHEN tr = 0 AND po = 1 THEN 1 ELSE 0 END)
               AS HUGEINT) AS n01,
             CAST(SUM(CASE WHEN tr = 0 AND po = 0 THEN v ELSE 0 END)
               AS HUGEINT) AS s00,
             CAST(SUM(CASE WHEN tr = 0 AND po = 0 THEN 1 ELSE 0 END)
               AS HUGEINT) AS n00
           FROM b GROUP BY 1),
         r AS (SELECT *,
             s11 * n10 * n01 * n00 - s10 * n11 * n01 * n00
               - s01 * n11 * n10 * n00 + s00 * n11 * n10 * n01 AS num,
             n11 * n10 * n01 * n00 AS den FROM c)
         SELECT g, CAST(n11 AS BIGINT) AS n_treat_post,
           CAST(n10 AS BIGINT) AS n_treat_pre,
           CAST(n01 AS BIGINT) AS n_ctrl_post,
           CAST(n00 AS BIGINT) AS n_ctrl_pre,
           CASE WHEN n11 = 0 THEN NULL WHEN s11 >= 0 THEN
             CAST((s11 * 1000000) // n11 AS BIGINT)
             ELSE -CAST(((-s11) * 1000000) // n11 AS BIGINT) END
             AS m_treat_post_ppm,
           CASE WHEN n10 = 0 THEN NULL WHEN s10 >= 0 THEN
             CAST((s10 * 1000000) // n10 AS BIGINT)
             ELSE -CAST(((-s10) * 1000000) // n10 AS BIGINT) END
             AS m_treat_pre_ppm,
           CASE WHEN n01 = 0 THEN NULL WHEN s01 >= 0 THEN
             CAST((s01 * 1000000) // n01 AS BIGINT)
             ELSE -CAST(((-s01) * 1000000) // n01 AS BIGINT) END
             AS m_ctrl_post_ppm,
           CASE WHEN n00 = 0 THEN NULL WHEN s00 >= 0 THEN
             CAST((s00 * 1000000) // n00 AS BIGINT)
             ELSE -CAST(((-s00) * 1000000) // n00 AS BIGINT) END
             AS m_ctrl_pre_ppm,
           CASE WHEN den = 0 THEN NULL WHEN num >= 0 THEN
             CAST((num * 1000000) // den AS BIGINT)
             ELSE -CAST(((-num) * 1000000) // den AS BIGINT) END AS did_ppm
         FROM r ORDER BY g""",

    // lag grid via range(), shifted equi-join, HUGEINT sufficient stats
    "q375_ccf_lag" ->
      """WITH hb AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
             AS hb,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS y
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1),
         l AS (SELECT CAST(range AS BIGINT) AS lag FROM range(0, 7)),
         j AS (SELECT l.lag, a.x, b.y FROM l
           JOIN hb a ON TRUE JOIN hb b ON b.hb = a.hb + l.lag),
         st AS (SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
           FROM j GROUP BY 1),
         f AS (SELECT lag, n, n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy FROM st)
         SELECT lag, CAST(n AS BIGINT) AS n,
           CASE WHEN dx = 0 OR dy = 0 THEN NULL
             WHEN num >= 0 THEN
               CAST((num * num * 1000000) // (dx * dy) AS BIGINT)
             ELSE -CAST((num * num * 1000000) // (dx * dy) AS BIGINT) END
             AS r2_signed_ppm
         FROM f ORDER BY lag""",

    // same running-peak windows; first-step tie via MIN over rn where
    // dd equals the group max (computed as a second window)
    "q376_drawdown" ->
      """WITH fl AS (SELECT user_id AS u,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tm, event_id AS i,
             CASE WHEN event_type = 'purchase' THEN
               CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
             ELSE -CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
             END AS v
           FROM events WHERE event_type IN ('purchase', 'error')),
         w AS (SELECT u, v,
             CAST(SUM(v) OVER (PARTITION BY u ORDER BY tm, i
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY tm, i) AS rn
           FROM fl),
         w2 AS (SELECT u, v, cum, rn,
             CAST(MAX(cum) OVER (PARTITION BY u ORDER BY rn
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak FROM w),
         w3 AS (SELECT u, v, cum, rn, peak, peak - cum AS dd,
             MAX(peak - cum) OVER (PARTITION BY u) AS mx FROM w2)
         SELECT u AS k, CAST(COUNT(*) AS BIGINT) AS n_steps,
           CAST(SUM(v) AS BIGINT) AS final_cum,
           CAST(MAX(peak) AS BIGINT) AS peak,
           CAST(MAX(dd) AS BIGINT) AS max_dd,
           CAST(MIN(CASE WHEN dd = mx THEN rn END) AS BIGINT) AS dd_step
         FROM w3 GROUP BY u ORDER BY k""",

    // global ROW_NUMBER rank (the oracle may; the engine replaces it
    // with per-score offsets), same bucket formula and HUGEINT rationals
    "q377_uplift_qini" ->
      """WITH per AS (SELECT user_id AS u,
             SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
               AND event_type = 'click' THEN 1 ELSE 0 END) AS sc,
             SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS oc
           FROM events GROUP BY 1),
         r AS (SELECT u % 2 AS tr, oc,
             ROW_NUMBER() OVER (ORDER BY sc, u) AS rank,
             COUNT(*) OVER () AS n FROM per),
         b AS (SELECT ((rank - 1) * 10) // n + 1 AS bucket, tr, oc FROM r),
         p2 AS (SELECT bucket,
             CAST(SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS nt,
             CAST(SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS nc,
             CAST(SUM(CASE WHEN tr = 1 THEN oc ELSE 0 END) AS HUGEINT) AS ct,
             CAST(SUM(CASE WHEN tr = 0 THEN oc ELSE 0 END) AS HUGEINT) AS cc
           FROM b GROUP BY 1),
         c AS (SELECT *,
             SUM(nt) OVER (ORDER BY bucket) AS cnt,
             SUM(nc) OVER (ORDER BY bucket) AS cnc,
             SUM(ct) OVER (ORDER BY bucket) AS cct,
             SUM(cc) OVER (ORDER BY bucket) AS ccc FROM p2)
         SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
           CAST(ct AS BIGINT) AS conv_treat, CAST(cc AS BIGINT) AS conv_ctrl,
           CASE WHEN nt = 0 OR nc = 0 THEN NULL
             WHEN ct * nc - cc * nt >= 0 THEN
               CAST(((ct * nc - cc * nt) * 1000000) // (nt * nc) AS BIGINT)
             ELSE -CAST(((cc * nt - ct * nc) * 1000000) // (nt * nc)
               AS BIGINT) END AS uplift_ppm,
           CASE WHEN cnc = 0 THEN NULL
             WHEN cct * cnc - ccc * cnt >= 0 THEN
               CAST(((cct * cnc - ccc * cnt) * 1000000) // cnc AS BIGINT)
             ELSE -CAST(((ccc * cnt - cct * cnc) * 1000000) // cnc
               AS BIGINT) END AS qini_ppm
         FROM c ORDER BY bucket""",

    // same centered RANGE window and sign-split phase means
    "q378_seasonal_decompose" ->
      """WITH daily AS (SELECT event_type AS k,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
               AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         w AS (SELECT k, d AS t, v,
             COUNT(*) OVER (PARTITION BY k ORDER BY d
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nn,
             SUM(v) OVER (PARTITION BY k ORDER BY d
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s
           FROM daily),
         t2 AS (SELECT k, t, v, s // 7 AS trend, v - s // 7 AS detr
           FROM w WHERE nn = 7),
         seas AS (SELECT k AS sk, t % 7 AS phase,
             CASE WHEN SUM(detr) >= 0 THEN SUM(detr) // COUNT(*)
               ELSE -((-SUM(detr)) // COUNT(*)) END AS seasonal
           FROM t2 GROUP BY 1, 2)
         SELECT t2.k, CAST(t2.t AS BIGINT) AS t, t2.v,
           CAST(t2.trend AS BIGINT) AS trend,
           CAST(seas.seasonal AS BIGINT) AS seasonal,
           CAST(t2.detr - seas.seasonal AS BIGINT) AS residual
         FROM t2 JOIN seas ON seas.sk = t2.k AND seas.phase = t2.t % 7
         ORDER BY t2.k, t2.t""",

    // lower median by rank, ties at the median dropped, lag sign changes
    "q379_runs_test" ->
      """WITH e AS (SELECT event_type AS k,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tm, event_id AS i,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
           FROM events),
         m AS (SELECT k AS mk, v AS med FROM (SELECT k, v,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY k) AS n FROM e)
           WHERE rn = (n + 1) // 2),
         s AS (SELECT e.k, tm, i,
             CASE WHEN v > med THEN 1 ELSE -1 END AS sgn
           FROM e JOIN m ON mk = e.k WHERE v <> med),
         c AS (SELECT k, sgn, CASE
             WHEN LAG(sgn) OVER (PARTITION BY k ORDER BY tm, i) IS NULL
               THEN 1
             WHEN LAG(sgn) OVER (PARTITION BY k ORDER BY tm, i) <> sgn
               THEN 1 ELSE 0 END AS chg FROM s)
         SELECT k,
           CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(chg) AS BIGINT) AS runs,
           CAST(1000000 + (2000000
               * SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
               * SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END))
             // (SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
               + SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)) AS BIGINT)
             AS expected_runs_ppm
         FROM c GROUP BY k ORDER BY k""",

    // doubled midranks 2*RANK + ties - 1, running U2, first argmax
    "q380_pettitt" ->
      """WITH daily AS (SELECT event_type AS k,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
               AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         r AS (SELECT k, d, v,
             RANK() OVER (PARTITION BY k ORDER BY v) AS rmin,
             COUNT(*) OVER (PARTITION BY k, v) AS ties,
             COUNT(*) OVER (PARTITION BY k) AS n FROM daily),
         u AS (SELECT k, n,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) AS step,
             SUM(2 * (2 * rmin + ties - 1) - 2 * (n + 1))
               OVER (PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING)
               AS u2
           FROM r),
         f AS (SELECT k, n, step, u2, ABS(u2) AS a FROM u WHERE step < n),
         mx AS (SELECT k AS xk, MAX(a) AS ka FROM f GROUP BY 1),
         fin AS (SELECT f.k, f.n, f.step, f.u2,
             ROW_NUMBER() OVER (PARTITION BY f.k ORDER BY f.step) AS rn
           FROM f JOIN mx ON xk = f.k AND f.a = mx.ka)
         SELECT k, CAST(n AS BIGINT) AS n, CAST(ABS(u2) AS BIGINT)
             AS k_stat,
           CAST(step AS BIGINT) AS t_star_step, CAST(u2 AS BIGINT)
             AS u2_at_star
         FROM fin WHERE rn = 1 ORDER BY k""",

    // same extremes identity: b-events strictly between the unit's first
    // a and last c
    "q381_seq_patterns" ->
      """WITH e AS (SELECT user_id AS u, event_type AS ty,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
         ext AS (SELECT u, ty, MIN(tm) AS fmin, MAX(tm) AS lmax
           FROM e GROUP BY 1, 2),
         supp AS (SELECT DISTINCT e.u, xa.ty AS a, e.ty AS b, xc.ty AS c
           FROM e
           JOIN ext xa ON xa.u = e.u AND xa.fmin < e.tm
           JOIN ext xc ON xc.u = e.u AND e.tm < xc.lmax),
         tot AS (SELECT COUNT(DISTINCT u) AS nu FROM e)
         SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS support,
           CAST((COUNT(*) * 1000000) // (SELECT nu FROM tot) AS BIGINT)
             AS support_ppm
         FROM supp GROUP BY 1, 2, 3 ORDER BY a, b, c""",

    // doubled pooled midranks vs within-sample positions; sign-split T
    "q382_cvm" ->
      """WITH e AS (SELECT user_id % 2 AS k,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS s,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
           FROM events WHERE event_type IN ('click', 'view')),
         r AS (SELECT k, s, v,
             2 * RANK() OVER (PARTITION BY k ORDER BY v)
               + COUNT(*) OVER (PARTITION BY k, v) - 1 AS r2,
             ROW_NUMBER() OVER (PARTITION BY k, s ORDER BY v) AS i
           FROM e),
         a AS (SELECT k,
             CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS m,
             CAST(SUM(CASE WHEN s = 0 THEN (r2 - 2 * i) * (r2 - 2 * i)
               ELSE 0 END) AS HUGEINT) AS ux,
             CAST(SUM(CASE WHEN s = 1 THEN (r2 - 2 * i) * (r2 - 2 * i)
               ELSE 0 END) AS HUGEINT) AS uy
           FROM r GROUP BY 1),
         f AS (SELECT k, n, m, n * ux + m * uy AS u2,
             3 * (n * ux + m * uy) - 2 * n * m * (4 * n * m - 1) AS tn,
             12 * n * m * (n + m) AS td FROM a)
         SELECT k, CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
           CAST(u2 AS BIGINT) AS u2,
           CASE WHEN n = 0 OR m = 0 THEN NULL
             WHEN tn >= 0 THEN CAST((tn * 1000000) // td AS BIGINT)
             ELSE -CAST(((-tn) * 1000000) // td AS BIGINT) END AS t_ppm
         FROM f ORDER BY k""",

    // per-user paired indicators, discordant-cell chi-square ppm
    "q383_mcnemar" ->
      """WITH per AS (SELECT user_id AS u,
             MAX(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p0,
             MAX(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p1
           FROM events GROUP BY 1)
         SELECT u % 3 AS g,
           CAST(SUM(CASE WHEN p0 = 1 AND p1 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS both,
           CAST(SUM(CASE WHEN p0 = 1 AND p1 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS pre_only,
           CAST(SUM(CASE WHEN p0 = 0 AND p1 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS post_only,
           CAST(SUM(CASE WHEN p0 = 0 AND p1 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS neither,
           CASE WHEN SUM(CASE WHEN p0 <> p1 THEN 1 ELSE 0 END) = 0
             THEN NULL
             ELSE CAST(((SUM(CASE WHEN p0 = 1 AND p1 = 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN p0 = 0 AND p1 = 1 THEN 1 ELSE 0 END))
               * (SUM(CASE WHEN p0 = 1 AND p1 = 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN p0 = 0 AND p1 = 1 THEN 1 ELSE 0 END))
               * 1000000)
               // (SUM(CASE WHEN p0 = 1 AND p1 = 0 THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN p0 = 0 AND p1 = 1 THEN 1 ELSE 0 END))
               AS BIGINT) END AS chi2_ppm
         FROM per GROUP BY 1 ORDER BY g""",

    // centered doubled midranks (mean n+1 known), Pearson on ranks
    "q384_spearman" ->
      """WITH e AS (SELECT event_type AS k,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x,
             epoch_us(CAST(ts AS TIMESTAMP)) AS y FROM events),
         r AS (SELECT k,
             2 * RANK() OVER (PARTITION BY k ORDER BY x)
               + COUNT(*) OVER (PARTITION BY k, x) - 1
               - (COUNT(*) OVER (PARTITION BY k) + 1) AS dx,
             2 * RANK() OVER (PARTITION BY k ORDER BY y)
               + COUNT(*) OVER (PARTITION BY k, y) - 1
               - (COUNT(*) OVER (PARTITION BY k) + 1) AS dy
           FROM e),
         a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy
           FROM r GROUP BY 1)
         SELECT k, n,
           CASE WHEN sxx = 0 OR syy = 0 THEN NULL
             WHEN sxy >= 0 THEN
               CAST((sxy * sxy * 1000000) // (sxx * syy) AS BIGINT)
             ELSE -CAST((sxy * sxy * 1000000) // (sxx * syy) AS BIGINT)
             END AS rho2_signed_ppm
         FROM a ORDER BY k""",

    // same rank -> bucket -> suffix-sum sweep
    "q385_pr_curve" ->
      """WITH per AS (SELECT user_id AS u,
             SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
               AND event_type = 'click' THEN 1 ELSE 0 END) AS sc,
             MAX(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15
               AND event_type = 'purchase' THEN 1 ELSE 0 END) AS y
           FROM events GROUP BY 1),
         r AS (SELECT y, ROW_NUMBER() OVER (ORDER BY sc, u) AS rank,
             COUNT(*) OVER () AS n FROM per),
         b AS (SELECT ((rank - 1) * 10) // n + 1 AS bucket, y FROM r),
         p2 AS (SELECT bucket, CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
           FROM b GROUP BY 1),
         c AS (SELECT *,
             CAST(SUM(pos) OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
             CAST(SUM(neg) OVER (ORDER BY bucket ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS fp,
             CAST(SUM(pos) OVER () AS BIGINT) AS p_total FROM p2)
         SELECT CAST(bucket AS BIGINT) AS bucket, pos, neg, tp, fp,
           p_total - tp AS fn,
           CASE WHEN tp + fp = 0 THEN NULL
             ELSE (tp * 1000000) // (tp + fp) END AS precision_ppm,
           CASE WHEN p_total = 0 THEN NULL
             ELSE (tp * 1000000) // p_total END AS recall_ppm,
           CASE WHEN 2 * tp + fp + p_total - tp = 0 THEN NULL
             ELSE (2 * tp * 1000000) // (2 * tp + fp + p_total - tp) END
             AS f1_ppm
         FROM c ORDER BY bucket""",

    // the same 15 sufficient statistics in HUGEINT, pairs unioned
    "q386_corr_matrix" ->
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS disc_pct,
             CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax_pct,
             CAST(day(l_shipdate) AS BIGINT) AS ship_day FROM lineitem),
         a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(qty) AS HUGEINT) AS s1,
             CAST(SUM(disc_pct) AS HUGEINT) AS s2,
             CAST(SUM(tax_pct) AS HUGEINT) AS s3,
             CAST(SUM(ship_day) AS HUGEINT) AS s4,
             CAST(SUM(qty * qty) AS HUGEINT) AS p11,
             CAST(SUM(qty * disc_pct) AS HUGEINT) AS p12,
             CAST(SUM(qty * tax_pct) AS HUGEINT) AS p13,
             CAST(SUM(qty * ship_day) AS HUGEINT) AS p14,
             CAST(SUM(disc_pct * disc_pct) AS HUGEINT) AS p22,
             CAST(SUM(disc_pct * tax_pct) AS HUGEINT) AS p23,
             CAST(SUM(disc_pct * ship_day) AS HUGEINT) AS p24,
             CAST(SUM(tax_pct * tax_pct) AS HUGEINT) AS p33,
             CAST(SUM(tax_pct * ship_day) AS HUGEINT) AS p34,
             CAST(SUM(ship_day * ship_day) AS HUGEINT) AS p44
           FROM b),
         pairs AS (
           SELECT 'qty' AS var_a, 'disc_pct' AS var_b, n,
             n * p12 - s1 * s2 AS num, n * p11 - s1 * s1 AS dx,
             n * p22 - s2 * s2 AS dy FROM a
           UNION ALL SELECT 'qty', 'tax_pct', n, n * p13 - s1 * s3,
             n * p11 - s1 * s1, n * p33 - s3 * s3 FROM a
           UNION ALL SELECT 'qty', 'ship_day', n, n * p14 - s1 * s4,
             n * p11 - s1 * s1, n * p44 - s4 * s4 FROM a
           UNION ALL SELECT 'disc_pct', 'tax_pct', n, n * p23 - s2 * s3,
             n * p22 - s2 * s2, n * p33 - s3 * s3 FROM a
           UNION ALL SELECT 'disc_pct', 'ship_day', n, n * p24 - s2 * s4,
             n * p22 - s2 * s2, n * p44 - s4 * s4 FROM a
           UNION ALL SELECT 'tax_pct', 'ship_day', n, n * p34 - s3 * s4,
             n * p33 - s3 * s3, n * p44 - s4 * s4 FROM a)
         SELECT var_a, var_b, CAST(n AS BIGINT) AS n,
           CASE WHEN dx = 0 OR dy = 0 THEN NULL
             WHEN num >= 0 THEN
               CAST((num * num * 1000000) // (dx * dy) AS BIGINT)
             ELSE -CAST((num * num * 1000000) // (dx * dy) AS BIGINT) END
             AS r2_signed_ppm
         FROM pairs ORDER BY var_a, var_b"""
  )
}
