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

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (parity surface) plus the beyond-parity training-data
  * operators (SURVEY.md §7), each with a DuckDB oracle where the semantics
  * are ANSI-SQL-expressible.
  *
  * Oracle-match discipline (the driver hash-compares values):
  *   - every floating aggregate is computed exactly: cast to DECIMAL before
  *     SUM (order-independent, exact in both engines), cast the exact result
  *     to DOUBLE at the end — identical bits on both sides;
  *   - per-row double arithmetic uses the same IEEE op sequence in both
  *     engines (left-assoc), so results are bit-identical;
  *   - ratio outputs (cosine) are rounded to 6 decimals on both sides;
  *   - every query has a total ORDER BY (unique tie-break columns);
  *   - integer widths are aligned (Spark rank/size cast to long = DuckDB
  *     BIGINT).
  */
object SparkEntry {

  /** Scratch root for queries whose CONTRACT includes a write (format
    * round-trips, streaming stores/checkpoints, compaction). Default:
    * `target/graft-scratch` under the working directory (`user.dir`), so
    * each checkout writes into its own `target/`; the `graft.scratch`
    * system property (or SPARK_GRAFT_SCRATCH) overrides it. Bench and Diag
    * move it to tmpfs through [[useTmpfsScratch]]; Verify keeps the disk
    * default — correctness is location-independent.
    */
  def scratchRoot: String =
    sys.props.getOrElse("graft.scratch",
      sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
        java.nio.file.Paths.get(sys.props("user.dir"), "target", "graft-scratch").toString))

  /** Point [[scratchRoot]] at a per-process tmpfs directory when no root
    * was chosen (neither `graft.scratch` nor SPARK_GRAFT_SCRATCH is set)
    * and `/dev/shm` is writable, so the queries whose contract includes a
    * write measure the operator, not the box's disk, while keeping real
    * files and the real commit protocol. tmpfs is box-global shared memory
    * that nothing reclaims, so a JVM shutdown hook deletes the directory;
    * the hook runs on normal exit, on an uncaught exception and on SIGTERM.
    */
  private[graft] def useTmpfsScratch(): Unit =
    if (sys.props.get("graft.scratch").isEmpty &&
        sys.env.get("SPARK_GRAFT_SCRATCH").isEmpty &&
        new java.io.File("/dev/shm").canWrite) {
      val d = s"/dev/shm/graft-scratch-${ProcessHandle.current().pid()}"
      sys.props("graft.scratch") = d
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try deleteRecursively(d) catch { case _: Throwable => () }))
    }

  /** Delete `d` and everything under it; a missing `d` is a no-op. Failures
    * propagate: best-effort cleanups wrap the call, fresh-start sinks must
    * not run on a half-deleted store.
    */
  private[graft] def deleteRecursively(d: String): Unit = {
    val p = java.nio.file.Paths.get(d)
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try it.forEach(java.nio.file.Files.delete(_)) finally it.close()
    }
  }

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = Engine.table(s, dir, name)
    // events.ts has shipped as TIMESTAMP(NANOS) (read as int64 under
    // spark.sql.legacy.parquet.nanosAsLong) and as tz-naive
    // TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ under default NTZ
    // inference); normalize either encoding to TIMESTAMP_LTZ so watermarks
    // and unix_* functions work in any session (UTC sessions make the
    // NTZ→LTZ cast value-preserving).
    if (name == "events")
      graft.streaming.EventStreams.normalizeTs(df.schema, df)
    else df
  }

  /** [[graft.operators.Relational.spread]] re-exported for the query
    * registry: parallelize an under-split scan before expensive fused
    * per-row work (codec/synth UDFs, tokenization, wide decimal
    * aggregation). Conditional — a no-op whenever the input already has
    * >= cores partitions, so it never pessimizes a real many-split table.
    */
  private[graft] def spread(df: DataFrame): DataFrame =
    graft.operators.Relational.spread(df)

  /** q174/q406's shared IVFADC fixture quantizer over a (id, v) corpus:
    * coarse centroids = the first-8 vectors, residual PQ codebooks =
    * 8-dim sub-slices of the first-16 vectors' residuals — deterministic,
    * so DuckDB re-derives both. Factored so the persisted-index sibling
    * (q406) provably serves the SAME quantizer as the inline build
    * (q174) — the "hash-match q174's oracle verbatim" contract holds by
    * construction. Returns (centroids (cid, cv), codebooks (sub, cid, cv)).
    */
  private[graft] def pqFixture(corpus: DataFrame): (DataFrame, DataFrame) = {
    val cents = corpus.filterCol(col("id") < 8)
      .selectCols(Seq(col("id").as("cid"), col("v").as("cv")))
    val first16 = corpus.filterCol(col("id") < 16)
    val a16 = Similarity.assignToCentroids(first16, cents)
      .selectCols(Seq(col("id"), col("cid")))
    val res16 = first16.join(a16, "id")
      .join(broadcast(cents), "cid")
      .selectCols(Seq(col("id"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("rv")))
    val cb = res16.selectCols(Seq(col("id").as("cbid"),
        explode(sequence(lit(0), lit(7))).as("sub"), col("rv")))
      .selectCols(Seq(col("sub"), col("cbid").as("cid"),
        slice(col("rv"), col("sub") * 8 + 1, lit(8)).as("cv")))
    (cents, cb)
  }

  /** Exact decimal sum surfaced as double — order-independent, so Spark's
    * partial-aggregate merge order vs DuckDB's scan order cannot diverge.
    */
  private[graft] def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** q304's sparse-vector construction (bigram hashed-TF-IDF over every
    * 3rd doc), the frame [[graft.operators.Dedup.sparseCosinePairs]] joins.
    *
    * '_' joiner, not ' ': hashedTfIdf's portable hash is the rolling
    * token fingerprint, which would TOKENIZE a space-joined bigram and
    * fold two FNVs — the oracle hashes the joined string whole, and a
    * single-token input makes the two identical.
    * NOT materialized: sparseCosinePairs consumes the vector frame four
    * times (norms, bucket sizes, both join sides), but the subtrees end
    * in the same canonical aggregate, so exchange reuse computes the
    * tokenize→bigram→hash→agg pipeline once; an explicit truncate
    * A/B-measured equal-to-slower (the candidate join dominates).
    */
  def tfidfBigramVecs(s: SparkSession, dir: String): DataFrame = {
    val withBi = spread(t(s, dir, "documents")
      .filterCol(pmod(col("doc_id"), lit(3L)) === 0L))
      .withColumn("__toks", TextFns.tokens(col("text")))
      .withColumn("__bi", expr(
        """IF(size(__toks) < 2, array(),
             transform(sequence(1, size(__toks) - 1),
               i -> concat(element_at(__toks, i), '_',
                 element_at(__toks, i + 1))))"""))
    Corpus.hashedTfIdf(withBi, col("doc_id"), col("__bi"),
        dim = 4096, scale = 1000L, portable = true)
      .selectCols(Seq(col("id"), col("bucket"), col("weight")))
  }

  /** Shared CTE chain for the BPE oracles: word-frequency state `s0`, then
    * per round (pair counts `pN` -> argmax `mN` -> greedy rewrite `sN`;
    * an empty argmax carries the symbol state through unchanged — the
    * early-stop case [[graft.operators.Corpus.bpeMerges]] handles).
    */
  /** Mechanically-unrolled Hilbert xy2d oracle (q216): one CTE per bit
    * level replaying the quadrant-digit + flip/swap recurrence in integer
    * SQL (&, xor, CASE) — each level reads the PREVIOUS level's (x, y, d),
    * so the unroll is exact.
    */
  private[graft] def hilbertOracle(bits: Int): String = {
    val n1 = (1L << bits) - 1
    val its = (1 to bits).map { k =>
      val s = 1L << (bits - k)
      s"""it$k AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CASE WHEN (y & $s) > 0 THEN x
                ELSE CASE WHEN (x & $s) > 0 THEN $n1 - y ELSE y END END AS x,
           CASE WHEN (y & $s) > 0 THEN y
                ELSE CASE WHEN (x & $s) > 0 THEN $n1 - x ELSE x END END AS y,
           d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
                              (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d
         FROM it${k - 1})"""
    }.mkString(",\n         ")
    s"""WITH it0 AS (
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           l_partkey & $n1 AS x, l_suppkey & $n1 AS y, CAST(0 AS BIGINT) AS d
         FROM lineitem),
       $its
       SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         CAST(d AS BIGINT) AS h
       FROM it$bits ORDER BY h, l_orderkey, l_linenumber"""
  }

  /** Mechanically-unrolled greedy k-center oracle (q230): seed = min id,
    * then per round the (min-dist DESC, id ASC) argmax over the running
    * least() of squared L2 distances — the identical left-assoc IEEE sums
    * as q79's list_sum, so every pick replays exactly.
    */
  private[graft] def kcenterOracle(k: Int): String = {
    def dist(vl: String, vr: String) =
      s"list_sum(list_transform(range(1, len($vl) + 1), i -> ($vl[i] - $vr[i]) * ($vl[i] - $vr[i])))"
    val rounds = (2 to k).map { r =>
      val prev = if (r == 2) "m1" else s"m${r - 1}"
      val pick = s"""p$r AS MATERIALIZED (SELECT id AS cid, md FROM $prev
           ORDER BY md DESC, id LIMIT 1)"""
      val next =
        if (r == k) pick
        else pick + s""",
         m$r AS MATERIALIZED (SELECT m.id, m.v,
             least(m.md, ${dist("m.v", "c.v")}) AS md
           FROM $prev m JOIN e c ON c.id = (SELECT cid FROM p$r))"""
      next
    }.mkString(",\n         ")
    val picks = (2 to k).map(r =>
      s"SELECT $r AS rank, cid AS id, round(md, 6) AS dist_sq FROM p$r")
      .mkString("\n         UNION ALL ")
    s"""WITH e AS MATERIALIZED (
         SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
       s1 AS MATERIALIZED (SELECT min(id) AS cid FROM e),
       m1 AS MATERIALIZED (SELECT e.id, e.v, ${dist("e.v", "c.v")} AS md
         FROM e JOIN e c ON c.id = (SELECT cid FROM s1)),
       $rounds
       SELECT CAST(rank AS BIGINT) AS rank, id, dist_sq FROM (
         SELECT 1 AS rank, cid AS id, 0.0 AS dist_sq FROM s1
         UNION ALL $picks)
       ORDER BY rank"""
  }

  /** Mechanically-unrolled MMR oracle (q212): candidate pool + pairwise
    * token-set similarities, then `k` greedy selection rounds — each round
    * drops the selected set, computes every remaining candidate's
    * max-similarity barrier, and picks the (score DESC, doc_id ASC) argmax.
    * All-integer ppm arithmetic, so the replay is exact.
    */
  private[graft] def mmrOracle(k: Int): String = {
    val rounds = (2 to k).map { r =>
      val prev = r - 1
      s"""rem$r AS MATERIALIZED (SELECT * FROM cand
           WHERE doc_id NOT IN (SELECT doc_id FROM selall$prev)),
         bar$r AS MATERIALIZED (SELECT s_cand AS doc_id, MAX(sim_ppm) AS ms FROM sb
           WHERE s_sel IN (SELECT doc_id FROM selall$prev) GROUP BY 1),
         sel$r AS MATERIALIZED (SELECT $r AS round, c.doc_id, c.rel_ppm,
             COALESCE(b.ms, 0) AS max_sim_ppm,
             500000 * c.rel_ppm - 500000 * COALESCE(b.ms, 0) AS score
           FROM rem$r c LEFT JOIN bar$r b USING (doc_id)
           ORDER BY score DESC, c.doc_id LIMIT 1),
         selall$r AS MATERIALIZED (SELECT * FROM selall$prev UNION ALL SELECT * FROM sel$r)"""
    }.mkString(",\n         ")
    s"""WITH t AS MATERIALIZED (
         SELECT doc_id, list_distinct(list_filter(
           regexp_split_to_array(lower(trim(text)), '\\s+'),
           x -> len(x) > 0)) AS tk
         FROM documents),
       rel AS MATERIALIZED (
         SELECT doc_id,
           len(list_intersect(tk, ['spark', 'join', 'window'])) * 1000000 // 3 AS rel_ppm
         FROM t),
       cand AS MATERIALIZED (SELECT doc_id, CAST(rel_ppm AS BIGINT) AS rel_ppm FROM rel
         ORDER BY rel_ppm DESC, doc_id LIMIT 20),
       ct AS MATERIALIZED (SELECT c.doc_id, c.rel_ppm, t.tk FROM cand c JOIN t USING (doc_id)),
       sims AS MATERIALIZED (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.tk, b.tk)) * 1000000
             // (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS sim_ppm
         FROM ct a JOIN ct b ON a.doc_id < b.doc_id),
       sb AS MATERIALIZED (SELECT id_a AS s_sel, id_b AS s_cand, sim_ppm FROM sims
         UNION ALL SELECT id_b, id_a, sim_ppm FROM sims),
       sel1 AS MATERIALIZED (SELECT 1 AS round, doc_id, rel_ppm, CAST(0 AS BIGINT) AS max_sim_ppm,
           500000 * rel_ppm AS score
         FROM cand ORDER BY score DESC, doc_id LIMIT 1),
       selall1 AS MATERIALIZED (SELECT * FROM sel1),
       $rounds
       SELECT CAST(1 AS BIGINT) AS qid, CAST(round AS BIGINT) AS round, doc_id,
         CAST(rel_ppm AS BIGINT) AS rel_ppm, CAST(max_sim_ppm AS BIGINT) AS max_sim_ppm,
         CAST(score AS BIGINT) AS score
       FROM selall$k ORDER BY round"""
  }

  private[graft] def bpeCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(wc) AS BIGINT) AS cnt
         FROM (SELECT string_split(sym, ' ') AS toks, wc FROM $prev) t,
              LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
         GROUP BY 1, 2),
         m$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         s$r AS (SELECT CASE WHEN m$r.l IS NULL THEN sym
             ELSE trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',
               ' ' || m$r.l || '  ' || m$r.r || ' ', ' ' || m$r.l || m$r.r || ' '),
               '  ', ' ')) END AS sym, wc
          FROM $prev LEFT JOIN m$r ON TRUE)"""
    }.mkString(",\n         ")
    s"""WITH w0 AS (
         SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
           SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             x -> len(x) > 0)) AS w
           FROM documents) GROUP BY w),
       s0 AS (SELECT list_aggregate(string_split(w, ''), 'string_agg', ' ') AS sym, wc FROM w0),
       $roundCtes"""
  }

  /** q165's oracle, `rounds` BPE rounds unrolled: mechanically generated so
    * every round is literally the same SQL — the round count is the only
    * variable. Mirrors [[graft.operators.Corpus.bpeMerges]] exactly,
    * including the doubled-separator greedy merge application.
    */
  private[graft] def bpeOracle(rounds: Int): String = {
    val union = (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, l AS merge_left, r AS merge_right, cnt AS pair_count FROM m$r"
    }.mkString(" UNION ALL ")
    s"""${bpeCtes(rounds)}
       SELECT * FROM ($union) ORDER BY merge_round"""
  }

  /** q167's oracle: the corpus subword histogram after `rounds` merges —
    * training's final symbol state `sN` exploded and weighted by word
    * frequency, which is exactly what segmenting the corpus with its own
    * merge table produces ([[graft.operators.Corpus.bpeSegment]]).
    */
  private[graft] def bpeVocabOracle(rounds: Int, k: Int): String =
    s"""${bpeCtes(rounds)}
       SELECT sub AS subtoken, CAST(sum(wc) AS BIGINT) AS n_occurrences
       FROM (SELECT unnest(string_split(sym, ' ')) AS sub, wc FROM s$rounds)
       GROUP BY sub ORDER BY n_occurrences DESC, subtoken LIMIT $k"""

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): TPC-H Q1. */
  def entry(spark: SparkSession): DataFrame =
    q1Pricing(spark, "/root/testdata/sf0.001")

  /** TPC-H Q1 pricing summary — `df/aggregate` with full agg-builder set. */
  /** Shared CTE chain for the graph-ANN oracles (q410/q411/q414): the
    * deterministic kNN edge list — fixture cells (first 16 vectors), one
    * cell per corpus node (rn = 1), `nprobe` probed cells per node, exact
    * cosine over the probed candidates, top-`degree` by (raw score DESC,
    * id). Identical structure to q38's oracle with the corpus on both
    * sides; ends with `ek (src, dst, score, rnk)`.
    */
  private[graft] def nswGraphCtes(nprobe: Int, degree: Int): String =
    s"""e AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
       cent AS MATERIALIZED (SELECT id AS cell, v AS cv FROM e WHERE id < 16),
       nca AS MATERIALIZED (SELECT id, cell FROM (
           SELECT e.id, cent.cell,
             row_number() OVER (PARTITION BY e.id
               ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.cell) AS rn
           FROM e CROSS JOIN cent) WHERE rn = 1),
       nqp AS MATERIALIZED (SELECT id AS q_id, cell FROM (
           SELECT e.id, cent.cell,
             row_number() OVER (PARTITION BY e.id
               ORDER BY list_cosine_similarity(e.v, cent.cv) DESC, cent.cell) AS rn
           FROM e CROSS JOIN cent) WHERE rn <= $nprobe),
       ns AS MATERIALIZED (SELECT nqp.q_id, nca.id AS c_id,
               list_cosine_similarity(qv.v, cv.v) AS score
             FROM nqp JOIN nca USING (cell)
             JOIN e qv ON qv.id = nqp.q_id
             JOIN e cv ON cv.id = nca.id
             WHERE nca.id <> nqp.q_id),
       ek AS MATERIALIZED (SELECT q_id AS src, c_id AS dst, score, rnk FROM (
           SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id
               ORDER BY score DESC, c_id) AS rnk
           FROM ns) WHERE rnk <= $degree)"""

  /** Unrolled greedy-beam-search CTEs over [[nswGraphCtes]]' edge list —
    * one (candidates, scores, beam) triple per hop, the q216/q230
    * unroll-don't-iterate oracle pattern. Entry = min node id of the
    * symmetrized graph; each hop keeps top-`ef` of beam ∪ out-neighbors
    * by (raw score DESC, id); ends with `b<hops> (q_id, n_id)`.
    */
  private[graft] def nswSearchCtes(hops: Int, ef: Int, nq: Int): String = {
    val hopCtes = (1 to hops).map { h =>
      s"""c$h AS MATERIALIZED (SELECT q_id, n_id FROM b${h - 1}
             UNION
             SELECT b.q_id, u.dst AS n_id
             FROM b${h - 1} b JOIN und u ON u.src = b.n_id),
         s$h AS MATERIALIZED (SELECT c.q_id, c.n_id,
                 list_cosine_similarity(q.v, nv.v) AS score
               FROM c$h c JOIN e q ON q.id = c.q_id
               JOIN e nv ON nv.id = c.n_id),
         b$h AS MATERIALIZED (SELECT q_id, n_id FROM (
             SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY score DESC, n_id) AS rn
             FROM s$h) WHERE rn <= $ef)"""
    }.mkString(",\n         ")
    s"""und AS MATERIALIZED (SELECT src, dst FROM ek UNION SELECT dst, src FROM ek),
       b0 AS MATERIALIZED (SELECT q.id AS q_id, (SELECT min(src) FROM und) AS n_id
              FROM e q WHERE q.id < $nq),
       $hopCtes"""
  }

  private[graft] def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    val l = spread(t(s, dir, "lineitem"))
      .filterCol(col("l_shipdate").cast("date") <= lit(java.sql.Date.valueOf("1998-09-02")))
    val disc  = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    l.aggregate(
      Seq(col("l_returnflag"), col("l_linestatus")),
      Seq(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(disc.cast(DecimalType(18, 4))).cast("double").as("sum_disc_price"),
        sum(charge.cast(DecimalType(18, 6))).cast("double").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount"), 6) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
    ).sortBy(Seq(col("l_returnflag"), col("l_linestatus")))
  }

  /** q150's join+agg body over the bucketed catalog tables, shared with
    * ExplainAuditSpec's zero-Exchange assertion (the spec builds it WITHOUT
    * the final sort, whose range exchange is inherent to a total order).
    * Both scans report HashPartitioning(key, 8) from the bucket layout, so
    * the merge join AND the groupBy (keys ⊇ bucket key) reuse it — no
    * exchange anywhere between scan and sort.
    */
  private[graft] def bucketedRevenue(s: SparkSession): DataFrame =
    s.table("graft_lineitem_b")
      .join(s.table("graft_orders_b").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .aggregate(Seq(col("o_orderkey"), col("o_orderpriority")), Seq(
        dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_lines")))

  /** q282's rebalanced frame, shared with ExplainAuditSpec's skewed-read
    * assertion: events with a planted hot key (2/3 of rows on k=0) under a
    * REBALANCE hint, in an isolated session whose advisory partition size
    * is scaled to sf-sized shuffles. The hint must stay TERMINAL (write
    * or collect it directly) — an aggregation on top lets Catalyst prune
    * the user shuffle as redundant, which is exactly the non-demo plan.
    */
  private[graft] def skewRebalanced(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
    s2.conf.set("spark.sql.adaptive.rebalancePartitionsSmallPartitionFactor", "0.2")
    Engine.table(s2, dir, "events")
      // skew splits happen at MAP-OUTPUT granularity: a single-mapper
      // shuffle (one small input file) has nothing to split along, so
      // give the rebalance shuffle the multiple mappers any real corpus
      // has
      .repartition(8)
      .withColumn("k",
        when(pmod(col("event_id"), lit(3L)) =!= 0L, lit(0L))
          .otherwise(col("event_id")))
      .hint("rebalance", col("k"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = queriesAll

  // the registry lives in SparkEntryQueriesA/B (mechanically split at
  // 16.5k lines — round 12); composition asserts the parts stay disjoint
  // so a duplicated key cannot silently shadow an entry
  private lazy val queriesAll: Map[String, (SparkSession, String) => DataFrame] = {
    val parts = Seq(SparkEntryQueriesA.m, SparkEntryQueriesB.m)
    val all = parts.reduce(_ ++ _)
    require(all.size == parts.map(_.size).sum,
      "duplicate query key across SparkEntryQueries* parts")
    all
  }

  /** DuckDB oracle SQL per query (same parquet tables). The driver records
    * a weaker rows-only check for queries omitted here; every omission is
    * INTENTIONAL, each pinned by a deterministic ScalaTest spec instead.
    *
    * Not-SQL-derivable but DETERMINISTIC-on-the-gate-data queries carry
    * PINNED expected-value oracles (measured byte-identical across
    * independent runs) — `SELECT * FROM (VALUES ...)` constants
    * regenerable with tools/pin_oracle.py when testdata changes. A pin is
    * a determinism/regression check, NOT independent verification, so the
    * set is kept minimal and tagged in [[oracleProvenance]] (dumped by
    * Verify as oracle_provenance.json): only the two sketch outputs (q70
    * GK percentiles, q77 HLL registers — engine-internal sketch state)
    * remain pinned. All r9 pins besides those were upgraded to full
    * DuckDB replays in r10: the IVF family (q38/q46/q143) over a fixture
    * coarse quantizer, q25's describe stats derived directly in SQL, and
    * q43's sign-LSH including its splitmix64 hyperplane generator —
    * wrapping 64-bit arithmetic replays in HUGEINT mod 2^64, so "needs
    * wrapping multiply" turned out not to be a blocker.
    *
    * Remaining true omission (exactly one):
    *   - q26_explain: Spark plan text has no SQL equivalent (and pinning
    *     it would break on every legitimate plan improvement).
    * q147/q148 graduated in round 12: the sketch queries now emit a
    * banded-deviation contract (exact quantiles + sketch-guarantee
    * constants — winsorizeApproxBands / robustScaleApproxBands), so the
    * engine-specific cut points never reach the hash and DuckDB verifies
    * them like any other query.
    */
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // The persisted-index queries serve the SAME fixture quantizer and
    // probe config as their inline siblings, so the siblings' independent
    // replays apply VERBATIM — a stored layout that changed the answer
    // would hash-mismatch here (the q150 layout-not-answer contract).
    "q405_ivf_index_persist" -> "q38_ann_ivf",
    "q406_ivfpq_index_persist" -> "q174_ivfpq_adc",
    "q412_nsw_index_persist" -> "q411_nsw_search"
  ).map { case (q, sibling) => q -> oracleSqlBase(sibling) } +
    // the depth-2 tree oracle is GENERATED: 3 nodes x k features of the
    // q246 stump-replay block is mechanical SQL — building it from the
    // same template that names the nodes keeps the replay and the Spark
    // tie-break contract in one place
    ("q407_decision_tree2" -> treeOracle("documents",
      Seq("len" -> "n_chars",
        "ntok" -> ("len(list_filter(string_split_regex(trim(lower(text)), " +
          "'\\s+'), x -> len(x) > 0))")),
      labelSql = "lang = 'en'", nBins = 10)) +
    ("q409_quality_filter_eval" -> treeEvalOracle("documents",
      Seq("len" -> "n_chars",
        "ntok" -> ("len(list_filter(string_split_regex(trim(lower(text)), " +
          "'\\s+'), x -> len(x) > 0))")),
      labelSql = "lang = 'en'",
      trainSql = s"${fnvFoldSql("CAST(doc_id AS VARCHAR)")} % 1024 >= 128",
      nBins = 10)) +
    // Full leak-audit replay: q50's exact pair + recursive-CTE component
    // blocks, the HUGEINT mod-2^64 FNV-1a fold for both split keys (low
    // 10 bits — power-of-two residue, identical signed/unsigned), and the
    // cross-split pair counts under each key.
    ("q408_leak_safe_split" ->
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
           SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, MIN(r) AS component_id FROM reach GROUP BY id),
         fam AS (SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS family
                 FROM (SELECT doc_id FROM documents) d
                 LEFT JOIN comp c ON c.id = d.doc_id),
         sp AS (SELECT doc_id,
             CASE WHEN list_reduce(
                 list_prepend(CAST('14695981039346656037' AS HUGEINT),
                   list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                     ch -> CAST(unicode(ch) AS HUGEINT))),
                 (acc, c) -> (xor(acc, c) * 1099511628211)
                   % CAST('18446744073709551616' AS HUGEINT)) % 1024 < 128
               THEN 'val' ELSE 'train' END AS s_naive,
             CASE WHEN list_reduce(
                 list_prepend(CAST('14695981039346656037' AS HUGEINT),
                   list_transform(string_split(CAST(family AS VARCHAR), ''),
                     ch -> CAST(unicode(ch) AS HUGEINT))),
                 (acc, c) -> (xor(acc, c) * 1099511628211)
                   % CAST('18446744073709551616' AS HUGEINT)) % 1024 < 128
               THEN 'val' ELSE 'train' END AS s_group
           FROM fam),
         agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN s_naive = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val_naive,
             CAST(SUM(CASE WHEN s_group = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val_group
           FROM sp),
         leak AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COALESCE(SUM(CASE WHEN a.s_naive <> b.s_naive THEN 1 ELSE 0 END), 0) AS BIGINT) AS leak_naive,
             CAST(COALESCE(SUM(CASE WHEN a.s_group <> b.s_group THEN 1 ELSE 0 END), 0) AS BIGINT) AS leak_group
           FROM pairs p JOIN sp a ON a.doc_id = p.id_a JOIN sp b ON b.doc_id = p.id_b)
         SELECT agg.n_docs, leak.n_pairs, agg.n_val_naive, agg.n_val_group,
           leak.leak_naive, leak.leak_group
         FROM agg, leak""")

  /** Generated oracle for [[graft.operators.Validation.decisionTree2]]:
    * the full depth-2 training replay — per (node, feature) the rank-rule
    * decile edges of the NODE SUBSET, value-binned class counts, prefix
    * sums, fraction-cleared integer Gini, and the (wg, feature,
    * threshold) argmin; branch membership is re-derived in SQL from the
    * root argmax via a CASE over the feature columns, so feature
    * SELECTION — not just the winning thresholds — is independently
    * verified. Every bin 0..edges-1 is provably non-empty (each edge is a
    * data value attaining its own bin), so the prefix join covers every
    * candidate in both engines.
    */
  /** The portable FNV-1a fold as DuckDB SQL (HUGEINT mod-2^64, per code
    * point) — replays [[graft.plans.TextExprs.fnv64]] exactly; power-of-two
    * residues of the result equal Spark's pmod on the signed long.
    */
  private def fnvFoldSql(valueSql: String): String =
    s"""list_reduce(
         list_prepend(CAST('14695981039346656037' AS HUGEINT),
           list_transform(string_split($valueSql, ''),
             ch -> CAST(unicode(ch) AS HUGEINT))),
         (acc, c) -> (xor(acc, c) * 1099511628211)
           % CAST('18446744073709551616' AS HUGEINT))"""

  private def treeOracle(table: String, feats: Seq[(String, String)],
      labelSql: String, nBins: Int): String = {
    val g = new TreeOracleGen(feats, nBins)
    val featSelects = feats.map { case (n, e) => s"$e AS f_$n" }.mkString(", ")
    def nodeRow(node: String): String =
      s"""SELECT '$node' AS node, b.feature, b.threshold, s.n, s.n_pos,
            s.gini_ppm, b.wg AS weighted_gini_ppm,
            s.gini_ppm - b.wg AS reduction_ppm, b.acc AS acc_ppm,
            b.nl AS n_left, b.lp AS pos_left
          FROM best_$node AS b, stat_$node AS s"""
    s"""WITH base_root AS (${g.cleanBase(featSelects, labelSql, table)}),
      ${g.nodeSql("root")},
      base_left AS (SELECT b.* FROM base_root AS b, best_root
        WHERE (${g.featCase("best_root", "b")}) <= best_root.threshold),
      base_right AS (SELECT b.* FROM base_root AS b, best_root
        WHERE (${g.featCase("best_root", "b")}) > best_root.threshold),
      ${g.nodeSql("left")},
      ${g.nodeSql("right")}
      SELECT * FROM (${nodeRow("root")} UNION ALL ${nodeRow("left")}
        UNION ALL ${nodeRow("right")}) AS t
      ORDER BY node"""
  }

  /** [[treeOracle]]'s held-out sibling ([[graft.operators.Validation
    * .decisionTree2Eval]]): train CTEs over the `trainSql` partition,
    * then replay the leaf predictions (each side's strict majority, ties
    * negative; missing branches LEFT-JOIN to NULL and fall back to the
    * root side's majority) over the validation partition into one
    * confusion row.
    */
  private def treeEvalOracle(table: String, feats: Seq[(String, String)],
      labelSql: String, trainSql: String, nBins: Int): String = {
    val g = new TreeOracleGen(feats, nBins)
    val featSelects = feats.map { case (n, e) => s"$e AS f_$n" }.mkString(", ")
    def majority(b: String, left: Boolean): String =
      if (left) s"(CASE WHEN $b.lp > $b.ln THEN 1 ELSE 0 END)"
      else s"(CASE WHEN $b.rp > $b.rn THEN 1 ELSE 0 END)"
    def branchPred(b: String, rootSide: Boolean): String =
      s"""CASE WHEN $b.feature IS NULL THEN ${majority("br", rootSide)}
            WHEN (${g.featCase(b, "vv")}) <= $b.threshold
              THEN ${majority(b, left = true)}
            ELSE ${majority(b, left = false)} END"""
    s"""WITH base_all AS (${g.cleanBase(featSelects, labelSql, table,
          extraCols = s", ($trainSql) AS is_train")}),
      base_root AS (SELECT * FROM base_all WHERE is_train),
      ${g.nodeSql("root")},
      base_left AS (SELECT b.* FROM base_root AS b, best_root
        WHERE (${g.featCase("best_root", "b")}) <= best_root.threshold),
      base_right AS (SELECT b.* FROM base_root AS b, best_root
        WHERE (${g.featCase("best_root", "b")}) > best_root.threshold),
      ${g.nodeSql("left")},
      ${g.nodeSql("right")},
      vv AS (SELECT * FROM base_all WHERE NOT is_train),
      pv AS (SELECT vv.p,
          CASE WHEN br.feature IS NULL
            THEN (CASE WHEN tt.tp * 2 > tt.n THEN 1 ELSE 0 END)
          WHEN (${g.featCase("br", "vv")}) <= br.threshold
            THEN ${branchPred("bl", rootSide = true)}
            ELSE ${branchPred("bb", rootSide = false)} END AS yhat
        FROM vv CROSS JOIN tt_root AS tt
        LEFT JOIN best_root AS br ON TRUE
        LEFT JOIN best_left AS bl ON TRUE
        LEFT JOIN best_right AS bb ON TRUE),
      conf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_val,
          CAST(COALESCE(SUM(p * yhat), 0) AS BIGINT) AS tp,
          CAST(COALESCE(SUM((1 - p) * yhat), 0) AS BIGINT) AS fp,
          CAST(COALESCE(SUM(p * (1 - yhat)), 0) AS BIGINT) AS fn,
          CAST(COALESCE(SUM((1 - p) * (1 - yhat)), 0) AS BIGINT) AS tn
        FROM pv)
      SELECT (SELECT n FROM tt_root) AS n_train, conf.n_val, conf.tp,
        conf.fp, conf.fn, conf.tn,
        CASE WHEN conf.n_val = 0 THEN 0
          ELSE ((conf.tp + conf.tn) * 1000000) // conf.n_val END AS acc_ppm
      FROM conf"""
  }

  /** The shared per-node CTE blocks of [[treeOracle]] / [[treeEvalOracle]]
    * — one stump-replay block per (node, feature), the cross-feature
    * (wg, feature, threshold) argmin, and the node stats.
    */
  private final class TreeOracleGen(feats: Seq[(String, String)], nBins: Int) {
    def featCase(best: String, rowAlias: String): String =
      feats.map { case (n, _) =>
        s"WHEN $best.feature = '$n' THEN $rowAlias.f_$n"
      }.mkString("CASE ", " ", " END")
    /** The base projection with decisionTree2's na.drop() policy
      * mirrored: the label CASE yields NULL (not 0) on a NULL label, and
      * rows with a NULL feature or label are filtered — Spark and SQL
      * train on the same row set even if a regenerated fixture
      * introduces nulls.
      */
    def cleanBase(featSelects: String, labelSql: String, table: String,
        extraCols: String = ""): String = {
      val notNull = (feats.map { case (n, _) => s"f_$n IS NOT NULL" } :+
        "p IS NOT NULL").mkString(" AND ")
      s"""SELECT * FROM (SELECT $featSelects,
            CASE WHEN $labelSql THEN 1 WHEN NOT ($labelSql) THEN 0 END AS p$extraCols
          FROM $table) AS raw WHERE $notNull"""
    }
    private def block(node: String, f: String): String = s"""
      nn_${node}_$f AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM base_$node),
      rk_${node}_$f AS (SELECT f_$f AS v,
          ((CAST(ROW_NUMBER() OVER (ORDER BY f_$f) AS BIGINT) - 1) * $nBins)
            // nn.nn AS bin
        FROM base_$node, nn_${node}_$f AS nn),
      ed0_${node}_$f AS (SELECT bin, MAX(v) AS e FROM rk_${node}_$f
        WHERE bin < ${nBins - 1} GROUP BY bin),
      ed_${node}_$f AS (SELECT e, ROW_NUMBER() OVER (ORDER BY e) - 1 AS i
        FROM (SELECT DISTINCT e FROM ed0_${node}_$f)),
      bb_${node}_$f AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT)
          FROM ed_${node}_$f ed WHERE b.f_$f > ed.e) AS bin, p
        FROM base_$node b),
      pb_${node}_$f AS (SELECT bin, CAST(SUM(p) AS BIGINT) AS bp,
          CAST(SUM(1 - p) AS BIGINT) AS bn
        FROM bb_${node}_$f GROUP BY bin),
      pre_${node}_$f AS (SELECT bin,
          CAST(SUM(bp) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lp,
          CAST(SUM(bn) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln
        FROM pb_${node}_$f),
      cand_${node}_$f AS (SELECT '$f' AS feature, ed.e AS threshold,
          pre.lp, pre.ln
        FROM pre_${node}_$f pre JOIN ed_${node}_$f ed ON ed.i = pre.bin)"""
    def nodeSql(node: String): String = {
      val blocks = feats.map(f => block(node, f._1)).mkString(",")
      val unioned = feats.map(f => s"SELECT * FROM cand_${node}_${f._1}")
        .mkString(" UNION ALL ")
      s"""
      tt_$node AS (SELECT CAST(COALESCE(SUM(p), 0) AS BIGINT) AS tp,
          CAST(COUNT(*) - COALESCE(SUM(p), 0) AS BIGINT) AS tn,
          CAST(COUNT(*) AS BIGINT) AS n FROM base_$node),
      $blocks,
      sc_$node AS (SELECT feature, threshold, lp, ln,
          tt.tp - lp AS rp, tt.tn - ln AS rn,
          lp + ln AS nl, tt.n - lp - ln AS nr, tt.n AS n
        FROM ($unioned) AS u, tt_$node AS tt),
      w_$node AS (SELECT feature, threshold, lp, ln, rp, rn, nl,
          CAST((CAST(nl AS HUGEINT) *
              (CASE WHEN nl = 0 THEN 0 ELSE 1000000 -
                CAST(((CAST(lp AS HUGEINT) * lp + CAST(ln AS HUGEINT) * ln)
                  * 1000000) // (CAST(nl AS HUGEINT) * nl) AS BIGINT) END)
            + CAST(nr AS HUGEINT) *
              (CASE WHEN nr = 0 THEN 0 ELSE 1000000 -
                CAST(((CAST(rp AS HUGEINT) * rp + CAST(rn AS HUGEINT) * rn)
                  * 1000000) // (CAST(nr AS HUGEINT) * nr) AS BIGINT) END))
            // n AS BIGINT) AS wg,
          ((GREATEST(lp, ln) + GREATEST(rp, rn)) * 1000000) // n AS acc
        FROM sc_$node),
      best_$node AS (SELECT * FROM w_$node
        ORDER BY wg, feature, threshold LIMIT 1),
      stat_$node AS (SELECT n, tp AS n_pos,
          1000000 - CAST(((CAST(tp AS HUGEINT) * tp + CAST(tn AS HUGEINT) * tn)
            * 1000000) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gini_ppm
        FROM tt_$node)"""
    }
  }

  private lazy val oracleSqlBase: Map[String, String] = {
    val parts = Seq(SparkEntryOraclesA.m, SparkEntryOraclesB.m, SparkEntryOraclesC.m)
    val all = parts.reduce(_ ++ _)
    require(all.size == parts.map(_.size).sum,
      "duplicate oracle key across SparkEntryOracles* parts")
    all
  }

  /** Oracle provenance, dumped by Verify as `oracle_provenance.json` so the
    * correctness artifact's readers can tell the two verification tiers
    * apart without reading SQL:
    *
    *   - "pinned": the oracle is a `VALUES` constant regenerated from this
    *     implementation's own output (tools/pin_oracle.py) — a determinism
    *     / regression pin, NOT independent verification. Kept only where a
    *     portable-SQL re-derivation is genuinely impossible; each carries a
    *     ScalaTest spec bounding its semantics independently.
    *   - "no_oracle": no SQL at all (declared in the oracleSql scaladoc).
    *
    * Every query absent from this map has an INDEPENDENT oracle: DuckDB
    * re-derives the expected rows from the raw parquet tables.
    */
  def oracleProvenance: Map[String, String] = Map(
    "q70_approx_percentiles" -> "pinned", // GK sketch internals
    "q77_approx_distinct" -> "pinned", // HLL++ registers
    "q26_explain" -> "no_oracle" // plan text has no SQL equivalent
    // q147/q148 graduated (round 12): their banded-deviation contracts
    // emit only exact-distribution values + sketch-guarantee constants,
    // so DuckDB verifies them independently like any other query.
  )
}
