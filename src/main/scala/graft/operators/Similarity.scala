package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.plans.VectorExprs

/** Approximate/exact nearest-neighbor search over an embedding column
  * (beyond-parity extension, SURVEY.md §7).
  *
  * Design for scale: queries are small (broadcast side); the corpus streams
  * through a single narrow pass. Per-query top-k is computed with a
  * partial-merge bounded-heap Aggregator — each map task reduces its
  * partition to <= k rows per query BEFORE the shuffle, so shuffle volume is
  * O(partitions * q * k), independent of corpus size. (A window row_number
  * would shuffle the full corpus x q score table instead.)
  */
object Similarity {

  case class Scored(id: Long, score: Double)

  /** Bounded top-k by (score desc, id asc) with partial merge — the
    * object-hash-aggregate path: update folds rows into a k-capped buffer
    * on each mapper, merge combines mapper buffers on the reducer.
    */
  class TopKAgg(k: Int) extends Aggregator[Scored, List[Scored], Seq[Scored]] {
    private val ord: Ordering[Scored] =
      Ordering.by((s: Scored) => (-s.score, s.id))
    override def zero: List[Scored] = Nil
    private def trim(b: List[Scored]): List[Scored] = b.sorted(ord).take(k)
    override def reduce(b: List[Scored], a: Scored): List[Scored] = {
      val nb = a :: b
      if (nb.length > k * 4) trim(nb) else nb // amortize the sort
    }
    override def merge(b1: List[Scored], b2: List[Scored]): List[Scored] = trim(b1 ::: b2)
    override def finish(b: List[Scored]): Seq[Scored] = trim(b)
    override def bufferEncoder: Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** Column-level udaf for top-k. The Aggregator's input row (id, score) is
    * passed as two columns — Spark maps them positionally onto [[Scored]].
    */
  def topK(k: Int, id: Column, score: Column): Column = {
    implicit val inEnc: Encoder[Scored] = Encoders.product[Scored]
    udaf(new TopKAgg(k)).apply(id, score)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k corpus
    * vectors with highest cosine (ties broken by ascending id).
    *
    * `queries` is broadcast (it is the small side by construction); the
    * corpus is scanned once; per-query top-k via the partial-merge
    * aggregator. Returns (query_id, neighbor_id, cosine, rank).
    */
  def bruteForceTopK(
      corpus: DataFrame, // columns (id, v)
      queries: DataFrame, // columns (id, v)
      k: Int = 10
  ): DataFrame = {
    // corpus side spread: the all-pairs scoring loop is fused into the
    // corpus scan, and a single-split scan (one parquet row group) would
    // run the whole |corpus| x |queries| cosine sweep on ONE core
    val c = Relational.spread(
      corpus.select(col("id").alias("c_id"), col("v").alias("c_v")))
    val q = queries.select(col("id").alias("q_id"), col("v").alias("q_v"))
    val scored = c
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(
        col("q_id"),
        col("c_id"),
        VectorExprs.cosine(col("q_v"), col("c_v")).alias("score")
      )
    explodeTopK(scored, k)
  }

  /** Shared tail: group scored pairs by query, bounded-heap top-k, explode
    * back to rows with 1-based rank.
    */
  def explodeTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("q_id"))
      .agg(topK(k, col("c_id"), col("score")).alias("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(
        col("q_id").alias("query_id"),
        col("n.id").alias("neighbor_id"),
        col("n.score").alias("cosine"),
        (col("pos") + 1).alias("rank")
      )

  private def toDoubles(s: Seq[Any]): Array[Double] = {
    val out = new Array[Double](s.length)
    var i = 0
    s.foreach { x =>
      out(i) = x match {
        case f: Float   => f.toDouble
        case d: Double  => d
        case n: Number  => n.doubleValue()
        case other      => throw new IllegalArgumentException(s"non-numeric element $other")
      }
      i += 1
    }
    out
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spherical k-means centroids from a bounded, deterministic corpus sample.
    *
    * The sample is the `sampleSize` rows with smallest `xxhash64(id)` — a
    * uniform pseudo-random draw that is reproducible across runs and
    * independent of partitioning, fetched with a distributed TakeOrdered
    * (never a full collect). Lloyd iterations then run driver-side on the
    * sample: k-means++ seeding (seeded RNG, deterministic), assign to the
    * max-cosine centroid, re-mean + renormalize, empty cells reseeded from
    * the worst-covered point. O(sampleSize * nlist * dims * iters) driver
    * work on <= a few thousand vectors — negligible next to one corpus scan.
    * (At 100 TB the same sample bound holds: centroid quality depends on
    * sample size, not corpus size. Spark MLlib's KMeans could substitute,
    * but it optimizes Euclidean distance and brings RDD caching overhead for
    * a job this small.)
    */
  def kmeansCentroids(
      corpus: DataFrame,
      nlist: Int,
      sampleSize: Int = 2048,
      iters: Int = 20,
      seed: Long = 42L
  ): Array[Array[Double]] = {
    val sample = corpus
      .select(col("id"), col("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleSize)
      .collect()
      .map(r => normalize(toDoubles(r.getSeq[Any](1))))
      .filter(v => v.exists(_ != 0.0))
    require(sample.nonEmpty, "kmeansCentroids: empty corpus")
    val kEff = math.min(nlist, sample.length)
    val rng = new scala.util.Random(seed)

    // k-means++ seeding on cosine distance (1 - dot of unit vectors)
    val cents = new Array[Array[Double]](kEff)
    cents(0) = sample(rng.nextInt(sample.length)).clone()
    val minDist = sample.map(v => 1.0 - dot(v, cents(0)))
    var c = 1
    while (c < kEff) {
      val total = minDist.sum
      var pick = if (total > 0) rng.nextDouble() * total else 0.0
      var idx = 0
      while (idx < sample.length - 1 && { pick -= minDist(idx); pick > 0 }) idx += 1
      cents(c) = sample(idx).clone()
      var i = 0
      while (i < sample.length) {
        val d = 1.0 - dot(sample(i), cents(c))
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
      c += 1
    }

    var it = 0
    while (it < iters) {
      val assign = sample.map { v =>
        var best = 0; var bestDot = dot(v, cents(0)); var j = 1
        while (j < kEff) {
          val d = dot(v, cents(j))
          if (d > bestDot) { bestDot = d; best = j }
          j += 1
        }
        best
      }
      val dims = sample(0).length
      val sums = Array.fill(kEff)(new Array[Double](dims))
      val counts = new Array[Int](kEff)
      var i = 0
      while (i < sample.length) {
        val a = assign(i); counts(a) += 1
        val v = sample(i); var d = 0
        while (d < dims) { sums(a)(d) += v(d); d += 1 }
        i += 1
      }
      var j = 0
      while (j < kEff) {
        if (counts(j) > 0) cents(j) = normalize(sums(j))
        else {
          // empty cell: reseed from the point worst covered by its centroid
          val worst = sample.indices.minBy(i => dot(sample(i), cents(assign(i))))
          cents(j) = sample(worst).clone()
        }
        j += 1
      }
      it += 1
    }
    cents
  }

  /** IVF-style ANN: corpus is pre-partitioned into `nlist` cells by nearest
    * centroid; a query probes only its `nprobe` closest cells. Centroids are
    * spherical k-means over a deterministic bounded sample
    * ([[kmeansCentroids]]). Recall < 1 for nprobe < nlist, cost ~
    * nprobe/nlist of brute force; **nprobe >= nlist probes every cell and is
    * exactly brute force** (each (query, corpus) pair scored once) — the
    * oracle-checkable configuration.
    *
    * At 100 TB the cell assignment is the expensive pass (one scan, then
    * write bucketed by cell); queries touch only matching cells — this is
    * the parquet-partition-pruning pattern applied to vector search.
    *
    * `broadcastQueries` (default true) fits the common shape — a small
    * query set probing a huge corpus. For CORPUS-SIZED query sets (all-pairs
    * kNN, mutual-kNN graph construction) pass false: both sides then
    * hash-partition on `cell` and the probe join is a shuffled equi-join —
    * no side is ever collected to one JVM, which is what makes all-pairs
    * kNN survive a corpus that doesn't fit in a single executor
    * (brute-force all-pairs broadcasts the whole corpus and OOMs there).
    *
    * `centroids` (columns `cell`, `cv`), when given, replaces the k-means
    * seeding with a caller-supplied coarse quantizer — the production use
    * is a PRE-TRAINED codebook reused across incremental corpus batches
    * (retraining per batch would move every cell boundary and invalidate
    * the bucketed layout); the verification use is a fixture quantizer
    * whose cells an external engine can re-derive, making the whole
    * pruned-probe path independently replayable (q38/q46/q143's oracles).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      nlist: Int = 16,
      nprobe: Int = 4,
      k: Int = 10,
      broadcastQueries: Boolean = true,
      centroids: Option[DataFrame] = None
  ): DataFrame = {
    val centDf = centroids.getOrElse(trainCentroidsDf(corpus, nlist))
    val cCells = ivfAssignCells(corpus.select(col("id"), col("v")), centDf, "v", 1)
      .select(col("id").alias("c_id"), col("v").alias("c_v"), col("cell"))
    ivfProbe(cCells, centDf, queries, nlist, nprobe, k, broadcastQueries)
  }

  /** [[kmeansCentroids]] lifted to the (cell, cv) frame every IVF entry
    * point consumes.
    */
  private def trainCentroidsDf(corpus: DataFrame, nlist: Int): DataFrame = {
    val cents = kmeansCentroids(corpus, nlist).zipWithIndex.map { case (v, i) => (i, v) }
    corpus.sparkSession
      .createDataFrame(cents.toSeq.map { case (i, v) => (i, v) }).toDF("cell", "cv")
  }

  /** Top-n cell assignment against a broadcast centroid frame — shared by
    * the inline build, the persisted-index build, and the probe side.
    */
  private def ivfAssignCells(df: DataFrame, centDf: DataFrame, vcol: String,
      n: Int): DataFrame = {
    // score against every centroid (broadcast — nlist is tiny), keep top-n cells
    // (spread: the nlist-way scoring sweep is fused into the input scan —
    // single-split inputs would assign the whole corpus on one core)
    val scored = Relational.spread(df)
      .crossJoin(broadcast(centDf))
      .select(df.columns.map(col) :+ col("cell") :+ VectorExprs.cosine(col(vcol), col("cv")).alias("cscore"): _*)
    if (n == 1) {
      // argmax by (cscore desc, cell asc) as a hash aggregate: partial
      // map-side combine means the shuffle carries one row per id, not the
      // id x nlist scored table a window row_number would sort — this is
      // the corpus-side path, the one that sees 100% of the data.
      scored
        .groupBy(col("id"))
        .agg(
          max_by(col("cell"), struct(col("cscore"), -col("cell").cast("double"))).alias("cell"),
          first(col(vcol)).alias(vcol))
        .select(col("id"), col(vcol), col("cell"))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
        .orderBy(col("cscore").desc, col("cell"))
      scored.withColumn("crank", row_number().over(w)).filter(col("crank") <= n).drop("cv", "cscore", "crank")
    }
  }

  /** The probe half of IVF: select each query's nprobe cells, equi-join
    * against the cell-assigned corpus, exact cosine, top-k. `cCells` is
    * (c_id, c_v, cell) from either the inline assignment ([[ivfTopK]]) or
    * a persisted index ([[ivfTopKIndexed]]).
    */
  private def ivfProbe(cCells: DataFrame, centDf: DataFrame,
      queries: DataFrame, nlist: Int, nprobe: Int, k: Int,
      broadcastQueries: Boolean): DataFrame = {
    // nprobe >= nlist probes everything: skip the per-centroid scoring and
    // pair each query with every cell directly — exhaustive, equals brute
    // force (this is the exact, oracle-checkable configuration).
    val qCells =
      if (nprobe >= nlist)
        queries.select(col("id").alias("q_id"), col("v").alias("q_v"))
          .crossJoin(broadcast(centDf.select(col("cell"))))
      else
        ivfAssignCells(queries.select(col("id"), col("v")), centDf, "v", nprobe)
          .select(col("id").alias("q_id"), col("v").alias("q_v"), col("cell"))

    // Non-broadcast (corpus-sized query set, e.g. all-pairs kNN / graph
    // build): pin BOTH join inputs' partitioning on the join key at full
    // parallelism. The join's inputs are megabytes but its output is
    // Σ probed-cell × query volume — AQE coalesces post-shuffle partitions
    // by INPUT bytes and would collapse the exploding join onto a few
    // tasks (the q304 sparseCosineStage hazard, r12 "Not yet optimized"
    // list). A user repartition keyed on `cell` is exempt from coalescing
    // and both sides share the one exchange shape.
    val (buildSide, probeSide) =
      if (broadcastQueries) (cCells, broadcast(qCells))
      else (Relational.spreadBy(cCells, col("cell")),
        Relational.spreadBy(qCells, col("cell")))
    val scored = buildSide
      .join(probeSide, Seq("cell"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), VectorExprs.cosine(col("q_v"), col("c_v")).alias("score"))
    explodeTopK(scored, k)
  }

  /** Persist an IVF index: build once, serve many — the 100 TB serving
    * shape (a pipeline that rebuilds centroids and re-assigns the corpus
    * per query burns a full corpus scan each time; a persisted index pays
    * it once). Layout:
    *   - `path/centroids`: (cell, cv) — the coarse quantizer, tiny;
    *   - `path/cells`: (id, v) PARTITIONED BY cell — each cell is its own
    *     parquet directory, so a pruned probe reads ONLY the probed cells
    *     (partition pruning applied to vector search; with a broadcast
    *     query side the cell filter reaches the scan as dynamic partition
    *     pruning).
    * Pass `centroids` to persist a pre-trained/fixture quantizer.
    */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      centroids: Option[DataFrame] = None): Unit = {
    val centDf = centroids.getOrElse(trainCentroidsDf(corpus, nlist))
    centDf.write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssignCells(corpus.select(col("id"), col("v")), centDf, "v", 1)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Serve top-k from a persisted IVF index ([[writeIvfIndex]] layout):
    * no centroid training, no corpus assignment — the only corpus-sized
    * work is the probe join against the pre-partitioned cells, and with
    * nprobe < nlist only the probed cell directories are read. Answers
    * hash-match the inline [[ivfTopK]] at the same quantizer by
    * construction (same probe half, same exact cosine, same top-k ties).
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, nprobe: Int, k: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val centDf = spark.read.parquet(s"$path/centroids")
    val nlist = centDf.count().toInt // tiny frame: one cheap driver count
    val cCells = spark.read.parquet(s"$path/cells")
      .select(col("id").alias("c_id"), col("v").alias("c_v"), col("cell"))
    ivfProbe(cCells, centDf, queries, nlist, nprobe, k, broadcastQueries)
  }

  /** Deterministic kNN-graph construction — the BUILD half of the graph
    * ANN tier (the NSW/HNSW family, restricted to one layer so every step
    * is an exact, engine-replayable contract). Each node's out-edges are
    * its top-`degree` neighbors by exact cosine among the candidates in
    * its `nprobe` nearest IVF cells, ordered (score desc, id asc) — i.e.
    * [[ivfTopK]] with the corpus on BOTH sides and `broadcastQueries =
    * false` (the query side is corpus-sized; broadcasting it would be the
    * exact mistake the IVF layout exists to avoid). With a re-derivable
    * quantizer (e.g. the q38 first-16-vectors fixture) the whole graph
    * replays as plain SQL.
    *
    * Scale shape: candidate generation is the cell-partitioned equi-join
    * (Σ per-node probed-cell sizes, never corpus²); the top-degree cut is
    * a partial-aggregating [[explodeTopK]]. Returns (src, dst, score,
    * rank) — directed; navigational consumers symmetrize (see
    * [[nswGreedySearch]]).
    */
  def nswBuildGraph(corpus: DataFrame, centroids: DataFrame, nprobe: Int,
      degree: Int): DataFrame = {
    val nlist = centroids.count().toInt // tiny frame: one cheap driver count
    ivfTopK(corpus, corpus, nlist = nlist, nprobe = nprobe, k = degree,
        broadcastQueries = false, centroids = Some(centroids))
      .select(col("query_id").alias("src"), col("neighbor_id").alias("dst"),
        col("cosine").alias("score"), col("rank"))
  }

  /** Greedy beam search over a kNN graph — the SERVE half of the graph
    * ANN tier, restricted to a FIXED hop count so the walk is an exact
    * engine-replayable contract rather than a convergence loop (the same
    * design rule that made q216's Hilbert recurrence and q230's k-center
    * rounds oracle-able: unroll, don't iterate-to-fixpoint).
    *
    * Semantics: the graph is symmetrized (edges ∪ reversed — NSW
    * navigability needs in-edges walkable), the entry point is the
    * smallest node id, and each hop expands the current beam's
    * out-neighbors, scores them against the query, and keeps the top-`ef`
    * of (beam ∪ frontier) by (raw score desc, id asc) — raw-score
    * ordering is engine-equal (q38 precedent: DuckDB
    * list_cosine_similarity ranks hash-match [[graft.plans.VectorExprs]]
    * cosine). After `hops` rounds the per-query top-`k` (self excluded)
    * is returned as (query_id, neighbor_id, cosine round-6, rank).
    *
    * Scale shape: per hop, the beam (|queries| × ef rows) broadcast-joins
    * the edge list and the frontier joins the vector table by id — the
    * corpus is touched only through those equi-joins, never scanned per
    * query; scores ride the beam so nothing is re-scored. The symmetrized
    * edge list is materialized ONCE and each hop's beam truncates its
    * lineage ([[Iterative]] house rule): without that, hop h's plan embeds
    * hop h−1 twice (frontier + union) — 2^hops plan copies, each
    * re-executing the graph build — and the driver chokes on plan trees
    * long before the data is big. `checkpointDir` selects the truncation
    * mode (None = localCheckpoint; Some(dir) = reliable checkpoint for
    * long cluster runs — the [[Iterative]] contract).
    */
  def nswGreedySearch(edges: DataFrame, vectors: DataFrame,
      queries: DataFrame, hops: Int, ef: Int, k: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(hops >= 1 && hops <= 8, s"hops must be 1..8 (unrolled plan), got $hops")
    require(ef >= k, s"ef ($ef) must be >= k ($k)")
    // one-scan symmetrize (Relational.bothDirections): the union form
    // executed the graph build twice per materialization — `edges` is
    // nswBuildGraph's corpus-sized ivfTopK in the q411/q414 callers
    val undirected = Iterative.truncate(
      Relational.bothDirections(edges.select(col("src"), col("dst")),
          "src", "dst")
        .distinct(), checkpointDir)
    val entry = undirected.agg(min(col("src")).cast("long")).collect()(0).getLong(0)
    val vecs = vectors.select(col("id").alias("n_id"), col("v").alias("n_v"))
    val qv = queries.select(col("id").alias("q_id"), col("v").alias("q_v"))
    def score(cand: DataFrame): DataFrame =
      cand.join(vecs, "n_id").join(broadcast(qv), "q_id")
        .select(col("q_id"), col("n_id"),
          VectorExprs.cosine(col("q_v"), col("n_v")).alias("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
    // LAZY truncation for the hop pipeline: the loop is a fixed unroll with
    // no per-round driver decision, so each hop's localCheckpoint still
    // truncates the logical plan (no 2^hops tree) but execution composes
    // into the consumer's one job instead of paying a materialization job
    // per hop — measured on q411 (5 hops, 10-query beam): 4.3 s of
    // driver-side eager-round build dropped to the composed exec cost. The
    // beam is referenced twice per hop (union + frontier); within the one
    // composed execution the second reference recomputes only the tail of
    // the hop's final shuffle stage, which is ef×|queries| rows.
    // (A fully untruncated unroll was ALSO measured — one 2^hops plan,
    // relying on exchange reuse to dedup the doubled beam references: 6.4 s
    // vs 4.0 s here. The reuse does not dedup across the union/frontier
    // copies, so execution re-runs hop tails; per-hop lazy truncation wins.)
    var beam = Iterative.truncate(
      score(qv.select(col("q_id")).withColumn("n_id", lit(entry))), checkpointDir,
      eager = false)
    (1 to hops).foreach { _ =>
      val frontier = broadcast(beam.select(col("q_id"), col("n_id")))
        .join(undirected, col("n_id") === col("src"))
        .select(col("q_id"), col("dst").alias("n_id"))
        .distinct()
      // scores are pure functions of (q, n): the beam already carries its
      // own, so only the frontier pays the vector join; max() is just the
      // dedup when a frontier node re-finds a beam member
      beam = Iterative.truncate(
        beam.union(score(frontier))
          .groupBy(col("q_id"), col("n_id")).agg(max(col("score")).alias("score"))
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= ef)
          .drop("__rn"), checkpointDir, eager = false)
    }
    beam.filter(col("n_id") =!= col("q_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id").alias("query_id"), col("n_id").alias("neighbor_id"),
        round(col("score"), 6).alias("cosine"), col("rank"))
  }

  /** Persist a kNN graph index: [[nswBuildGraph]] edges plus the vector
    * table (search needs both — edges to walk, vectors to score). Build
    * once / serve many, the q405 layout contract for the graph tier: a
    * stored layout that changed the ANSWER would hash-fail the serve
    * query against the inline oracle.
    */
  def writeNswIndex(edges: DataFrame, vectors: DataFrame, path: String): Unit = {
    edges.write.mode("overwrite").parquet(s"$path/edges")
    vectors.select(col("id"), col("v")).write.mode("overwrite")
      .parquet(s"$path/vectors")
  }

  /** Serve [[nswGreedySearch]] from a persisted [[writeNswIndex]] layout:
    * no graph build, no corpus assignment — the per-query cost is the
    * fixed hop pipeline over the stored edge list.
    */
  def nswSearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, hops: Int, ef: Int, k: Int,
      checkpointDir: Option[String] = None): DataFrame =
    nswGreedySearch(spark.read.parquet(s"$path/edges"),
      spark.read.parquet(s"$path/vectors"), queries, hops, ef, k, checkpointDir)

  /** Persist the IVFADC quantizer pair — coarse centroids (cid, cv) and
    * PQ residual codebooks (sub, cid, cv) — the [[ivfPqAdcTopK]] serving
    * state. Codebook training is the expensive once-per-corpus step; the
    * per-query cost with a stored quantizer is only the LUT build + the
    * probed-cell ADC scan.
    */
  def writePqIndex(centroids: DataFrame, codebooks: DataFrame,
      path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Reload [[writePqIndex]] state: (centroids, codebooks). */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codebooks"))

  /** Assign every corpus vector to its nearest centroid by squared L2
    * distance (ties broken by ascending centroid id) — the clustering /
    * partition-labeling primitive (IVF cell assignment, k-means E-step,
    * corpus sharding by semantic cluster).
    *
    * `centroids` (columns `cid`, `cv`) is broadcast — centroid sets are
    * small by construction. The argmin is a map-side-combining hash
    * aggregate (`min` over a (dist, cid) struct), so the shuffle carries one
    * row per vector, never the vectors x centroids scored table.
    * Returns (id, cid, dist_sq).
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = corpus.select(col("id"), col("v"))
      .crossJoin(broadcast(centroids.select(col("cid"), col("cv"))))
      .select(col("id"),
        struct(VectorExprs.l2DistSq(col("v"), col("cv")).alias("d"),
          col("cid").alias("cid")).alias("sc"))
    scored.groupBy(col("id"))
      .agg(min(col("sc")).alias("best"))
      .select(col("id"), col("best.cid").alias("cid"), col("best.d").alias("dist_sq"))
  }

  /** One EXACT distributed Lloyd iteration: assign every corpus vector to
    * its nearest centroid ([[assignToCentroids]] — l2, ties to the lower
    * cid), then recompute each centroid as the per-dimension mean of its
    * members. Output in LONG format (cid, dim 1-based, c, n_members) —
    * array columns don't survive cross-engine hash comparison, and the
    * long shape is what the oracle replays.
    *
    * Exactness: per-dimension sums are DECIMAL (order-independent,
    * engine-independent), cast to double only for the final mean — so this
    * is the hash-matchable sibling of [[kmeansCentroids]]'s sampled
    * driver-side loop. Scale shape: the explode produces d rows per
    * vector, but partial aggregation collapses them to k x d per partition
    * before the shuffle; the broadcast assignment never shuffles the
    * corpus. Empty clusters simply emit no rows (the caller keeps the old
    * centroid or re-seeds).
    */
  def kmeansLloydStep(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids).select(col("id"), col("cid"))
    corpus.select(col("id"), col("v")).join(assigned, "id")
      .select(col("cid"), posexplode(col("v")).as(Seq("dim0", "x")))
      .groupBy(col("cid"), col("dim0"))
      .agg(
        sum(col("x").cast("double").cast(org.apache.spark.sql.types.DecimalType(30, 12)))
          .alias("sx"),
        count(lit(1)).alias("n_members"))
      .select(col("cid"), (col("dim0") + 1).cast("long").alias("dim"),
        (col("sx").cast("double") / col("n_members")).alias("c"),
        col("n_members"))
  }

  /** `iters` Lloyd iterations from `init` (cid, cv): each round runs
    * [[kmeansLloydStep]] and re-forms the (cid, cv) centroid frame. The
    * k x d centroid table is collected to the driver between rounds and
    * re-broadcast — bounded state, the same structure MLlib's KMeans uses
    * (centroids are driver state; only assignments are distributed).
    */
  def kmeansFit(corpus: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val spark = corpus.sparkSession
    var cents = init.select(col("cid"), col("cv"))
    var i = 0
    while (i < iters) {
      val stepped = kmeansLloydStep(corpus, cents)
        .groupBy(col("cid").cast("long").alias("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          s => s("c")).alias("cv"))
      // k x d doubles: bounded driver state, re-broadcast next round
      val rows = stepped.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      cents = spark.createDataFrame(rows.toSeq).toDF("cid", "cv")
      i += 1
    }
    cents
  }

  /** Power iteration for the dominant principal DIRECTION of an embedding
    * corpus (PCA's first axis, uncentered — the Gram-matrix eigenvector):
    * w ← Σ_i x_i·(x_i·w), max-abs-normalized to scaled integers each
    * round. The anisotropy probe: embedding sets collapse toward a
    * dominant direction ("common-token" axes), and downstream cosine
    * retrieval improves when it is removed — this computes the axis to
    * remove, at scale, with an EXACTLY replayable output: dots are q79's
    * left-associated IEEE folds, every per-(row, dim) term is floor()ed
    * to a 1e-6-scaled integer BEFORE summation (floor is bit-identical
    * cross-engine where double→int casts are not), sums are DECIMAL, and
    * the normalization is the sign-split integer division. The 1e-6 term
    * quantization perturbs the iterate far less than one round of power
    * iteration corrects, and determinism is what makes the output a
    * contract rather than a sample.
    *
    * Returns (dim, v): the direction after `rounds` rounds, components in
    * [-1e6, 1e6] with max |v| pinned at 1e6.
    *
    * Scale shape per round: one narrow dot-product projection, one
    * posexplode collapsed by partial aggregation to `dim` rows, a
    * dim-sized driver collect (the kmeans-centroid precedent) — the
    * corpus never shuffles.
    */
  def powerIteration(corpus: DataFrame, dim: Int, rounds: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = corpus.sparkSession
    import spark.implicits._
    var w = Array.fill(dim)(1000000L)
    var r = 0
    while (r < rounds) {
      val wcol = typedLit(w.toSeq)
      val dot = aggregate(
        zip_with(col("v"), wcol, (x, wv) => x.cast("double") * wv.cast("double")),
        lit(0.0), (a, x) => a + x)
      val sums = corpus.select(col("v"), dot.alias("dt"))
        .select(posexplode(col("v")).as(Seq("dim0", "x")), col("dt"))
        .select(col("dim0"),
          floor(col("x").cast("double") * col("dt") * lit(1000000.0))
            .cast("long").alias("q"))
        .groupBy(col("dim0"))
        .agg(sum(col("q").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .alias("s"))
        .orderBy("dim0").collect()
        .map(row => BigInt(row.getDecimal(1).toBigInteger))
      val maxabs = sums.map(_.abs).max
      w =
        if (maxabs == 0) Array.fill(dim)(0L)
        else sums.map { s =>
          if (s.signum >= 0) ((s * 1000000) / maxabs).toLong
          else -(((-s) * 1000000) / maxabs).toLong
        }.toArray
      r += 1
    }
    w.zipWithIndex.map { case (v, d) => (d.toLong, v) }.toSeq.toDF("dim", "v")
  }

  /** Cluster purity against ground-truth labels: assign every vector to
    * its nearest centroid ([[assignToCentroids]] — l2, ties to the lower
    * cid), then per cluster report the majority label and its share; the
    * global purity Σ majority-count / n in floor ppm is the one-number
    * "do embedding clusters recover the labels" check (NMI's logs fail
    * the no-log rule; purity is integer-exact and the standard quick
    * read). `corpus` carries (id, v, label).
    *
    * Returns one row per non-empty cluster (cid, n, top_label, top_n,
    * purity_ppm — the global purity on every row). Majority ties break to
    * the smaller label via the min-struct argmax.
    *
    * Scale shape: broadcast centroid assignment (one row per vector
    * through the shuffle), a (cid, label) partial-agg groupBy, a
    * cluster-sized argmax, a 1-row broadcast.
    */
  def clusterPurity(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val a = assignToCentroids(corpus.select(col("id"), col("v")), centroids)
      .select(col("id"), col("cid"))
    val cell = corpus.select(col("id"), col("label")).join(a, "id")
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).alias("n"))
    val top = cell.groupBy(col("cid")).agg(
        sum(col("n")).alias("n"),
        min(struct((-col("n")).alias("nn"), col("label").alias("lbl"))).alias("m"))
      .select(col("cid"), col("n"), col("m.lbl").alias("top_label"),
        (-col("m.nn")).alias("top_n"))
    val g = top.agg(expr("(sum(top_n) * 1000000L) DIV sum(n)").alias("purity_ppm"))
    top.crossJoin(broadcast(g))
      .select(col("cid"), col("n"), col("top_label"), col("top_n"),
        col("purity_ppm"))
  }

  /** Greedy k-center selection (Gonzalez farthest-first traversal): from
    * the deterministic seed (smallest id), repeatedly pick the point
    * FARTHEST from everything chosen so far — the classic 2-approximation
    * of the k-center cover, and the diversity-sampling workhorse for
    * training-data selection (coreset seeding, eval-set spread, annotation
    * budgeting): k rounds buy the k most mutually-spread exemplars, and
    * the picked distance sequence is the coverage-radius curve.
    *
    * Returns (rank, id, dist_sq): rank is 1-based pick order, dist_sq the
    * point's squared L2 distance to the previously-chosen set at pick time
    * (0.0 for the seed; the sequence is non-increasing — each value bounds
    * the cover radius of the prefix). Ties break to the smaller id.
    * Distances are the same left-associated IEEE double sums as
    * [[kmeansLloydStep]] (q79), so every pick — and the whole output —
    * replays bit-for-bit cross-engine.
    *
    * Scale shape: per round, ONE broadcast of the single new center row,
    * one narrow min-dist update over the corpus (`least` keeps one double
    * per row — the k×n score table never materializes), and one
    * partial-agg argmax (`max` over a (dist, -id) struct) collecting ONE
    * row of driver state ([[kmeansFit]] precedent); lineage truncated per
    * round ([[Iterative.truncate]], reliable `checkpointDir` opt-in).
    */
  def kCenterSelect(corpus: DataFrame, k: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col("id").cast("long").alias("id"), col("v"))
    val seed = base.agg(min(col("id"))).collect()(0).getLong(0)
    var picked = List((1L, seed, 0.0))
    // running min squared distance to the chosen set, updated per round
    var state = Iterative.truncate(
      base.crossJoin(broadcast(base.filter(col("id") === seed).select(
          col("v").alias("cv"))))
        .select(col("id"), col("v"),
          VectorExprs.l2DistSq(col("v"), col("cv")).alias("md")),
      checkpointDir)
    var r = 2
    while (r <= k) {
      val top = state.agg(
        max(struct(col("md").alias("d"), (-col("id")).alias("ni")))).collect()(0)
        .getStruct(0)
      val (d, cid) = (top.getDouble(0), -top.getLong(1))
      picked ::= ((r.toLong, cid, d))
      if (r < k) {
        state = Iterative.truncate(
          state.crossJoin(broadcast(state.filter(col("id") === cid).select(
              col("v").alias("cv"))))
            .select(col("id"), col("v"),
              least(col("md"),
                VectorExprs.l2DistSq(col("v"), col("cv"))).alias("md")),
          checkpointDir)
      }
      r += 1
    }
    picked.reverse.toDF("rank", "id", "dist_sq")
  }

  /** Recall@k of an approximate top-k result against the exact one (both in
    * [[explodeTopK]]'s output shape): per query, the fraction of exact
    * neighbors the approximate search recovered. This is how an ANN
    * configuration's quality is MEASURED rather than asserted — run it on a
    * sample of queries whenever nlist/nprobe change.
    */
  /** Contrastive-training pair mining: for each query, its top-kPos
    * neighbors labeled `positive` and the next kNeg (ranks kPos+1 ..
    * kPos+kNeg) labeled `hard_negative` — the "semi-hard" band that
    * contrastive losses learn most from (close enough to be confusable,
    * not actual matches). One kNN pass produces both roles.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      kPos: Int, kNeg: Int): DataFrame = {
    require(kPos > 0 && kNeg > 0, s"kPos and kNeg must be positive, got $kPos/$kNeg")
    bruteForceTopK(corpus, queries, kPos + kNeg)
      .withColumn("role",
        when(col("rank") <= kPos, lit("positive")).otherwise(lit("hard_negative")))
  }

  /** Mutual (reciprocal) nearest-neighbor pairs from a kNN result frame
    * ((query_id, neighbor_id, cosine, rank) — [[bruteForceTopK]] /
    * [[ivfTopK]] output): keep (a, b) iff b is in a's top-k AND a is in
    * b's top-k. The standard symmetric-graph construction for
    * embedding-space clustering — mutuality prunes hub vectors that appear
    * in everyone's top-k without reciprocating.
    *
    * Returns (id_a, id_b, rank_ab, rank_ba) with id_a < id_b — one row
    * per mutual pair. One self-equi-join on the (already small) kNN frame;
    * the expensive part is producing the kNN, not this.
    */
  def mutualPairs(knn: DataFrame): DataFrame = {
    // NOT persisted: both orientations reference the kNN frame, but
    // Catalyst's ReuseExchange already shares the aggregation's shuffle
    // between them — an explicit cache was MEASURED SLOWER on the q117
    // bench (5.5 s vs 4.6 s: serialization cost, no recompute saved).
    val fwd = knn.select(col("query_id").alias("id_a"),
      col("neighbor_id").alias("id_b"), col("rank").alias("rank_ab"))
    val rev = knn.select(col("neighbor_id").alias("id_a"),
      col("query_id").alias("id_b"), col("rank").alias("rank_ba"))
    fwd.join(rev, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        col("rank_ab").cast("long").alias("rank_ab"),
        col("rank_ba").cast("long").alias("rank_ba"))
  }

  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val tot = e.groupBy(col("query_id")).agg(count(lit(1)).alias("n_exact"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).alias("n_hit"))
    tot.join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact")).alias("recall"))
  }

  /** Product-quantization encode (Jégou et al., PAMI 2011): each vector is
    * split into `m` contiguous `subDims`-wide subvectors, and subvector `j`
    * is replaced by the id of its nearest centroid in subspace `j`'s
    * codebook (l2, ties to the lower cid) — compressing a d-dim float
    * vector to m small integers, the memory layout that lets a 100 TB
    * embedding corpus fit an in-RAM ANN index.
    *
    * `codebooks` has one row per (sub, cid, cv), cv of length `subDims`.
    * Output long-format (id, sub, code, dist_sq) — arrays don't survive
    * cross-engine hash comparison, and the quantization error per subspace
    * is the quality signal worth keeping.
    *
    * Scale shape: the codebook (m x k subvectors) broadcasts; the corpus
    * explodes to m narrow rows per vector, the argmin is a map-side
    * `min(struct(d, cid))` partial aggregate — one shuffle of (id, sub,
    * best) triples, no window, corpus scanned once.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int,
      subDims: Int): DataFrame = {
    require(m > 0 && subDims > 0, s"m and subDims must be positive, got $m/$subDims")
    val subs = corpus.select(col("id"),
        explode(sequence(lit(0), lit(m - 1))).alias("sub"), col("v"))
      .select(col("id"), col("sub"),
        slice(col("v"), col("sub") * subDims + 1, lit(subDims)).alias("sv"))
    subs.join(broadcast(codebooks.select(col("sub"), col("cid"), col("cv"))), "sub")
      .select(col("id"), col("sub"),
        struct(VectorExprs.l2DistSq(col("sv"), col("cv")).alias("d"),
          col("cid").alias("cid")).alias("sc"))
      .groupBy(col("id"), col("sub"))
      .agg(min(col("sc")).alias("best"))
      .select(col("id"), col("sub").cast("long").alias("sub"),
        col("best.cid").alias("code"), col("best.d").alias("dist_sq"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * full-precision, each corpus vector is its m codes, and the
    * approximate distance is the sum over subspaces of
    * l2(query subvector, centroid[code]) — m lookups per corpus vector
    * into a per-query table of m x k precomputed distances.
    *
    * `codes` is [[pqEncode]] output (id, sub, code); `queries` is (id, v)
    * full-dim. Returns (query_id, neighbor_id, adist, rank), rank 1-based
    * by (adist asc, neighbor_id asc).
    *
    * Scale shape: the LUT is queries x m x k rows — tiny — and broadcasts;
    * the codes table streams through one equi-join (no vector arithmetic
    * per pair, just the lookup), and per-query top-k uses the bounded-heap
    * partial-merge aggregator, so shuffle volume is O(partitions * q * k).
    * Subspace distances are summed as DECIMAL (order-independent) and
    * surfaced as double.
    */
  /** Mean-pool vectors per group with L2 normalization — the
    * chunk-embeddings -> document-embedding reduction every retrieval
    * pipeline runs after chunk-level encoding. Per-dimension means are
    * DECIMAL-exact (order-independent across partitions), the norm is one
    * correctly-rounded sqrt, and normalization is one IEEE division per
    * element — so the pooled vectors replay bit-for-bit in SQL.
    *
    * Returns (gid, v_pooled array<double>, l2_norm); zero-norm groups keep
    * the zero vector (normalized output is the caller's division — they
    * may want to drop or keep zeros).
    *
    * Scale shape: one partial-aggregated groupBy over (gid, dim) — rows =
    * groups x dims, narrow — then one groupBy gid to re-assemble the
    * array (collect_list bounded by dims).
    */
  def meanPoolVectors(df: DataFrame, group: Column, vec: Column): DataFrame = {
    val dims = df.select(group.alias("gid"),
        posexplode(vec.cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("gid"), col("dim"))
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 12)))
        .cast("double") / count(lit(1))).alias("m"))
    dims.groupBy(col("gid"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s("m")).alias("v_pooled"))
      .withColumn("l2_norm",
        sqrt(aggregate(col("v_pooled"), lit(0.0), (acc, x) => acc + x * x)))
  }

  /** IVF-PQ ADC top-k — IVFADC (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"), the production-scale ANN
    * memory layout: a coarse quantizer assigns every vector to a cell,
    * PQ encodes each vector's RESIDUAL (v - centroid) — residuals are
    * smaller than raw vectors, so the same codebook budget quantizes
    * finer — and a query scans only its `nprobe` nearest cells with a
    * per-(query, cell) asymmetric LUT.
    *
    * `centroids` (cid, cv full-dim) and `codebooks` (sub, cid, cv over
    * residual subvectors) are caller state: [[kmeansCentroids]] +
    * residual-trained codebooks in production; deterministic first-N
    * fixtures in the oracle query (q174), which makes even this lossy
    * structure exactly SQL-replayable.
    *
    * Returns (query_id, neighbor_id, adist, rank), rank 1-based by
    * (adist asc, neighbor_id asc), candidates limited to probed cells.
    *
    * Scale shape: corpus-side codes carry (cell, sub, code) — narrow ints
    * — through ONE equi-join against the broadcast LUT
    * (q x nprobe x m x |codebook| rows); no vector arithmetic per
    * candidate; per-query top-k is the bounded-heap partial-merge
    * aggregator. Subspace distances sum as DECIMAL (order-independent).
    */
  def ivfPqAdcTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, m: Int, subDims: Int,
      nprobe: Int, k: Int): DataFrame = {
    require(nprobe > 0 && k > 0, s"nprobe and k must be positive, got $nprobe/$k")
    val cents = centroids.select(col("cid"), col("cv"))
    val assigned = assignToCentroids(corpus, cents).select(col("id"), col("cid"))
    val resid = corpus.select(col("id"), col("v")).join(assigned, "id")
      .join(broadcast(cents), "cid")
      .select(col("id"), col("cid"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).alias("rv"))
    val codes = pqEncode(resid.select(col("id"), col("rv").alias("v")),
        codebooks, m, subDims)
      .join(resid.select(col("id"), col("cid")), "id")
    val probes = queries.select(col("id").alias("q_id"), col("v").alias("qv0"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"), col("qv0"), col("cv"),
        VectorExprs.l2DistSq(col("qv0"), col("cv")).alias("cd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cd").asc, col("cid").asc)
    val probed = probes.withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("cid"),
        zip_with(col("qv0"), col("cv"), (a, b) => a - b).alias("qres"))
    val qsubs = probed.select(col("q_id"), col("cid"),
        explode(sequence(lit(0), lit(m - 1))).alias("sub"), col("qres"))
      .select(col("q_id"), col("cid"), col("sub"),
        slice(col("qres"), col("sub") * subDims + 1, lit(subDims)).alias("qsv"))
    val lut = qsubs.join(
        codebooks.select(col("sub").alias("l_sub"), col("cid").alias("code"),
          col("cv").alias("bcv")), col("sub") === col("l_sub"))
      .select(col("q_id"), col("cid"), col("sub"), col("code"),
        VectorExprs.l2DistSq(col("qsv"), col("bcv")).alias("d"))
    val scored = codes
      .select(col("id").alias("c_id"), col("cid").alias("c_cell"),
        col("sub").alias("c_sub"), col("code").alias("c_code"))
      .join(broadcast(lut), col("c_cell") === col("cid") &&
        col("c_sub") === col("sub") && col("c_code") === col("code"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("d").cast(org.apache.spark.sql.types.DecimalType(30, 12)))
        .cast("double").alias("adist"))
    scored
      .groupBy(col("q_id"))
      .agg(topK(k, col("c_id"), -col("adist")).alias("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("q_id").alias("query_id"), col("n.id").alias("neighbor_id"),
        (-col("n.score")).alias("adist"),
        (col("pos") + 1).cast("long").alias("rank"))
  }

  /** Scalar-quantized (int8) brute-force top-k: both sides pass through
    * [[VectorExprs.QuantizeInt8]] (per-vector min/max → 256 levels — q76's
    * bit-replayable codec) and the score is the RAW INTEGER dot product of
    * the code arrays. Unlike every float ANN variant this makes the entire
    * search — codes, scores, ranking — exactly verifiable cross-engine;
    * recall vs exact cosine is measured, not asserted (SimilaritySpec).
    *
    * 4x less scan bandwidth than float32 and pure integer multiply-adds —
    * the standard memory-bound ANN trade (FAISS SQ8). Same shape as
    * [[bruteForceTopK]]: queries broadcast, corpus scanned once, bounded
    * top-k heaps partial-merged. Corpus codes are computed in the scan
    * projection — at 100 TB you'd persist them once and scan int8 forever.
    *
    * Returns (query_id, neighbor_id, score_int, rank).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def codes(df: DataFrame, p: String): DataFrame =
      df.select(col("id").alias(s"${p}_id"),
        VectorExprs.quantizeInt8(col("v")).getField("q").alias(s"${p}_q"))
    val scored = codes(corpus, "c")
      .join(broadcast(codes(queries, "q")), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("q_q"), col("c_q"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).cast("double").alias("score"))
    explodeTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").cast("long").alias("score_int"),
        col("rank").cast("long").alias("rank"))
  }

  def pqAdcTopK(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      m: Int, subDims: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qsubs = queries.select(col("id").alias("q_id"),
        explode(sequence(lit(0), lit(m - 1))).alias("sub"), col("v"))
      .select(col("q_id"), col("sub"),
        slice(col("v"), col("sub") * subDims + 1, lit(subDims)).alias("qv"))
    val lut = qsubs
      .join(codebooks.select(col("sub").alias("l_sub"), col("cid"), col("cv")),
        col("sub") === col("l_sub"))
      .select(col("q_id"), col("sub"), col("cid"),
        VectorExprs.l2DistSq(col("qv"), col("cv")).alias("d"))
    val scored = codes
      .select(col("id").alias("c_id"), col("sub").alias("c_sub"), col("code"))
      .join(broadcast(lut),
        col("c_sub") === col("sub") && col("code") === col("cid"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("d").cast(org.apache.spark.sql.types.DecimalType(30, 12)))
        .cast("double").alias("adist"))
    scored
      .groupBy(col("q_id"))
      .agg(topK(k, col("c_id"), -col("adist")).alias("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("q_id").alias("query_id"), col("n.id").alias("neighbor_id"),
        (-col("n.score")).alias("adist"),
        (col("pos") + 1).cast("long").alias("rank"))
  }

  /** Embedding-space drift between two corpus versions / model runs: the
    * per-dimension DECIMAL-exact centroid of each split ([[kmeansLloydStep]]'s
    * order-independent mean rule), the per-dim difference, and the squared
    * L2 centroid shift as a dim-ordered IEEE fold ([[meanPoolVectors]]'s
    * norm discipline) — the "did the embedding model or the corpus move"
    * monitor an ANN index rebuild decision reads. Everything replays:
    * means are exact-decimal-then-one-division, the fold is one pinned
    * op sequence, outputs round to 6.
    *
    * Returns one row per dimension (dim, c_ref, c_cur, diff) with the
    * 1-row summary (n_ref, n_cur, shift_l2sq) riding every row.
    *
    * Scale shape: two (dim)-keyed partial-agg groupBys (corpus never
    * shuffles whole vectors), one dims-sized join + fold.
    */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, vec: Column): DataFrame = {
    def centroid(df: DataFrame, cName: String, nName: String): DataFrame = df
      .select(posexplode(vec).as(Seq("dim0", "x")))
      .groupBy(col("dim0"))
      .agg(sum(col("x").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(30, 12))).alias("sx"),
        count(lit(1)).alias(nName))
      .select((col("dim0") + 1).cast("long").alias("dim"),
        (col("sx").cast("double") / col(nName)).alias(cName), col(nName))
    val a = centroid(ref, "c_ref", "n_ref")
    val b = centroid(cur, "c_cur", "n_cur")
    val joined = a.join(b, Seq("dim"))
    val shift = joined
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("dim"), (col("c_cur") - col("c_ref")).alias("d")))),
          s => s("d")),
        lit(0.0), (acc, d) => acc + d * d).alias("shift_l2sq"))
      .select(round(col("shift_l2sq"), 6).alias("shift_l2sq"))
    joined.crossJoin(broadcast(shift))
      .select(col("dim"), round(col("c_ref"), 6).alias("c_ref"),
        round(col("c_cur"), 6).alias("c_cur"),
        round(col("c_cur") - col("c_ref"), 6).alias("diff"),
        col("n_ref"), col("n_cur"), col("shift_l2sq"))
  }

  /** Johnson-Lindenstrauss ±1 sign projection over INTEGER codes
    * (Achlioptas's database-friendly random projection, RNG-free): output
    * dimension j is
    *
    *   y_j = Σ_i code_i · s(i, j),   s = ±1 from one bit of the
    *                                 multiply→xor-shift→multiply mix
    *
    * — dimensionality reduction whose every output is an EXACT integer,
    * because the input is the int8 code array of [[graft.plans.VectorExprs.QuantizeInt8]]
    * (the dequantized float path would be IEEE-order-dependent; the code
    * path replays bit-for-bit). Distances contract by the JL guarantee in
    * expectation; use as the cheap pre-filter stage in front of an exact
    * re-rank, or as compact ANN keys (4-16x fewer dimensions before
    * sign-LSH). The sign matrix is a pure FUNCTION of (i, j) — nothing is
    * stored, any engine regenerates it.
    *
    * Returns (id, j, y) exploded rows — the shape both a downstream
    * reassembly and a value-level oracle consume.
    *
    * Scale shape: narrow per-row HOF (outDim · inDim multiply-adds),
    * ×outDim explode; no shuffle at all.
    */
  def jlProjectCodes(df: DataFrame, id: Column, codes: Column,
      outDim: Int): DataFrame = {
    require(outDim >= 1 && outDim <= 4096, s"outDim must be in [1, 4096], got $outDim")
    // s(i, j) from the xor-mix bit; h1 is inlined twice (SQL lambdas have
    // no lets) — the optimizer CSEs it
    val x = s"(CAST(i AS BIGINT) * ${outDim}L + j)"
    val h1 = s"((($x * 1000003L) % 2147483648L) * 2654435761L % 4294967296L)"
    val h2 = s"((($h1 ^ ($h1 DIV 65536L)) * 40503L) % 4294967296L)"
    val sign = s"(1L - 2L * (($h2 DIV 65536L) % 2L))"
    df.select(id.alias("id"), codes.alias("__codes"))
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(0, ${outDim - 1}), j ->
              aggregate(sequence(0, size(__codes) - 1), 0L, (acc, i) ->
                acc + element_at(__codes, i + 1) * $sign))"""))
        .as(Seq("j", "y")))
      .select(col("id"), col("j").cast("long").alias("j"), col("y"))
  }

  /** Exact Gram matrix of quantized embeddings — the Σ x xᵀ statistic a
    * PCA / covariance / whitening stage consumes, computed with NO
    * self-join: each row expands to its own upper-triangle outer product
    * (d(d+1)/2 `(i, j, q_i·q_j)` structs, nested index-aware
    * `transform`s over the quantized vector only), one explode, one
    * partial-agg groupBy on (i, j). The shuffle carries at most
    * d(d+1)/2 cells PER PARTITION regardless of row count — the
    * map-side-combine ideal; raw vectors never meet a join.
    *
    * Quantization `q = floor(double(x) · scale)` makes every cell an
    * exact integer both engines reproduce bit-for-bit (float→double is
    * exact, one double multiply rounds identically under IEEE). Returns
    * (i, j, n, dot) for i <= j, 0-based dims.
    */
  def gramMatrix(df: DataFrame, id: Column, vec: Column,
      scale: Long = 1000L): DataFrame = {
    require(scale >= 1, s"scale must be positive, got $scale")
    val qv = transform(vec, x =>
      floor(x.cast("double") * scale).cast("long"))
    val prods = flatten(transform(col("__qv"), (xi, i) =>
      transform(slice(col("__qv"), i + 1, size(col("__qv")) - i),
        (xj, jj) => struct(i.alias("i"), (i + jj).alias("j"),
          (xi * xj).alias("p")))))
    // spread before the per-row d(d+1)/2 outer-product expansion: a
    // single-split corpus fuses it into a 1-task scan (measured on q353:
    // 2000 vectors -> 4.16M cells in one 2.46 s task); the exchange
    // moved below it carries only the raw quantized vectors, and the
    // join-free scale shape (<= d(d+1)/2 cells per partition through the
    // shuffle) is unchanged
    Relational.spread(df.select(id.alias("id"), qv.alias("__qv")))
      .select(explode(prods).alias("c"))
      .groupBy(col("c.i").cast("long").alias("i"),
        col("c.j").cast("long").alias("j"))
      .agg(count(lit(1)).alias("n"), sum(col("c.p")).alias("dot"))
  }
}
