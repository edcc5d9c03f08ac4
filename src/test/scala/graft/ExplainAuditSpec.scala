package graft

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

/** CI-style plan audit over EVERY driver query: a join with no extractable
  * equi keys (the shape Spark must execute as CartesianProduct /
  * BroadcastNestedLoopJoin) is only allowed when
  *  - one side is PROVABLY bounded (`maxRows` <= [[SmallSide]]) — the 1-row
  *    global-stats crossJoin and nlist-row centroid frames the house style
  *    uses instead of driver collects; or
  *  - the query is in the explicit exemption list below, each entry naming
  *    WHY the shape is intended.
  * This pins the scale posture: an accidental non-equi join (the classic way
  * a 100 TB plan dies) fails the build, not the cluster.
  *
  * Plans are audited at sf0.001 — building a DataFrame executes the eager
  * stages (streaming drains, iterative loops), so the smallest tables keep
  * the sweep test-suite cheap.
  */
class ExplainAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** A non-equi join side counts as "bounded" below this static maxRows —
    * generous next to the real frames (1-row aggregates, <=256-row centroid
    * / codebook LocalRelations) while still 7 orders of magnitude under a
    * corpus side, whose maxRows is None.
    */
  private val SmallSide = 100000L

  /** Queries allowed to keep a non-equi join with UNBOUNDED static maxRows,
    * with the reason.
    */
  private val exempt: Map[String, String] = Map(
    "q16_cross" -> "the operator IS a cross join (df/join-on with empty condition)",
    "q37_emb_pairs" -> "exact all-pairs cosine oracle instrument: id_a < id_b non-equi self-join by construction (size-guarded; q43 sign-LSH is the scale path)",
    "q36_ann_brute" -> "broadcast-kNN contract: queries are the declared small side (filter vec_id < 10); a parquet filter has no static maxRows",
    "q38_ann_ivf" -> "fixture coarse quantizer = the first-16 embeddings read from parquet (bounded by the vec_id < 16 contract; a parquet filter has no static maxRows — the q65/q79/q174 pattern); the probe join itself is equi on cell",
    "q46_ann_ivf_recall" -> "inherits q36's exact baseline (small declared query side)",
    "q117_mutual_knn" -> "exact all-pairs kNN oracle instrument — whole corpus as queries BY DESIGN for the hash-matched baseline; q142 is the partitioned scale path",
    "q126_hard_negatives" -> "mining contract: the query set is the declared small side of the broadcast kNN",
    "q65_centroid_assign" -> "centroid frame = the first-8 embeddings read from parquet (bounded by the vec_id < 8 contract; a parquet filter has no static maxRows)",
    "q79_kmeans_lloyd" -> "init centroid frame = the first-8 embeddings read from parquet (bounded by contract, not statically provable)",
    "q105_rrf_hybrid" -> "semantic arm is the exact single-query brute-force kNN (query side = vec_id = 0 parquet filter, bounded by contract)",
    "q143_mutual_knn_ivf_recall" -> "contains q117's exact all-pairs baseline as the recall denominator — the instrument the IVF path is measured against",
    "q174_ivfpq_adc" -> "centroid/codebook frames = first-8/first-16 embeddings read from parquet (bounded by the vec_id-filter contract; a parquet filter has no static maxRows — the q65/q79 pattern); every corpus-sized join is equi on (cell, sub, code)",
    "q405_ivf_index_persist" -> "q38's shape served from the persisted index: the assign/probe crossJoins are against the broadcast 16-row quantizer (vec_id < 16 fixture, parquet filter has no static maxRows); the probe join itself is equi on cell",
    "q406_ivfpq_index_persist" -> "q174's shape with the quantizer pair reloaded from parquet (reloaded frames carry no maxRows bound at all, but are the same first-8/first-16 fixtures); every corpus-sized join is equi on (cell, sub, code)",
    "q194_ann_sq8" -> "broadcast-kNN contract (q36's shape) on int8 codes: queries are the declared small side (vec_id < 10 parquet filter, no static maxRows)",
    "q215_retrieval_eval" -> "single-literal qid fixture: the (qid) equi key constant-folds away, leaving a join of two per-query 1-row aggregates (grouped aggregates have no static maxRows); with real multi-query inputs the join stays equi on qid",
    "q241_cluster_purity" -> "centroid frame = the first-8 embeddings read from parquet (bounded by the vec_id < 8 contract; a parquet filter has no static maxRows — the q65/q79 pattern)",
    "q316_ivf_cell_drift" -> "two assignToCentroids passes against the same first-8 centroid frame (the q65/q79 vec_id < 8 contract; one non-equi join per corpus half)",
    "q367_skyline3d" -> "dominance anti-join's right side is the explicitly broadcast per-partition skyline candidate set — bounded by the BNL pruning contract (|skyline| << n), not statically provable (mapPartitions has no static maxRows)",
    "q410_nsw_graph" -> "kNN-graph build = q38's fixture-quantizer shape with the corpus on BOTH sides: the two assign crossJoins are against the broadcast first-16 quantizer (vec_id < 16 parquet filter has no static maxRows); the corpus-sized probe join itself is equi on cell",
    "q413_ann_ivf_recall" -> "recall harness contains q36's exact brute-force baseline (declared small query side, vec_id < 10 parquet filter) and q38's fixture-quantizer assign crossJoins as the approximate arm",
    "q414_nsw_recall" -> "same recall harness: q36's exact brute-force baseline as the ground truth (the walk arm's joins are equi / checkpoint-truncated)"
  )

  private def nonEquiJoins(plan: LogicalPlan): Seq[Join] = plan.collect {
    case j: Join if ExtractEquiJoinKeys.unapply(j).isEmpty => j
  }

  private def bounded(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= SmallSide)

  test("every non-equi (cartesian/BNLJ) join in every driver query has a bounded side or an explicit exemption") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val risky = nonEquiJoins(df.queryExecution.optimizedPlan)
        .filterNot(j => bounded(j.left) || bounded(j.right))
      if (risky.nonEmpty && !exempt.contains(name))
        offenders += s"$name (${risky.size} join(s))"
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"unexempted unbounded non-equi join in: ${offenders.mkString(", ")} — fix the join or add an explicit exemption with a reason")
  }

  test("exemption list carries no stale entries") {
    // every exempted query must still exist AND still exhibit the shape —
    // otherwise the exemption is dead weight hiding future regressions
    val stale = exempt.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"exemptions for unknown queries: ${stale.mkString(", ")}")
    val vacuous = exempt.keys.filter { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val risky = nonEquiJoins(df.queryExecution.optimizedPlan)
        .filterNot(j => bounded(j.left) || bounded(j.right))
      spark.catalog.clearCache()
      risky.isEmpty
    }
    assert(vacuous.isEmpty,
      s"exemptions no longer needed (shape gone — remove them): ${vacuous.mkString(", ")}")
  }

  test("q150 bucketed layout: join + per-key agg run with zero shuffle exchanges") {
    // the bucketed write pre-paid the exchange at ingest; the read-side
    // plan must therefore contain NONE — both scans report
    // HashPartitioning(key, 8), the merge join and the groupBy reuse it.
    // (The driver query adds a final total-order sort whose range exchange
    // is inherent; the assertion runs on the body without it.)
    SparkEntry.queries("q150_bucketed_join")(spark, sfDir) // writes + registers the tables
    val plan = SparkEntry.bucketedRevenue(spark).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join over bucketed scans:\n$plan")
    assert(!plan.contains("Exchange"),
      s"shuffle exchange in the bucketed co-located join plan — the layout is not being used:\n$plan")
  }

  test("q151 partitioned layout: event_type filter prunes at the scan (PartitionFilters)") {
    val df = SparkEntry.queries("q151_partition_pruned_scan")(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the filter must be a partition-directory predicate, not a row filter
    assert("(?s).*PartitionFilters:[^\\n]*event_type[^\\n]*click.*".r.matches(formatted),
      s"event_type = click is not a PartitionFilter — the scan reads all partitions:\n$formatted")
  }

  test("q154 dynamic partition pruning: the scan carries a DPP subquery on event_type") {
    // static pruning (q151) can't see join-shaped filters; the plan must
    // show the runtime pruning expression planted on the partitioned scan
    val df = SparkEntry.queries("q154_dynamic_partition_pruning")(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("dynamicpruning"),
      s"no dynamicpruningexpression on the partitioned scan — DPP did not plan:\n$formatted")
  }

  test("q405 persisted IVF index: the pruned probe's cells scan carries a DPP subquery on cell") {
    // the scale claim behind writeIvfIndex's partitionBy(cell) layout:
    // with nprobe < nlist and a broadcast probe side, the stored-corpus
    // scan must read ONLY the probed cell directories — partition pruning
    // applied to vector search, visible as dynamic pruning in the plan
    val df = SparkEntry.queries("q405_ivf_index_persist")(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("(?s).*PartitionFilters:[^\\n]*cell[^\\n]*dynamicpruning.*".r.matches(formatted),
      s"no dynamicpruningexpression on the cells scan — the persisted index reads every cell:\n$formatted")
  }

  test("q142 mutual-kNN scale path never broadcasts a corpus-sized frame") {
    // the q117-vs-q142 distinction the whole scale story rests on: every
    // broadcast in q142's plan must be centroid-sized (the nlist-row
    // centroid frame), never the corpus/query side of the probe join
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("v"))
    val knn = graft.operators.Similarity.ivfTopK(corpus, corpus,
      nlist = 4, nprobe = 4, k = 5, broadcastQueries = false)
    val analyzed = knn.queryExecution.analyzed
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    // broadcast hints exist (the centroid frames) but every one is over the
    // tiny centroid relation: a LocalRelation whose output is (cell[, cv]) —
    // never a plan that reads the embeddings parquet
    assert(hints.nonEmpty, "expected centroid broadcast hints in the IVF plan")
    hints.foreach { h =>
      val outCols = h.child.output.map(_.name).toSet
      assert(outCols.subsetOf(Set("cell", "cv")),
        s"broadcast hint over non-centroid frame with columns $outCols — corpus-sized broadcast in the scale path")
    }
  }

  test("q260 runtime bloom filter: the fact scan carries a might_contain probe") {
    // the row-level semi-join pushdown the query exists to demonstrate:
    // Catalyst must inject a bloom filter built from the filtered dim side
    // as a might_contain predicate on the lineitem side of the shuffle join
    val df = SparkEntry.queries("q260_bloom_join")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"no might_contain probe in q260's optimized plan — the runtime bloom filter did not inject:\n$plan")
  }

  test("q282 AQE splits the skewed rebalance partition (skewed read in the final plan)") {
    // runtime behavior, so the assertion runs AFTER an action — and on
    // THIS df's QueryExecution (a write would execute a copy, leaving
    // this plan isFinalPlan=false): the rebalance shuffle's read must be
    // marked skew-split by OptimizeSkewInRebalancePartitions
    val df = SparkEntry.skewRebalanced(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skewed"),
      s"no skewed AQEShuffleRead in q282's final adaptive plan — the hot partition was not split:\n$plan")
  }

  test("q262 CBO: ANALYZE'd catalog statistics reach every scan in the optimized plan") {
    // the statistics layer the cost-based reorder runs on: under the CBO
    // session every leaf must report an exact ANALYZE'd rowCount — absent
    // stats would silently degrade the reorder to the textual join order
    val df = SparkEntry.queries("q262_cbo_join_reorder")(spark, sfDir)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size >= 3, s"expected the 3 catalog scans, got ${leaves.size}")
    leaves.foreach { l =>
      assert(l.stats.rowCount.isDefined,
        s"leaf without ANALYZE'd rowCount under CBO — stats are not flowing:\n$l")
    }
  }

  test("Diag plan writes one formatted plan per known query and skips an unknown name") {
    val out = java.nio.file.Paths.get(tempDir("diag-plan"))
    Diag.plan(spark, sfDir, out.toString, "t", Seq("q02_filter", "q_no_such_query"))
    val written = out.toFile.list().toSeq
    assert(written == Seq("q02_filter_t.txt"))
    val text = new String(java.nio.file.Files.readAllBytes(out.resolve("q02_filter_t.txt")), "UTF-8")
    assert(text.contains("== Physical Plan =="))
    SparkEntry.deleteRecursively(out.toString)
  }
}
