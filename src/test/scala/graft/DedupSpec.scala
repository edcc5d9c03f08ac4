package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.plans.VectorExprs

/** Dedup operators over planted duplicates: every family must find the
  * planted near-dup pair and must NOT pair unrelated docs.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills far away " * 3
  private val nearDup = base.replace("green", "blue") // one token changed
  private val unrelated = "completely different content about spark catalyst optimizer rules and shuffle partitions " * 3

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base) // 4 = exact dup of 1
  ).toDF("id", "text")

  test("exactDedup keeps first row per key") {
    val out = Dedup.exactDedup(docs, Seq($"text"), Seq($"id"))
    assert(out.count() == 3)
    assert(out.filter($"id" === 4).count() == 0) // exact dup of id=1 dropped
  }

  test("exactDedupAgg equals exactDedup and plans with map-side partial combine") {
    val df = Seq(
      ("a", 1L, "x1"), ("a", 3L, "x3"), ("b", 2L, "y2"), ("a", 2L, "x2"), ("c", 9L, "z9")
    ).toDF("k", "id", "payload")
    val viaWindow = Dedup.exactDedup(df, Seq($"k"), Seq($"id"))
      .orderBy($"k").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val viaAgg = Dedup.exactDedupAgg(df, Seq($"k"), Seq($"id"))
      .orderBy($"k").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(viaAgg == viaWindow)
    assert(viaAgg == Seq(("a", 1L, "x1"), ("b", 2L, "y2"), ("c", 9L, "z9")))
    // struct buffers make min_by a SortAggregate, but the part that matters
    // at scale is the map-side partial combine before the exchange
    val plan = Dedup.exactDedupAgg(df, Seq($"k"), Seq($"id")).queryExecution.executedPlan.toString
    assert(plan.contains("partial_min_by"))
    assert(!plan.contains("Window"))
  }

  test("exactDupMap emits (survivor, dup) pairs") {
    val pairs = Dedup.exactDupMap(docs, $"text", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 4L)))
  }

  test("minhashLshPairs finds planted near-dups with exact jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, $"id", $"text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // near-dup found
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L))) // exact dup pairs
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never paired
    // jaccard of the exact pair must be 1.0
    val j14 = Dedup.minhashLshPairs(docs, $"id", $"text", threshold = 0.5)
      .filter($"id_a" === 1 && $"id_b" === 4).collect()(0).getDouble(2)
    assert(j14 == 1.0)
  }

  test("ngramJaccardPairs (exact) agrees with the LSH path here") {
    val exact = Dedup.ngramJaccardPairs(docs, $"id", $"text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, $"id", $"text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == lsh)
  }

  test("simhashPairs: near-identical docs within hamming budget, unrelated not") {
    val pairs = Dedup.simhashPairs(docs, $"id", $"text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical docs -> hamming 0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("sparseCosinePairs: hand cosine threshold, no-shared-bucket absence, hub cap") {
    // a = {b0: 3, b1: 4} (n2 25), b = {b0: 3} (n2 9), c = {b2: 5}
    val v = Seq((1L, 0L, 3L), (1L, 1L, 4L), (2L, 0L, 3L), (3L, 2L, 5L))
      .toDF("id", "bucket", "w")
    // cos(a, b) = 9/15 = 0.6 -> cos² = 360000 ppm; kept at t = 0.5
    val out = Dedup.sparseCosinePairs(v, thresholdThousandths = 500).collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3), out(0).getLong(4), out(0).getLong(5)) ==
      (1L, 2L, 360000L, 9L, 25L, 9L))
    // t = 0.7 excludes it; c never materializes (no shared bucket)
    assert(Dedup.sparseCosinePairs(v, 700).count() == 0)
    // hub cap: bucket 0 holds both docs; cap 1 drops it -> no pairs
    assert(Dedup.sparseCosinePairs(v, 500, maxBucket = 1).count() == 0)
  }

  test("embedding cosine pairs: brute force and sign-LSH find planted near-dup vectors") {
    val dims = 16
    val v1 = Array.tabulate(dims)(i => math.sin(i + 1).toFloat)
    val v2 = v1.clone(); v2(0) = v1(0) + 0.01f // near-identical
    val v3 = Array.tabulate(dims)(i => math.cos(3 * i + 2).toFloat) // unrelated
    val df = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq)).toDF("id", "v")
    val brute = Dedup.embeddingCosinePairs(df, $"id", $"v", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((1L, 2L)))
    val lsh = Dedup.embeddingLshPairs(df, $"id", $"v", dims, 0.99, planes = 8, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((1L, 2L)))
  }

  test("containmentPairs: doc-inside-doc oriented pairs that Jaccard misses") {
    val df = Seq(
      (1L, "a b c d e f"),           // 4 shingles, all inside doc 2
      (2L, "a b c d e f g h i j"),   // 8 shingles
      (3L, "x y z w v u"),           // unrelated
      (4L, "a b c d e f")            // exact dup of 1: tie orientation
    ).toDF("id", "text")
    val out = Dedup.containmentPairs(df, col("id"), col("text"), ngram = 3,
        threshold = 0.9)
      .orderBy("id_in", "id_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // (1 in 2): containment 4/4 = 1.0 while jaccard = 4/8 = 0.5;
    // tie (1,4) keeps the join's id_a as the contained side; (4 in 2) flips
    // orientation because id 4's set is the smaller one
    assert(out.toSeq == Seq((1L, 2L, 1.0), (1L, 4L, 1.0), (4L, 2L, 1.0)))
    assert(Dedup.ngramJaccardPairs(df.filter(col("id") < 3), col("id"), col("text"),
      threshold = 0.8).count() == 0, "the symmetric metric must miss the wrap")
  }

  test("incrementalDedup: drops seen keys, keep-first inside the batch") {
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "c")).toDF("id", "k")
    val seen = Seq("a").toDF("seen")
    val out = Dedup.incrementalDedup(batch, col("k"), Seq(col("id")), seen)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    // "a" is history -> dropped; first "b" survives; "c" is new
    assert(out.toSeq == Seq((2L, "b"), (4L, "c")))
    intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(batch, col("k"), Seq(col("id")),
        Seq(("a", 1)).toDF("k", "x")); ()
    }
  }

  test("editDistancePairs: band blocking finds every pair once, incl. across length bands") {
    // maxDist=2, band width 3: "ab"(len 2, band 0) x "abc"(len 3, band 1)
    // crosses a band boundary and must still pair; duplicate inputs dedup
    val df = Seq("kitten", "sitting", "kittenx", "ab", "abc", "abd", "xyz", "abc")
      .toDF("s")
    val got = Dedup.editDistancePairs(df, col("s"), maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // kitten~sitting is 3 (out); xyz pairs with nothing at <=2
    assert(got == Set(
      ("ab", "abc", 1L), ("ab", "abd", 1L), ("abc", "abd", 1L),
      ("kitten", "kittenx", 1L)))
    // anchor is (len, string) ascending: every pair appears exactly once
    assert(got.size == Dedup.editDistancePairs(df, col("s"), 2).count())
  }

  test("jaroWinklerPairs: block key bounds candidates, threshold + anchor + distinct-first") {
    val df = Seq(
      ("b1", "martha"), ("b1", "marhta"), ("b1", "zzzzzz"),
      ("b2", "martha"),               // same string, other block: no cross-block pair
      ("b1", "martha"),               // duplicate row: distinct-first
      ("b2", "marthb"), (null, "martha")
    ).toDF("blk", "s")
    val got = Dedup.jaroWinklerPairs(df, col("s"), col("blk"), minSim = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet
    // b1: martha~marhta (0.9611); b2: martha~marthb (4/5 prefix, high);
    // martha never pairs with itself across b1/b2, zzzzzz below threshold
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Set(("b1", "marhta", "martha"), ("b2", "martha", "marthb")))
    assert(got.find(_._1 == "b1").get._4 == 0.9611111111111111)
    // each unordered pair exactly once
    assert(Dedup.jaroWinklerPairs(df, col("s"), col("blk"), 0.9).count() == 2L)
  }

  test("weightedJaccardPairs: hand multiset values, floor ppm, hub-cap lower bound") {
    val d = Seq((1L, "x x y"), (2L, "x y y"), (3L, "x x z"))
      .toDF("doc_id", "text")
    def run(minPpm: Long, maxDf: Int = 1 << 20) =
      Dedup.weightedJaccardPairs(d, col("doc_id"), col("text"), minPpm, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val all = run(1L)
    // tf1={x:2,y:1} tf2={x:1,y:2} tf3={x:2,z:1}; df: x=3, y=2, z=1
    assert(all((1L, 2L)) == (2L, 4L, 500000L))   // min-sum 2, union 4
    assert(all((1L, 3L)) == (2L, 4L, 500000L))   // via x only
    assert(all((2L, 3L)) == (1L, 5L, 200000L))
    // threshold is inclusive on the floored ppm
    assert(run(500000L).keySet == Set((1L, 2L), (1L, 3L)))
    // maxDf=2 prunes hub token x (df 3) from BOTH multiset sides — the
    // similarity is over informative tokens, so 1-2 survives on y with
    // x's mass gone from the totals too (kept multisets {y:1} vs {y:2}),
    // and the x-only pairs (1-3, 2-3) vanish entirely
    val capped = run(1L, maxDf = 2)
    assert(capped == Map((1L, 2L) -> (1L, 2L, 500000L)))
  }

  test("winnowFingerprints: density guarantee, shared-substring property, rightmost ties, short docs") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, s"one two three $shared four five six seven"),
      (2L, s"x y $shared z w v u t s"),
      (3L, "a a a a a a a a"),          // identical grams: rightmost tie
      (4L, "too short")                 // < k tokens: nothing
    ).toDF("doc_id", "text")
    val k = 3; val w = 4
    val fp = Dedup.winnowFingerprints(d, col("doc_id"), col("text"), k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1)
    // density: every full window of w grams holds >= 1 selected position
    for (doc <- Seq(1L, 2L, 3L)) {
      val poss = byDoc(doc).map(_._2).toSet
      val m = d.filter(col("doc_id") === doc)
        .select(size(graft.functions.TextFns.tokens(col("text"))))
        .collect()(0).getInt(0) - (k - 1)
      for (j <- 0 to m - w)
        assert((j until j + w).exists(p => poss.contains(p.toLong)), s"doc $doc window $j")
    }
    // the 8-token shared run (6 shared 3-grams >= w+ ... >= w) must yield
    // at least one fingerprint HASH common to docs 1 and 2
    val h1 = byDoc(1L).map(_._3).toSet; val h2 = byDoc(2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty)
    // identical hashes: rightmost-min selects exactly {w-1 .. m-1}
    val m3 = 8 - (k - 1)
    assert(byDoc(3L).map(_._2).toSet == ((w - 1) until m3).map(_.toLong).toSet)
    assert(!byDoc.contains(4L))
  }

  test("nearDupComponents: transitive closure with min-id component labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (7L, 5L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 5L -> 5L, 7L -> 5L)
    // default: the step-0 driver union-find path (the graph fits)
    val comps = Dedup.nearDupComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps == want)
    // maxLocalEdges=0 forces the DISTRIBUTED label+star phases — both
    // paths must produce the identical min-id labeling
    val dist = Dedup.nearDupComponents(pairs, maxLocalEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == want)
  }

  test("nearDupComponents: a 200-chain converges in far fewer than diameter rounds") {
    // diameter 200: plain one-hop propagation would need 200 rounds; the
    // two-phase algorithm (bounded label rounds, then large-star/small-star
    // halving the chain per round) must land every node in component 0
    // within the default budget of 25 — sub-linear in diameter
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // maxLocalEdges=0: the round-count claim is about the DISTRIBUTED
    // phases (the default hybrid finishes a 200-edge graph on the driver)
    val labels = Dedup.nearDupComponents(chain, maxLocalEdges = 0L)
      .collect().map(_.getLong(1)).distinct.toSeq
    assert(labels == Seq(0L))
    assert(Dedup.nearDupComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect().isEmpty)
  }

  test("nearDupComponents: reliable checkpointDir mode writes round state to the dir, same answer") {
    // the cluster-scale contract (Iterative.truncate): localCheckpoint
    // blocks die with an executor; Some(dir) must route round state
    // through reliable DataFrame.checkpoint files under dir instead —
    // identical labels, and the dir is actually used
    val dir = tempDir("graft-ckpt")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // maxLocalEdges=0: checkpoint files are a distributed-phase artifact
    // (the driver path has no round state to persist)
    val reliable = Dedup.nearDupComponents(pairs, checkpointDir = Some(dir),
        maxLocalEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"no reliable checkpoint files written under $dir")
  }

  test("Pipeline.cleanCorpus: gate, exact dedup, and component collapse compose") {
    val good = "the cat and the dog walked to the market with friends for food"
    val docs = Seq(
      (5L, good), (3L, good), // exact dups -> keep 3
      (7L, good + " extra"), // near-dup (J = 11/12) -> collapsed into 3's component
      (9L, "the house and the tree stood near the river bank all day"), // independent survivor
      (11L, "bad") // und language -> gated
    ).toDF("doc_id", "text")
    val out = graft.operators.Pipeline.cleanCorpus(docs, $"doc_id", $"text")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(3L, 9L))
  }

  test("quadratic operators refuse oversized inputs (scale guardrails)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", maxInputBytes = 1L)
    }
    val e = Seq((1L, Seq(1.0f))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Dedup.embeddingCosinePairs(e, $"id", $"v", 0.5, maxInputBytes = 1L)
    }
  }

  test("releasable variants hand back the persisted doc state for caller unpersist") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val (pairs, state) = Dedup.minhashLshPairsReleasable(docs, $"doc_id", $"text")
    pairs.collect()
    assert(state.storageLevel.useMemory, "state frame not persisted")
    state.unpersist(blocking = true)
    assert(!state.storageLevel.useMemory, "unpersist did not release the cache")
    val (pairs2, state2) = Dedup.simhashPairsReleasable(docs, $"doc_id", $"text")
    pairs2.collect()
    assert(state2.storageLevel.useMemory)
    state2.unpersist(blocking = true)
    assert(!state2.storageLevel.useMemory)
  }

  test("boruvkaMst: hand MST, chain merge across a round, forest over components") {
    import spark.implicits._
    // component A (nodes 1-5): unique MST {12,34,23,25}; component B
    // (nodes 11-15): a path — every comp picks rightward, the chosen
    // comp-graph is a CHAIN, exercising the multi-hop merge
    val e = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 3L), (3L, 4L, 1L),
      (4L, 5L, 5L), (2L, 5L, 4L),
      (11L, 12L, 10L), (12L, 13L, 20L), (13L, 14L, 30L), (14L, 15L, 40L)
    ).toDF("a", "b", "w")
    val want = Set((1L, 2L, 1L), (3L, 4L, 1L), (2L, 3L, 2L), (2L, 5L, 4L),
      (11L, 12L, 10L), (12L, 13L, 20L), (13L, 14L, 30L), (14L, 15L, 40L))
    // default: the driver Kruskal hybrid (the graph fits)
    val got = graft.operators.Graph.boruvkaMst(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // maxLocalEdges=0 forces the DISTRIBUTED Borůvka rounds — the unique
    // forest under (w, a, b) order must be the identical edge set
    val dist = graft.operators.Graph.boruvkaMst(e, maxLocalEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dist == want)
  }
  test("kTrussPeel: K4 is a 4-truss, pendant triangle peels, cascade removes") {
    import spark.implicits._
    // K4 + a triangle {30,31,32} + a pendant edge: at k=4 only K4
    // survives; the triangle edges (support 1) drop in round 1, and any
    // edge surviving only via them would cascade in round 2
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (30L, 31L), (30L, 32L), (31L, 32L), (32L, 33L)
    ).toDF("id_a", "id_b")
    val k4 = graft.operators.Graph.kTrussPeel(edges, k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(k4.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    assert(k4.values.forall(_ == 2L), "every K4 edge closes 2 triangles")
    val k3 = graft.operators.Graph.kTrussPeel(edges, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k3 == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (30L, 31L), (30L, 32L), (31L, 32L)),
      "3-truss keeps the triangle, drops the pendant edge")
  }

  test("clusteringCoefficients: clique 1.0, chain 0, wedge third, degree-1 NULL") {
    import spark.implicits._
    // K4 (coeff 1), chain 10-11-12 (11 has a wedge but no triangle),
    // star-plus-one-edge at 20 (1 triangle over 3 wedges)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L),
      (20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L)
    ).toDF("id_a", "id_b")
    val got = graft.operators.Graph.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(1L) == (3L, 3L, Some(1000000L)))
    assert(got(11L) == (2L, 0L, Some(0L)), "wedge, no triangle")
    assert(got(10L) == (1L, 0L, None), "degree 1: undefined")
    assert(got(20L) == (3L, 1L, Some(333333L)), "1 of 3 wedges closed")
  }

  test("triangleCounts: 4-clique has 3 per node, chains none, each triangle counted once") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + chain 10-11-12 (none)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L)
    ).toDF("id_a", "id_b")
    val out = graft.operators.Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // total corner count = 3 x triangle count => 4 triangles in K4
    assert(out.values.sum == 12L)
  }

  test("componentSplit: cluster members co-located, singletons hash their own id, ~80/20") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component_id")
    val docs = (1L to 100L).map(i => Tuple1(i)).toDF("id")
    val out = Dedup.componentSplit(docs, col("id"), comps)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every member of a component shares its split
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(out(10L) == out(11L))
    // singletons: component = own id
    assert(out(50L)._1 == 50L)
    // deterministic re-run
    val again = Dedup.componentSplit(docs, col("id"), comps)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out == again)
    // roughly 80/20 over 100 ids (multiplicative hash is well-mixed)
    val nTrain = out.values.count(_._2 == "train")
    assert(nTrain >= 65 && nTrain <= 95, s"train count $nTrain")
  }

  test("dupSubstrSpans: cross-doc repeated run merges to one maximal span; clean docs absent") {
    // docs 1 and 2 share tokens "a b c d e" inside different surroundings;
    // with k=3 the shared windows are (a b c), (b c d), (c d e) — each
    // repeated across docs, overlapping, so each doc gets ONE merged span
    // of 5 tokens. doc 3 has no repeated 3-gram.
    val d = Seq(
      (1L, "x1 x2 a b c d e y1 y2"),
      (2L, "z1 a b c d e z2 z3 z4"),
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSubstrSpans(d, $"doc_id",
      graft.functions.TextFns.tokens($"text"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    // doc 1: tokens 3..7 ("a".."e") => span [3, 8); doc 2: tokens 2..6 => [2, 7)
    assert(spans.toSeq == Seq((1L, 3L, 8L, 5L), (2L, 2L, 7L, 5L)))
  }

  test("dupSubstrSpans: disjoint repeats stay separate islands; within-doc repeats count") {
    // one doc repeating "m n o" at both ends with a long unique middle:
    // the two occurrences are > k apart, so two spans in the SAME doc
    val d = Seq(
      (1L, "m n o u1 u2 u3 u4 u5 m n o")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSubstrSpans(d, $"doc_id",
      graft.functions.TextFns.tokens($"text"), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(spans.toSeq == Seq((1L, 4L), (9L, 12L)))
  }

  test("dupSubstrStats: per-doc rollup with zeros for clean docs; hashed path identical") {
    val d = Seq(
      (1L, "x1 x2 a b c d e y1 y2"),
      (2L, "z1 a b c d e z2 z3 z4"),
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val toks = graft.functions.TextFns.tokens($"text")
    val stats = Dedup.dupSubstrStats(d, $"doc_id", toks, k = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(stats.toSeq == Seq(
      (1L, 9L, 1L, 5L, 5L, 555555L), // 5/9 duplicated
      (2L, 9L, 1L, 5L, 5L, 555555L),
      (3L, 8L, 0L, 0L, 0L, 0L)))
    val exact = Dedup.dupSubstrSpans(d, $"doc_id", toks, k = 3)
      .orderBy("id", "span_start").collect().toSeq
    val hashed = Dedup.dupSubstrSpans(d, $"doc_id", toks, k = 3, hashShingles = true)
      .orderBy("id", "span_start").collect().toSeq
    assert(exact == hashed)
  }

  test("componentRepresentatives: best score wins, score ties break to the smaller id") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component_id")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L))
      .toDF("id", "score")
    val out = Dedup.componentRepresentatives(comps, scores)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    // component 1: ids 2 and 3 tie at score 9 => rep 2
    assert(out(1L) == (2L, false) && out(2L) == (2L, true) && out(3L) == (2L, false))
    // component 10: tie at 4 => rep 10
    assert(out(10L) == (10L, true) && out(11L) == (10L, false))
  }

  test("incrementalLshDedup: history near-dups and smaller-batch-id near-dups dominate") {
    val mk = (extra: String) =>
      "the quick brown fox jumps over the lazy dog again and again today " + extra
    val history = Seq(
      (0L, mk("")),                      // near-dup target for batch doc 10
      (1L, "completely different historical content about databases and rivers flowing north")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, mk("x")),                    // ~history doc 0 => dropped, dup_of 0
      (11L, "fresh unique batch document with its own vocabulary entirely apart from it"),
      (12L, mk("x y")),                  // ~10 (and ~0) => dup_of = min = 0
      (13L, "another standalone document nothing like the rest of this tiny corpus at all")
    ).toDF("doc_id", "text")
    val index = Dedup.lshIndex(history, col("doc_id"), col("text"))
    val out = Dedup.incrementalLshDedup(batch, col("doc_id"), col("text"),
        index, threshold = 0.6)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L))   // every batch id reported
    assert(out(10L) == (false, 0L))
    assert(out(11L) == (true, -1L))
    assert(out(12L)._1 == false && out(12L)._2 == 0L)
    assert(out(13L) == (true, -1L))
  }

  test("incrementalLshDedup: batch-internal domination works without any history hit") {
    val history = Seq((0L, "some old unrelated text about glaciers and ice sheets melting"))
      .toDF("doc_id", "text")
    val near = "all happy families are alike each unhappy family is unhappy in its own way "
    val batch = Seq((20L, near + "a"), (21L, near + "b")).toDF("doc_id", "text")
    val index = Dedup.lshIndex(history, col("doc_id"), col("text"))
    val out = Dedup.incrementalLshDedup(batch, col("doc_id"), col("text"),
        index, threshold = 0.6)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(20L) == (true, -1L))
    assert(out(21L) == (false, 20L))
  }

  test("MinHashBuckets: identical inputs collide on every band, disjoint inputs on none") {
    val df = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(10L, 20L, 30L, 40L)),
      (3L, Seq(99L, 98L, 97L, 96L))).toDF("id", "sh")
    val b = df.select($"id", VectorExprs.minhashBuckets($"sh", 16, 4).as("bk")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(b(1L) == b(2L))
    assert(b(1L).intersect(b(3L)).isEmpty)
    assert(b(1L).length == 4)
  }

  test("sortedNeighborhoodPairs: w-window pairs over the (key, id) order, cross-bucket, layout-independent") {
    // keys span the signed long domain so ranks cross bucket boundaries
    // (buckets = 4 -> top-2-bit buckets); ids 3 and 4 share a key, so the
    // order falls back to the id tie-break
    val df = Seq(
      (1L, Long.MinValue / 2), (2L, -5L), (3L, 7L), (4L, 7L),
      (5L, 1L << 60), (6L, Long.MaxValue - 1)).toDF("id", "k")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.sortedNeighborhoodPairs(d, $"id", $"k", w = 3, buckets = 4)
        .select($"id_a", $"id_b", $"d").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // rank order: 1, 2, 3, 4, 5, 6 -> pairs at distance 1 and 2
    val expect = Set(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L),
      (1L, 3L, 2L), (2L, 4L, 2L), (3L, 5L, 2L), (4L, 6L, 2L))
    assert(run(df) == expect)
    // pair set must not depend on the physical layout
    assert(run(df.repartition(5)) == expect)
  }

  test("ppJoinPairs: exact threshold join — complete vs brute force, boundary inclusive") {
    val sets = Map(
      1L -> Seq("a", "b", "c", "d"),
      2L -> Seq("a", "b", "c", "e"),
      3L -> Seq("x", "y"),
      4L -> Seq("a", "b"),
      5L -> Seq("a", "b"),
      6L -> Seq("b", "c", "d", "e", "f", "g"))
    val docs = sets.toSeq.toDF("id", "tk")
    def brute(tPpm: Long) = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a).toSet & sets(b).toSet).size.toLong
      uni = (sets(a).toSet | sets(b).toSet).size.toLong
      if inter * 1000000L >= tPpm * uni
    } yield (a, b, inter, inter * 1000000L / uni)).toSet
    def run(tPpm: Long) =
      Dedup.ppJoinPairs(docs, $"id", $"tk", tPpm).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // t=0.5 includes the exactly-at-threshold pairs (1,4) (1,5) (2,4) (2,5)
    assert(run(500000L) == brute(500000L))
    assert(brute(500000L).contains((1L, 4L, 2L, 500000L)))
    // t=1.0: only the identical pair survives
    assert(run(1000000L) == Set((4L, 5L, 2L, 1000000L)))
    // a tighter threshold between: 0.6 keeps (1,2) and (4,5) only
    assert(run(600000L) == brute(600000L))
  }

  test("ppJoinPairs: general path (vocab > 256 disables the bitmask) still exact vs brute force") {
    // 300-token vocabulary forces the integer array_intersect verification
    // branch — the code path the small-vocab spec above never reaches.
    // Deterministic synthetic sets: doc i draws 20 tokens from a 300-token
    // vocab by stride, plus planted near-identical pairs.
    val vocab = (0 until 300).map(v => f"tok$v%03d")
    def setFor(i: Int): Seq[String] =
      (0 until 20).map(j => vocab((i * 7 + j * 13) % 300)).distinct
    val planted = Map(
      100L -> setFor(0),              // identical to doc 0
      101L -> (setFor(1).drop(1) :+ "tok999")) // near-dup of doc 1
    val sets: Map[Long, Seq[String]] =
      (0 until 40).map(i => i.toLong -> setFor(i)).toMap ++ planted
    val docs = sets.toSeq.toDF("id", "tk")
    def brute(tPpm: Long) = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a).toSet & sets(b).toSet).size.toLong
      uni = (sets(a).toSet | sets(b).toSet).size.toLong
      if inter * 1000000L >= tPpm * uni
    } yield (a, b, inter, inter * 1000000L / uni)).toSet
    def run(tPpm: Long) =
      Dedup.ppJoinPairs(docs, $"id", $"tk", tPpm).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b8 = brute(800000L)
    assert(b8.contains((0L, 100L, setFor(0).size.toLong, 1000000L)), "identical pair present")
    assert(run(800000L) == b8)
    assert(run(500000L) == brute(500000L))
  }
  test("deletionNeighborhoodPairs: FastSS blocking is exact vs brute force at d=1 and d=2") {
    // substitutions, insertions, deletions, transposition (= 2 subs for
    // plain Levenshtein), a d=3 miss, and a maxLen drop
    val names = Seq("martha", "marhta", "martja", "marthas", "marta",
      "zzzzzz", "completely-different-string-beyond-the-len-cap", "bob", "rob", "roc")
    val df = names.toDF("nm")
    def brute(d: Int, cap: Int) = (for {
      a <- names; b <- names if a < b && a.length <= cap && b.length <= cap
      dist = {
        val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to a.length; j <- 1 to b.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      if dist <= d
    } yield (a, b, dist.toLong)).toSet
    def run(d: Int, cap: Int) =
      Dedup.deletionNeighborhoodPairs(df, $"nm", d, cap).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val b1 = brute(1, 20)
    assert(b1.contains(("martha", "martja", 1L)) && b1.contains(("marta", "martha", 1L)))
    assert(run(1, 20) == b1)
    val b2 = brute(2, 20)
    assert(b2.contains(("marhta", "martha", 2L)), "transposition = 2 plain-Levenshtein edits")
    assert(!b2.exists(p => p._1 == "zzzzzz" || p._2 == "zzzzzz"), "d=3 stays out")
    assert(run(2, 20) == b2)
    // the long string is dropped by maxLen, not matched
    assert(!run(2, 20).exists(_._2.contains("beyond")))
    assert(run(2, 64) == brute(2, 64))
  }
}
