package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.VectorExprs

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8
  private def vec(seed: Int): Seq[Float] =
    Array.tabulate(dims)(i => math.sin(seed * 31 + i).toFloat).toSeq

  private def corpus = (0L until 50L).map(i => (i, vec(i.toInt))).toDF("id", "v")

  /** Reference cosine in plain Scala. */
  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  test("vector expressions match plain-Scala reference values") {
    val a = vec(1); val b = vec(2)
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(
      VectorExprs.dot($"a", $"b"), VectorExprs.cosine($"a", $"b"), VectorExprs.l2norm($"a")).collect()(0)
    val dotRef = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    assert(math.abs(r.getDouble(0) - dotRef) < 1e-12)
    assert(math.abs(r.getDouble(1) - cos(a, b)) < 1e-12)
    assert(math.abs(r.getDouble(2) - math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)) < 1e-12)
  }

  test("cosine of a zero vector is 0.0, not NaN") {
    val df = Seq((Seq.fill(dims)(0f), vec(1))).toDF("a", "b")
    assert(df.select(VectorExprs.cosine($"a", $"b")).collect()(0).getDouble(0) == 0.0)
  }

  test("bruteForceTopK matches an exhaustive Scala computation") {
    val queries = corpus.filter($"id" < 3)
    val got = Similarity.bruteForceTopK(corpus, queries, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }

    val vecs = (0 until 50).map(i => i.toLong -> vec(i)).toMap
    (0L until 3L).foreach { q =>
      val want = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos(vecs(q), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(4).map(_._1)
      assert(got(q) == want, s"query $q")
    }
  }

  test("topK aggregator caps buffer and orders by (score desc, id asc)") {
    val df = Seq((1L, 1.0), (2L, 3.0), (3L, 2.0), (4L, 3.0)).toDF("id", "score")
    val out = df.agg(Similarity.topK(2, $"id", $"score").as("nn"))
      .select(explode($"nn").as("n")).select($"n.id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(2L, 4L)) // ties on 3.0 broken by ascending id
  }

  test("ivfTopK returns k ranked neighbors per query (approximate recall)") {
    val queries = corpus.filter($"id" < 2)
    val out = Similarity.ivfTopK(corpus, queries, nlist = 8, nprobe = 8, k = 3).collect()
    assert(out.length == 6) // 2 queries x k=3
    // nprobe = nlist probes every cell => must equal brute force
    val brute = Similarity.bruteForceTopK(corpus, queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted.toSeq
    val ivf = out.map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted.toSeq
    assert(ivf == brute)
  }

  test("persisted IVF index serves the same answers as the inline build (trained path)") {
    val dir = tempDir("graft_ivf_idx")
    val queries = corpus.filter($"id" < 3)
    // trained (k-means) quantizer — the production path, not the fixture:
    // the stored layout must not change the answer at ANY nprobe (pruned
    // probes read the same cells either way; deterministic seeding makes
    // inline and persisted builds train identical centroids)
    Similarity.writeIvfIndex(corpus, dir, nlist = 4)
    for (nprobe <- Seq(1, 4)) {
      val inline = Similarity.ivfTopK(corpus, queries, nlist = 4,
        nprobe = nprobe, k = 5).collect().map(_.toString).sorted.toSeq
      val served = Similarity.ivfTopKIndexed(spark, dir, queries,
        nprobe = nprobe, k = 5).collect().map(_.toString).sorted.toSeq
      assert(served == inline, s"nprobe=$nprobe persisted != inline")
    }
    // the cells layout is partitioned by cell (one directory per cell) —
    // the physical property the pruned probe's scan pruning rides on
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length == 4, s"expected 4 cell= partitions, got ${cellDirs.length}")
  }

  test("kmeansCentroids: deterministic across calls, unit-norm, nlist cells") {
    val c1 = Similarity.kmeansCentroids(corpus, nlist = 4)
    val c2 = Similarity.kmeansCentroids(corpus, nlist = 4)
    assert(c1.length == 4)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) }, "k-means not deterministic")
    c1.foreach { v =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9, "centroid not unit-norm")
    }
  }

  test("recallAtK: approximate IVF (nprobe < nlist) recalls clustered data well") {
    // four tight clusters; nprobe=1 should route each query to its own
    // cluster's cell, where all its true neighbors live
    val base = Array.tabulate(4)(c => Array.tabulate(dims)(i => if (i % 4 == c) 1f else 0.05f))
    val pts = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, base(c).zipWithIndex.map { case (x, j) => x + 0.01f * ((i * 7 + j) % 5) }.toSeq)
    }.toDF("id", "v")
    val queries = pts.filter($"id" < 8)
    val approx = Similarity.ivfTopK(pts, queries, nlist = 4, nprobe = 1, k = 5)
    val exact = Similarity.bruteForceTopK(pts, queries, k = 5)
    val rec = Similarity.recallAtK(approx, exact).collect().map(_.getDouble(1))
    assert(rec.length == 8)
    val mean = rec.sum / rec.length
    assert(mean > 0.8, s"mean recall@5 = $mean")
  }

  test("ivfPqAdcTopK: clustered recall through cells + residual codes; candidates stay in probed cells") {
    // the q46 cluster fixture: 4 tight clusters, centroids = one point per
    // cluster, codebooks = residuals of the first 16 points. nprobe=1
    // routes each query to its own cluster cell; the residual-coded ADC
    // ranking must still recall the true (brute-force) neighbors well
    val base = Array.tabulate(4)(c => Array.tabulate(dims)(i => if (i % 4 == c) 1.0 else 0.05))
    val pts = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, base(c).zipWithIndex.map { case (x, j) => x + 0.01 * ((i * 7 + j) % 5) }.toSeq)
    }.toDF("id", "v")
    val cents = pts.filter($"id" < 4)
      .select($"id".as("cid"), $"v".as("cv"))
    val a16 = Similarity.assignToCentroids(pts.filter($"id" < 16), cents)
      .select($"id", $"cid")
    val res16 = pts.filter($"id" < 16).join(a16, "id")
      .join(broadcast(cents), "cid")
      .select($"id", zip_with($"v", $"cv", (a, b) => a - b).as("rv"))
    val cb = res16.select($"id".as("cbid"),
        explode(sequence(lit(0), lit(3))).as("sub"), $"rv")
      .select($"sub", $"cbid".as("cid"),
        slice($"rv", $"sub" * (dims / 4) + 1, lit(dims / 4)).as("cv"))
    val queries = pts.filter($"id" < 8)
    val approx = Similarity.ivfPqAdcTopK(pts, queries, cents, cb,
      m = 4, subDims = dims / 4, nprobe = 1, k = 5)
    val exact = Similarity.bruteForceTopK(pts, queries, k = 5)
    val rec = Similarity.recallAtK(approx, exact).collect().map(_.getDouble(1))
    assert(rec.length == 8)
    val mean = rec.sum / rec.length
    assert(mean > 0.6, s"mean recall@5 through IVF-PQ = $mean")
    // every candidate really came from the query's probed (single) cell
    val cellOf = Similarity.assignToCentroids(pts, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    approx.collect().foreach { r =>
      assert(cellOf(r.getLong(1)) == cellOf(r.getLong(0)),
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s probed cell")
    }
  }

  test("meanPoolVectors: exact per-dim means in dim order, L2 norm of the pooled vector") {
    val vecs = Seq((0L, Seq(1.0f, 3.0f)), (1L, Seq(3.0f, 5.0f)), (2L, Seq(0.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.meanPoolVectors(vecs, expr("vec_id DIV 2"), $"embedding")
      .orderBy("gid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    assert(out(0)._2 == Seq(2.0, 4.0)) // means of [1,3] and [3,5]
    assert(out(0)._3 == math.sqrt(20.0))
    assert(out(1)._2 == Seq(0.0, 6.0) && out(1)._3 == 6.0) // singleton group
  }

  test("recallAtK arithmetic on a hand-built example") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (2L, 99L)).toDF("query_id", "neighbor_id")
    val rec = Similarity.recallAtK(approx, exact).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rec(1L) == 0.5 && rec(2L) == 0.0)
  }

  test("kmeansLloydStep: hand fixture means; kmeansFit converges to cluster centers") {
    // two tight clusters around (0,0) and (10,10); init centroids off-center
    val corpus = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 1.0f)), (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(10.0f, 10.0f)), (5L, Seq(11.0f, 11.0f)), (6L, Seq(10.0f, 11.0f))
    ).toDF("id", "v")
    val init = Seq((0L, Seq(2.0, 2.0)), (1L, Seq(8.0, 8.0))).toDF("cid", "cv")
    val step = Similarity.kmeansLloydStep(corpus, init)
      .orderBy($"cid", $"dim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(step == Seq(
      (0L, 1L, 1.0 / 3, 3L), (0L, 2L, 2.0 / 3, 3L),
      (1L, 1L, 31.0 / 3, 3L), (1L, 2L, 32.0 / 3, 3L)))
    // two full iterations: centroids land on the exact cluster means
    val fitted = Similarity.kmeansFit(corpus, init, iters = 2)
      .orderBy($"cid").collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(fitted(0L).zip(Seq(1.0 / 3, 2.0 / 3)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(fitted(1L).zip(Seq(31.0 / 3, 32.0 / 3)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("powerIteration: dominant axis found, max pinned at 1e6, layout-invariant") {
    // spread is overwhelmingly along x: the dominant uncentered direction
    val pts = Seq(
      (1L, Seq(10.0f, 1.0f)), (2L, Seq(10.0f, -1.0f)),
      (3L, Seq(-10.0f, 0.5f)), (4L, Seq(8.0f, 0.0f)))
      .toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.powerIteration(d, dim = 2, rounds = 2)
        .orderBy("dim").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val out = run(pts)
    // x component pinned at the max, y far smaller
    assert(math.abs(out(0)._2) == 1000000L)
    assert(math.abs(out(1)._2) < 200000L)
    // floor-quantized terms are per-row, decimal sums order-independent:
    // the output is partition-layout invariant
    assert(run(pts.repartition(3)) == out)
    // all-zero corpus: zero vector, no division blowup
    val zeros = Seq((1L, Seq(0.0f, 0.0f))).toDF("id", "v")
    assert(run(zeros).map(_._2).forall(_ == 0L))
  }

  test("clusterPurity: majority label per cluster, smaller-label ties, global ppm") {
    val corpus = Seq(
      (1L, Seq(0.0f, 1.0f), 1L), (2L, Seq(1.0f, 0.0f), 1L),
      (3L, Seq(0.5f, 0.0f), 2L),
      (4L, Seq(10.0f, 10.0f), 2L), (5L, Seq(9.0f, 10.0f), 2L))
      .toDF("id", "v", "label")
    val cents = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f))).toDF("cid", "cv")
    val out = graft.operators.Similarity.clusterPurity(corpus, cents)
      .orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // cluster 0: labels {1:2, 2:1} -> top 1; cluster 1: all 2
    // purity = (2 + 2) / 5
    assert(out == Seq((0L, 3L, 1L, 2L, 800000L), (1L, 2L, 2L, 2L, 800000L)))
    // majority tie: equal counts pick the smaller label
    val tied = Seq((1L, Seq(0.0f), 5L), (2L, Seq(0.0f), 3L)).toDF("id", "v", "label")
    val oneC = Seq((0L, Seq(0.0f))).toDF("cid", "cv")
    val t = graft.operators.Similarity.clusterPurity(tied, oneC).collect().head
    assert(t.getLong(2) == 3L && t.getLong(3) == 1L)
  }

  test("kCenterSelect: farthest-first picks, non-increasing radii, smaller-id ties") {
    // (0,0) (10,0) (0,1) (5,5) (10,1): seed id 1; farthest 5 (d 101);
    // then 4 (min-dist 41); then md(2)=md(3)=1.0 ties to id 2
    val pts = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(5.0f, 5.0f)), (5L, Seq(10.0f, 1.0f))).toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame, k: Int) =
      Similarity.kCenterSelect(d, k).orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expect = Seq((1L, 1L, 0.0), (2L, 5L, 101.0), (3L, 4L, 41.0), (4L, 2L, 1.0))
    assert(run(pts, 4) == expect)
    assert(run(pts.repartition(3), 4) == expect)
    // radii never increase; k=1 is just the seed
    assert(expect.drop(1).map(_._3) == expect.drop(1).map(_._3).sorted.reverse)
    assert(run(pts, 1) == Seq((1L, 1L, 0.0)))
  }

  test("quantizeInt8: roundtrip error <= scale/2, codes span [0,255], constant vector is all-zero") {
    val vs = Seq(
      (1L, Seq(-1.0f, 0.0f, 0.5f, 1.0f)),
      (2L, Seq(3.0f, 3.0f, 3.0f, 3.0f)), // constant => scale 0
      (3L, Seq.tabulate(64)(i => (math.sin(i) * (i % 7)).toFloat))
    ).toDF("id", "v")
    val out = vs.select($"id", $"v", VectorExprs.quantizeInt8($"v").as("qz"))
      .withColumn("dq", VectorExprs.dequantizeInt8($"qz"))
      .withColumn("err", aggregate(zip_with($"v", $"dq", (a, b) => abs(a - b)),
        lit(0.0), (acc, x) => greatest(acc, x)))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    val q1 = r1.getStruct(2).getSeq[Int](2)
    assert(q1.min == 0 && q1.max == 255) // min maps to 0, max to 255
    val scale1 = r1.getStruct(2).getDouble(1)
    assert(r1.getDouble(4) <= scale1 / 2 + 1e-12)
    val r2 = out(2L)
    assert(r2.getStruct(2).getDouble(1) == 0.0 && r2.getStruct(2).getSeq[Int](2).forall(_ == 0))
    assert(r2.getDouble(4) == 0.0) // dequant of a constant vector is exact
    val r3 = out(3L)
    assert(r3.getDouble(4) <= r3.getStruct(2).getDouble(1) / 2 + 1e-12)
  }

  test("quantized cosine stays within 1e-2 of exact on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val a = e.filter($"vec_id" < 20).select($"vec_id".as("ida"), $"embedding".as("va"))
    val b = e.filter($"vec_id" >= 20 && $"vec_id" < 40)
      .select($"vec_id".as("idb"), $"embedding".as("vb"))
    val pairs = a.crossJoin(b)
      .withColumn("dqa", VectorExprs.dequantizeInt8(VectorExprs.quantizeInt8($"va")))
      .withColumn("dqb", VectorExprs.dequantizeInt8(VectorExprs.quantizeInt8($"vb")))
      .select(
        VectorExprs.cosine($"va", $"vb").as("exact"),
        VectorExprs.cosine($"dqa", $"dqb").as("approx"))
      .withColumn("diff", abs($"exact" - $"approx"))
    val worst = pairs.agg(max($"diff")).collect()(0).getDouble(0)
    assert(worst <= 0.01, s"worst quantized-cosine drift $worst")
  }

  test("pqEncode picks the nearest sub-centroid per subspace, ties to lower cid") {
    // 4-dim vectors, m=2 subspaces of 2 dims; codebook: 2 centroids per sub
    val corpus = Seq(
      (10L, Seq(0.1f, 0.1f, 9.0f, 9.0f)), // sub0 -> cid 0, sub1 -> cid 1
      (11L, Seq(5.0f, 5.0f, 0.0f, 0.0f))  // sub0 equidistant -> tie to cid 0
    ).toDF("id", "v")
    val cb = Seq(
      (0, 0L, Seq(0.0f, 0.0f)), (0, 1L, Seq(10.0f, 10.0f)),
      (1, 0L, Seq(0.0f, 0.0f)), (1, 1L, Seq(10.0f, 10.0f))
    ).toDF("sub", "cid", "cv")
    val out = Similarity.pqEncode(corpus, cb, m = 2, subDims = 2)
      .orderBy("id", "sub").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((10L, 0L, 0L), (10L, 1L, 1L), (11L, 0L, 0L), (11L, 1L, 0L)))
    // quantization error comes back exactly: (0.1^2 + 0.1^2) in float->double
    assert(math.abs(out(0).getDouble(3) -
      (0.1f.toDouble * 0.1f.toDouble * 2)) < 1e-12)
  }

  test("pqAdcTopK: ADC distance equals the sum of per-subspace LUT distances") {
    val corpus = Seq(
      (10L, Seq(0.0f, 0.0f, 10.0f, 10.0f)),
      (11L, Seq(10.0f, 10.0f, 10.0f, 10.0f))
    ).toDF("id", "v")
    val cb = Seq(
      (0, 0L, Seq(0.0f, 0.0f)), (0, 1L, Seq(10.0f, 10.0f)),
      (1, 0L, Seq(0.0f, 0.0f)), (1, 1L, Seq(10.0f, 10.0f))
    ).toDF("sub", "cid", "cv")
    val codes = Similarity.pqEncode(corpus, cb, m = 2, subDims = 2)
    val queries = Seq((99L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("id", "v")
    val out = Similarity.pqAdcTopK(codes, cb, queries, m = 2, subDims = 2, k = 2)
      .orderBy("rank").collect()
    // doc 10 codes (0,1): adist = (1+1) + (81+81) = 164
    // doc 11 codes (1,1): adist = (81+81)*2 = 324; rank by adist asc
    assert(out(0).getLong(1) == 10L && out(0).getDouble(2) == 164.0 && out(0).getLong(3) == 1L)
    assert(out(1).getLong(1) == 11L && out(1).getDouble(2) == 324.0 && out(1).getLong(3) == 2L)
  }

  test("hardNegatives: rank bands split into positive / hard_negative roles") {
    val queries = corpus.filter($"id" < 2)
    val out = Similarity.hardNegatives(corpus, queries, kPos = 3, kNeg = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getString(4)))
    assert(out.length == 2 * 7)
    out.foreach { case (_, rank, role) =>
      assert(if (rank <= 3) role == "positive" else role == "hard_negative")
    }
    // bands are contiguous: every query has ranks 1..7 exactly once
    out.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 7))
    }
  }

  test("mutualPairs keeps only reciprocal top-k edges, one row per pair") {
    // hand kNN: 1->2 (r1), 2->1 (r2), 1->3 (r2), 3->2 (r1): only (1,2) mutual
    val knn = Seq(
      (1L, 2L, 0.9, 1), (1L, 3L, 0.5, 2),
      (2L, 1L, 0.9, 2), (2L, 4L, 0.95, 1),
      (3L, 2L, 0.8, 1), (4L, 3L, 0.7, 1)
    ).toDF("query_id", "neighbor_id", "cosine", "rank")
    val out = Similarity.mutualPairs(knn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 1L, 2L)))
  }

  test("sq8TopK: integer code dot products, exact tie-break, matches a reference fold") {
    // hand case: codes are the values themselves (mn 0, mx 255 -> scale 1)
    val fix = Seq(
      (0L, Seq(0.0, 255.0, 0.0)),    // query; codes [0,255,0]
      (1L, Seq(255.0, 255.0, 0.0)),  // dot 65025
      (2L, Seq(0.0, 255.0, 255.0)),  // dot 65025 — tie, higher id ranks after
      (3L, Seq(255.0, 0.0, 0.0)))    // dot 0
      .toDF("id", "v")
    val out = Similarity.sq8TopK(fix, fix.filter($"id" === 0L), k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 1L, 65025L, 1L), (0L, 2L, 65025L, 2L)))

    // independent reference: replicate quantize + integer dot in plain Scala
    // over deterministic vectors and compare the full ranking
    def vec(i: Int): Seq[Double] =
      (0 until 6).map(j => ((i * 31 + j * 17) % 13).toDouble / 13.0)
    def codesOf(v: Seq[Double]): Seq[Int] = {
      val mn = v.min; val mx = v.max; val scale = (mx - mn) / 255.0
      if (scale == 0.0) v.map(_ => 0)
      else v.map(x => math.min(255.0, math.max(0.0, math.floor((x - mn) / scale + 0.5))).toInt)
    }
    val vecs = (0 until 40).map(i => (i.toLong, vec(i)))
    val df = vecs.toDF("id", "v")
    val got = Similarity.sq8TopK(df, df.filter($"id" < 2L), k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (0 until 2).flatMap { q =>
      val qc = codesOf(vecs(q)._2)
      vecs.filter(_._1 != q.toLong)
        .map { case (id, v) => (id, codesOf(v).zip(qc).map { case (a, b) => a.toLong * b }.sum) }
        .sortBy { case (id, s) => (-s, id) }.take(3)
        .map { case (id, s) => (q.toLong, id, s) }
    }
    assert(got.toSeq == want)
  }

  test("embeddingDrift: hand centroids, per-dim diffs, dim-ordered l2 fold") {
    import graft.operators.Similarity
    val ref = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(2.0f, 4.0f))).toDF("id", "v")
    val cur = Seq((3L, Seq(3.0f, 6.0f))).toDF("id", "v")
    val out = Similarity.embeddingDrift(ref, cur, col("v"))
      .orderBy("dim").collect()
    // centroids: ref (1, 2), cur (3, 6) -> diffs (2, 4) -> shift 4 + 16
    assert(out.length == 2)
    assert((out(0).getLong(0), out(0).getDouble(1), out(0).getDouble(2),
      out(0).getDouble(3)) == (1L, 1.0, 3.0, 2.0))
    assert((out(1).getLong(0), out(1).getDouble(1), out(1).getDouble(2),
      out(1).getDouble(3)) == (2L, 2.0, 6.0, 4.0))
    assert(out(0).getLong(4) == 2L && out(0).getLong(5) == 1L)
    assert(out(0).getDouble(6) == 20.0)
    // identical splits: zero shift everywhere
    val same = Similarity.embeddingDrift(ref, ref, col("v")).collect()
    assert(same.forall(r => r.getDouble(3) == 0.0 && r.getDouble(6) == 0.0))
  }

  test("jlProjectCodes: outputs replay the sign-mix model exactly") {
    import graft.operators.Similarity
    // plain-Scala model of s(i, j) — the spec-side oracle
    def sign(i: Long, j: Long, outDim: Long): Long = {
      val x = i * outDim + j
      val h1 = ((x * 1000003L) % 2147483648L) * 2654435761L % 4294967296L
      val h2 = ((h1 ^ (h1 / 65536L)) * 40503L) % 4294967296L
      1L - 2L * ((h2 / 65536L) % 2L)
    }
    val codes = Array(7, 11, 255, 0, 42)
    val df = Seq((1L, codes.toSeq)).toDF("id", "codes")
    val out = Similarity.jlProjectCodes(df, col("id"), col("codes"), outDim = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    (0L until 4L).foreach { j =>
      val expect = codes.indices.map(i => codes(i) * sign(i, j, 4)).sum
      assert(out(j) == expect, s"dim $j")
    }
    // the sign matrix is balanced enough that projections differ by dim
    assert(out.values.toSet.size > 1)
  }

  test("native expressions are reachable from the SQL surface via register") {
    graft.plans.VectorExprs.register(spark)
    Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql(
      "SELECT cosine_sim(a, b) AS c, dot_product(a, b) AS d, l2_norm(a) AS n FROM vecs")
      .collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0 && r.getDouble(2) == 1.0)
    // the kernels read 4- or 8-byte float elements from memory: any other
    // element type fails analysis instead of being reinterpreted
    Seq("cosine_sim(x, x)", "dot_product(x, x)", "l2_dist_sq(x, x)", "l2_norm(x)").foreach { f =>
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $f FROM (SELECT array(1, 2) AS x)").collect())
    }
  }
  test("nswBuildGraph at nprobe = nlist equals brute-force kNN of the corpus") {
    // probing every cell removes the approximation: each node's out-edges
    // must be exactly its brute-force top-`degree` neighbors
    val cents = corpus.filter($"id" < 4)
      .select($"id".cast("int").as("cell"), $"v".as("cv"))
    val got = Similarity.nswBuildGraph(corpus, cents, nprobe = 4, degree = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted.toSeq
    val want = Similarity.bruteForceTopK(corpus, corpus, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted.toSeq
    assert(got == want)
  }

  test("nswGreedySearch expands exactly one hop-ball per round from the entry node") {
    // path graph 0-1-2-3-4 over vectors at increasing angles: after h hops
    // the beam is precisely the nodes within h edges of the entry (min id =
    // 0), so a query at node 0 sees neighbors {1..h} and nothing farther
    val vecs = (0L to 4L).map { i =>
      val a = i * math.Pi / 18 // 10 degrees apart: cosine strictly decays
      (i, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("id", "v")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val queries = vecs.filter($"id" === 0L)
    for (hops <- 1 to 4) {
      val got = Similarity.nswGreedySearch(edges, vecs, queries,
          hops = hops, ef = 10, k = 10)
        .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(3)))
      // ranked by cosine to node 0: nearer angle first = ascending id
      assert(got.toSeq == (1L to hops.toLong).map(i => (i, i)),
        s"hops=$hops reachable set wrong")
    }
  }

  test("nswGreedySearch full-coverage walk equals brute force; layout-invariant") {
    val cents = corpus.filter($"id" < 4)
      .select($"id".cast("int").as("cell"), $"v".as("cv"))
    val edges = Similarity.nswBuildGraph(corpus, cents, nprobe = 2, degree = 6)
    val queries = corpus.filter($"id" < 3)
    def run(e: org.apache.spark.sql.DataFrame) =
      Similarity.nswGreedySearch(e, corpus, queries, hops = 6, ef = 50, k = 5)
        .collect().map(_.toString).sorted.toSeq
    val got = run(edges)
    // ef covers the whole corpus and the symmetrized degree-6 graph is
    // connected enough that 6 hops reach everything: the walk must find
    // the exact brute-force answer
    val brute = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .select($"query_id", $"neighbor_id", round($"cosine", 6).as("cosine"),
        $"rank".cast("long").as("rank"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == brute)
    assert(run(edges.repartition(5)) == got, "partition layout changed the walk")
  }

  test("persisted NSW index serves the same answers as the inline walk") {
    val dir = tempDir("graft_nsw_idx")
    val cents = corpus.filter($"id" < 4)
      .select($"id".cast("int").as("cell"), $"v".as("cv"))
    val edges = Similarity.nswBuildGraph(corpus, cents, nprobe = 2, degree = 4)
    val queries = corpus.filter($"id" < 3)
    val inline = Similarity.nswGreedySearch(edges, corpus, queries,
      hops = 4, ef = 12, k = 4).collect().map(_.toString).sorted.toSeq
    Similarity.writeNswIndex(edges, corpus, dir)
    val served = Similarity.nswSearchIndexed(spark, dir, queries,
      hops = 4, ef = 12, k = 4).collect().map(_.toString).sorted.toSeq
    assert(served == inline)
  }

  test("gramMatrix: hand outer products, upper triangle only, negative quantization floors") {
    import spark.implicits._
    // v1 = [1.0, -0.5], v2 = [2.0, 0.25]; q(scale 10): [10, -5], [20, 2]
    // (floor(-5.0) = -5; floor(2.5) = 2 — the negative/truncation cases)
    val df = Seq((1L, Seq(1.0f, -0.5f)), (2L, Seq(2.0f, 0.25f))).toDF("id", "v")
    val got = graft.operators.Similarity.gramMatrix(df, $"id", $"v", scale = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // (0,0): 100 + 400 = 500; (0,1): -50 + 40 = -10; (1,1): 25 + 4 = 29
    assert(got == Map((0L, 0L) -> (2L, 500L), (0L, 1L) -> (2L, -10L),
      (1L, 1L) -> (2L, 29L)))
  }
}
