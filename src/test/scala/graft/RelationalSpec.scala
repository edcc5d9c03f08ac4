package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational.GraftOps
import graft.functions.ColFns

/** Core relational surface (SURVEY.md §2.2-2.3) over tiny in-memory frames
  * hitting the semantic corner cases: positional union, DISTINCT ON,
  * offset+limit, join-type flips, empty-theta cross join, describe layout.
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "lv")
  private def right = Seq((2, "x"), (3, "y"), (4, "z")).toDF("k2", "rv")

  test("aggregate: empty group list => one global row") {
    val df = Seq(1, 2, 3, 4).toDF("x")
    val g = df.aggregate(Seq.empty, Seq(sum($"x").as("s"), count(lit(1)).as("n"))).collect()
    assert(g.length == 1 && g(0).getLong(0) == 10L && g(0).getLong(1) == 4L)
    val byMod = df.aggregate(Seq(($"x" % 2).as("m")), Seq(sum($"x").as("s")))
      .orderBy($"m").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(byMod == Seq((0, 6L), (1, 4L)))
  }

  test("limitOffset: skip then fetch") {
    val df = spark.range(10).toDF("i").sortBy(Seq($"i"))
    assert(df.limitOffset(3, Some(2)).collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
    assert(df.limitOffset(8, None).collect().map(_.getLong(0)).toSeq == Seq(8L, 9L))
    assert(df.limitOffset(0, Some(2)).collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
  }

  test("sortByStaged runs its input once, where sortBy's range sampler runs it twice") {
    val n = 200
    val calls = spark.sparkContext.longAccumulator("sortByStaged_calls")
    val score = udf { (x: Long) => calls.add(1); x % 7 }
    val df = spark.range(0, n, 1, 4)
      .select($"id", when($"id" % 5 === 0, lit(null)).otherwise(score($"id")).as("k"))
    val keys = Seq($"k", $"id")
    val staged = df.sortByStaged(keys).collect().map(r => (Option(r.get(1)), r.getLong(0))).toSeq
    assert(calls.value == n - n / 5)
    calls.reset()
    val plain = df.sortBy(keys).collect().map(r => (Option(r.get(1)), r.getLong(0))).toSeq
    // why the helper exists: the sampling job re-runs the whole input
    assert(calls.value == 2 * (n - n / 5))
    assert(staged == plain)
    assert(staged.dropWhile(_._1.isDefined).forall(_._1.isEmpty), "nulls last")
    assert(staged.count(_._1.isEmpty) == n / 5)
  }

  test("distinctOn: first row per group under explicit order") {
    val df = Seq(("g1", 1, 10), ("g1", 2, 5), ("g2", 3, 7)).toDF("g", "id", "ts")
    val out = df.distinctOn(Seq($"g"), Seq($"g", $"id"), Seq($"ts".asc, $"id".asc))
      .orderBy($"g").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(out == Seq(("g1", 2), ("g2", 3))) // g1: ts=5 wins
  }

  test("joinNames: all join types, incl right_semi/right_anti side-flip") {
    def keys(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.getInt(0)).sorted.toSeq
    assert(keys(left.joinNames(right, "inner", Seq("k"), Seq("k2")), "k") == Seq(2, 3))
    assert(keys(left.joinNames(right, "left", Seq("k"), Seq("k2")), "k") == Seq(1, 2, 3))
    assert(keys(left.joinNames(right, "right", Seq("k"), Seq("k2")), "k2") == Seq(2, 3, 4))
    assert(left.joinNames(right, "full", Seq("k"), Seq("k2")).count() == 4)
    assert(keys(left.joinNames(right, "left_semi", Seq("k"), Seq("k2")), "k") == Seq(2, 3))
    assert(keys(left.joinNames(right, "left_anti", Seq("k"), Seq("k2")), "k") == Seq(1))
    // right_semi: rows of RIGHT with a match — output schema is the right side
    assert(keys(left.joinNames(right, "right_semi", Seq("k"), Seq("k2")), "k2") == Seq(2, 3))
    assert(keys(left.joinNames(right, "right_anti", Seq("k"), Seq("k2")), "k2") == Seq(4))
  }

  test("joinNames: extra non-equi filter ANDs with the key equality") {
    val out = left.joinNames(right, "inner", Seq("k"), Seq("k2"), Some($"rv" === "y"))
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("saltedJoin: skew-spread inner join equals the plain equi-join") {
    val left = (1 to 100).map(i => (if (i <= 90) 1L else i.toLong, i.toLong)).toDF("k", "v")
    val right = Seq((1L, "hot"), (95L, "cold")).toDF("k2", "name")
    val plain = left.join(right, left("k") === right("k2")).select($"v", $"name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = left.saltedJoin(right, Seq("k"), Seq("k2"), saltFrom = $"v", buckets = 8)
      .select($"v", $"name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain && salted.size == 91)
  }

  test("asofJoin: largest right ts <= left ts per key; equal ts matches; no-match drops") {
    val l = Seq((1L, 100L, "p1"), (1L, 50L, "p2"), (2L, 10L, "p3"), (3L, 10L, "p4"))
      .toDF("k", "ts", "name")
    val r = Seq((1L, 100L, "c_eq"), (1L, 60L, "c_60"), (1L, 40L, "c_40"), (2L, 20L, "c_late"))
      .toDF("k", "ts", "who")
    val out = l.asofJoin(r, Seq("k"), Seq("k"), "ts", "ts")
      .select($"l.name", $"r.who").collect()
      .map(x => (x.getString(0), x.getString(1))).toMap
    // p1@100: equal-ts right c_eq wins (>= semantics); p2@50: c_40 is the
    // largest <= 50; p3@10: only right is at 20 (future) -> dropped;
    // p4 key 3: no right rows -> dropped
    assert(out == Map("p1" -> "c_eq", "p2" -> "c_40"))
  }

  test("histogramOf: fixed-width buckets with end clamping") {
    val df = Seq(-5.0, 0.0, 5.0, 9.9, 25.0).toDF("x")
    val h = df.histogramOf($"x", 0.0, 10.0, 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    // w=5: -5 clamps to bucket 0, 0 -> 0; 5, 9.9 -> 1, 25 clamps to 1
    assert(h == Map(0L -> 2L, 1L -> 3L))
  }

  test("hashSample and stratifiedSample: deterministic, rate-shaped, stratum-scoped") {
    val df = (0L until 10000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val a = df.hashSample($"id", 0.3).collect().map(_.getLong(0)).toSet
    val b = df.hashSample($"id", 0.3).collect().map(_.getLong(0)).toSet
    assert(a == b, "hash sample must be reproducible")
    assert(math.abs(a.size / 10000.0 - 0.3) < 0.03, s"kept ${a.size} of 10000 at 0.3")
    val s = df.stratifiedSample($"id", $"lang", Map("en" -> 0.5), default = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s.forall(_._2 == "en"), "default 0.0 must drop the other stratum entirely")
    assert(math.abs(s.length / 5000.0 - 0.5) < 0.05, s"kept ${s.length} of 5000 at 0.5")
  }

  test("systematicSample: weight-proportional crossings, per-stratum, zero-weight never kept") {
    val df = Seq(
      ("a", 1L, 3L), ("a", 2L, 2L), ("a", 3L, 4L), ("a", 4L, 1L), ("a", 5L, 5L),
      ("b", 1L, 10L), ("b", 2L, 0L)
    ).toDF("s", "ord", "w")
    val got = df.systematicSample($"s", $"ord", $"w", 5L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // stratum a: cum = 3,5,9,10,15 -> rows 2,4,5 cross a multiple of 5;
    // stratum b: row 1 (w=10) crosses two multiples but is kept once;
    // the zero-weight row spans no interval and is never selected
    assert(got == Set(("a", 2L), ("a", 4L), ("a", 5L), ("b", 1L)))
    val again = df.systematicSample($"s", $"ord", $"w", 5L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == got, "systematic sample must be deterministic")
  }

  test("bootstrapSums: weights replay the pinned hash/CDF model, layout independence") {
    // plain-Scala model of the weight chain — the spec-side oracle
    def w(id: Long, rep: Long): Long = {
      val h1 = (((id * 1000003L + rep) % 2147483648L) * 2654435761L) % 4294967296L
      val u = (((h1 ^ (h1 / 65536L)) * 40503L) % 4294967296L) / 65536L
      if (u < 24109L) 0L else if (u < 48218L) 1L else if (u < 60273L) 2L else 3L
    }
    val data = (1L to 200L).map(i => (i, i * 7L))
    val df = data.toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Relational.bootstrapSums(d, col("id"), col("v"), 8)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val out = run(df)
    assert(out.size == 8)
    (0L until 8L).foreach { rep =>
      val nEff = data.map { case (id, _) => w(id, rep) }.sum
      val bSum = data.map { case (id, v) => w(id, rep) * v }.sum
      assert(out(rep) == (nEff, bSum, 200L, data.map(_._2).sum))
      // pseudo-Poisson(1): each replicate's mass sits near the corpus size
      assert(nEff > 140L && nEff < 260L)
    }
    assert(run(df.repartition(5)) == out)
  }

  test("rendezvousAssign: balanced shards, and growth moves keys ONLY to the new shard") {
    import graft.operators.Relational
    val keys = (1L to 2000L).toDF("id")
    def assign(n: Int) = Relational.rendezvousAssign(keys, col("id"), n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a8 = assign(8); val a9 = assign(9)
    // all shards populated, roughly balanced (within 3x of fair share)
    val sizes8 = a8.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes8.size == 8 && sizes8.values.forall(s => s > 80 && s < 750))
    // the HRW contract: a key moves iff the NEW shard's hash wins — so
    // every moved key lands on shard 8, and the moved share is ~1/9
    val moved = a8.keys.filter(k => a8(k) != a9(k))
    assert(moved.forall(k => a9(k) == 8L))
    assert(moved.size > 2000 / 9 / 3 && moved.size < 2000 / 9 * 3)
    // determinism
    assert(assign(8) == a8)
  }

  test("bootstrapSumsGrouped: per-group replicates replay the same model") {
    def w(id: Long, rep: Long): Long = {
      val h1 = (((id * 1000003L + rep) % 2147483648L) * 2654435761L) % 4294967296L
      val u = (((h1 ^ (h1 / 65536L)) * 40503L) % 4294967296L) / 65536L
      if (u < 24109L) 0L else if (u < 48218L) 1L else if (u < 60273L) 2L else 3L
    }
    val data = (1L to 60L).map(i => (if (i % 2 == 0) "even" else "odd", i, i * 3L))
    val df = data.toDF("g", "id", "v")
    val out = graft.operators.Relational.bootstrapSumsGrouped(
        df, col("g"), col("id"), col("v"), 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.size == 8)
    Seq("even", "odd").foreach { g =>
      val rows = data.filter(_._1 == g)
      (0L until 4L).foreach { rep =>
        val nEff = rows.map { case (_, id, _) => w(id, rep) }.sum
        val bSum = rows.map { case (_, id, v) => w(id, rep) * v }.sum
        assert(out((g, rep)) == (nEff, bSum, rows.size.toLong, rows.map(_._3).sum))
      }
    }
  }

  test("encodingAdvisor: hand run counts, null runs count, layout independence") {
    // arrival order by o: c1 = a,a,b,b,a (3 runs); c2 = 1,1,1,null,null
    // (2 runs — null-safe equality makes the null tail ONE run)
    val df = Seq(
      (1L, "a", Option(1L)), (2L, "a", Option(1L)), (3L, "b", Option(1L)),
      (4L, "b", None), (5L, "a", None)
    ).toDF("o", "c1", "c2")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Relational.encodingAdvisor(d, col("o"), Seq("c1", "c2"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val out = run(df)
    // c1: 3 arrival runs vs 2 distinct -> sorting kills 1/3 of runs
    assert(out("c1") == (5L, 2L, 3L, 2L, 1666L, 2500L, 333333L))
    // c2: 2 runs (1,1,1 | null,null), 2 distinct incl. the null group
    // -> already one run per value, zero gain
    assert(out("c2") == (5L, 2L, 2L, 2L, 2500L, 2500L, 0L))
    // partition layout cannot change the profile
    assert(run(df.repartition(3)) == out)
  }

  test("weightedPercentile: lower weighted quantile, duplicate collapse, layout independence") {
    import graft.operators.Relational.GraftOps
    // g: value 1 (w 1), 2 (w 1), 3 (w 2 as two duplicate rows) — total 4
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 1L), ("g", 3L, 1L),
      ("h", 10L, 5L)).toDF("k", "v", "w")
    def run(d: org.apache.spark.sql.DataFrame, p: Long) =
      d.weightedPercentile(Seq(col("k")), col("v"), col("w"), p)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // median: cum >= 2 first at value 2 (cum 2)
    assert(run(df, 500000L)("g") == (4L, 2L, 2L))
    // p75: cum >= 3 first at value 3 (cum 4, duplicates collapsed)
    assert(run(df, 750000L)("g") == (4L, 3L, 4L))
    // p -> 1 ppm: the smallest value wins
    assert(run(df, 1L)("g") == (4L, 1L, 1L))
    // single-value group: every p lands on it
    assert(run(df, 999999L)("h") == (5L, 10L, 5L))
    // partition layout cannot change the answer
    assert(run(df.repartition(4), 500000L) == run(df, 500000L))
  }

  test("winsorize: R-7 percentile bounds, selection-only clipping") {
    val df = (1 to 10).map(i => ("a", i.toDouble)).toDF("g", "x")
    val out = df.winsorize(Seq($"g"), $"x", 0.1, 0.9)
      .select($"x", $"p_lo", $"p_hi", $"clipped")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // (n-1)*q interpolation: p10 = 1.9, p90 = 9.1
    assert(out.forall { case (_, lo, hi, _) => lo == 1.9 && hi == 9.1 })
    val clipped = out.map(t => t._1 -> t._4).toMap
    assert(clipped(1.0) == 1.9 && clipped(10.0) == 9.1)
    assert((2 to 9).forall(i => clipped(i.toDouble) == i.toDouble))
    // the sketch form (100 TB path) stays within rank error n/accuracy
    val approx = df.winsorize(Seq($"g"), $"x", 0.1, 0.9, approximate = true)
      .select($"p_lo", $"p_hi").head()
    assert(math.abs(approx.getDouble(0) - 1.9) <= 1.0)
    assert(math.abs(approx.getDouble(1) - 9.1) <= 1.0)
  }

  test("winsorizeApproxBands / robustScaleApproxBands: sketch-guarantee constants hold") {
    // the q147/q148 contract: per group, the approx percentile/median/MAD
    // must land inside the exact quantile band and every per-row
    // decision/arithmetic counter must be 0 — on the real sf0.001 corpus
    // AND on a synthetic frame with a skewed group
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val w = li.winsorizeApproxBands(Seq($"l_returnflag"), $"l_extendedprice", 0.01, 0.99)
      .collect()
    assert(w.nonEmpty)
    w.foreach { r =>
      assert(r.getAs[Long]("lo_in_band") == 1L, s"lo out of band: $r")
      assert(r.getAs[Long]("hi_in_band") == 1L, s"hi out of band: $r")
      assert(r.getAs[Long]("n_decision_diff_outside") == 0L, s"decision diff: $r")
    }
    val rsc = li.robustScaleApproxBands(Seq($"l_returnflag"), $"l_extendedprice")
      .collect()
    rsc.foreach { r =>
      assert(r.getAs[Long]("med_in_band") == 1L, s"med out of band: $r")
      assert(r.getAs[Long]("mad_in_band") == 1L, s"mad out of band: $r")
      assert(r.getAs[Long]("n_scaled_mismatch") == 0L, s"scaled mismatch: $r")
    }
    // exact columns replay q89/q115's values (same percentile calls)
    val exactW = li.winsorize(Seq($"l_returnflag"), $"l_extendedprice", 0.01, 0.99)
      .groupBy($"l_returnflag")
      .agg(round(min($"p_lo"), 6).as("p_lo"), round(min($"p_hi"), 6).as("p_hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    w.foreach { r =>
      val (elo, ehi) = exactW(r.getString(0))
      assert(r.getAs[Double]("p_lo") == elo && r.getAs[Double]("p_hi") == ehi)
    }
    // synthetic: skewed group (power-law values) + near-constant group —
    // a LOW-accuracy sketch (real compression, genuinely approximate) must
    // still sit inside its correspondingly wider band
    val syn = ((1 to 4000).map(i => ("skew", math.pow(1.002, i))) ++
      (1 to 3000).map(i => ("flat", 5.0 + (i % 3) * 0.001))).toDF("g", "x")
    val ws = syn.winsorizeApproxBands(Seq($"g"), $"x", 0.05, 0.95, accuracy = 100)
      .collect()
    assert(ws.length == 2)
    ws.foreach { r =>
      assert(r.getAs[Long]("lo_in_band") == 1L && r.getAs[Long]("hi_in_band") == 1L
        && r.getAs[Long]("n_decision_diff_outside") == 0L, s"synthetic: $r")
    }
    val rs = syn.robustScaleApproxBands(Seq($"g"), $"x", accuracy = 100).collect()
    rs.foreach { r =>
      assert(r.getAs[Long]("med_in_band") == 1L && r.getAs[Long]("mad_in_band") == 1L
        && r.getAs[Long]("n_scaled_mismatch") == 0L, s"synthetic: $r")
    }
  }

  test("normalizeMinMax: [0,1] scaling, constant groups pin to 0.0") {
    val df = Seq(("a", 10.0), ("a", 20.0), ("a", 40.0), ("b", 5.0), ("b", 5.0))
      .toDF("g", "x")
    val out = df.normalizeMinMax(Seq($"g"), $"x")
      .select($"g", $"x", $"normalized").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(out(("a", 10.0)) == 0.0)
    assert(out(("a", 20.0)) == (20.0 - 10.0) / 30.0)
    assert(out(("a", 40.0)) == 1.0)
    assert(out(("b", 5.0)) == 0.0) // constant group
  }

  test("zorderValue: pinned Morton values; high bits beyond `bits` are ignored") {
    val df = Seq((5L, 3L), (0L, 0L), (1L, 0L), (0L, 1L), (1024L, 1024L), (2048L, 0L))
      .toDF("x", "y")
    val z = df.select($"x", $"y",
        graft.operators.Relational.zorderValue($"x", $"y", 11).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((5L, 3L)) == 27L)       // 101 ⨯ 011 -> 011011
    assert(z((0L, 0L)) == 0L && z((1L, 0L)) == 1L && z((0L, 1L)) == 2L)
    assert(z((1024L, 1024L)) == 3145728L) // bit 10 of each -> bits 20+21
    assert(z((2048L, 0L)) == 0L)     // bit 11 is beyond bits=11 -> ignored
  }

  test("layoutZOrder: partition z-ranges are disjoint and ordered (range partitioning)") {
    val grid = for { x <- 0 until 8; y <- 0 until 8 } yield (x.toLong, y.toLong)
    val laid = grid.toDF("x", "y").layoutZOrder($"x", $"y", 3, 4)
    val ranges = laid
      .withColumn("z", graft.operators.Relational.zorderValue($"x", $"y", 3))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(min($"z").as("lo"), max($"z").as("hi"), count(lit(1)).as("n"))
      .orderBy("lo").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ranges.map(_._3).sum == 64L)
    // consecutive partitions cover disjoint, increasing z intervals
    ranges.sliding(2).foreach {
      case Array((_, hi1, _), (lo2, _, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("layoutHilbert: partition h-ranges are disjoint and ordered; row set preserved") {
    val grid = for { x <- 0 until 8; y <- 0 until 8 } yield (x.toLong, y.toLong)
    val laid = grid.toDF("x", "y").layoutHilbert($"x", $"y", 3, 4)
    val ranges = laid
      .withColumn("h", graft.operators.Relational.hilbertValue($"x", $"y", 3))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(min($"h").as("lo"), max($"h").as("hi"), count(lit(1)).as("n"))
      .orderBy("lo").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ranges.map(_._3).sum == 64L)
    ranges.sliding(2).foreach {
      case Array((_, hi1, _), (lo2, _, _)) => assert(hi1 < lo2)
      case _ =>
    }
    assert(laid.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == grid.toSet)
  }

  test("operators fail fast on unknown columns at CALL time (reference error-timing parity)") {
    // classic-mode Spark analyzes at Dataset construction, so bad references
    // throw at the operator call — same timing as DataFusion's per-op
    // validation in the reference (main.rs:176-181). This spec pins that no
    // Spark upgrade silently defers the failure to action time.
    val df = Seq((1, "a")).toDF("k", "s")
    import org.apache.spark.sql.AnalysisException
    intercept[AnalysisException] { df.selectCols(Seq($"nope")) }
    intercept[AnalysisException] { df.filterCol($"nope" > 1) }
    intercept[AnalysisException] { df.aggregate(Seq($"nope"), Seq(count(lit(1)).as("n"))) }
    intercept[AnalysisException] { df.sortBy(Seq($"nope")) }
    intercept[AnalysisException] { df.joinNames(df.toDF("a", "b"), "inner", Seq("zzz"), Seq("a")) }
  }

  test("saltedJoin: hot key spreads across salt buckets and the shuffle keys on the salt") {
    val left = (1 to 200).map(i => (1L, i.toLong)).toDF("k", "v") // single hot key
    val right = Seq((1L, "hot")).toDF("k2", "name")
    // the salt expression saltedJoin applies must fan the hot key's rows out
    // over most of the 8 buckets (deterministic, so this is a fixed fact)
    val spread = left
      .select(pmod(xxhash64(struct($"k", $"v")), lit(8L)).as("s"))
      .distinct().count()
    assert(spread >= 6, s"hot key landed in only $spread of 8 salt buckets")
    // and the join's shuffle must include __salt in its partitioning keys,
    // otherwise the hot key still lands on one reducer
    val out = left.saltedJoin(right, Seq("k"), Seq("k2"),
      saltFrom = struct($"k", $"v"), buckets = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column absent from physical plan:\n$plan")
  }

  test("rollupAgg: subtotal levels carry the right gid; one Expand, one aggregate") {
    val df = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L)).toDF("g1", "g2", "v")
    val out = df.rollupAgg(Seq($"g1", $"g2"), Seq(sum($"v").as("s")))
      .orderBy($"gid", $"g1", $"g2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      ("a", "x", 0L, 1L), ("a", "y", 0L, 2L), ("b", "x", 0L, 4L), // leaves
      ("a", null, 1L, 3L), ("b", null, 1L, 4L),                   // per-g1
      (null, null, 3L, 7L)))                                      // grand total
    // one Expand + hash aggregate: rollup must not become n separate scans
    val plan = df.rollupAgg(Seq($"g1", $"g2"), Seq(sum($"v").as("s")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"))
  }

  test("cubeAgg: every subset of the group appears (2^n grouping sets)") {
    val df = Seq(("a", "x", 1L), ("b", "y", 2L)).toDF("g1", "g2", "v")
    val out = df.cubeAgg(Seq($"g1", $"g2"), Seq(sum($"v").as("s")))
    assert(out.select($"gid").distinct().collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L))
    // the g2-only subtotal (gid 2 = g1 aggregated away) sums per g2
    val g2only = out.filter($"gid" === 2).orderBy($"g2").collect()
      .map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(g2only == Seq(("x", 1L), ("y", 2L)))
  }

  test("pivotCounts: wide cells match conditional aggregation, absent cells are 0") {
    val df = Seq(("s1", "de", 10L), ("s1", "de", 5L), ("s1", "en", 7L), ("s2", "en", 1L))
      .toDF("source", "lang", "n_chars")
    val out = graft.operators.Relational.pivotCounts(
        df, Seq($"source"), "lang", Seq("de", "en"), $"n_chars")
      .orderBy($"source").collect()
    assert(out(0).toSeq == Seq("s1", 2L, 15L, 1L, 7L))
    assert(out(1).toSeq == Seq("s2", 0L, 0L, 1L, 1L)) // absent (s2, de) => 0, not null
  }

  test("corrStats: exact co-moment corr matches hand math; constant column yields NULL corr") {
    val df = Seq((1.0, 2.0, "g"), (2.0, 4.0, "g"), (3.0, 6.0, "g"), // y = 2x => corr 1
      (1.0, 5.0, "h"), (2.0, 5.0, "h"), (3.0, 5.0, "h"))            // y constant
      .toDF("x", "y", "g")
    val out = df.corrStats(Seq($"g"), $"x", $"y").orderBy($"g").collect()
    assert(out(0).getLong(1) == 3L && math.abs(out(0).getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(out(0).getDouble(3) - 2.0) < 1e-12) // covar_samp of (x, 2x), var_samp(x)=1
    assert(out(1).isNullAt(2)) // zero variance => NULL, not NaN
    assert(out(1).getDouble(5) == 0.0) // std_y of the constant column
  }

  test("approx_count_distinct stays within 5% of exact across real doc tokens") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select($"lang", explode(graft.functions.TextFns.tokens($"text")).as("tok"))
    val both = toks.groupBy($"lang")
      .agg(approx_count_distinct($"tok", rsd = 0.02).as("a"), countDistinct($"tok").as("e"))
      .collect()
    both.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"lang ${r.getString(0)}: approx $a exact $e")
    }
  }

  test("joinOn: theta predicates ANDed; empty list => cross join") {
    val theta = left.joinOn(right, "inner", Seq($"k" < $"k2"))
    assert(theta.count() == 6) // (1,2)(1,3)(1,4)(2,3)(2,4)(3,4)
    assert(left.joinOn(right, "inner", Seq.empty).count() == 9)
  }

  test("union is positional; unionDistinct dedups") {
    val a = Seq((1, "x")).toDF("n", "s")
    val b = Seq((2, "y")).toDF("m", "t") // different names, compatible positions
    val u = a.unionAll(b)
    assert(u.columns.toSeq == Seq("n", "s")) // positional: left side names win
    assert(u.orderBy($"n").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "x"), (2, "y")))
    val dup = Seq(1, 2).toDF("x")
    assert(dup.unionAll(dup).count() == 4)
    assert(dup.unionDistinct(dup).orderBy($"x").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("intersect/except use distinct semantics") {
    val a = Seq(1, 1, 2, 3).toDF("x")
    val b = Seq(1, 3, 3, 4).toDF("x")
    assert(a.intersectDistinct(b).orderBy($"x").collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    assert(a.exceptDistinct(b).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("sortBy default matches DataFusion: ASC NULLS LAST") {
    val df = Seq(Some(2), None, Some(1)).toDF("x")
    val out = df.sortBy(Seq($"x")).collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
    assert(out == Seq(1, 2, -1)) // Spark's bare asc would put NULL first
  }

  test("windowCols appends auto-named columns") {
    val df = Seq(("g1", 1), ("g1", 2), ("g2", 3)).toDF("g", "x")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"g").orderBy($"x")
    val out = df.windowCols(Seq(row_number().over(w), sum($"x").over(w)))
    assert(out.columns.toSeq == Seq("g", "x", "w0", "w1"))
    val g1 = out.filter($"g" === "g1").orderBy($"x").collect()
    assert(g1.map(_.getInt(2)).toSeq == Seq(1, 2))
  }

  test("describeDf emits the DataFusion row set incl. null_count") {
    val df = Seq((Some(1.0), "a"), (None, "b"), (Some(3.0), null)).toDF("v", "s")
    val d = df.describeDf.collect()
    val rows = d.map(r => r.getString(0) -> r).toMap
    assert(d.map(_.getString(0)).toSeq ==
      Seq("count", "null_count", "mean", "std", "min", "max", "median"))
    assert(rows("count").getString(1) == "2")      // non-null v count
    assert(rows("null_count").getString(1) == "1") // one null v
    assert(rows("null_count").getString(2) == "1") // one null s
    // numeric cells print through DECIMAL(38,6) — the engine-independent
    // fixed-point form q25's independent DuckDB oracle re-derives
    assert(rows("mean").getString(1) == "2.000000")
    assert(rows("median").getString(1) == "2.000000") // exact interpolated
    assert(rows("min").getString(1) == "1.000000")
    assert(rows("min").getString(2) == "a")        // non-numeric min: raw
    assert(rows("mean").getString(2) == null)      // non-numeric => null
  }

  test("showAll prints every row untruncated; showLimit(n) prints n rows") {
    val long = "x" * 30   // past show()'s 20-char cell truncation
    val df = (1 to 25).map(i => (i, long)).toDF("i", "s")
    def printed(show: => Unit): Seq[String] = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(show)
      // data rows are the "|"-framed lines after the header row
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("|")).drop(1).toSeq
    }
    val all = printed(df.showAll())
    assert(all.size == 25 && all.forall(_.contains(long)))
    assert(printed(df.showLimit(3)).size == 3)
  }

  test("rollingAgg ROWS frame: last-3 sums per key in total order; frames reset at key change") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0), ("a", 4L, 40.0),
      ("b", 1L, 5.0)
    ).toDF("k", "seq", "v")
    val out = df.rollingAgg(Seq($"k"), Seq($"seq"), rowsBefore = 2,
        Seq("s" -> sum($"v")))
      .orderBy("k", "seq").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 60.0), ("a", 4L, 90.0),
      ("b", 1L, 5.0)))
  }

  test("rollingRangeAgg RANGE frame: lookback window on values, tie peers always included") {
    // ties at t=20: BOTH rows are peers — each row's frame includes the
    // other regardless of physical order (the determinism RANGE buys)
    val df = Seq(
      (1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 20L, 4.0), (4L, 35L, 8.0)
    ).toDF("id", "t", "v")
    val out = df.rollingRangeAgg(Seq(lit(1)), $"t", lookback = 10L,
        Seq("s" -> sum($"v"), "n" -> count(lit(1))))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 1.0, 1L),   // [0, 10]: only itself
      (2L, 7.0, 3L),   // [10, 20]: row1 + both t=20 peers
      (3L, 7.0, 3L),   // identical frame for the tied peer
      (4L, 8.0, 1L)))  // [25, 35]: only itself
  }

  test("exactKSample: exactly k per stratum, small strata keep all, layout-independent") {
    val df = (1L to 20L).map(i => (i, if (i <= 15) "big" else "small")).toDF("id", "s")
    val out = df.exactKSample($"s", $"id", k = 6)
      .collect().map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
    assert(out("big").length == 6) // capped at k
    assert(out("small").length == 5) // stratum smaller than k keeps all
    val again = df.repartition(7).exactKSample($"s", $"id", k = 6)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(again == out.values.flatten.toSet, "selection depends on layout")
  }

  test("corpusDiff: full-outer classification of added/removed/changed/unchanged") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val v2 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "t")
    val out = graft.operators.Corpus.corpusDiff(v1, v2, $"id", $"t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("corpusDiff: a NULL witness is a value, not absence (null-safe comparison)") {
    // id 1: null on both sides while PRESENT on both -> unchanged;
    // id 2: null -> value is a change, not an add; id 3 value -> null same
    val v1 = Seq((1L, null: String), (2L, null: String), (3L, "x")).toDF("id", "t")
    val v2 = Seq((1L, null: String), (2L, "y"), (3L, null: String)).toDF("id", "t")
    val out = graft.operators.Corpus.corpusDiff(v1, v2, $"id", $"t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed"))
  }

  test("observe accumulates metrics during the pass without changing the result") {
    val obs = new org.apache.spark.sql.Observation("m")
    val df = Seq((1L, 2.0), (2L, 3.0), (3L, 5.0)).toDF("id", "v")
      .observe(obs, count(lit(1)).as("n"), sum($"v").as("s"))
      .filter($"v" > 2.0)
    // no orderBy here: a global sort's range-sampling pass would scan the
    // source twice and double the observed counts (real Spark behavior
    // worth knowing — q171 observes BEFORE its aggregate for this reason)
    val rows = df.collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(2L, 3L)) // result is the filtered set...
    val m = obs.get // ...but the metrics saw every scanned row, pre-filter
    assert(m("n") == 3L && m("s") == 10.0)
  }

  test("explainDf returns the plan as rows") {
    val df = left.filterCol($"k" > 1)
    val plan = df.explainDf().collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Filter") || plan.contains("LocalTableScan"))
  }

  test("ksDrift: identical distributions give 0, disjoint give 1, hand case exact") {
    val same = (1 to 20).flatMap(v => Seq(("a", v), ("b", v))).toDF("l", "v")
    val r0 = same.ksDrift($"v", $"l", "a", "b").collect()(0)
    assert(r0.getDouble(4) == 0.0)
    val disjoint = ((1 to 10).map(v => ("a", v)) ++ (11 to 20).map(v => ("b", v))).toDF("l", "v")
    assert(disjoint.ksDrift($"v", $"l", "a", "b").collect()(0).getDouble(4) == 1.0)
    // hand case: a = {1,2,3,4}, b = {3,4,5,6} => sup|F| at v=2: |2/4 - 0/4| = 0.5
    val hand = (Seq(1, 2, 3, 4).map(("a", _)) ++ Seq(3, 4, 5, 6).map(("b", _))).toDF("l", "v")
    val r = hand.ksDrift($"v", $"l", "a", "b").collect()(0)
    assert(r.getLong(2) == 4L && r.getLong(3) == 4L && r.getDouble(4) == 0.5)
    // other labels excluded entirely
    val noisy = (Seq(1, 2).map(("a", _)) ++ Seq(1, 2).map(("b", _)) ++
      Seq(99).map(("zz", _))).toDF("l", "v")
    assert(noisy.ksDrift($"v", $"l", "a", "b").collect()(0).getDouble(4) == 0.0)
  }

  test("robustScale: median/MAD per group, outlier-insensitive, constant group scales to 0") {
    // group g: values 1..5 plus outlier 1000 => median 3.5, deviations
    // (2.5, 1.5, 0.5, 0.5, 1.5, 996.5) => MAD 1.5; the outlier moved the
    // median only from 3 to 3.5 (min-max range would have exploded)
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 5.0),
      ("g", 1000.0), ("c", 7.0), ("c", 7.0)).toDF("k", "v")
    // the sketch form (100 TB path, q148) tracks the exact median/MAD
    val approxMed = df.robustScale(Seq($"k"), $"v", approximate = true)
      .select($"k", $"v_med").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exactMed = df.robustScale(Seq($"k"), $"v")
      .select($"k", $"v_med").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    exactMed.foreach { case (k, m) => assert(math.abs(approxMed(k) - m) <= 1.0) }
    val out = df.robustScale(Seq($"k"), $"v")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val g = out.filter(_._1 == "g")
    assert(g.forall(r => r._3 == 3.5 && r._4 == 1.5))
    val scaled = g.map(r => r._2 -> r._5).toMap
    assert(math.abs(scaled(3.0) - (3.0 - 3.5) / 1.5) < 1e-15)
    assert(math.abs(scaled(1000.0) - (1000.0 - 3.5) / 1.5) < 1e-15)
    // constant group: MAD 0 => scaled 0.0, no NaN
    assert(out.filter(_._1 == "c").forall(r => r._4 == 0.0 && r._5 == 0.0))
  }

  test("keySkewStats: hot key ranked first with exact share and skew factors") {
    // key 7 appears 6 times, keys 1..4 once each => 10 rows over 5 keys
    val rows = (Seq.fill(6)(7) ++ Seq(1, 2, 3, 4)).map(k => (k, "x"))
    val df = rows.toDF("k", "payload")
    val out = df.keySkewStats($"k", k = 3).collect()
    assert(out.length == 3)
    val top = out(0)
    assert(top.getLong(0) == 1L && top.getInt(1) == 7 && top.getLong(2) == 6L)
    assert(top.getLong(3) == 5L && top.getLong(4) == 10L)
    assert(math.abs(top.getDouble(5) - 0.6) < 1e-15)   // share 6/10
    assert(math.abs(top.getDouble(6) - 3.0) < 1e-15)   // skew 6 / (10/5)
    // ties (cnt=1) break by key ascending
    assert(out(1).getInt(1) == 1 && out(2).getInt(1) == 2)
  }

  test("temporalSplit: bands partition cleanly around cutoff and embargo") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      ts("2024-01-10 00:00:00"), ts("2024-01-20 23:59:59"),
      ts("2024-01-21 00:00:00"), ts("2024-01-23 12:00:00"),
      ts("2024-01-24 00:00:00"), ts("2024-01-29 00:00:00"))
      .toDF("ts")
    val out = df.temporalSplit($"ts", "2024-01-24 00:00:00", 3L * 86400)
      .collect().map(r => r.getTimestamp(0).toString -> r.getString(1)).toMap
    assert(out("2024-01-10 00:00:00.0") == "train")
    assert(out("2024-01-20 23:59:59.0") == "train")
    assert(out("2024-01-21 00:00:00.0") == "embargo") // closed lower bound
    assert(out("2024-01-23 12:00:00.0") == "embargo")
    assert(out("2024-01-24 00:00:00.0") == "test")    // closed at cutoff
    assert(out("2024-01-29 00:00:00.0") == "test")
    // zero embargo degenerates to a plain two-way split
    val plain = df.temporalSplit($"ts", "2024-01-24 00:00:00", 0L)
      .filter($"split" === "embargo").count()
    assert(plain == 0L)
  }

  test("weightedSample: hand priorities, zero-weight exclusion, equal-weight reduction") {
    def u(id: Long) = (id * 2654435761L) % 4294967296L
    val df = Seq((1L, 100L), (2L, 400L), (3L, 1L), (4L, 0L), (5L, 400L))
      .toDF("id", "w")
    val out = df.weightedSample($"id", $"w", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(2)))
    // expected: priority = (u * 1e6) div w, zero-weight id 4 excluded
    val want = Seq(1L, 2L, 3L, 5L)
      .map(id => (id, u(id) * 1000000L / Seq(100L, 400L, 1L, 0L, 400L)(id.toInt - 1)))
      .sortBy { case (id, p) => (p, id) }.take(3)
    assert(out.map(r => (r._1, r._3)).toSeq == want)
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L)) // ranks dense from 1
    // equal weights -> pure lowest-u order (the unweighted hash sample)
    val eq = df.withColumn("w", lit(7L)).weightedSample($"id", $"w", k = 5)
      .orderBy("sample_rank").collect().map(_.getLong(0))
    val byU = Seq(1L, 2L, 3L, 4L, 5L).sortBy(id => (u(id), id))
    assert(eq.toSeq == byU)
  }

  test("maintainAgg: delta merge == from-scratch recompute; zero-count groups drop") {
    import graft.operators.Relational
    val base0 = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L)).toDF("k", "v")
    val base = Relational.groupedAgg(base0, Seq($"k"), Seq("s" -> $"v"))
    // changelog: insert (a,30) and (d,1); delete (b,5) and (c,7) — c empties
    val changelog = Seq(
      ("a", 30L, false), ("d", 1L, false), ("b", 5L, true), ("c", 7L, true))
      .toDF("k", "v", "del")
    val delta = Relational.deltaAgg(changelog, $"del", Seq($"k"), Seq("s" -> $"v"))
    val out = Relational.maintainAgg(base, delta).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // recompute ground truth over the post-changelog state
    assert(out.toSeq == Seq(("a", 3L, 60L), ("d", 1L, 1L)))
    // b: 1 - 1 = 0 rows -> dropped; c likewise
    assert(!out.exists(r => r._1 == "b" || r._1 == "c"))
    // deltas compose: applying the same changelog split in two halves
    val (c1, c2) = (changelog.filter($"k" < "c"), changelog.filter($"k" >= "c"))
    val two = Relational.maintainAgg(base,
      Relational.deltaAgg(c1, $"del", Seq($"k"), Seq("s" -> $"v")),
      Relational.deltaAgg(c2, $"del", Seq($"k"), Seq("s" -> $"v")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(two.toSeq == out.toSeq)
  }

  test("hilbertValue: bijection on the grid, every consecutive code is grid-adjacent, matches the scalar model") {
    import graft.operators.Relational
    // independent scalar reference (classic xy2d recurrence)
    def model(bits: Int, x0: Int, y0: Int): Long = {
      val n1 = (1 << bits) - 1
      var x = x0; var y = y0; var d = 0L; var s = 1 << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n1 - x; y = n1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val bits = 4
    val grid = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val df = grid.toDF("x", "y")
    val got = df.select($"x", $"y",
        Relational.hilbertValue($"x", $"y", bits).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // Column implementation == scalar model everywhere
    assert(grid.forall { case (x, y) => got((x, y)) == model(bits, x.toInt, y.toInt) })
    // bijection onto [0, 256)
    assert(got.values.toSeq.sorted == (0L until 256L))
    // THE Hilbert property (Morton lacks it): walking codes in order moves
    // exactly one grid step each time
    val byCode = got.toSeq.sortBy(_._2).map(_._1)
    assert(byCode.sliding(2).forall { case Seq((x1, y1), (x2, y2)) =>
      (x1 - x2).abs + (y1 - y2).abs == 1
    })
  }

  test("quantileBins: exact rank-proportional bins, value ties break by id, layout-independent") {
    import graft.operators.Relational
    val df = Seq((1L, 30L), (2L, 10L), (3L, 30L), (4L, 20L), (5L, 50L)).toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.quantileBins(d, $"id", $"v", nBins = 2, buckets = 4)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    // order (v, id): (10,2) (20,4) (30,1) (30,3) (50,5) -> ranks 1..5;
    // bins floor((rank-1)*2/5): 0 0 0 1 1
    val expect = Seq((1L, 3L, 0L), (2L, 1L, 0L), (3L, 4L, 1L), (4L, 2L, 0L), (5L, 5L, 1L))
    assert(run(df) == expect)
    assert(run(df.repartition(4)) == expect)
  }

  test("probeBucket: binary-search bucket equals the size(filter(...)) HOF it replaced") {
    import graft.operators.Relational
    // fixed-seed values spanning below/at/between/above the bounds, plus
    // nulls — the bucketize inputs every probe-bucketized operator feeds
    val rnd = new scala.util.Random(42)
    val vals: Seq[java.lang.Long] =
      Seq[java.lang.Long](null, Long.MinValue, Long.MaxValue, -7L, 0L, 10L, 11L, 40L, 41L) ++
        Seq.fill(200)(java.lang.Long.valueOf(rnd.nextInt(120).toLong - 10))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    // sorted non-decreasing WITH duplicates (numericDrift's edges are not
    // deduped), plus degenerate bounds arrays
    for (bounds <- Seq(Seq(10L, 20L, 20L, 40L, 100L), Seq(0L), Seq.empty[Long]);
         strict <- Seq(false, true)) {
      val hof =
        if (strict) size(filter(typedLit(bounds), b => $"v" > b))
        else size(filter(typedLit(bounds), b => $"v" >= b))
      val got = df.select($"id",
          Relational.probeBucket($"v", bounds, strict).as("bs"), hof.as("ref"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val diffs = got.filter(t => t._2 != t._3)
      assert(diffs.isEmpty, s"bounds=$bounds strict=$strict diffs=${diffs.take(5).toSeq}")
    }
  }

  test("probeBucket: decreasing bounds are rejected before a plan is built") {
    import graft.operators.Relational
    // the binary search is only exact over non-decreasing bounds; an
    // unsorted array would bucket silently wrong, so it must not plan
    for (bounds <- Seq(Seq(20L, 10L), Seq(0L, 5L, 5L, 4L))) {
      val e = intercept[IllegalArgumentException](Relational.probeBucket($"v", bounds))
      assert(e.getMessage.contains("non-decreasing"))
    }
  }

  test("concurrencyProfile: sweep-line running count, half-open boundary, layout-independent") {
    import graft.operators.Relational
    // intervals: 1:[0,10) 2:[5,15) 3:[10,20) 4:[12,14)
    // boundary order (t, d, id): (0,+1,1) (5,+1,2) (10,-1,1) (10,+1,3)
    // (12,+1,4) (14,-1,4) (15,-1,2) (20,-1,3)
    // active:    1 2 1 2 3 2 1 0  — interval 3 starting AT 1's end never
    // overlaps it (the -1 sorts first)
    val df = Seq((1L, 0L, 10L), (2L, 5L, 15L), (3L, 10L, 20L), (4L, 12L, 14L))
      .toDF("id", "s", "e")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.concurrencyProfile(d, $"id", $"s", $"e", buckets = 4)
        .orderBy("seq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    val expect = Seq(
      (1L, 0L, 1L, 1L, 1L), (2L, 5L, 1L, 2L, 2L), (3L, 10L, -1L, 1L, 1L),
      (4L, 10L, 1L, 3L, 2L), (5L, 12L, 1L, 4L, 3L), (6L, 14L, -1L, 4L, 2L),
      (7L, 15L, -1L, 2L, 1L), (8L, 20L, -1L, 3L, 0L))
    assert(run(df) == expect)
    assert(run(df.repartition(3)) == expect)
    // peak concurrency falls out as max(active)
    assert(expect.map(_._5).max == 3L)
  }

  test("zoneMapSkipReport: sorted layout prunes files the arrival layout must read") {
    import graft.operators.Relational
    // ids 1..8 with values deliberately scattered vs arrival order
    val df = Seq((1L, 80L), (2L, 10L), (3L, 70L), (4L, 20L),
      (5L, 60L), (6L, 30L), (7L, 50L), (8L, 40L)).toDF("id", "v")
    val out = Relational.zoneMapSkipReport(df, $"id", $"v",
        nFiles = 4, lo = 15L, hi = 35L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // arrival files {80,10} {70,20} {60,30} {50,40}: three zones straddle
    // [15,35]; value-sorted files {10,20} {30,40} {50,60} {70,80}: two
    assert(out("arrival") == (4L, 3L, 6L, 2L, 250000L, 750000L))
    assert(out("value_sorted") == (4L, 2L, 4L, 2L, 500000L, 500000L))
  }

  test("skyline2D: dominance semantics incl. equal-x and duplicate ties, layout-independent") {
    import graft.operators.Relational
    // min x, max y. points:
    //  (1, 1, 9) frontier (cheapest)
    //  (2, 3, 9) dominated by 1 (same y, higher x)
    //  (3, 3, 12) frontier
    //  (4, 3, 11) dominated by 3 (equal x, lower y)
    //  (5, 5, 12) dominated by 3 (same y, higher x)
    //  (6, 5, 15) frontier
    //  (7, 5, 15) frontier — exact duplicate of 6, neither dominates
    //  (8, 9, 14) dominated by 6 (both strict)
    val df = Seq((1L, 1L, 9L), (2L, 3L, 9L), (3L, 3L, 12L), (4L, 3L, 11L),
      (5L, 5L, 12L), (6L, 5L, 15L), (7L, 5L, 15L), (8L, 9L, 14L))
      .toDF("id", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.skyline2D(d, $"id", $"x", $"y", buckets = 4)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = Seq((1L, 1L, 9L), (3L, 3L, 12L), (6L, 5L, 15L), (7L, 5L, 15L))
    assert(run(df) == expect)
    assert(run(df.repartition(3)) == expect)
    // matches the brute-force NOT EXISTS definition
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = rows.filter { case (_, x, y) =>
      !rows.exists { case (_, bx, by) =>
        bx <= x && by >= y && (bx < x || by > y) }
    }.map(_._1).sorted.toSeq
    assert(run(df).map(_._1) == brute)
  }

  test("quantileNormalize: ceiling rank map onto the reference, identity on itself") {
    import graft.operators.Relational
    val ref = Seq(10L, 20L, 30L, 40L).toDF("v")
    val cur = Seq((1L, 5L), (2L, 6L), (3L, 7L)).toDF("id", "v")
    val out = Relational.quantileNormalize(ref, cur, $"id", $"v")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // ranks 1..3 of 3 map to ref ranks ceil(4/3)=2, ceil(8/3)=3, 4
    assert(out == Seq((1L, 5L, 20L), (2L, 6L, 30L), (3L, 7L, 40L)))
    // normalizing a frame onto itself is the identity on values
    val self = Seq((1L, 7L), (2L, 3L), (3L, 9L)).toDF("id", "v")
    val idm = Relational.quantileNormalize(self, self, $"id", $"v")
      .collect().map(r => r.getLong(1) -> r.getLong(2))
    assert(idm.forall { case (v, m) => v == m })
  }

  test("joinCardinalityEstimate: exact output size + skew key without executing the join") {
    import graft.operators.Relational
    import org.apache.spark.sql.Row
    val left = Seq[java.lang.Long](1L, 1L, 1L, 2L, 3L, null).toDF("k")
    val right = Seq[java.lang.Long](1L, 1L, 2L, 2L, 2L, 4L, null).toDF("k")
    val out = Relational.joinCardinalityEstimate(left, $"k", right, $"k")
      .collect().head
    // matched histograms: key 1 -> 3*2=6, key 2 -> 1*3=3; est 9;
    // NULLs excluded from both sides (they never equi-match)
    assert(out == Row(9L, 3L, 3L, 2L, 1L, 6L, 666666L))
    // the estimate IS the real inner-join cardinality
    assert(left.join(right, Seq("k")).count() == 9L)
    // disjoint keys: zero estimate, null argmax, zero share
    val none = Relational.joinCardinalityEstimate(
      Seq(1L).toDF("k"), $"k", Seq(2L).toDF("k"), $"k").collect().head
    assert(none == Row(0L, 1L, 1L, 0L, null, null, 0L))
  }

  test("intervalCoverage: merge/touch/disjoint islands, empty dropped, singleton") {
    val iv = Seq(
      (1L, 0L, 5L), (1L, 3L, 7L),   // overlap -> one island
      (1L, 7L, 9L),                 // touching merges (half-open)
      (1L, 20L, 22L),               // disjoint second island
      (1L, 5L, 5L),                 // empty: dropped
      (2L, 10L, 11L)
    ).toDF("k", "s", "e")
    val out = graft.operators.Relational.intervalCoverage(iv, $"k", $"s", $"e")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (4L, 2L, 11L, 22L))  // 4 intervals, 2 islands, |[0,9)|+|[20,22)|=11, span 22
    assert(out(2L) == (1L, 1L, 1L, 1L))
    assert(out.size == 2)
  }

  test("groupOls: perfect fit, negative intercept, truncation ppm, constant-x nulls") {
    val pts = Seq(
      ("a", 1L, 2L), ("a", 2L, 4L), ("a", 3L, 6L),   // y = 2x exactly
      ("b", 1L, 1L), ("b", 2L, 3L),                  // y = 2x - 1
      ("c", 5L, 1L), ("c", 5L, 9L),                  // constant x
      ("d", 0L, 0L), ("d", 1L, 1L), ("d", 2L, 1L)    // slope 1/2, r2 3/4
    ).toDF("k", "x", "y")
    val out = graft.operators.Relational.groupOls(pts, $"k", $"x", $"y")
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(out("a") == (3L, Some(2000000L), Some(0L), Some(1000000L)))
    assert(out("b") == (2L, Some(2000000L), Some(-1000000L), Some(1000000L)))
    assert(out("c") == (2L, None, None, None))
    // 1e6/6 truncates to 166666; r2 = 9/12
    assert(out("d") == (3L, Some(500000L), Some(166666L), Some(750000L)))
  }

  test("groupGapStats: typed mapGroups walk — gaps, span, singleton group") {
    val df = Seq((1L, 10L), (1L, 12L), (1L, 20L), (2L, 5L), (3L, 7L), (3L, 7L))
      .toDF("k", "d")
    val out = graft.operators.Relational.groupGapStats(df, $"k", $"d")
      .orderBy($"key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // k=1: days 10,12,20 -> max gap 8, span 10; k=2: singleton -> 0,0;
    // k=3: duplicate day -> gap 0, span 0
    assert(out == Seq((1L, 3L, 8L, 10L), (2L, 1L, 0L, 0L), (3L, 2L, 0L, 0L)))
  }

  test("geometricDateSmoothing: calendar decay with exact integer weights") {
    // window 3 -> weights 4,2,1 for gaps 0,1,2; absent dates contribute 0
    val df = Seq(("2024-01-01", "1.00"), ("2024-01-02", "2.00"),
        ("2024-01-05", "4.00"))
      .toDF("d", "v")
      .select(to_date($"d").as("d"), $"v".cast("decimal(18,2)").as("v"))
    val out = graft.operators.Relational.geometricDateSmoothing(df, $"d", $"v", window = 3)
      .orderBy($"d").collect()
    def bd(s: String) = new java.math.BigDecimal(s)
    // 01-01: 1*4 = 4; 01-02: 2*4 + 1*2 = 10; 01-05: 4*4 = 16 (03/04 absent,
    // 01-02 outside the 3-day horizon)
    assert(out.map(r => (r.getDate(0).toString,
      r.getDecimal(2).stripTrailingZeros, r.getLong(3))).toSeq == Seq(
      ("2024-01-01", bd("4").stripTrailingZeros, 1L),
      ("2024-01-02", bd("10").stripTrailingZeros, 2L),
      ("2024-01-05", bd("16").stripTrailingZeros, 1L)))
  }
  test("theilSenSlope: outlier-resistant lower median, sign-split ppm, x-ties skipped, constant-x absent") {
    import spark.implicits._
    val df = Seq(
      // g: linear slope 2 plus one wild outlier — median ignores it
      ("g", 1L, 1L), ("g", 2L, 3L), ("g", 3L, 5L), ("g", 10L, 100L),
      // h: negative slopes (sign-split truncation) + an x-tie pair skipped
      ("h", 0L, 0L), ("h", 1L, -3L), ("h", 1L, 10L), ("h", 2L, -5L),
      // cx: constant x -> no pairs -> absent
      ("cx", 5L, 1L), ("cx", 5L, 2L)
    ).toDF("k", "x", "y")
    val got = graft.operators.Relational.theilSenSlope(df, $"k", $"x", $"y").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // g pairs sorted: [2M, 2M, 2M, 11M, 12125000, 13571428]; rank (6+1) DIV 2 = 3
    // h pairs sorted: [-15M, -3M, -2500000, -2M, 10M]; rank 3; -5/2 truncates to -2500000
    assert(got == Map("g" -> (6L, 2000000L), "h" -> (5L, -2500000L)))
  }
  test("goldenRecord: per-field latest non-null, ord tiebreak to larger value, all-null field stays null") {
    import spark.implicits._
    val v = Seq(
      // k1: newest version (d=3) has null phone -> phone survives from d=2
      ("k1", 1L, Some("a@x"), Some(10L)),
      ("k1", 2L, Some("b@x"), None),
      ("k1", 3L, None, Some(30L)),
      // k2: true ord tie (same ord value twice) -> larger value wins
      ("k2", 5L, Some("p"), Some(1L)),
      ("k2", 5L, Some("q"), Some(2L)),
      // k3: a field null in EVERY version stays null
      ("k3", 9L, None, Some(7L))
    ).toDF("k", "o", "email", "bal")
    val got = graft.operators.Relational.goldenRecord(v, $"k", $"o", Seq("email", "bal"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getString(2)), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got == Map(
      "k1" -> (3L, Some("b@x"), Some(30L)),
      "k2" -> (2L, Some("q"), Some(2L)),
      "k3" -> (1L, None, Some(7L))))
  }
  test("rollingOls: trailing-range frame, honest early n, slope flips with the window") {
    import spark.implicits._
    // key a: y = 10x for x 1..5, then a crash at x=6 pulls the recent
    // window's slope negative while the full history would stay positive
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("a", 4L, 40L), ("a", 5L, 50L), ("a", 6L, 0L),
      // key g: gap beyond the range -> the frame forgets
      ("g", 1L, 100L), ("g", 10L, 100L)).toDF("k", "x", "y")
    val got = graft.operators.Relational.rollingOls(df, $"k", $"x", $"y", windowRange = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(got(("a", 1L)) == (1L, None))          // single point: den 0
    assert(got(("a", 3L)) == (3L, Some(10000000L))) // perfect slope 10
    assert(got(("a", 5L)) == (3L, Some(10000000L)))
    // frame {40, 50, 0} at x 4..6: slope = (3*590-15*90)/(3*77-225) = -20
    assert(got(("a", 6L)) == (3L, Some(-20000000L)))
    assert(got(("g", 10L)) == (1L, None))         // gap: alone in its frame
  }
  test("timelineResolve: override layering, same-prio tie to later start, run merge, gaps split") {
    import spark.implicits._
    val ivl = Seq(
      ("a", 0L, 100L, 1L, 10L),   // base layer
      ("a", 20L, 40L, 2L, 20L),   // override
      ("a", 30L, 50L, 2L, 30L),   // same-prio later start wins the overlap
      ("g", 0L, 10L, 1L, 1L), ("g", 20L, 30L, 1L, 2L), // gap: no merge
      ("z", 5L, 5L, 9L, 9L)       // degenerate, dropped
    ).toDF("k", "s", "e", "p", "v")
    val got = graft.operators.Relational.timelineResolve(
        ivl, $"k", $"s", $"e", $"p", $"v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      ("a", 0L, 20L, 1L, 10L), ("a", 20L, 30L, 2L, 20L),
      ("a", 30L, 50L, 2L, 30L), ("a", 50L, 100L, 1L, 10L),
      ("g", 0L, 10L, 1L, 1L), ("g", 20L, 30L, 1L, 2L)))
  }
  test("concentrationReport: hand Gini/HHI/top-share, equality zero, all-zero NULL") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 5L), ("b", 5L),
      ("c", 0L), ("c", 0L), ("c", 10L), ("z", 0L), ("z", 0L))
      .toDF("k", "v")
    val got = graft.operators.Relational.concentrationReport(df, $"k", $"v")
      .collect().map(r => r.getString(0) ->
        (Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))).toMap
    assert(got("a") == (Some(166666L), Some(375000L), Some(500000L)))
    assert(got("b") == (Some(0L), Some(500000L), Some(500000L)), "equality: zero Gini")
    assert(got("c") == (Some(666666L), Some(1000000L), Some(1000000L)),
      "one whale: Gini (n-1)/n, HHI 1")
    assert(got("z") == (None, None, None), "all-zero mass undefined")
  }
  test("corrMatrix: one-pass all pairs, monotone +-1, constant NULL") {
    import spark.implicits._
    val df = Seq((1L, 2L, 3L, 5L), (2L, 4L, 2L, 5L), (3L, 6L, 1L, 5L))
      .toDF("x", "y", "z", "w")
    val got = graft.operators.Relational.corrMatrix(df,
        Seq("x" -> $"x", "y" -> $"y", "z" -> $"z", "w" -> $"w"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(got.size == 6, "k(k-1)/2 pairs from one row")
    assert(got(("x", "y")) == (3L, Some(1000000L)))
    assert(got(("x", "z")) == (3L, Some(-1000000L)))
    assert(got(("y", "z"))._2 == Some(-1000000L))
    assert(got(("x", "w"))._2 == None && got(("z", "w"))._2 == None)
  }

  test("skyline3D: dominance pruning across partitions, duplicates co-survive") {
    import spark.implicits._
    val pts = Seq(
      (1L, 1L, 5L, 5L), (2L, 2L, 6L, 6L), // 2 dominated by 1
      (3L, 3L, 1L, 9L), (4L, 1L, 5L, 5L), // 4 duplicates 1: both stay
      (5L, 0L, 9L, 9L), (6L, 2L, 5L, 5L) // 6 dominated by 1
    ).toDF("id", "x", "y", "z").repartition(3)
    val got = graft.operators.Relational.skyline3D(
        pts, $"id", $"x", $"y", $"z")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 4L, 5L))
  }
  test("allenRelation: all 13 relations, degenerate point resolves by clause order") {
    import spark.implicits._
    val cases = Seq(
      ("equals", 0L, 10L, 0L, 10L), ("before", 0L, 1L, 5L, 10L),
      ("after", 5L, 10L, 0L, 1L), ("meets", 0L, 5L, 5L, 10L),
      ("met_by", 5L, 10L, 0L, 5L), ("overlaps", 0L, 6L, 5L, 10L),
      ("overlapped_by", 5L, 10L, 0L, 6L), ("starts", 0L, 5L, 0L, 10L),
      ("started_by", 0L, 10L, 0L, 5L), ("during", 3L, 5L, 0L, 10L),
      ("contains", 0L, 10L, 3L, 5L), ("finishes", 5L, 10L, 0L, 10L),
      ("finished_by", 0L, 10L, 5L, 10L),
      // degenerate point at y's start: meets wins over starts by order
      ("meets", 5L, 5L, 5L, 10L))
    val got = cases.toDF("expect", "s1", "e1", "s2", "e2")
      .withColumn("rel", graft.operators.Relational.allenRelation(
        $"s1", $"e1", $"s2", $"e2"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(5),
      s"${r.getString(0)} misclassified as ${r.getString(5)}"))
  }
  test("olsTwo: exact planar fits, negative coefficients, singular collinear NULL") {
    import spark.implicits._
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 1L))
    val df = (pts.map { case (a, b) => ("up", a, b, 2L + 3 * a + 5 * b) } ++
        pts.map { case (a, b) => ("dn", a, b, 10L - a - 2 * b) } ++
        pts.map { case (a, _) => ("col", a, 2 * a, 7L + a) })
      .toDF("k", "x1", "x2", "y")
    val got = graft.operators.Relational.olsTwo(df, $"k", $"x1", $"x2", $"y")
      .collect().map(r => r.getString(0) ->
        (Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(got("up") == (Some(2000000L), Some(3000000L), Some(5000000L)))
    assert(got("dn") == (Some(10000000L), Some(-1000000L), Some(-2000000L)))
    assert(got("col") == (None, None, None), "collinear regressors are singular")
  }
  test("lpmEnrich: most-specific block wins, no-match NULL, zero shuffles in the plan") {
    import spark.implicits._
    def ip(a: Long, b: Long, c: Long, d: Long) = (a << 24) | (b << 16) | (c << 8) | d
    val pfx = Seq(
      (ip(10, 0, 0, 0), 8, "A"), (ip(10, 1, 0, 0), 16, "B"),
      (ip(10, 1, 2, 0), 24, "C")).toDF("net", "len", "owner")
    val rows = Seq(
      (1L, ip(10, 1, 2, 5)), (2L, ip(10, 1, 9, 9)),
      (3L, ip(10, 9, 9, 9)), (4L, ip(11, 0, 0, 1))).toDF("id", "ip")
    val out = graft.operators.Relational.lpmEnrich(rows, $"ip", pfx)
    val got = out.collect().map(r => r.getLong(0) ->
      (Option(r.getString(2)), Option(r.get(3)))).toMap
    assert(got(1L) == (Some("C"), Some(24)))
    assert(got(2L) == (Some("B"), Some(16)))
    assert(got(3L) == (Some("A"), Some(8)))
    assert(got(4L) == (None, None))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || !plan.split("\n").exists(l =>
      l.contains("Exchange") && !l.contains("Broadcast")),
      s"LPM must not shuffle the probe side:\n$plan")
  }
}
