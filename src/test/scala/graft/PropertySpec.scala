package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.operators.Relational.GraftOps

/** Algebraic laws the reference surface implies (SURVEY.md §5.4), checked
  * over generated frames with plain ScalaCheck (sbt runs Properties
  * natively). Generators stay small — each property round-trips a Spark
  * job, so the value is in the shrunk counterexamples, not volume.
  */
object RelationalProps extends Properties("relational") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxSize(12)

  private lazy val spark: SparkSession = Engine.create("graft-test", "local[4]", 4)

  private val rowsGen: Gen[List[(Int, Int)]] =
    Gen.listOf(Gen.zip(Gen.choose(-5, 5), Gen.choose(-5, 5)))

  private def mk(rows: List[(Int, Int)]): DataFrame =
    spark.createDataFrame(rows).toDF("a", "b")

  private def rowSet(df: DataFrame): Set[(Int, Int)] =
    df.collect().map(x => (x.getInt(0), x.getInt(1))).toSet

  property("filter commutes with select of disjoint columns") = forAll(rowsGen) { rows =>
    val df = mk(rows)
    val l = df.filterCol(col("a") > 0).selectCols(Seq(col("b"))).collect().map(_.getInt(0)).sorted.toSeq
    val r = df.selectCols(Seq(col("a"), col("b"))).filterCol(col("a") > 0)
      .selectCols(Seq(col("b"))).collect().map(_.getInt(0)).sorted.toSeq
    l == r
  }

  property("union count = sum; union is positional") = forAll(rowsGen, rowsGen) { (xs, ys) =>
    val l = mk(xs); val r = mk(ys)
    val countOk = l.unionAll(r).count() == xs.length.toLong + ys.length.toLong
    // positional: right's columns renamed crosswise still glue by position
    val swapped = r.selectCols(Seq(col("a").as("b"), col("b").as("a")))
    val glued = rowSet(l.unionAll(swapped))
    countOk && glued == (xs ++ ys).toSet
  }

  property("distinct of union = union-distinct") = forAll(rowsGen, rowsGen) { (xs, ys) =>
    rowSet(mk(xs).unionAll(mk(ys)).distinct()) == rowSet(mk(xs).unionDistinct(mk(ys)))
  }

  property("intersect ⊆ both inputs; except ⊆ left, disjoint from right") =
    forAll(rowsGen, rowsGen) { (xs, ys) =>
      val inter = rowSet(mk(xs).intersectDistinct(mk(ys)))
      val ex = rowSet(mk(xs).exceptDistinct(mk(ys)))
      inter.subsetOf(xs.toSet) && inter.subsetOf(ys.toSet) &&
        ex.subsetOf(xs.toSet) && ex.intersect(ys.toSet).isEmpty
    }

  property("limit(skip, fetch) after total sort slices the sorted sequence") =
    forAll(rowsGen, Gen.choose(0, 8), Gen.choose(0, 8)) { (xs, skip, fetch) =>
      val sortedAll = mk(xs).sortBy(Seq(col("a"), col("b")))
        .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
      val sliced = mk(xs).sortBy(Seq(col("a"), col("b"))).limitOffset(skip, Some(fetch))
        .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
      sliced == sortedAll.slice(skip, skip + fetch)
    }

  property("distinctOn emits the first row per key under the given order") =
    forAll(rowsGen) { rows =>
      rows.nonEmpty ==> {
        val out = mk(rows)
          .distinctOn(Seq(col("a")), Seq(col("a"), col("b")), Seq(col("b").asc, col("a").asc))
          .collect().map(x => (x.getInt(0), x.getInt(1)))
        val minB = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
        (out.map(_._1).toSeq.sorted == rows.map(_._1).distinct.sorted) :| "one row per key" &&
          out.forall { case (a, b) => minB(a) == b } :| "row is the order-first of its group"
      }
    }

  property("analyzed fails fast on unknown columns (reference error timing)") = Prop {
    try { mk(List((1, 2))).selectCols(Seq(col("nope"))).analyzed; false }
    catch { case _: org.apache.spark.sql.AnalysisException => true }
  }

  // ---- round-4 operator laws -----------------------------------------------

  property("systematicSample == integer-arithmetic model (a row per crossed step multiple)") =
    forAll(Gen.listOf(Gen.choose(0, 9)), Gen.choose(1, 7)) { (weights, step) =>
      weights.nonEmpty ==> {
        val rows = weights.zipWithIndex.map { case (w, i) => ("s", i.toLong, w.toLong) }
        val df = spark.createDataFrame(rows).toDF("g", "ord", "w")
        val kept = df.systematicSample(col("g"), col("ord"), col("w"), step.toLong)
          .collect().map(_.getLong(1)).toSet
        // independent integer model: row i is selected iff its weight
        // interval (cum_{i}, cum_{i+1}] contains a multiple of step — a row
        // spanning several multiples is still selected once
        val cums = weights.map(_.toLong).scanLeft(0L)(_ + _)
        val want = weights.indices
          .filter(i => cums(i) / step < cums(i + 1) / step)
          .map(_.toLong).toSet
        kept == want
      }
    }

  property("zorderValue is injective on the masked grid and order-preserving on prefixes") =
    forAll(Gen.choose(0L, 255L), Gen.choose(0L, 255L), Gen.choose(0L, 255L), Gen.choose(0L, 255L)) {
      (x1, y1, x2, y2) =>
        val df = spark.createDataFrame(Seq((x1, y1, x2, y2))).toDF("x1", "y1", "x2", "y2")
        val r = df.select(
          graft.operators.Relational.zorderValue(col("x1"), col("y1"), 8),
          graft.operators.Relational.zorderValue(col("x2"), col("y2"), 8)).head()
        val (z1, z2) = (r.getLong(0), r.getLong(1))
        // injective: equal z implies equal point (Morton is a bijection on the grid)
        ((z1 == z2) == (x1 == x2 && y1 == y2)) :| "bijection" &&
          (z1 >= 0 && z1 < (1L << 16)) :| "range"
    }

  property("editDistancePairs blocking finds exactly the naive all-pairs answer") =
    forAll(Gen.listOf(Gen.listOfN(4, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
        .flatMap(s => Gen.choose(1, 4).map(s.take))), Gen.choose(1, 3)) { (strs, d) =>
      strs.nonEmpty ==> {
        val df = spark.createDataFrame(strs.map(Tuple1(_))).toDF("s")
        val got = graft.operators.Dedup.editDistancePairs(df, col("s"), d)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        val distinct = strs.distinct
        def lev(a: String, b: String): Int = {
          val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
            if (i == 0) j else if (j == 0) i else 0 }
          for (i <- 1 to a.length; j <- 1 to b.length)
            dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
              dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          dp(a.length)(b.length)
        }
        val want = (for {
          a <- distinct; b <- distinct
          if a.length < b.length || (a.length == b.length && a < b)
          if lev(a, b) <= d
        } yield (a, b)).toSet
        got == want
      }
    }

  private val tokenListGen: Gen[List[String]] =
    Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "ee", "the", "and"))

  property("slidingChunks covers every token; concatenating stride-prefixes rebuilds the doc") =
    forAll(Gen.nonEmptyListOf(Gen.choose(1, 40))) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(t => s"t$t").toSeq) }
      val df = spark.createDataFrame(docs).toDF("id", "toks")
      val chunk = 8; val stride = 4
      val out = graft.operators.Corpus.slidingChunks(df, col("id"), col("toks"), chunk, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      docs.forall { case (id, toks) =>
        val cs = out.getOrElse(id, Array.empty).sortBy(_._2)
        val covered = cs.flatMap(c => c._3 until (c._3 + c._4)).toSet
        val starts = cs.map(_._3).toSeq
        covered == toks.indices.map(_.toLong).toSet &&
          starts == starts.indices.map(_ * stride.toLong) &&          // dense stride grid
          cs.lastOption.forall(c => c._3 + c._4 == toks.length.toLong) // ends at doc end
      }
    }

  property("bm25: zero-tf docs score 0; single-term ranking follows tf for equal-length docs") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 5))) { tfs =>
      val pad = "zz"
      val docLen = 8
      val docs = tfs.zipWithIndex.map { case (tf0, i) =>
        val tf = math.min(tf0, docLen)
        (i.toLong, (Seq.fill(tf)("hit") ++ Seq.fill(docLen - tf)(pad)))
      }
      val df = spark.createDataFrame(docs).toDF("id", "toks")
      val scored = graft.operators.Retrieval
        .bm25Score(df, col("id"), col("toks"), Seq("hit"))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      docs.forall { case (id, toks) =>
        val tf = toks.count(_ == "hit")
        if (tf == 0) !scored.contains(id)          // filtered: score 0
        else scored.contains(id) && scored(id) > 0
      } && {
        // equal dl => score strictly increases with tf (saturating but monotone)
        val byTf = docs.map { case (id, toks) => (toks.count(_ == "hit"), id) }
          .filter(_._1 > 0).groupBy(_._1).map { case (tf, xs) => tf -> scored(xs.head._2) }
        byTf.toSeq.sortBy(_._1).map(_._2).sliding(2).forall {
          case Seq(a, b) => a < b
          case _ => true
        }
      }
    }

  property("repeatedSpans == brute-force window-frequency model") =
    forAll(Gen.nonEmptyListOf(tokenListGen)) { docsToks =>
      val texts = docsToks.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val df = spark.createDataFrame(texts).toDF("id", "text")
      val win = 6; val step = 3
      val got = graft.operators.Corpus
        .repeatedSpans(df, col("id"), col("text"), win, step)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val windows = texts.flatMap { case (id, t) =>
        if (t.length < win) Nil
        else (0 to (t.length - win) / step).map { k =>
          (id, k.toLong * step, t.substring(k * step, k * step + win)) }
      }
      val byText = windows.groupBy(_._3)
        .view.mapValues(ws => ws.map(_._1).distinct.size).toMap
      val want = windows.collect {
        case (id, pos, w) if byText(w) >= 2 => (id, pos, byText(w).toLong)
      }.toSet
      got == want
    }

  property("animated-GIF codec round trip is lossless for any dims/frames/sampling") =
    forAll(Gen.choose(1L, 100000L), Gen.choose(1, 12), Gen.choose(1, 12),
      Gen.choose(1, 6), Gen.choose(1, 4)) { (seed, w, h, nf, everyN) =>
      val gif = graft.operators.Multimodal.synthAnimGif(seed, w, h, nf)
      val infos = graft.operators.Multimodal.decodeGifFrameInfos(gif, everyN).get
      val wantIdx = (0 until nf).filter(_ % everyN == 0)
      infos.map(_._1) == wantIdx &&
        infos.forall { case (f, dw, dh, sum) =>
          val expect = (for { y <- 0 until h; x <- 0 until w }
            yield (seed * 31 + f * 17 + x * 7 + y * 13) % 256).sum
          dw == w && dh == h && sum == expect
        }
    }

  property("PCM WAV codec round trip is lossless for any length/rate/channels") =
    forAll(Gen.choose(1L, 100000L), Gen.choose(1, 200), Gen.oneOf(8000, 16000, 44100),
      Gen.oneOf(1, 2)) { (seed, frames, rate, ch) =>
      val n = frames * ch
      val wav = graft.operators.Multimodal.synthPcmWav(seed, n, rate, ch)
      val (nf, r, c, sum, abs, total) = graft.operators.Multimodal.decodeAudioInfo(wav).get
      val samples = (0 until n).map(i => (seed * 31 + i * 7) % 65536 - 32768)
      nf == frames && r == rate && c == ch && total == n &&
        sum == samples.sum && abs == samples.map(math.abs).sum
    }

  property("graft_corr_exact is partitioning-invariant and matches the closed form") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.choose(-50, 50), Gen.choose(-50, 50))),
      Gen.choose(1, 8)) { (rows, parts) =>
      val df = spark.createDataFrame(rows.map { case (x, y) => (x.toDouble, y.toDouble) })
        .toDF("x", "y").repartition(parts)
      df.createOrReplaceTempView("corr_prop_t")
      val got = spark.sql("SELECT graft_corr_exact(x, y) FROM corr_prop_t").collect()(0)
      val n = rows.size.toDouble
      val xs = rows.map(_._1.toDouble); val ys = rows.map(_._2.toDouble)
      val (sx, sy) = (xs.sum, ys.sum)
      val vx = n * xs.map(a => a * a).sum - sx * sx
      val vy = n * ys.map(a => a * a).sum - sy * sy
      if (vx > 0 && vy > 0) {
        val expect = (n * xs.zip(ys).map { case (a, b) => a * b }.sum - sx * sy) /
          (math.sqrt(vx) * math.sqrt(vy))
        // integer inputs => dec6 rounding is exact; sums are small => the
        // double op sequence matches the closed form to fp equality
        !got.isNullAt(0) && math.abs(got.getDouble(0) - expect) < 1e-12
      } else got.isNullAt(0)
    }

  /** Reference BPE trainer (naive in-memory Sennrich): same argmax
    * (count desc, then lexicographic pair) and the same greedy
    * left-to-right non-overlapping rewrite the operator claims.
    */
  private def refBpe(words: Seq[String], rounds: Int): Seq[(String, String, Long)] = {
    val wc = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    var vocab: Map[Seq[String], Long] = wc.map { case (w, c) => w.map(_.toString) -> c }
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) done = true
      else {
        val ((l, rt), c) = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
        out += ((l, rt, c))
        vocab = vocab.map { case (syms, n) =>
          val m = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rt) {
              m += (l + rt); i += 2
            } else { m += syms(i); i += 1 }
          }
          m.toSeq -> n
        }
        r += 1
      }
    }
    out.toSeq
  }

  private val wordGen: Gen[String] =
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))

  property("bpeMerges equals the reference trainer on random small vocabularies") =
    forAll(Gen.nonEmptyListOf(wordGen), Gen.choose(1, 4)) { (words, rounds) =>
      import spark.implicits._
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = graft.operators.Corpus.bpeMerges(docs,
          graft.functions.TextFns.tokens($"text"), rounds)
        .orderBy("merge_round").collect()
        .map(x => (x.getString(1), x.getString(2), x.getLong(3))).toSeq
      got == refBpe(words, rounds)
    }

  property("dupSubstrSpans equals the brute-force duplicated-window island model") =
    forAll(Gen.choose(2, 4).flatMap(n => Gen.listOfN(n,
        Gen.choose(4, 16).flatMap(m => Gen.listOfN(m, Gen.oneOf("x", "y", "z"))))),
      Gen.choose(2, 4)) { (docToks, k) =>
      import spark.implicits._
      val docs = docToks.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
      val model: Set[(Long, Long, Long)] = {
        val grams = docs.flatMap { case (id, text) =>
          val t = text.split(" ").toSeq
          (0 to t.length - k).map(i => (id, i + 1, t.slice(i, i + k).mkString(" ")))
        }
        val cnt = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
        grams.filter(g => cnt(g._3) >= 2).groupBy(_._1).flatMap { case (id, ps) =>
          val pos = ps.map(_._2.toLong).sorted
          val islands = pos.foldLeft(List.empty[List[Long]]) {
            case (Nil, p) => List(List(p))
            case (h :: t, p) =>
              if (p - h.head > k) List(p) :: h :: t else (p :: h) :: t
          }.map(_.reverse).reverse
          islands.map(is => (id, is.head, is.last + k))
        }.toSet
      }
      val got = graft.operators.Dedup.dupSubstrSpans(docs.toDF("doc_id", "text"),
          $"doc_id", graft.functions.TextFns.tokens($"text"), k)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      got == model
    }

  property("cmsHeavyHitters never undercounts any token at any width") =
    forAll(Gen.nonEmptyListOf(wordGen), Gen.oneOf(2, 7, 64)) { (words, width) =>
      import spark.implicits._
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val vocabSize = words.distinct.size
      val out = graft.operators.Corpus.cmsHeavyHitters(docs, $"text",
          width = width, depth = 3, k = vocabSize)
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      val exact = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      out.length == vocabSize && out.forall { case (tok, en, cn, over) =>
        en == exact(tok) && cn >= en && over == cn - en
      }
    }

  property("meanPoolVectors: exact per-dim means, partitioning-invariant") =
    forAll(Gen.choose(1, 3), Gen.choose(2, 6),
      Gen.listOfN(8, Gen.choose(-100, 100)), Gen.choose(1, 6)) { (gs, dims, seeds, parts) =>
      import spark.implicits._
      // deterministic small vector set: value = f(seed, id, dim)
      val n = gs * 3
      val rows = (0 until n).map { i =>
        (i.toLong, (0 until dims).map(d => (seeds(i % 8) * (d + 1) + i).toDouble))
      }
      val df = rows.toDF("vec_id", "embedding").repartition(parts)
      val out = graft.operators.Similarity
        .meanPoolVectors(df, expr("vec_id DIV 3"), $"embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val want = rows.groupBy(_._1 / 3).map { case (g, vs) =>
        g -> (0 until dims).map(d => vs.map(_._2(d)).sum / vs.size)
      }
      // decimal-exact means: integer-valued inputs => equality is exact
      out.size == want.size && want.forall { case (g, v) => out(g) == v }
    }

  property("qualityEnsembleGate: keep == all rules pass AND affinity at/above parity") =
    forAll(Gen.choose(1, 6), Gen.listOfN(6, Gen.oneOf(true, false))) { (nDocs, targets) =>
      import spark.implicits._
      val texts = Seq(
        "the quick brown foxes jumped over the lazy dogs and then walked " +
          "that winding path of hills toward a quiet village in the valley",
        "tiny doc", ("aaaa " * 30).trim)
      val docs = (0 until nDocs).map { i =>
        (i.toLong, texts(i % texts.length), targets(i % targets.length))
      }.toDF("doc_id", "text", "tgt")
      val out = graft.operators.Pipeline.qualityEnsembleGate(docs, $"doc_id",
          graft.functions.TextFns.tokens($"text"), $"tgt")
        .collect()
      out.forall { r =>
        val (mask, score, mean, keep) =
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
        keep == (mask == 0L && score >= 1000000L) &&
          // with mask 0 the score law reduces to the affinity clamp
          (mask != 0L || (score >= 1000000L) == (mean >= 1000000L))
      }
    }

  property("rollingAgg/rollingRangeAgg equal the sliding-window models") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("p", "q"), Gen.choose(0, 30))),
      Gen.choose(0, 3), Gen.choose(0L, 10L)) { (rows0, rb, look) =>
      import spark.implicits._
      // unique (key, seq) via index so the ROWS order is total
      val rows = rows0.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v.toLong) }
      val df = rows.toDF("k", "seq", "v")
      val gotRows = df.rollingAgg(Seq($"k"), Seq($"seq"), rb, Seq("s" -> sum($"v")))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(3))).toSet
      val wantRows = rows.groupBy(_._1).flatMap { case (_, g) =>
        val sorted = g.sortBy(_._2)
        sorted.zipWithIndex.map { case ((k, sq, _), i) =>
          (k, sq, sorted.slice(math.max(0, i - rb), i + 1).map(_._3).sum)
        }
      }.toSet
      val gotRange = df.rollingRangeAgg(Seq($"k"), $"v", look, Seq("s" -> sum($"v")))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(3))).toSet
      val wantRange = rows.groupBy(_._1).flatMap { case (_, g) =>
        g.map { case (k, sq, v) =>
          (k, sq, g.filter(o => o._3 >= v - look && o._3 <= v).map(_._3).sum)
        }
      }.toSet
      gotRows == wantRows && gotRange == wantRange
    }

  property("maintainAgg(base, delta) == groupedAgg of the post-changelog state") =
    forAll(
      Gen.listOf(Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(-9L, 9L))),
      Gen.listOf(Gen.zip(Gen.oneOf("a", "c", "d"), Gen.choose(-9L, 9L))),
      Gen.choose(0.0, 1.0)) { (baseRows, insRows, delFrac) =>
      import spark.implicits._
      import graft.operators.Relational
      // deletes must reference rows that exist: take a prefix of base
      val nDel = (baseRows.length * delFrac).toInt
      val (deleted, kept) = baseRows.splitAt(nDel)
      val finalRows = kept ++ insRows
      val base = Relational.groupedAgg(
        (if (baseRows.isEmpty) Seq(("z", 0L)).toDF("k", "v").limit(0)
         else baseRows.toDF("k", "v")), Seq($"k"), Seq("s" -> $"v"))
      val changelog = (insRows.map { case (k, v) => (k, v, false) } ++
        deleted.map { case (k, v) => (k, v, true) })
      val got =
        if (changelog.isEmpty) base.filter($"n" > 0)
        else Relational.maintainAgg(base,
          Relational.deltaAgg(changelog.toDF("k", "v", "del"), $"del",
            Seq($"k"), Seq("s" -> $"v")))
      val want = finalRows.groupBy(_._1)
        .map { case (k, g) => (k, g.length.toLong, g.map(_._2).sum) }.toSet
      got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet == want
    }

  property("HLL merge law: registers of a concatenation = elementwise max") =
    forAll(Gen.listOf(Gen.choose(0, 400)), Gen.listOf(Gen.choose(0, 400))) {
      (xs, ys) =>
      import spark.implicits._
      import graft.operators.Corpus
      (xs.nonEmpty || ys.nonEmpty) ==> {
        def regs(vals: List[Int]) =
          if (vals.isEmpty) Array.fill(64)(0L)
          else Corpus.hllSketch(vals.map(i => s"v$i").toDF("v"), $"v")
            .orderBy("bucket").collect().map(_.getLong(1))
        val u = regs(xs ++ ys)
        regs(xs).zip(regs(ys)).map { case (a, b) => math.max(a, b) }
          .sameElements(u)
      }
    }

  property("sortedNeighborhoodPairs: exact pair count (w-1)n - (w-1)w/2, matches the naive windowed model") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 50L), Gen.choose(Long.MinValue / 2, Long.MaxValue / 2))),
      Gen.choose(2, 5)) { (rows0, w) =>
      import graft.operators.Dedup
      import spark.implicits._
      val rows = rows0.distinctBy(_._1)
      val n = rows.length.toLong
      val df = rows.toDF("id", "k")
      val got = Dedup.sortedNeighborhoodPairs(df, $"id", $"k", w, buckets = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
      // naive model: sort by (k, id), pair each row with its w-1 successors
      val order = rows.sortBy(r => (r._2, r._1)).map(_._1)
      val model = (for {
        i <- order.indices; d <- 1 until w; if i + d < order.length
      } yield (order(i), order(i + d), d.toLong)).toSet
      // Σ_{d=1}^{w-1} max(0, n-d): the (w-1)n - (w-1)w/2 closed form only
      // holds for n >= w; small corpora truncate each distance's run
      val expectCount = (1 until w).map(d => math.max(0L, n - d)).sum
      got == model && got.size.toLong == expectCount
    }

  property("temperatureWeights: ratio compression (w_a/w_b <= n_a/n_b), count-monotone, ppm sums to ~1e6") =
    forAll(Gen.nonEmptyListOf(Gen.choose(1, 40)).map(_.take(6))) { counts0 =>
      import graft.operators.Corpus
      import spark.implicits._
      val counts = counts0.zipWithIndex.map { case (c, i) => (s"g$i", c) }
      val df = counts.flatMap { case (g, c) => Seq.fill(c)(g) }.toDF("g")
      val out = Corpus.temperatureWeights(df, $"g").collect()
        .map(r => (r.getLong(1), r.getLong(3)))
      // sqrt compresses ratios: for n_a >= n_b the weight ratio never
      // exceeds the count ratio (true since w ∝ √n; +1 absorbs the ppm
      // floor on each side — the bound ppm_a·n_b <= (ppm_b+1)·n_a is exact
      // for floored values)
      val pairsOk = (for {
        (na, pa) <- out; (nb, pb) <- out; if na >= nb
      } yield pa * nb <= (pb + 1) * na).forall(identity)
      val mono = out.sortBy(_._1).map(_._2).sorted.sameElements(
        out.sortBy(_._1).map(_._2))
      val s = out.map(_._2).sum
      pairsOk && mono && s <= 1000000L && s >= 1000000L - out.length
    }

  property("weightedSample is partition-layout invariant and weight-monotone-safe") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 60L), Gen.choose(0L, 9L))),
      Gen.choose(1, 6)) { (rows0, k) =>
      import spark.implicits._
      val rows = rows0.distinctBy(_._1) // unique ids (the sample keys on id)
      val df = rows.toDF("id", "w")
      def take(d: DataFrame) = d.weightedSample($"id", $"w", k)
        .collect().map(r => (r.getLong(0), r.getLong(4))).sortBy(_._2).toSeq
      val once = take(df)
      val relaid = take(df.repartition(7))
      val nPos = rows.count(_._2 > 0)
      once == relaid && once.length == math.min(k, nPos)
    }

  property("skyline2D equals the brute-force dominance model on random point sets") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 8L)))) { pts0 =>
      import spark.implicits._
      import graft.operators.Relational
      val pts = pts0.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val df = pts.toDF("id", "x", "y")
      val got = Relational.skyline2D(df, $"id", $"x", $"y", buckets = 3)
        .collect().map(_.getLong(0)).sorted.toSeq
      val brute = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, bx, by) => bx <= x && by >= y && (bx < x || by > y) }
      }.map(_._1).sorted
      got == brute
    }

  property("transitionMatrix: Σn = Σ_keys (len-1); n sums to from_total per row") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 3L), Gen.oneOf("A", "B", "C")))) { evs0 =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val evs = evs0.zipWithIndex.map { case ((k, s), i) => (k, i.toLong, s) }
      val df = evs.toDF("k", "seq", "s")
      val out = graft.streaming.EventStreams.transitionMatrix(
          df, col("k"), Seq(col("seq")), col("s")).collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      val expectTotal = evs.groupBy(_._1).map { case (_, g) => (g.size - 1).toLong }.sum
      val fromTotals = out.groupBy(_._1).forall { case (_, rows) =>
        rows.map(_._2).sum == rows.head._3
      }
      out.map(_._2).sum == expectTotal && fromTotals
    }

  property("rocAuc equals the brute-force pair model and is monotone-transform invariant") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 6L), Gen.oneOf(true, false)))) { rows =>
      import spark.implicits._
      import graft.operators.Validation
      val df = rows.toDF("s", "p")
      def auc(d: DataFrame) = Validation.rocAuc(d, $"s", $"p", buckets = 2)
        .collect().head
      val base = auc(df)
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      if (pos.isEmpty || neg.isEmpty) base.isNullAt(3)
      else {
        val u2 = pos.map(p => 2L * neg.count(_ < p) + neg.count(_ == p)).sum
        val expect = (u2 * 1000000L) / (2L * pos.size * neg.size)
        val shifted = auc(df.selectExpr("s * 3 + 1 AS s", "p"))
        base.getLong(3) == expect && shifted.getLong(3) == expect
      }
    }

  property("prefixScan equals the single-partition running-sum window for 1, 2 and many buckets") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0, 7), Gen.option(Gen.choose(-9L, 9L))))) { rows0 =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Relational
      // few keys, so heavy ties on the leading order key; id makes it total
      val rows = rows0.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
      val df = rows.toDF("k", "id", "v")
      val order = Seq(col("k"), col("id"))
      val naive = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def sums(d: DataFrame) = d.select(col("id"), col("s"), col("r")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      def agrees(d: DataFrame): Boolean = {
        val want = sums(d.withColumn("s", sum(coalesce(col("v"), lit(0L))).over(naive))
          .withColumn("r", sum(lit(1L)).over(naive)))
        Seq(lit(0), (col("k") >= 4).cast("int"), col("k")).forall { b =>
          sums(Relational.prefixScan(d, b, order, "s" -> col("v"), "r" -> lit(1L))) == want
        }
      }
      agrees(df) && agrees(df.filter(lit(false)))
    }

  property("skipgramCounts: total pairs = Σ_docs Σ_d max(0, len-d)") =
    forAll(Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c"))),
      Gen.choose(1, 3)) { (docs, w) =>
      import spark.implicits._
      import graft.operators.Corpus
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "tk")
      val total = Corpus.skipgramCounts(df, $"id", $"tk", window = w)
        .agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum("n"),
          org.apache.spark.sql.functions.lit(0L))).collect().head.getLong(0)
      val expect = docs.map(d => (1 to w).map(k => math.max(0, d.size - k)).sum.toLong).sum
      total == expect
    }

  property("adjustedRandIndex: symmetric in its labelings and invariant under label renaming") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 3L)))) { pairs =>
      import spark.implicits._
      import graft.operators.Validation
      val df = pairs.toDF("a", "b")
      def ari(d: DataFrame, x: String, y: String): Seq[Long] = {
        val r = Validation.adjustedRandIndex(d, col(x), col(y)).collect().head
        (0 until 5).map(r.getLong)
      }
      val ab = ari(df, "a", "b")
      // swap: S and N2 identical, A2/B2 swap, ppm identical
      val ba = ari(df, "b", "a")
      // renaming: an injective relabeling of `a` changes nothing
      val ren = ari(df.selectExpr("a * 7 + 3 AS a", "b"), "a", "b")
      ab(0) == ba(0) && ab(3) == ba(3) && ab(1) == ba(2) && ab(2) == ba(1) &&
        ab(4) == ba(4) && ren == ab
    }

  property("geometricDateSmoothing: value-additive (smoothing of v1+v2 = sum of smoothings)") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 20), Gen.choose(-50, 50), Gen.choose(-50, 50)))) { rows =>
      import spark.implicits._
      import graft.operators.Relational
      // one row per date: sum duplicate day-offsets first
      val byDay = rows.groupBy(_._1).map { case (d, rs) =>
        (d, rs.map(_._2).sum, rs.map(_._3).sum) }.toSeq
      def frame(f: ((Int, Int, Int)) => Int): DataFrame =
        byDay.map { case t @ (d, _, _) => (d, f(t)) }.toDF("off", "v")
          .selectExpr("date_add(DATE '2024-03-01', off) AS d",
            "CAST(v AS DECIMAL(18,0)) AS v")
      def sm(df: DataFrame): Map[java.sql.Date, java.math.BigDecimal] =
        Relational.geometricDateSmoothing(df, col("d"), col("v"), window = 4)
          .collect().map(r => r.getDate(0) -> r.getDecimal(2)).toMap
      val s1 = sm(frame(_._2)); val s2 = sm(frame(_._3))
      val s12 = sm(frame(t => t._2 + t._3))
      s12.keySet == s1.keySet &&
        s12.forall { case (d, v) =>
          v.compareTo(s1(d).add(s2(d))) == 0 }
    }

  property("nearDupComponents = brute-force min-reachable on random graphs") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { pairs =>
      import spark.implicits._
      // brute force: repeated relaxation to a fixed point over the tiny
      // node range — independent of the two-phase star implementation
      val sym = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      var lbl = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        val next = lbl.map { case (n, c) =>
          n -> (sym.collect { case (x, y) if x == n => lbl(y) } :+ c).min }
        changed = next != lbl
        lbl = next
      }
      // maxLocalEdges=0 pins the DISTRIBUTED label+star phases against
      // the brute force; the default call covers the step-0 driver
      // union-find — both must match the fixed point exactly
      val gotDist = graft.operators.Dedup.nearDupComponents(
          pairs.toDF("id_a", "id_b"), maxLocalEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotLocal = graft.operators.Dedup.nearDupComponents(
          pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      gotDist == lbl && gotLocal == lbl
    }

  // Cross-tier laws for the r9 two-tier graph operators: the driver
  // finish (default) and the distributed rounds (maxLocalEdges = 0) must
  // agree exactly on random inputs — the same discipline the components
  // brute-force property established, applied tier-vs-tier.
  private val wEdgeGen: Gen[List[(Long, Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L),
      Gen.choose(1L, 5L)))

  property("shortestPaths: driver tier == distributed tier, any hop bound") =
    forAll(wEdgeGen, Gen.choose(1, 4)) { (es, rounds) =>
      import spark.implicits._
      val edges = es.toDF("src", "dst", "w")
      val srcs = Seq(0L, 3L, 7L).toDF("id")
      def m(df: DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      m(graft.operators.Graph.shortestPaths(edges, srcs, rounds)) ==
        m(graft.operators.Graph.shortestPaths(edges, srcs, rounds,
          maxLocalEdges = 0L))
    }

  property("dagLongestPath: driver tier == distributed tier, any round cap") =
    forAll(wEdgeGen, Gen.choose(1, 4)) { (es0, rounds) =>
      import spark.implicits._
      // orient edges src < dst so the graph is a DAG (the operator's
      // precondition; cyclic inputs under a round CAP are still defined
      // and still must agree, but the DAG shape is the contract)
      val es = es0.collect { case (a, b, w) if a != b =>
        (math.min(a, b), math.max(a, b), w) }
      val edges = es.toDF("src", "dst", "w")
      def m(df: DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      es.isEmpty || {
        m(graft.operators.Graph.dagLongestPath(edges, rounds)) ==
          m(graft.operators.Graph.dagLongestPath(edges, rounds,
            maxLocalEdges = 0L))
      }
    }

  property("bfsDistances: driver tier == distributed tier") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))),
        Gen.choose(1, 5)) { (es, rounds) =>
      import spark.implicits._
      val edges = es.toDF("id_a", "id_b")
      val srcs = Seq(0L, 5L).toDF("id")
      def m(df: DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      es.isEmpty || {
        m(graft.operators.Graph.bfsDistances(edges, srcs, rounds)) ==
          m(graft.operators.Graph.bfsDistances(edges, srcs, rounds,
            maxLocalEdges = 0L))
      }
    }

  property("boruvkaMst: driver Kruskal == distributed Boruvka edge set") =
    forAll(wEdgeGen) { es0 =>
      import spark.implicits._
      val es = es0.filter { case (a, b, _) => a != b }
      val edges = es.toDF("a", "b", "w")
      def m(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      es.isEmpty || {
        m(graft.operators.Graph.boruvkaMst(edges)) ==
          m(graft.operators.Graph.boruvkaMst(edges, maxLocalEdges = 0L))
      }
    }
}

/** `Kernels.cosine`'s direct read (an UnsafeArrayData's elements straight
  * from memory) against a getter loop, bit for bit, on random arrays:
  * float32/float64 on either side, unequal lengths, zero vectors, null and
  * NaN elements. No Spark job, so the default 100 cases a property.
  */
object KernelProps extends Properties("kernels") {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
  import graft.plans.Kernels

  private val elem: Gen[Option[Double]] = Gen.frequency(
    16 -> Gen.choose(-4.0, 4.0).map(Some(_)), 2 -> Gen.const(Some(0.0)),
    2 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)))
  private val vec: Gen[List[Option[Double]]] = Gen.choose(0, 40).flatMap(Gen.listOfN(_, elem))

  private def generic(xs: List[Option[Double]], float: Boolean): ArrayData =
    new GenericArrayData(xs.map {
      case Some(x) => if (float) x.toFloat: Any else x: Any
      case None    => null
    }.toArray[Any])

  private def unsafe(xs: List[Option[Double]], float: Boolean): UnsafeArrayData = {
    val t: DataType = ArrayType(if (float) FloatType else DoubleType, containsNull = true)
    UnsafeProjection.create(Array(t)).apply(InternalRow(generic(xs, float)))
      .getArray(0).asInstanceOf[UnsafeArrayData]
  }

  /** The reference: cosine through the getters (a null unboxes to 0.0). */
  private def byGetters(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** `==` on the Double, with NaN equal to NaN. */
  private def same(x: Double, y: Double): Boolean = (x.isNaN && y.isNaN) || x == y

  property("cosine: the direct read equals the getter loop; generic arrays take the copy") =
    forAll(vec, vec, Gen.oneOf(true, false), Gen.oneOf(true, false)) { (xs, ys, af, bf) =>
      val (ua, ub) = (unsafe(xs, af), unsafe(ys, bf))
      val (ga, gb) = (generic(xs, af), generic(ys, bf))
      val ref = byGetters(ga, gb, af, bf)
      val zero = unsafe(xs.map(_ => Some(0.0)), af)
      same(Kernels.cosine(ua, ub, af, bf), ref) :| "cosine direct" &&
        same(Kernels.cosine(ga, gb, af, bf), ref) :| "cosine generic" &&
        same(Kernels.cosine(ua, gb, af, bf), ref) :| "cosine mixed" &&
        (Kernels.cosine(zero, ub, af, bf) == 0.0) :| "zero vector gives 0.0"
    }
}
