package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("fakeDecode: deterministic, sane entropy bounds") {
    val b = "hello world hello world".getBytes("UTF-8")
    val (len, ent, hash, v) = Multimodal.fakeDecode(b)
    assert(len == b.length)
    assert(ent > 0 && ent <= 8.0) // byte entropy in bits
    assert(Multimodal.fakeDecode(b) == ((len, ent, hash, v)) ||
      Multimodal.fakeDecode(b)._3 == hash) // deterministic (arrays compare by ref)
    val (l0, e0, _, v0) = Multimodal.fakeDecode(Array.emptyByteArray)
    assert(l0 == 0 && e0 == 0.0 && v0.forall(_ == 0f))
  }

  test("asPayload + extractFeatures: schema, ids, and feature values flow") {
    val df = Seq((1L, "abc"), (2L, "zzzzzz")).toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(
      Multimodal.asPayload(df, "text", "text", "utf8"), "doc_id", "payload")
    assert(out.columns.toSeq == Seq("id", "byte_len", "byte_entropy", "head_hash", "feature_vec"))
    val rows = out.orderBy($"id").collect()
    assert(rows(0).getLong(1) == 3L && rows(1).getLong(1) == 6L)
    // 'zzzzzz' is a single byte value => entropy 0; 'abc' has 3 distinct => log2(3)
    assert(rows(1).getDouble(2) == 0.0)
    assert(math.abs(rows(0).getDouble(2) - math.log(3) / math.log(2)) < 1e-9)
    assert(rows(0).getSeq[Float](4).length == 8)
  }

  test("extractFeatures: native expressions, no RDD boundary in the plan") {
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(
      Multimodal.asPayload(df, "text", "text", "utf8"), "doc_id", "payload")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"plan exits Catalyst:\n$plan")
  }

  test("extractFeaturesBatched (typed mapPartitions codec path) matches the native path") {
    val df = Seq((1L, "abc"), (2L, "zzzzzz"), (3L, ""), (4L, "mixed bytes é世")).toDF("doc_id", "text")
    val payload = Multimodal.asPayload(df, "text", "text", "utf8")
    val native = Multimodal.extractFeatures(payload, "doc_id", "payload")
      .orderBy($"id").collect()
    val batched = Multimodal.extractFeaturesBatched(payload, "doc_id", "payload")
      .orderBy($"id").collect()
    assert(native.length == batched.length)
    native.zip(batched).foreach { case (n, b) =>
      assert(n.getLong(0) == b.getLong(0) && n.getLong(1) == b.getLong(1))
      assert(n.getDouble(2) == b.getDouble(2)) // entropy, bit-exact
      assert(n.getLong(3) == b.getLong(3)) // head hash
      assert(n.getSeq[Float](4) == b.getSeq[Float](4))
    }
  }

  test("extractFeatures: null payload treated as empty bytes") {
    val df = Seq((1L, Some(Array[Byte](1, 2, 3))), (2L, None))
      .toDF("doc_id", "payload")
    val rows = Multimodal.extractFeatures(df, "doc_id", "payload")
      .orderBy($"id").collect()
    assert(rows(1).getLong(1) == 0L && rows(1).getDouble(2) == 0.0)
    assert(rows(1).getSeq[Float](4).forall(_ == 0f))
  }

  test("REAL codec: PNG round trip reports exact dims, channels, pixel sums") {
    // synth pixel(x,y) = (seed*31 + x*7 + y*13) % 256 — PNG is lossless, so
    // the decoder must report the formula's sums exactly
    val seed = 42L; val w = 11; val h = 9
    val png = Multimodal.synthGrayPng(seed, w, h)
    assert(png.take(8).toSeq == Seq(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte))
    val Some((dw, dh, ch, sum)) = Multimodal.decodeImageInfo(png)
    val expected = (for { y <- 0 until h; x <- 0 until w }
      yield (seed * 31 + x * 7 + y * 13) % 256).sum
    assert(dw == w && dh == h && ch == 1 && sum == expected)
  }

  test("REAL codec: BMP decodes too (second ImageIO format), undecodable bytes -> null") {
    val img = new java.awt.image.BufferedImage(5, 4, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 4; x <- 0 until 5) img.getRaster.setSample(x, y, 0, x * 10 + y)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", baos)
    val Some((w, h, ch, sum)) = Multimodal.decodeImageInfo(baos.toByteArray)
    assert(w == 5 && h == 4 && ch == 1)
    assert(sum == (for { y <- 0 until 4; x <- 0 until 5 } yield x * 10 + y).sum)
    assert(Multimodal.decodeImageInfo("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageInfo(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImageInfo(null).isEmpty)
  }

  test("REAL codec: resizeImageNN maps dst(x,y) = src(x*sw/dw, y*sh/dh) exactly") {
    val seed = 7L; val sw = 13; val sh = 10; val dw = 8; val dh = 8
    val df = Seq((1L, Multimodal.synthGrayPng(seed, sw, sh))).toDF("id", "png")
    val resized = df.select(Multimodal.resizeImageNN(dw, dh)($"png").as("r"))
      .collect()(0).getAs[Array[Byte]](0)
    val Some((w, h, ch, sum)) = Multimodal.decodeImageInfo(resized)
    val expected = (for { y <- 0 until dh; x <- 0 until dw }
      yield (seed * 31 + (x * sw / dw) * 7 + (y * sh / dh) * 13) % 256).sum
    assert(w == dw && h == dh && ch == 1 && sum == expected)
  }

  test("REAL codec: dHash64 bits match the synthesis formula; brightness shifts stay near") {
    // independently computed from the formula (decode -> gray -> 9x8 NN ->
    // neighbor compare), so this pins the real decode + resample + packing
    val base = Multimodal.dHash64Info(Multimodal.synthGrayPatternPng(5L, 0L, 12, 10))
    assert(base.contains(3038580899354418011L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val off1 = Multimodal.dHash64Info(Multimodal.synthGrayPatternPng(5L, 1L, 12, 10)).get
    val off2 = Multimodal.dHash64Info(Multimodal.synthGrayPatternPng(5L, 2L, 12, 10)).get
    val other = Multimodal.dHash64Info(Multimodal.synthGrayPatternPng(9L, 0L, 12, 10)).get
    assert(ham(base.get, off1) == 0)  // +1 brightness crosses no wrap boundary
    assert(ham(base.get, off2) == 5)  // +2 flips a handful of gradient signs
    assert(ham(base.get, other) == 31) // different structure ~ random half
    assert(Multimodal.dHash64Info("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("hamming64Pairs on dHash prints: only the <=3 pair survives, no cross join") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, Multimodal.synthGrayPatternPng(5L, 0L, 12, 10)),
      (2L, Multimodal.synthGrayPatternPng(5L, 1L, 12, 10)),  // ham 0 vs 1
      (3L, Multimodal.synthGrayPatternPng(5L, 2L, 12, 10)),  // ham 5 vs 1/2
      (4L, Multimodal.synthGrayPatternPng(9L, 0L, 12, 10)))  // unrelated
      .toDF("id", "png")
      .withColumn("sig", Multimodal.dHash64($"png"))
    val pairs = Dedup.hamming64Pairs(docs, $"id", $"sig").orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("REAL codec: color input reduced by integer luminance (299r + 587g + 114b) / 1000") {
    val img = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 2; x <- 0 until 4) {
      img.getRaster.setSample(x, y, 0, 200) // r
      img.getRaster.setSample(x, y, 1, 100) // g
      img.getRaster.setSample(x, y, 2, 50)  // b
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val df = Seq((1L, baos.toByteArray)).toDF("id", "png")
    val resized = df.select(Multimodal.resizeImageNN(2, 2)($"png").as("r"))
      .collect()(0).getAs[Array[Byte]](0)
    val Some((_, _, _, sum)) = Multimodal.decodeImageInfo(resized)
    val lum = (200 * 299 + 100 * 587 + 50 * 114) / 1000
    assert(sum == 4L * lum)
  }

  test("REAL codec: PCM WAV round trip reports exact sample count, rate, channels, sums") {
    // seed*31 = 32767 sits on the signed boundary: sample(0) = -1,
    // sample(1) = +6 — both signs live, so sign extension is exercised
    val seed = 1057L; val n = 100
    val wav = Multimodal.synthPcmWav(seed, n)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val Some((ns, rate, ch, sum, abs, total)) = Multimodal.decodeAudioInfo(wav)
    val samples = (0 until n).map(i => (seed * 31 + i * 7) % 65536 - 32768)
    assert(ns == n && rate == 8000 && ch == 1 && total == n)
    assert(sum == samples.sum && abs == samples.map(math.abs).sum)
    // sample values span the signed range: the sign-extension path is live
    assert(samples.exists(_ < 0) && samples.exists(_ > 0))
    assert(Multimodal.decodeAudioInfo("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeAudioInfo(null).isEmpty)
  }

  test("REAL codec: stereo WAV — frames vs total samples reported separately, sums over all channels") {
    // 120 interleaved samples over 2 channels = 60 frames; the sums cover
    // all 120 samples, so a mean must use total (120), never frames (60)
    val seed = 9L; val n = 120
    val wav = Multimodal.synthPcmWav(seed, n, channels = 2)
    val Some((frames, rate, ch, sum, abs, total)) = Multimodal.decodeAudioInfo(wav)
    val samples = (0 until n).map(i => (seed * 31 + i * 7) % 65536 - 32768)
    assert(frames == 60 && ch == 2 && total == 120 && rate == 8000)
    assert(sum == samples.sum && abs == samples.map(math.abs).sum)
  }

  test("REAL codec: windowed audio energy — exact per-window sums, honest trailing window") {
    val seed = 1057L; val n = 100; val w = 32
    val wav = Multimodal.synthPcmWav(seed, n)
    val Some(wins) = Multimodal.decodeAudioWindowsInfo(wav, w)
    val samples = (0 until n).map(i => ((seed * 31 + i * 7) % 65536 - 32768).toLong)
    val expect = samples.grouped(w).zipWithIndex.map { case (g, i) =>
      (i.toLong, g.length.toLong, g.map(math.abs).sum, g.map(s => s * s).sum)
    }.toSeq
    assert(wins == expect)
    // 100 = 3 full windows of 32 + trailing 4
    assert(wins.length == 4 && wins.last._2 == 4L)
    // window bigger than the clip: one partial window holding everything
    val Some(one) = Multimodal.decodeAudioWindowsInfo(wav, 1000)
    assert(one == Seq((0L, 100L, samples.map(math.abs).sum,
      samples.map(s => s * s).sum)))
    assert(Multimodal.decodeAudioWindowsInfo("junk".getBytes, w).isEmpty)
  }

  test("REAL video: animated-GIF frame sampling reports exact per-frame sums") {
    // frame f pixel(x,y) = (seed*31 + f*17 + x*7 + y*13) % 256; GIF LZW is
    // lossless on the indexed raster, so every kept frame's sum must match
    // the formula exactly. 7 frames sampled every 3rd => frames 0, 3, 6.
    val seed = 99L; val w = 9; val h = 7; val nf = 7
    val gif = Multimodal.synthAnimGif(seed, w, h, nf)
    assert(new String(gif.take(6), "US-ASCII").startsWith("GIF8"))
    val Some(infos) = Multimodal.decodeGifFrameInfos(gif, 3)
    assert(infos.map(_._1) == Seq(0, 3, 6))
    infos.foreach { case (f, dw, dh, sum) =>
      val expected = (for { y <- 0 until h; x <- 0 until w }
        yield (seed * 31 + f * 17 + x * 7 + y * 13) % 256).sum
      assert(dw == w && dh == h && sum == expected, s"frame $f")
    }
    assert(Multimodal.decodeGifFrameInfos("not a gif".getBytes, 2).isEmpty)
    assert(Multimodal.decodeGifFrameInfos(null, 2).isEmpty)
    assert(Multimodal.decodeGifFrameInfos(gif, 0).isEmpty) // everyN must be positive
  }

  test("REAL video: sampled PNG frames feed the image codec unchanged") {
    // GIF -> sampleFramesPng -> decodeImage must agree with the direct
    // decodeGifFrameInfos witness (PNG keeps the indexed raster lossless),
    // proving extracted frames are first-class image payloads.
    val seed = 5L; val w = 6; val h = 5; val nf = 4
    val df = Seq((1L, Multimodal.synthAnimGif(seed, w, h, nf))).toDF("id", "gif")
    val frames = df.select(Multimodal.sampleFramesPng(2)($"gif").as("f"))
      .collect()(0).getSeq[Array[Byte]](0)
    assert(frames.length == 2) // frames 0 and 2 of 4
    val direct = Multimodal.decodeGifFrameInfos(Multimodal.synthAnimGif(seed, w, h, nf), 2).get
    frames.zip(direct).foreach { case (png, (_, dw, dh, sum)) =>
      val Some((pw, ph, _, psum)) = Multimodal.decodeImageInfo(png)
      assert(pw == dw && ph == dh && psum == sum)
    }
    // and the per-frame image resize applies to an extracted frame
    val Some((_, _, _, rsum)) = Multimodal.decodeImageInfo(
      df.select(Multimodal.resizeImageNN(4, 4)(
        Multimodal.sampleFramesPng(2)($"gif").getItem(0)).as("r"))
        .collect()(0).getAs[Array[Byte]](0))
    val expected = (for { y <- 0 until 4; x <- 0 until 4 }
      yield (seed * 31 + (x * w / 4) * 7 + (y * h / 4) * 13) % 256).sum
    assert(rsum == expected)
  }

  test("REAL video: frame-to-frame motion SAD replays the synth formula") {
    // the synth pattern shifts +17 mod 256 per frame: per-pixel diff is 17
    // or 239 (wraparound) — the decode must reproduce the exact mix
    val seed = 7L; val w = 8; val h = 6; val nf = 5
    val gif = Multimodal.synthAnimGif(seed, w, h, nf)
    val Some(motion) = Multimodal.decodeGifMotionInfos(gif)
    assert(motion.map(_._1) == Seq(1, 2, 3, 4))
    motion.foreach { case (f, sad) =>
      val expected = (for { y <- 0 until h; x <- 0 until w } yield {
        val a = (seed * 31 + (f - 1) * 17 + x * 7 + y * 13) % 256
        val b = (seed * 31 + f * 17 + x * 7 + y * 13) % 256
        math.abs(b - a)
      }).sum
      assert(sad == expected, s"transition to frame $f")
    }
    assert(Multimodal.decodeGifMotionInfos("not a gif".getBytes).isEmpty)
    assert(Multimodal.decodeGifMotionInfos(null).isEmpty)
    // single-frame clip: no transitions — honest empty, not a crash
    assert(Multimodal.decodeGifMotionInfos(Multimodal.synthAnimGif(1L, 4, 4, 1)).get.isEmpty)
  }

  test("audio fingerprint: bits replay the synth formula, appends don't change the print") {
    def sample(seed: Long, i: Long): Long = {
      val h1 = ((seed * 1000003L + i) * 2654435761L) & 0xffffffffL
      val h2 = ((h1 ^ (h1 >> 16)) * 40503L) & 0xffffffffL
      (h2 >> 16) - 32768L
    }
    val seed = 42L
    val wav = Multimodal.synthNoisePcmWav(seed, 2080)
    // decode witness: the noise synth round-trips like the ramp synth
    val info = Multimodal.decodeAudioInfo(wav).get
    assert(info._1 == 2080L && info._3 == 1)
    assert(info._4 == (0 until 2080).map(i => sample(seed, i)).sum)
    // print = delta-sign bits over 65 window |s| sums, straight from math
    val sums = (0 until 65).map(w =>
      (32 * w until 32 * (w + 1)).map(i => math.abs(sample(seed, i))).sum)
    var expect = 0L
    (0 until 64).foreach(w => if (sums(w + 1) > sums(w)) expect |= 1L << w)
    assert(Multimodal.audioFingerprint64Info(wav, 32).get == expect)
    // appended content never reaches the print: a longer binary with the
    // same leading 65 windows is a perceptual MATCH of a different file
    val longer = Multimodal.synthNoisePcmWav(seed, 2400)
    assert(!java.util.Arrays.equals(wav, longer))
    assert(Multimodal.audioFingerprint64Info(longer, 32).get == expect)
    // 64 full windows + a partial is not enough — null, never a short print
    assert(Multimodal.audioFingerprint64Info(
      Multimodal.synthNoisePcmWav(seed, 2079), 32).isEmpty)
    assert(Multimodal.audioFingerprint64Info("junk".getBytes, 32).isEmpty)
    assert(Multimodal.audioFingerprint64Info(null, 32).isEmpty)
  }

  test("WHT bands: exact coefficients vs a direct reference fold") {
    val seed = 3L; val n = 20 // 2 full 8-sample frames; 4-sample tail dropped
    val wav = Multimodal.synthPcmWav(seed, n)
    val Some(bands) = Multimodal.whtBandsInfo(wav)
    assert(bands.map(_._1) == (0 until 8))
    val samples = (0 until n).map(i => (((seed * 31 + i * 7) % 65536) - 32768).toInt)
    val expect = (0 until 8).map { k =>
      (0 until 2).map { f =>
        math.abs((0 until 8).map { j =>
          val s = samples(8 * f + j).toLong
          if (Integer.bitCount(k & j) % 2 == 0) s else -s
        }.sum)
      }.sum
    }
    bands.zip(expect).foreach { case ((k, v), e) => assert(v == e, s"band $k") }
    // band 0 is the ±-free fold: Σ|frame sums| directly
    assert(bands.head._2 ==
      math.abs(samples.slice(0, 8).map(_.toLong).sum) +
      math.abs(samples.slice(8, 16).map(_.toLong).sum))
    assert(Multimodal.whtBandsInfo("junk".getBytes).isEmpty)
    assert(Multimodal.whtBandsInfo(null).isEmpty)
  }
  test("patchGridInfo: partial edge patches, row-major order, gray rule, undecodable empty") {
    // 10x6 image, 4x4 patches -> 2 patch rows x 3 patch cols; last col 2px
    // wide, last row 2px tall
    val png = Multimodal.synthGrayPng(5L, 10, 6)
    val got = Multimodal.patchGridInfo(png, 4, 4)
    assert(got.map(p => (p._1, p._2, p._3)) == Seq(
      (0, 0, 16L), (0, 1, 16L), (0, 2, 8L),
      (1, 0, 8L), (1, 1, 8L), (1, 2, 4L)))
    def pix(x: Int, y: Int): Long = (5L * 31 + x * 7 + y * 13) % 256
    val want00 = (for (y <- 0 until 4; x <- 0 until 4) yield pix(x, y)).sum
    val want12 = (for (y <- 4 until 6; x <- 8 until 10) yield pix(x, y)).sum
    assert(got.find(p => p._1 == 0 && p._2 == 0).get._4 == want00)
    assert(got.find(p => p._1 == 1 && p._2 == 2).get._4 == want12)
    assert(got.map(_._3).sum == 60L, "every pixel lands in exactly one patch")
    assert(Multimodal.patchGridInfo(Array[Byte](1, 2, 3), 4, 4).isEmpty)
    assert(Multimodal.patchGridInfo(null, 4, 4).isEmpty)
  }
  test("vadSegments: burst WAV segments at block boundaries, straddle frames decide, slivers drop") {
    import spark.implicits._
    // seed 0, n 2080: active 320-sample blocks 0, 3, 6 -> samples
    // [0,320), [960,1280), [1920,2080). 48-sample frames: islands
    // 0..6 (frame 6 straddles 32/48 active), 20..26, 40..43 (43 partial).
    val wav = Multimodal.synthBurstPcmWav(0L, 2080)
    val frames = Multimodal.decodeAudioWindowsInfo(wav, 48).get
    assert(frames.length == 44)
    assert(frames(10)._3 == 0L, "frame fully inside a silent block is HARD zero")
    assert(frames(6)._3 > 0L && frames(6)._3 < frames(5)._3,
      "straddle frame has partial energy")
    val df = Seq((7L, wav)).toDF("doc_id", "wav")
    val got = Multimodal.vadSegments(df, $"doc_id".as("id"), $"wav",
        window = 48, thrMilli = 4000000L, minFrames = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.map(t => (t._1, t._2)) == Set((0L, 6L), (20L, 26L), (40L, 43L)))
    // a sky-high floor keeps nothing
    assert(Multimodal.vadSegments(df, $"doc_id".as("id"), $"wav",
      48, 40000000L, 2).count() == 0)
  }

  // ---- the audio codec's cached providers ----------------------------------
  import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

  private def noise(seed: Long, i: Int): Int = {
    val h1 = ((seed * 1000003L + i) * 2654435761L) & 0xffffffffL
    val h2 = ((h1 ^ (h1 >> 16)) * 40503L) & 0xffffffffL
    ((h2 >> 16) - 32768L).toInt
  }

  /** `samples` as 16-bit signed PCM in `bigEndian` order, written by
    * AudioSystem itself — the reference the cached providers must match. */
  private def viaAudioSystem(samples: Seq[Int], tpe: AudioFileFormat.Type,
      channels: Int = 1, bigEndian: Boolean = false): Array[Byte] = {
    val pcm = samples.flatMap { s =>
      val (hi, lo) = (((s >> 8) & 0xff).toByte, (s & 0xff).toByte)
      if (bigEndian) Seq(hi, lo) else Seq(lo, hi)
    }.toArray
    val fmt = new AudioFormat(8000f, 16, channels, true, bigEndian)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
      samples.length / channels), tpe, out)
    out.toByteArray
  }

  test("audio codec: providers resolve once per JVM — no per-row service lookup") {
    // AudioSystem scans META-INF/services through the context class loader
    // on every call; the cached providers must never ask again. Counting
    // javax.sound.midi too pins the reader order: in ServiceLoader's order
    // SoftMidiAudioFileReader would try each WAV first and scan for MIDI
    // providers per decode
    val lookups = new java.util.concurrent.atomic.AtomicInteger()
    val t = Thread.currentThread
    val prev = t.getContextClassLoader
    t.setContextClassLoader(new ClassLoader(prev) {
      override def getResources(name: String): java.util.Enumeration[java.net.URL] = {
        if (name.startsWith("META-INF/services/javax.sound.")) lookups.incrementAndGet()
        super.getResources(name)
      }
    })
    try {
      assert(Multimodal.decodeAudioInfo(Multimodal.synthPcmWav(1L, 64)).isDefined) // first use
      lookups.set(0)
      (0 until 100).foreach { i =>
        assert(Multimodal.decodeAudioInfo(Multimodal.synthNoisePcmWav(i.toLong, 64)).isDefined)
      }
      assert(lookups.get == 0, s"${lookups.get} provider lookups in 100 synth + 100 decode calls")
    } finally t.setContextClassLoader(prev)
  }

  test("audio codec: AU and big-endian AIFF decode exactly as AudioSystem decodes them") {
    val samples = (0 until 90).map(noise(11L, _))
    val wavInfo = Multimodal.decodeAudioInfo(viaAudioSystem(samples, AudioFileFormat.Type.WAVE))
    for ((tpe, be) <- Seq(AudioFileFormat.Type.AU -> true, AudioFileFormat.Type.AIFF -> true,
        AudioFileFormat.Type.AU -> false, AudioFileFormat.Type.WAVE -> false)) {
      val bytes = viaAudioSystem(samples, tpe, bigEndian = be)
      val ref = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      val Some((fmt, data)) = Multimodal.pcm16(bytes)
      assert(fmt.toString == ref.getFormat.toString && fmt.matches(ref.getFormat), s"$tpe")
      assert(java.util.Arrays.equals(data, ref.readAllBytes()), s"$tpe sample bytes")
      // same samples, any container and byte order: the same witness
      assert(Multimodal.decodeAudioInfo(bytes) == wavInfo, s"$tpe be=$be")
    }
    assert(Multimodal.pcm16(viaAudioSystem(samples, AudioFileFormat.Type.AIFF, bigEndian = true))
      .get._1.isBigEndian, "the big-endian sample path is exercised")
    // 8-bit PCM parses but is not 16-bit: None, like junk, empty and null
    val pcm8 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(new Array[Byte](40)),
      new AudioFormat(8000f, 8, 1, true, false), 40), AudioFileFormat.Type.WAVE, pcm8)
    assert(AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(pcm8.toByteArray)).getFormat.getSampleSizeInBits == 8)
    Seq(pcm8.toByteArray, "junk".getBytes, Array.emptyByteArray, null)
      .foreach(b => assert(Multimodal.pcm16(b).isEmpty))
  }

  test("audio codec: every synth writes AudioSystem's exact bytes") {
    def ramp(seed: Long, n: Int) = (0 until n).map(i => (((seed * 31 + i * 7) % 65536) - 32768).toInt)
    val W = AudioFileFormat.Type.WAVE
    assert(Multimodal.synthPcmWav(1057L, 100) sameElements viaAudioSystem(ramp(1057L, 100), W))
    assert(Multimodal.synthPcmWav(9L, 121, channels = 2) sameElements
      viaAudioSystem(ramp(9L, 121), W, channels = 2))
    assert(Multimodal.synthNoisePcmWav(42L, 700) sameElements
      viaAudioSystem((0 until 700).map(noise(42L, _)), W))
    assert(Multimodal.synthBurstPcmWav(4L, 1000) sameElements viaAudioSystem(
      (0 until 1000).map(i => if ((i / 320 + 4L) % 3 == 0) noise(4L, i) else 0), W))
  }

  test("audio codec: decodes on 4 concurrent threads equal the sequential results") {
    val wavs = (0 until 64).map(i => Multimodal.synthBurstPcmWav(i.toLong, 960 + 8 * i))
    def decode(w: Array[Byte]) = (Multimodal.decodeAudioInfo(w),
      Multimodal.decodeAudioWindowsInfo(w, 48), Multimodal.whtBandsInfo(w))
    val sequential = wavs.map(decode)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val runs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, Any)]] {
          def call(): Seq[(Int, Any)] = {
            start.await()
            // each thread walks the payloads from its own offset, and
            // re-synthesizes half of them, so writers and readers overlap
            (0 until 3 * wavs.length).map { k =>
              val i = (k + 16 * t) % wavs.length
              val w = if (k % 2 == 0) wavs(i)
                else Multimodal.synthBurstPcmWav(i.toLong, 960 + 8 * i)
              i -> decode(w)
            }
          }
        })
      }
      start.countDown()
      runs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS).foreach {
        case (i, got) => assert(got == sequential(i), s"payload $i")
      })
    } finally pool.shutdownNow()
  }
}
