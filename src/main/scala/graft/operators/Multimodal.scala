package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
  UnsupportedAudioFileException}
import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}

/** Multimodal column plumbing (beyond-parity extension, SURVEY.md §7):
  * image/audio/video payloads ride as opaque `BinaryType` columns with a
  * typed metadata struct; feature extraction runs batched per partition.
  *
  * The IMAGE codec path is REAL: [[decodeImage]] / [[resizeImageNN]] parse
  * and resample actual PNG/BMP/GIF/JPEG payloads via `javax.imageio` (pure
  * JDK — the readers ship with the JRE). The VIDEO path is REAL too:
  * multi-frame animated GIF is the one moving-picture container the JDK
  * can both write and read ([[synthAnimGif]] /
  * `ImageWriter.writeToSequence`, [[decodeGifFrameInfos]] /
  * `ImageReader.getNumImages(true)` + `read(i)`), and GIF's LZW is
  * lossless on the indexed raster — so frame sampling
  * ([[sampleFrameInfos]], [[sampleFramesPng]]) is a genuine
  * demux-decode-sample chain whose per-frame pixel sums an integer
  * SQL oracle can replay. An MP4/H.264 demuxer would slot into the same
  * two UDF signatures; the JDK simply doesn't ship one.
  *
  * Scale notes: payloads never enter a shuffle here — decode is a narrow
  * mapPartitions; downstream aggregations see only the small feature
  * struct. For 100 TB of media: size input splits so one partition's
  * payloads fit comfortably in executor memory (`maxPartitionBytes`), and
  * repartition BEFORE decode if the source files are few-but-huge.
  */
object Multimodal {

  // ImageIO's default stream cache is a temp FILE on disk — every
  // encode/decode would pay a file create/write/delete. All payloads here
  // are in-memory byte arrays, so use the memory cache (A/B at sf0.1,
  // local[32]: q149 GIF encode+demux 7.7 -> 1.5 s, q145 PNG chain
  // 3.2 -> 1.6 s). JVM-global by API design; set once.
  javax.imageio.ImageIO.setUseCache(false)

  /** The metadata struct every payload carries. */
  val MetaSchema: StructType = StructType(
    Seq(
      StructField("modality", StringType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("byte_len", LongType, nullable = false)
    )
  )

  val FeatureSchema: StructType = StructType(
    Seq(
      StructField("byte_len", LongType, nullable = false),
      StructField("byte_entropy", DoubleType, nullable = false),
      StructField("head_hash", LongType, nullable = false),
      StructField("feature_vec", ArrayType(FloatType, containsNull = false), nullable = false)
    )
  )

  /** Wrap a string column as an opaque binary payload + metadata — the
    * ingest shape (a real pipeline reads bytes from object storage; the
    * testdata has no binary columns, so documents.text stands in).
    */
  def asPayload(df: DataFrame, textCol: String, modality: String, format: String): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn(
        "meta",
        struct(
          lit(modality).alias("modality"),
          lit(format).alias("format"),
          octet_length(col("payload")).cast("long").alias("byte_len")
        )
      )

  /** STUB decoder: a real implementation would decode the image/audio and
    * emit model features. This fake derives deterministic features from the
    * raw bytes (length, Shannon entropy of the byte histogram, a hash of the
    * first 16 bytes, and an 8-dim byte-bucket histogram as the "embedding").
    * Deliberately cheap, pure, and collision-checkable in tests.
    */
  def fakeDecode(bytes: Array[Byte]): (Long, Double, Long, Array[Float]) = {
    val hist = new Array[Long](256)
    bytes.foreach(b => hist(b & 0xff) += 1)
    val n = bytes.length.toDouble
    var ent = 0.0
    if (n > 0) {
      var i = 0
      while (i < 256) {
        if (hist(i) > 0) { val p = hist(i) / n; ent -= p * math.log(p) / math.log(2) }
        i += 1
      }
    }
    var headHash = 1125899906842597L
    bytes.take(16).foreach(b => headHash = headHash * 31 + b)
    val vec = new Array[Float](8)
    var i = 0
    while (i < 256) { vec(i / 32) += hist(i).toFloat; i += 1 }
    if (n > 0) { var j = 0; while (j < 8) { vec(j) = (vec(j) / n).toFloat; j += 1 } }
    (bytes.length.toLong, ent, headHash, vec)
  }

  // ---- REAL image codec (javax.imageio — pure JDK: PNG/BMP/GIF/JPEG
  // readers ship with the JRE; no container dependency) -------------------

  /** Deterministic grayscale test-pattern PNG: pixel(x, y) =
    * (seed*31 + x*7 + y*13) mod 256, encoded 8-bit gray. This is the data
    * SYNTHESIS side of the codec round trip — the formula is plain integer
    * arithmetic, so a SQL oracle can replay the expected pixel sums of
    * anything the decoder reports (PNG is lossless: encode→decode is
    * identity on the raster).
    */
  def synthGrayPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((seed * 31 + x * 7 + y * 13) % 256).toInt)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** REAL decode: parse the payload with ImageIO and report (width, height,
    * channels, pix_sum) where pix_sum is the exact integer sum of every
    * band sample — the decoded-content witness a SQL oracle can check.
    * Returns null (not a default) for undecodable bytes: a corrupt payload
    * must be visible, not smoothed over.
    */
  def decodeImageInfo(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (bytes == null || bytes.isEmpty) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val r = img.getRaster
      val (w, h, bands) = (img.getWidth, img.getHeight, r.getNumBands)
      var sum = 0L
      var b = 0
      while (b < bands) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += r.getSample(x, y, b); x += 1 }
          y += 1
        }
        b += 1
      }
      Some((w, h, bands, sum))
    }
  }

  /** Struct-returning decode UDF (width, height, channels, pix_sum; null
    * for undecodable payloads). A codec is a black-box native-style call —
    * the UDF boundary is the honest integration point (same reasoning as
    * [[extractFeaturesBatched]]); everything around it stays columnar.
    */
  def decodeImage: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      decodeImageInfo(bytes).map { case (w, h, c, s) => (w, h, c, s) }.orNull
    }

  def synthGrayPngUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (seed: Long, w: Int, h: Int) => synthGrayPng(seed, w, h) }

  /** REAL nearest-neighbor resize: decode (any ImageIO format), reduce to
    * 8-bit gray — band 0 for single-band images, integer luminance
    * (299 r + 587 g + 114 b) / 1000 for color — then resample with
    * dst(x, y) = src(floor(x*sw/dw), floor(y*sh/dh)) and re-encode PNG.
    * Every step is integer arithmetic, so the resized raster is exactly
    * replayable by the oracle. Null for undecodable input. Narrow op: no
    * shuffle, payload stays in its partition.
    */
  def resizeImageNN(dw: Int, dh: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      val img =
        if (bytes == null || bytes.isEmpty) null
        else
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: Exception => null }
      if (img == null) null
      else {
        val src = img.getRaster
        val (sw, sh) = (img.getWidth, img.getHeight)
        def gray(x: Int, y: Int): Int =
          if (src.getNumBands >= 3)
            (src.getSample(x, y, 0) * 299 + src.getSample(x, y, 1) * 587 +
              src.getSample(x, y, 2) * 114) / 1000
          else src.getSample(x, y, 0)
        val out = new java.awt.image.BufferedImage(dw, dh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val dst = out.getRaster
        var y = 0
        while (y < dh) {
          var x = 0
          while (x < dw) {
            dst.setSample(x, y, 0, gray(x * sw / dw, y * sh / dh))
            x += 1
          }
          y += 1
        }
        encodePng(out)
      }
    }

  /** Deterministic NONLINEAR grayscale test pattern: pixel(x, y) =
    * (seed*37 + x²·7 + y²·13 + x·y·(3+seed) + off) mod 256. The quadratic
    * cross term makes the raster's horizontal-gradient STRUCTURE depend on
    * `seed` while `off` only shifts brightness — so two images sharing a
    * seed are perceptual near-duplicates (dHash differs in a few wrap bits)
    * and different seeds are unrelated (dHash ≈ random). The plain
    * [[synthGrayPng]] gradient is too regular for this: its neighbor
    * comparisons are almost all "ascending", so unrelated images collide
    * under any gradient hash. Same lossless-PNG oracle contract.
    */
  def synthGrayPatternPng(seed: Long, off: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (seed * 37 + x.toLong * x * 7 + y.toLong * y * 13 +
          x.toLong * y * (3 + seed) + off) % 256
        raster.setSample(x, y, 0, v.toInt)
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  def synthGrayPatternPngUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf {
      (seed: Long, off: Long, w: Int, h: Int) => synthGrayPatternPng(seed, off, w, h)
    }

  /** 64-bit difference hash (dHash — the standard perceptual fingerprint:
    * Krawetz's "kind of like that" gradient hash): REAL decode, reduce to
    * 8-bit gray (band 0 / integer luminance — [[resizeImageNN]]'s rule),
    * nearest-neighbor resample to 9x8 with the same `x*sw/dw` mapping, then
    * bit(x, y) = 1 iff px(x+1, y) > px(x, y), packed little-endian as
    * bit index y*8+x. Every step is integer arithmetic, so an oracle can
    * replay the exact 64 bits from a [[synthGrayPatternPng]] formula.
    * Brightness/contrast shifts barely move it (gradient signs survive);
    * Hamming distance between hashes is the perceptual distance. Null for
    * undecodable input.
    */
  def dHash64Info(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.isEmpty) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val src = img.getRaster
      val (sw, sh) = (img.getWidth, img.getHeight)
      def gray(x: Int, y: Int): Int =
        if (src.getNumBands >= 3)
          (src.getSample(x, y, 0) * 299 + src.getSample(x, y, 1) * 587 +
            src.getSample(x, y, 2) * 114) / 1000
        else src.getSample(x, y, 0)
      var hash = 0L
      var y = 0
      while (y < 8) {
        val sy = y * sh / 8
        var x = 0
        while (x < 8) {
          if (gray((x + 1) * sw / 9, sy) > gray(x * sw / 9, sy))
            hash |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      Some(hash)
    }
  }

  def dHash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      dHash64Info(bytes).map(java.lang.Long.valueOf).orNull
    }

  // ---- REAL audio codec (javax.sound.sampled — pure JDK: WAV/AIFF/AU PCM
  // readers ship with the JRE) ---------------------------------------------

  /** The JDK's audio file providers, resolved once per JVM: AudioSystem
    * resolves them again on every call, a class-path scan under one
    * JVM-wide lock (JDK 17 keeps no cache) that serialized every task of an
    * audio query. Kept in AudioSystem's order, the reverse of
    * ServiceLoader's, so first-match picks the same codec and writes the
    * same bytes. The JDK providers are stateless; all threads share them.
    */
  private def audioProviders[T](cls: Class[T]): List[T] =
    java.util.ServiceLoader.load(cls).asScala.foldLeft(List.empty[T])((ps, p) => p :: ps)
  private lazy val audioWriters = audioProviders(classOf[AudioFileWriter])
  private lazy val audioReaders = audioProviders(classOf[AudioFileReader])

  /** `pcm` as WAV bytes from the first writer that takes its format. */
  private def wavBytes(pcm: Array[Byte], format: AudioFormat): Array[Byte] = {
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), format,
      pcm.length / format.getFrameSize)
    val out = new java.io.ByteArrayOutputStream()
    // a writer that cannot write the format throws before it reads the stream
    if (!audioWriters.exists(w => try { w.write(ais, AudioFileFormat.Type.WAVE, out); true }
        catch { case _: IllegalArgumentException => false }))
      throw new IllegalArgumentException(s"no WAVE writer for $format")
    out.toByteArray
  }

  /** The decode front end of every audio kernel: (format, raw sample
    * bytes) from the first reader that parses the payload; None for null,
    * empty, non-16-bit or unsupported input.
    */
  private[graft] def pcm16(bytes: Array[Byte]): Option[(AudioFormat, Array[Byte])] =
    if (bytes == null || bytes.isEmpty) None
    else try {
      val in = new java.io.ByteArrayInputStream(bytes)
      audioReaders.iterator.flatMap { r =>
        try Some(r.getAudioInputStream(in))
        catch { case _: UnsupportedAudioFileException => None }
      }.nextOption()
        .filter(_.getFormat.getSampleSizeInBits == 16)
        .map(ais => (ais.getFormat, ais.readAllBytes()))
    } catch { case _: Exception => None }

  /** Signed 16-bit sample at byte offset `i` of [[pcm16]]'s sample bytes. */
  @inline private def sample16(data: Array[Byte], i: Int, le: Boolean): Int =
    if (le) (data(i + 1) << 8) | (data(i) & 0xff) else (data(i) << 8) | (data(i + 1) & 0xff)

  /** `n` samples `f(0) … f(n-1)` as 16-bit signed little-endian PCM. */
  private def pcm16le(n: Int)(f: Int => Int): Array[Byte] = {
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = f(i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    pcm
  }

  /** Deterministic 16-bit PCM WAV test pattern: interleaved sample(i) =
    * ((seed*31 + i*7) mod 65536) - 32768 over `nSamples` TOTAL samples
    * (`nSamples / channels` frames) — the audio sibling of
    * [[synthGrayPng]]. PCM WAV is lossless, so a SQL oracle can replay the
    * decoder's exact sample sums.
    */
  def synthPcmWav(seed: Long, nSamples: Int, sampleRate: Int = 8000,
      channels: Int = 1): Array[Byte] =
    wavBytes(pcm16le(nSamples)(i => (((seed * 31 + i * 7) % 65536) - 32768).toInt),
      new AudioFormat(sampleRate.toFloat, 16, channels, true, false))

  /** REAL audio decode: parse the payload ([[pcm16]]) and report
    * (n_frames, sample_rate, channels, sample_sum, abs_sum, n_samples) —
    * exact integer sums over the decoded 16-bit samples, the
    * decoded-content witness a SQL oracle can check (abs_sum is the energy
    * proxy a quality filter would threshold on). n_frames counts
    * per-channel frames; the sums cover ALL interleaved channel samples,
    * so a mean over the sums must divide by n_samples (= n_frames ×
    * channels), never n_frames — returning both makes multi-channel means
    * impossible to get wrong. None for undecodable bytes.
    */
  def decodeAudioInfo(bytes: Array[Byte]): Option[(Long, Int, Int, Long, Long, Long)] =
    pcm16(bytes).map { case (fmt, data) =>
      val le = !fmt.isBigEndian
      var sum = 0L
      var abs = 0L
      var i = 0
      while (i + 1 < data.length) {
        val s = sample16(data, i, le)
        sum += s
        abs += math.abs(s)
        i += 2
      }
      (data.length / 2L / fmt.getChannels, fmt.getSampleRate.toInt,
        fmt.getChannels, sum, abs, data.length / 2L)
    }

  def decodeAudio: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      decodeAudioInfo(bytes).map { case (n, r, c, s, a, t) => (n, r, c, s, a, t) }.orNull
    }

  /** REAL windowed audio energy profile: decode the payload
    * ([[decodeAudioInfo]]'s parser) and fold the interleaved 16-bit
    * samples into fixed `window`-sample frames of (win, n, abs_sum,
    * energy) — energy = Σ s², exact in a long for any window ≤ 2^23
    * samples (32768² · 8M < 2^63). The voice-activity / silence-trim
    * primitive a speech-data pipeline thresholds on: a window whose mean
    * |s| sits under the floor is silence, and trimming it is the cheapest
    * data-quality win in audio curation. The trailing partial window is
    * reported with its honest n. None for undecodable bytes.
    */
  def decodeAudioWindowsInfo(bytes: Array[Byte],
      window: Int): Option[Seq[(Long, Long, Long, Long)]] =
    if (window <= 0) None
    else pcm16(bytes).map { case (fmt, data) =>
      val le = !fmt.isBigEndian
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var w = 0L; var n = 0L; var abs = 0L; var energy = 0L
      var i = 0
      while (i + 1 < data.length) {
        val s = sample16(data, i, le)
        n += 1; abs += math.abs(s); energy += s.toLong * s
        if (n == window) { out += ((w, n, abs, energy)); w += 1; n = 0; abs = 0; energy = 0 }
        i += 2
      }
      if (n > 0) out += ((w, n, abs, energy))
      out.toSeq
    }

  def decodeAudioWindows: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte], window: Int) =>
      decodeAudioWindowsInfo(bytes, window).orNull
    }

  def synthPcmWavUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (seed: Long, n: Int) => synthPcmWav(seed, n) }

  /** Noise-like 16-bit PCM WAV test pattern:
    *
    *   h₁ = ((seed·1000003 + i) · 2654435761) mod 2³²
    *   h₂ = ((h₁ xor (h₁ div 2¹⁶)) · 40503) mod 2³²
    *   sample(i) = h₂ div 2¹⁶ − 2¹⁵
    *
    * — [[synthPcmWav]]'s white-noise sibling (that one is a slow linear
    * ramp: fine for sum witnesses, degenerate for anything reading local
    * energy STRUCTURE, where a ramp makes every window look like its
    * neighbor). The multiply → xor-shift → multiply finalizer (the
    * murmur/splitmix shape) is the cheapest integer mix that actually
    * decorrelates here, and each stage is one line of SQL. A single
    * multiplicative hash is NOT enough — its sample orbit is the same
    * for every seed up to a phase shift (h(x+1) − h(x) is constant), so
    * nearby phases give near-identical energy profiles; the xor-shift
    * breaks the affine structure (measured: 837 spurious close prints
    * across 167 seeds with the single multiply, 0 with the finalizer).
    * High 16 bits by multiplicative-hashing rule (the low 16 depend only
    * on the input mod 2¹⁶ — a ramp again). All
    * arithmetic stays below 2⁶³ for seed < ~3.4e9, so the long math never
    * wraps and the oracle replay is exact.
    */
  def synthNoisePcmWav(seed: Long, nSamples: Int, sampleRate: Int = 8000): Array[Byte] = {
    require(seed >= 0 && seed < 3400000000L, s"seed out of the no-overflow contract: $seed")
    wavBytes(pcm16le(nSamples)(i => noiseSample(seed, i)),
      new AudioFormat(sampleRate.toFloat, 16, 1, true, false))
  }

  /** Sample `i` of [[synthNoisePcmWav]]'s stream. */
  private def noiseSample(seed: Long, i: Int): Int = {
    val h1 = ((seed * 1000003L + i) * 2654435761L) & 0xffffffffL
    val h2 = ((h1 ^ (h1 >> 16)) * 40503L) & 0xffffffffL
    ((h2 >> 16) - 32768L).toInt
  }

  def synthNoisePcmWavUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (seed: Long, n: Int) => synthNoisePcmWav(seed, n) }

  /** Burst-gated sibling of [[synthNoisePcmWav]]: the same noise stream,
    * but sample i is HARD-MUTED to 0 unless its 320-sample block is
    * active — block b speaks iff `(b + seed) % 3 == 0`. Speech-shaped
    * test audio (talk / silence / talk) whose every sample still replays
    * as three lines of integer SQL, for voice-activity segmentation
    * witnesses (q339).
    */
  def synthBurstPcmWav(seed: Long, nSamples: Int, sampleRate: Int = 8000): Array[Byte] = {
    require(seed >= 0 && seed < 3400000000L, s"seed out of the no-overflow contract: $seed")
    wavBytes(pcm16le(nSamples)(i => if ((i / 320 + seed) % 3 == 0) noiseSample(seed, i) else 0),
      new AudioFormat(sampleRate.toFloat, 16, 1, true, false))
  }

  def synthBurstPcmWavUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (seed: Long, n: Int) => synthBurstPcmWav(seed, n) }

  /** Voice-activity segmentation over a REAL decode: frame the payload
    * into `window`-sample energy frames ([[decodeAudioWindowsInfo]]), mark
    * a frame ACTIVE iff its mean |sample| clears the floor — integer-
    * exactly, `abs_sum * 1000 >= thrMilli * n` with `thrMilli` the
    * threshold in milli-sample units — and merge consecutive active
    * frames into segments (gaps-and-islands on the frame index), dropping
    * slivers shorter than `minFrames`. The silence-trim / speech-extract
    * primitive of audio curation; returns one row per kept segment:
    * (id, w_start, w_end, n_frames, abs_total).
    *
    * Scale shape: the codec UDF emits bounded per-payload frame arrays,
    * explode is linear, and the islands trick (frame − row_number) uses a
    * window PARTITIONED BY id — a payload's own frames are the frame,
    * never a global sort.
    */
  def vadSegments(df: DataFrame, id: Column, wav: Column, window: Int,
      thrMilli: Long, minFrames: Int): DataFrame = {
    require(minFrames >= 1, s"minFrames must be >= 1, got $minFrames")
    require(thrMilli >= 0, s"thrMilli must be >= 0, got $thrMilli")
    val frames = df.select(id.alias("id"),
        explode(decodeAudioWindows(wav, lit(window))).alias("f"))
      .select(col("id"), col("f._1").alias("w"), col("f._2").alias("n"),
        col("f._3").alias("abs_sum"))
    val active = frames.filter(col("abs_sum") * 1000 >= lit(thrMilli) * col("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy("w")))
    active.withColumn("g", col("w") - col("rn"))
      .groupBy(col("id"), col("g"))
      .agg(min(col("w")).alias("w_start"), max(col("w")).alias("w_end"),
        count(lit(1)).alias("n_frames"), sum(col("abs_sum")).alias("abs_total"))
      .filter(col("n_frames") >= minFrames)
      .select(col("id"), col("w_start"), col("w_end"), col("n_frames"),
        col("abs_total"))
  }

  /** Perceptual 64-bit audio fingerprint from REAL PCM decode: fold the
    * payload's samples into the first 65 full `windowSamples`-sample
    * windows of |s| sums and set bit w (0..63) iff
    * abs_sum(w+1) > abs_sum(w) — the energy-delta SIGN print, the
    * Haitsma-Kalker fingerprint shape with the integer |s| window sum
    * standing in for the FFT band energy (exactly replayable; a real
    * deploy would swap the band energies in, same bit rule). The print
    * ignores everything past window 65, so re-encodes and APPENDS leave
    * it unchanged — two different binaries with the same leading content
    * print identically, which is the point of a perceptual hash. Null for
    * undecodable payloads or fewer than 65 full windows. Feeds
    * [[graft.operators.Dedup.hamming64Pairs]] exactly like dHash/SimHash.
    */
  def audioFingerprint64Info(bytes: Array[Byte], windowSamples: Int): Option[Long] =
    decodeAudioWindowsInfo(bytes, windowSamples).flatMap { wins =>
      val full = wins.filter(_._2 == windowSamples).map(_._3)
      if (full.length < 65) None
      else {
        var h = 0L
        var w = 0
        while (w < 64) {
          if (full(w + 1) > full(w)) h |= 1L << w
          w += 1
        }
        Some(h)
      }
    }

  def audioFingerprint64(windowSamples: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      audioFingerprint64Info(bytes, windowSamples).map(java.lang.Long.valueOf).orNull
    }

  // ---- REAL video frame sampling (multi-frame animated GIF via
  // javax.imageio — the JDK's GIF plugin writes AND reads image sequences;
  // LZW is lossless on the indexed raster, so per-frame pixel sums replay
  // as integer arithmetic in the oracle, exactly the q145/q146 pattern) ----

  /** 256-entry identity grayscale palette: index i ↦ rgb(i,i,i). The JDK
    * GIF writer emits an indexed image's own palette verbatim (no
    * re-quantization), so raster index == gray level survives the round
    * trip — prototyped and spec-pinned.
    */
  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** Deterministic animated-GIF test clip: frame f's pixel(x, y) =
    * (seed*31 + f*17 + x*7 + y*13) mod 256 on the identity gray palette —
    * the moving-picture sibling of [[synthGrayPng]]/[[synthPcmWav]]. Every
    * frame is a full image (no delta/disposal tricks), so `read(i)`
    * returns exactly the raster written for frame i.
    *
    * Interlacing is explicitly DISABLED: the JDK GIF writer's default
    * progressive mode writes interlaced frames, and the interlaced round
    * trip is lossy for heights 2-4 (tail rows decode as zero — found by
    * the ScalaCheck dims sweep in PropertySpec, 117/312 small-dim cases).
    * Sequential frames round-trip losslessly at every size.
    */
  def synthAnimGif(seed: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((seed * 31 + f * 17 + x * 7 + y * 13) % 256).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    baos.toByteArray
  }

  def synthAnimGifUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (seed: Long, w: Int, h: Int, nf: Int) =>
      synthAnimGif(seed, w, h, nf)
    }

  /** REAL frame sampling decode: demux the GIF sequence, decode every
    * `everyN`-th frame, report (frame_idx, width, height, pix_sum) per
    * kept frame — pix_sum sums raster samples across bands, same witness
    * semantics as [[decodeImageInfo]] (for indexed content the sample is
    * the palette index == gray level on a grayscale palette). None for
    * undecodable bytes; decode stops at the reader's own frame count, so
    * a truncated payload is visible as fewer frames, not a crash.
    */
  def decodeGifFrameInfos(bytes: Array[Byte], everyN: Int): Option[Seq[(Int, Int, Int, Long)]] =
    withGifFrames(bytes, everyN) { (i, img) =>
      val r = img.getRaster
      val (w, h, bands) = (img.getWidth, img.getHeight, r.getNumBands)
      var sum = 0L
      var b = 0
      while (b < bands) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += r.getSample(x, y, b); x += 1 }
          y += 1
        }
        b += 1
      }
      (i, w, h, sum)
    }

  /** Shared demux loop: apply `f` to every `everyN`-th decoded frame. */
  private def withGifFrames[A](bytes: Array[Byte], everyN: Int)(
      f: (Int, java.awt.image.BufferedImage) => A): Option[Seq[A]] = {
    if (bytes == null || bytes.isEmpty || everyN <= 0) return None
    try {
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      try {
        reader.setInput(javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes)), false, false)
        val n = reader.getNumImages(true)
        Some((0 until n).collect { case i if i % everyN == 0 => f(i, reader.read(i)) })
      } finally reader.dispose()
    } catch { case _: Exception => None }
  }

  /** Frame-info sampling as a column op — `array<struct>` of
    * (frame_idx, width, height, pix_sum), null for undecodable payloads.
    * Codec-as-UDF by design (black-box byte work, no built-in demuxer);
    * narrow op, the payload never enters a shuffle.
    */
  def sampleFrameInfos(everyN: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      decodeGifFrameInfos(bytes, everyN).orNull
    }

  /** REAL frame extraction: every `everyN`-th frame re-encoded as a PNG
    * payload (`array<binary>`) — the shape a downstream per-frame image
    * stage consumes; [[decodeImage]] / [[resizeImageNN]] apply to each
    * element unchanged. PNG keeps the indexed raster lossless, so the
    * chain GIF→sample→PNG→decode reports the same sums as
    * [[decodeGifFrameInfos]] (spec-pinned).
    */
  def sampleFramesPng(everyN: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      withGifFrames(bytes, everyN)((_, img) => encodePng(img)).orNull
    }

  /** REAL frame-to-frame motion: decode EVERY frame and report, per
    * consecutive pair, (to_frame_idx, sad) — SAD = Σ|p_next − p_prev| over
    * the shared raster (band 0; the synthetic clips are single-band
    * indexed). The scene-change primitive a video-curation pipeline
    * thresholds on: a transition whose per-pixel mean difference spikes is
    * a cut, and sampling one frame per cut beats sampling every Nth frame
    * for training-data coverage. Pairs with mismatched dims are skipped
    * (honest absence, not a crash); None for undecodable bytes.
    */
  def decodeGifMotionInfos(bytes: Array[Byte]): Option[Seq[(Int, Long)]] =
    withGifFrames(bytes, 1) { (i, img) =>
      val r = img.getRaster
      (i, img.getWidth, img.getHeight, r.getSamples(0, 0, img.getWidth, img.getHeight, 0,
        null.asInstanceOf[Array[Int]]))
    }.map { frames =>
      frames.sliding(2).collect {
        case Seq((_, w0, h0, p0), (i1, w1, h1, p1)) if w0 == w1 && h0 == h1 =>
          var sad = 0L
          var j = 0
          while (j < p0.length) { sad += math.abs(p1(j) - p0(j)); j += 1 }
          (i1, sad)
      }.toSeq
    }

  /** Motion profile as a column op — `array<struct>` of (to_frame_idx,
    * sad), null for undecodable payloads. Same codec-as-UDF rationale as
    * [[sampleFrameInfos]]; narrow, payload never shuffles.
    */
  def frameMotion: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      decodeGifMotionInfos(bytes).orNull
    }

  /** Integer-exact "spectral" band profile: decode 16-bit PCM
    * ([[decodeAudioInfo]]'s parser), cut the interleaved samples into
    * 8-sample frames (trailing partial frame dropped — it has no full
    * transform), and for each Walsh–Hadamard band k∈[0,8) report
    * Σ_frames |c_k| where c_k = Σ_j sign_k(j)·s_j and sign_k(j) =
    * (−1)^popcount(k AND j). The Hadamard matrix is ±1-valued, so every
    * coefficient is an exact integer — a DFT-shaped energy-by-frequency
    * witness (k=0 is DC, k=7 the fastest alternation) that a SQL oracle
    * replays with bit_count arithmetic, unlike a float FFT. |c_k| ≤
    * 8·32768 and frames ≤ 2^20 per payload keep the sum far inside a
    * long. None for undecodable bytes.
    */
  def whtBandsInfo(bytes: Array[Byte]): Option[Seq[(Int, Long)]] =
    pcm16(bytes).map { case (fmt, data) =>
      val le = !fmt.isBigEndian
      val acc = new Array[Long](8)
      val frame = new Array[Int](8)
      var n = 0
      var i = 0
      while (i + 1 < data.length) {
        frame(n) = sample16(data, i, le)
        n += 1
        if (n == 8) {
          var k = 0
          while (k < 8) {
            var c = 0L
            var j = 0
            while (j < 8) {
              c += (if (java.lang.Integer.bitCount(k & j) % 2 == 0) frame(j)
                    else -frame(j))
              j += 1
            }
            acc(k) += math.abs(c)
            k += 1
          }
          n = 0
        }
        i += 2
      }
      (0 until 8).map(k => (k, acc(k)))
    }

  def whtBands: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      whtBandsInfo(bytes).orNull
    }

  /** Feature extraction as native Catalyst expressions
    * ([[graft.plans.BinaryExprs]]) — one narrow projection, no RDD hop:
    * column pruning reaches the scan, sibling columns survive, and the plan
    * stays inside Catalyst end to end. Semantics identical to
    * [[fakeDecode]] (spec-pinned).
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import graft.plans.BinaryExprs
    // null payload ≡ empty payload (the fakeDecode contract)
    val p = coalesce(col(payloadCol), lit(Array.emptyByteArray))
    df.select(
      col(idCol).cast("long").alias("id"),
      octet_length(p).cast("long").alias("byte_len"),
      BinaryExprs.byteEntropy(p).alias("byte_entropy"),
      BinaryExprs.headHash(p).alias("head_hash"),
      BinaryExprs.byteBucketHist(p, 8).alias("feature_vec")
    )
  }

  // NOT `private`: Scala `private` compiles to private bytecode, which the
  // generated encoder class (a separate janino class) cannot construct —
  // Spark then silently falls back to the interpreted encoder path.
  private[operators] case class Feat(
      id: Long, byte_len: Long, byte_entropy: Double, head_hash: Long, feature_vec: Array[Float])

  /** Batched per-partition decode — the integration point for a REAL codec
    * (an image/audio decoder is a black-box native call, not an expression).
    * Typed `Dataset.mapPartitions` with encoders, not `df.rdd`: the select
    * below prunes columns before the boundary, and output comes back as a
    * DataFrame without a `createDataFrame` round-trip. The iterator form
    * means one JVM-side pass per partition, payloads GC'd as it advances —
    * the Scala analogue of a pandas-UDF `mapInPandas` stage.
    *
    * The codec here is [[fakeDecode]]; swap its call site for a real decoder.
    */
  def extractFeaturesBatched(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val in = df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    in.mapPartitions { rows =>
      rows.map { case (id, bytes) =>
        val (len, ent, hh, vec) = fakeDecode(if (bytes == null) Array.emptyByteArray else bytes)
        Feat(id, len, ent, hh, vec)
      }
    }(Encoders.product[Feat]).toDF()
  }

  /** ViT-style patch grid over a REAL decode: split the image into
    * `pw`×`ph` pixel patches (edge patches partial — n_px says how
    * partial) and report each patch's exact integer gray sum, row-major
    * (pr, pc, n_px, px_sum). Gray is the [[resizeImageNN]] rule — band 0
    * for single-band rasters, (299 r + 587 g + 114 b)/1000 for color —
    * so a lossless source (PNG) makes every patch sum oracle-replayable.
    * This is the tokenization step of an image-patch pipeline: the patch
    * sums (or means) are what an embedding/quantization stage consumes.
    * Null/undecodable input → empty (the row vanishes on explode).
    */
  def patchGridInfo(bytes: Array[Byte], pw: Int, ph: Int): Seq[(Int, Int, Long, Long)] = {
    require(pw > 0 && ph > 0, s"patch dims must be positive, got ($pw, $ph)")
    if (bytes == null || bytes.isEmpty) return Seq.empty
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) return Seq.empty
    val r = img.getRaster
    val (w, h) = (img.getWidth, img.getHeight)
    def gray(x: Int, y: Int): Int =
      if (r.getNumBands >= 3)
        (r.getSample(x, y, 0) * 299 + r.getSample(x, y, 1) * 587 +
          r.getSample(x, y, 2) * 114) / 1000
      else r.getSample(x, y, 0)
    val nr = (h + ph - 1) / ph
    val nc = (w + pw - 1) / pw
    val n = new Array[Long](nr * nc)
    val s = new Array[Long](nr * nc)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y / ph) * nc + (x / pw)
        n(i) += 1L; s(i) += gray(x, y)
        x += 1
      }
      y += 1
    }
    (0 until nr * nc).map(i => (i / nc, i % nc, n(i), s(i)))
  }

  def patchGridUdf(pw: Int, ph: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (bytes: Array[Byte]) =>
      patchGridInfo(bytes, pw, ph)
    }
}
