package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Engine
import graft.SparkEntry.deleteRecursively

/** Structured Streaming extension (the reference has NO streaming surface —
  * SURVEY.md §2.6; this is the beyond-parity path for the `events` table).
  *
  * The same transformations run batch or streaming: [[windowedCounts]]
  * takes either a static or a `readStream` frame. Streaming adds the
  * watermark for state eviction — for the windowed aggregations that bound
  * keeps state finite; [[sessionizeStream]]'s counter retention is the one
  * deliberate exception (O(distinct users), see its Scaladoc tradeoff).
  */
object EventStreams {

  /** Normalize an event-time column to TIMESTAMP_LTZ regardless of how the
    * source parquet encoded it: int64 nanos (read as long under
    * spark.sql.legacy.parquet.nanosAsLong) or tz-naive TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ when spark.sql.parquet.inferTimestampNTZ.enabled
    * is on). Watermarks and the unix_* functions require LTZ; sessions here
    * run in UTC, where the NTZ→LTZ cast is value-preserving.
    */
  private[graft] def normalizeTs(schema: org.apache.spark.sql.types.StructType,
      df: DataFrame, name: String = "ts"): DataFrame =
    if (!schema.fieldNames.contains(name)) df
    else schema(name).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(name, timestamp_micros(expr(s"$name div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(name, col(name).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Tumbling-window counts + value sums per event_type. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).alias("n"), sum(col("value")).alias("total_value"))
      .select(
        col("window.start").alias("win_start"),
        col("event_type"),
        col("n"),
        col("total_value")
      )

  /** Time-grid gap-fill: bucket events into fixed `stepMicros` steps per
    * key, then densify each key's series over its own [min, max] bucket
    * span — missing buckets appear with NULL aggregates (the caller picks
    * the fill: 0 for counts, forward-fill for levels). The resample step
    * every monitoring/feature pipeline needs before window features.
    *
    * Returns (k, bucket, bucket_ts, aggs...).
    *
    * Scale shape: per-key aggregation partial-combines map-side; the grid
    * explode generates (max-min)/step rows per key — bounded by the time
    * horizon, independent of event volume — and the fill join is an
    * equi-join on (key, bucket) longs. No global window.
    */
  def gapFill(events: DataFrame, key: Column, ts: Column, stepMicros: Long,
      aggs: Seq[Column]): DataFrame =
    gapFillReleasable(events, key, ts, stepMicros, aggs)._1

  /** As [[gapFill]], additionally returning the persisted per-bucket
    * aggregate for caller-controlled release. Persisted because BOTH the
    * grid bounds and the fill join read it — without the cache the raw
    * event scan + aggregation executes twice (q64's runtime is dominated by
    * the grid window itself, so the gain there is modest; the rescan cost
    * scales with raw event volume, which is exactly what grows at 100 TB).
    * The cached frame is one row per (key, bucket), already horizon-bounded.
    * The grid bounds derive from the per-bucket frame (not the raw events):
    * same min/max, far fewer rows.
    */
  def gapFillReleasable(events: DataFrame, key: Column, ts: Column,
      stepMicros: Long, aggs: Seq[Column]): (DataFrame, DataFrame) = {
    require(stepMicros > 0, "stepMicros must be positive")
    require(aggs.nonEmpty, "gapFill needs >= 1 aggregate")
    val bucketed = events
      .withColumn("k", key)
      .withColumn("bucket", floor(unix_micros(ts.cast("timestamp")) / stepMicros).cast("long"))
    val perBucket = bucketed.groupBy(col("k"), col("bucket")).agg(aggs.head, aggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Examined and REJECTED (r13): pinning the bounds agg's exchange
    // (spreadBy on perBucket, or on top of the agg) to parallelize the
    // 1-task grid explode. The explode is only ~1 M narrow rows (~0.5 s
    // single-task); the pin adds a full perBucket re-exchange and 32-task
    // scheduling floors to save less than it costs (interleaved A/B:
    // 3.3 s → 5.6 s WITH the pin). AQE's one-task coalesce is the right
    // call at this volume; a horizon big enough to matter also carries
    // more keys, which re-parallelizes the agg naturally.
    val grid = perBucket.groupBy(col("k"))
      .agg(min(col("bucket")).alias("b0"), max(col("bucket")).alias("b1"))
      .select(col("k"), explode(sequence(col("b0"), col("b1"))).alias("bucket"))
    val out = grid.join(perBucket, Seq("k", "bucket"), "left")
      .withColumn("bucket_ts", timestamp_micros(col("bucket") * stepMicros))
      .select(Seq(col("k"), col("bucket"), col("bucket_ts")) ++
        perBucket.columns.filterNot(Set("k", "bucket")).map(col): _*)
    (out, perBucket)
  }

  /** Forward-fill NULLs in `cols` per `key` in `order` order (last
    * non-null value carries forward) — the level-series companion to
    * [[gapFill]]. One window per key; partitions are per-key series,
    * bounded by the grid length.
    */
  def forwardFill(df: DataFrame, key: Column, order: Column, cols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key).orderBy(order)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Gap-based sessionization (batch form): a new session starts when a
    * user's inter-event gap exceeds `gapMinutes`. Window-function
    * composition — one shuffle on user_id.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > gapMinutes * 60L,
          1
        ).otherwise(0)
      )
      .withColumn("session_seq", sum(col("new_session")).over(w))
      .withColumn("session_id", concat_ws("-", col("user_id"), col("session_seq")))
  }

  /** Per-user state carried between micro-batches: the current session's
    * bounds and size, plus how many sessions this user has closed so far
    * (drives session_seq). `nEvents == 0` encodes "no open session, counter
    * only" — what remains after a timeout eviction, so a returning user's
    * next session continues the sequence instead of restarting at 1.
    */
  case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long, closedSoFar: Long)

  /** A closed session record (timestamps as epoch micros — keeps the
    * output engine-neutral for the differential oracle).
    */
  case class ClosedSession(user_id: Long, session_seq: Long, start_us: Long, end_us: Long, n_events: Long)

  /** One buffered stage event inside a streaming-funnel group (micros keep
    * the state engine-neutral and 16 bytes/event).
    */
  case class FunnelEv(stage: Int, us: Long)

  /** Streaming-funnel per-(user, window) state: the buffered stage events.
    * The cascade ("click strictly after the view") cannot be folded
    * incrementally under out-of-order arrival — an earlier stage-1 event
    * arriving late re-anchors every later stage — so the group buffers its
    * stage events and computes the cascade ONCE, at window close. State is
    * bounded by one user's stage events inside one window, and the window
    * timeout guarantees eviction.
    */
  case class FunnelBuf(evs: Seq[FunnelEv])

  /** One reached funnel stage for a (user, window) group: `stage` is
    * 1-based, `t_us` the cascade time (epoch micros).
    */
  case class FunnelStageHit(user_id: Long, win_us: Long, stage: Long, t_us: Long)

  /** TRUE streaming conversion funnel: per (user, tumbling window) the
    * earliest time each stage was reached STRICTLY AFTER the previous
    * stage — [[funnel]]'s cascade semantics windowed so the stream can
    * definitively close a group. Events are tagged with their FIRST
    * matching stage predicate, buffered per (user, window), and the
    * cascade is computed when the watermark passes the window end
    * (event-time timeout) — one output row per REACHED stage, append
    * mode. Groups whose window the watermark never passes (the tail of a
    * finite drain) stay open and emit nothing, exactly like
    * [[sessionizeStream]]'s last-session contract.
    *
    * Scale shape: the stateful stage carries (user, win, stage, ts)
    * longs only — event payloads never enter state; state per group is
    * that user's stage events inside ONE window, evicted at timeout. The
    * window is assigned arithmetically (`us div winMicros`) so the batch
    * oracle replays it exactly.
    */
  def streamingFunnel(events: DataFrame, stages: Seq[(String, Column)],
      winMicros: Long = 86400000000L, watermark: String = "1 hour"): DataFrame = {
    require(stages.nonEmpty, "streamingFunnel needs at least one stage")
    require(winMicros > 0, "winMicros must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val nStages = stages.length
    // first-match stage tag, -1 = no stage (dropped before the stateful op)
    val tag = stages.zipWithIndex.foldRight(lit(-1)) { case (((_, p), i), rest) =>
      when(p, lit(i)).otherwise(rest)
    }
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"), tag.alias("stage"))
      .filter(col("stage") >= 0)
      .as[(Long, java.sql.Timestamp, Int)]

    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    typed
      .groupByKey(r => (r._1, micros(r._2) / winMicros))
      .flatMapGroupsWithState[FunnelBuf, FunnelStageHit](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[(Long, java.sql.Timestamp, Int)], state: GroupState[FunnelBuf]) =>
          val (uid, win) = key
          if (state.hasTimedOut) {
            // watermark passed the window end: the group is definitively
            // closed — compute the cascade over the buffered stage events
            val evs = state.get.evs
            state.remove()
            val hits = scala.collection.mutable.ArrayBuffer.empty[FunnelStageHit]
            var prev = Long.MinValue
            var k = 0
            var reached = true
            while (k < nStages && reached) {
              // min ts of stage-k events strictly after the previous stage
              var best = Long.MaxValue
              evs.foreach { e =>
                if (e.stage == k && e.us > prev && e.us < best) best = e.us
              }
              if (best == Long.MaxValue) reached = false
              else {
                hits += FunnelStageHit(uid, win * winMicros, (k + 1).toLong, best)
                prev = best
              }
              k += 1
            }
            hits.iterator
          } else {
            val add = rows.map(r => FunnelEv(r._3, micros(r._2))).toSeq
            state.update(FunnelBuf(state.getOption.map(_.evs).getOrElse(Seq.empty) ++ add))
            // evict when the watermark passes the window end (timeout must
            // sit above the current watermark)
            val winEndMs = ((win + 1) * winMicros) / 1000L
            state.setTimeoutTimestamp(math.max(winEndMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
      .toDF()
  }

  /** Run [[streamingFunnel]] as an actual streaming query over a parquet
    * directory, timeouts fired by the final no-data batch, drained into a
    * memory sink — the [[runSessionizeSmoke]] pattern.
    */
  def runFunnelSmoke(spark: SparkSession, parquetPath: String,
      stages: Seq[(String, Column)], winMicros: Long = 86400000000L): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val stream = normalizeTs(schema, spark.readStream.schema(schema).parquet(parquetPath))
    withConfs(spark, eventSmokeConfs(spark, parquetPath) :+
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> "true")) {
      drainStream(spark, streamingFunnel(stream, stages, winMicros))
    }
  }

  /** TRUE streaming sessionization with custom state
    * (`flatMapGroupsWithState` + event-time timeout): a session closes when
    * the gap to the next event exceeds `gapMinutes`, or when the watermark
    * passes last_event + gap (timeout path — that is what bounds state at
    * scale: every open session is guaranteed to be evicted once the
    * watermark moves past its horizon).
    *
    * Emits CLOSED sessions only (append mode). Events inside one
    * micro-batch are sorted per group before folding, so intra-batch
    * disorder is handled; cross-batch disorder is bounded by the watermark,
    * exactly like the built-in windowed aggregations.
    *
    * Scale: state per user is one `OpenSession` (4 longs); the shuffle is
    * the same hash-partition-by-key any streaming agg pays. Skewed users
    * cost one group iterator, not a window sort of their whole history.
    *
    * State-retention tradeoff: with `retainCounters = true` (default) a
    * timed-out user leaves a counter-only record behind so a returning
    * user's `session_seq` stays monotonic — retained state is then
    * O(distinct users ever seen) (4 longs each; ~32 GB per billion users,
    * spread over executors), NOT bounded by the watermark. For unbounded
    * user cardinality, set `retainCounters = false`: timeout removes the
    * state entirely and a user returning after a timeout restarts at
    * session_seq 1 (or persist counters externally and re-seed downstream).
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30, watermark: String = "1 hour",
      retainCounters: Boolean = true): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]

    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[OpenSession]) =>
          def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
          if (state.hasTimedOut) {
            // watermark passed lastUs + gap: the open session is definitively
            // closed. Either keep a counter-only record (4 longs, no new
            // timeout) so a returning user's session_seq stays monotonic, or
            // drop the state entirely (bounded state, seq restarts) — see the
            // retention tradeoff in the Scaladoc.
            val s = state.get
            if (retainCounters) state.update(OpenSession(0L, 0L, 0L, s.closedSoFar + 1))
            else state.remove()
            Iterator.single(ClosedSession(uid, s.closedSoFar + 1, s.startUs, s.lastUs, s.nEvents))
          } else {
            val ts = rows.map(r => micros(r._2)).toArray
            java.util.Arrays.sort(ts)
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var open = state.getOption.filter(_.nEvents > 0)
            val counterOnly = state.getOption.map(_.closedSoFar).getOrElse(0L)
            var i = 0
            while (i < ts.length) {
              val t = ts(i)
              open match {
                case Some(s) if t - s.lastUs > gapUs =>
                  closed += ClosedSession(uid, s.closedSoFar + 1, s.startUs, s.lastUs, s.nEvents)
                  open = Some(OpenSession(t, t, 1, s.closedSoFar + 1))
                case Some(s) =>
                  open = Some(s.copy(lastUs = math.max(s.lastUs, t), nEvents = s.nEvents + 1))
                case None =>
                  open = Some(OpenSession(t, t, 1, counterOnly))
              }
              i += 1
            }
            open.foreach { s =>
              state.update(s)
              // evict once the watermark passes the session's gap horizon
              // (timeout must sit above the current watermark)
              val horizonMs = (s.lastUs + gapUs) / 1000L
              state.setTimeoutTimestamp(math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
      .toDF()
  }

  /** Drain [[sessionizeStream]] over a parquet directory synchronously into
    * a memory sink. With a single input file (one micro-batch) and no-data
    * batches disabled, the result is deterministic: every session closed by
    * an observed gap — i.e. all sessions except each user's last, which
    * stays open. (With no-data batches enabled — the production default —
    * the post-batch watermark also time-out-closes idle users' last
    * sessions; correct behavior, but it would make the differential oracle
    * depend on watermark/timeout strictness internals, so the drain helper
    * pins the simpler semantics. [[StreamingSpec]] exercises the timeout
    * path explicitly with a two-batch run.)
    */
  def runSessionizeSmoke(spark: SparkSession, parquetPath: String,
      gapMinutes: Int = 30, noDataBatches: Boolean = false): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    val stream = normalizeTs(schema, raw)
    withConfs(spark, eventSmokeConfs(spark, parquetPath) :+
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString)) {
      drainStream(spark, sessionizeStream(stream, gapMinutes))
    }
  }

  /** TRUE streaming run of [[windowedCounts]] with a trending top-k on
    * top: drain the stream (complete mode — windowed aggregation state is
    * the stream's whole output), then rank event types per window by
    * count and keep the top `k` ("what's trending each hour"). The rank
    * runs batch-side over the drained aggregate — per-window state is
    * tiny (distinct event types), the stream did the heavy counting.
    */
  def runWindowedTopK(spark: SparkSession, parquetPath: String,
      windowLen: String = "1 hour", k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    val stream = normalizeTs(schema, raw)
    val drained = withConfs(spark, smokeConfs(spark, parquetPath)) {
      drainStream(spark, windowedCounts(stream, windowLen), "complete")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_start"))
      .orderBy(col("n").desc, col("event_type").asc)
    drained
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Streaming exact dedup — ingestion-time dedup for a training pipeline:
    * keep the first row per key, drop later duplicates arriving within the
    * watermark horizon (`dropDuplicatesWithinWatermark`). State is one
    * record per key seen inside the horizon and is EVICTED once the
    * watermark passes — bounded by rate x horizon, not by corpus
    * cardinality (contrast `dropDuplicates`, whose state grows forever).
    * A key recurring after eviction is re-emitted; exact global dedup at
    * rest is [[graft.operators.Dedup.exactDedupAgg]]'s job.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)

  /** JVM-scoped root for everything the smoke harness writes: staged
    * landing zones ([[stagedOnce]]), streaming checkpoints and parquet
    * drain stores ([[drainStream]]). It sits below
    * [[graft.SparkEntry.scratchRoot]] (tmpfs when the bench redirects
    * `graft.scratch`, target/graft-scratch under the working directory
    * otherwise), never under `java.io.tmpdir`, and a shutdown hook deletes
    * it, so nothing the harness writes outlives the JVM.
    *
    * Checkpoints are named, never left to Spark: an unnamed streaming
    * query gets a temporary checkpoint under `java.io.tmpdir` — a DISK
    * path, and state commits fsync per partition per micro-batch, so the
    * drain bills the box's disk-sync latency to whatever operator is being
    * smoked (measured on a slow-disk box: q49's one-batch dedup drain 17 s
    * with the temp checkpoint on /tmp vs 1.9 s with it on the scratch
    * root).
    */
  private[graft] lazy val harnessRoot: String = {
    val base = java.nio.file.Paths.get(graft.SparkEntry.scratchRoot)
    java.nio.file.Files.createDirectories(base)
    val d = java.nio.file.Files.createTempDirectory(base, "graft_harness")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(d.toString) catch { case _: Throwable => () }))
    d.toString
  }
  private val harnessCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A path under [[harnessRoot]] that no earlier call returned. Each
    * drain gets a FRESH checkpoint — reusing one would resume committed
    * offsets and skip recomputation, which for a measured pass is result
    * caching, not measurement.
    */
  private def freshDir(tag: String): String =
    s"$harnessRoot/$tag-${harnessCounter.getAndIncrement()}"

  /** Shared staged landing zones, memoized per JVM.
    *
    * A file-stream source reads a directory, so the smoke harnesses stage
    * their source parquet into a landing directory (a plain copy, or
    * time-split / mod-split single files with forced mtimes) — input PREP,
    * not the operator under test. Within one bench or verify JVM the same
    * (source, recipe) staging recurs: q269/q279/q283/q276 all stage
    * events.parquet at the identical two split timestamps, a dozen queries
    * read the plain copy, and the bench runs each query twice. Each
    * distinct recipe is staged once per JVM under [[harnessRoot]] and
    * reused; a zone is immutable after build (runners only READ it — state
    * stores and checkpoints live elsewhere).
    *
    * `build` receives a fresh directory that exists and is empty. A failed
    * build is not cached (computeIfAbsent propagates the throw and maps
    * nothing); the half-built directory is abandoned — the counter, not the
    * key, names directories, so a retry cannot collide with debris.
    */
  private val stagedZones =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def stagedOnce(key: String)(build: String => Unit): String =
    stagedZones.computeIfAbsent(key, { _ =>
      val dir = freshDir("zone")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val t0 = System.nanoTime()
      build(dir)
      System.err.println(
        f"[staged] built zone for '$key' in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      dir
    })

  /** The staged zone holding a copy of the single parquet `file` — the
    * directory a file-stream source over that file reads.
    */
  def stagedCopy(file: String): String =
    stagedOnce(s"copy|$file") { d =>
      val src = java.nio.file.Paths.get(file)
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(d).resolve(src.getFileName))
      ()
    }

  /** Run `df` as a streaming query to completion and return its output —
    * the one drain every smoke goes through. The query gets its own name
    * and a fresh checkpoint; the rows land in one of two sinks:
    *
    *   - `sink = "memory"`: rows collect through the driver's memory sink,
    *     are copied into a local frame, and the sink's view is dropped, so
    *     repeated drains in one session (bench passes, verify) leave no
    *     view and no in-memory table behind. Any output mode.
    *   - `sink = "parquet"` (append only; the join smokes' default and the
    *     production shape): the stream COMMITS to a parquet store — the
    *     [[runPartitionedIngest]] sink pattern — and the result is read
    *     BACK from the store, so data-sized output (e.g. stream-stream join
    *     matches) never funnels through the driver and what gets verified
    *     is the store's committed contents. The store must outlive this
    *     call (the returned frame reads it lazily); it lives under
    *     [[harnessRoot]] and dies with the JVM.
    */
  private def drainStream(spark: SparkSession, df: Dataset[_],
      outputMode: String = "append", sink: String = "memory"): DataFrame = {
    val n = harnessCounter.getAndIncrement()
    val dir = s"$harnessRoot/drain-$n"
    val name = s"graft_drain_$n"
    val w = df.writeStream.outputMode(outputMode).queryName(name)
      .option("checkpointLocation", s"$dir/ckpt")
    val q = sink match {
      case "memory" => w.format("memory").start()
      case "parquet" => w.format("parquet").option("path", s"$dir/store").start()
      case other => throw new IllegalArgumentException(
        s"drain must be 'parquet' or 'memory', got '$other'")
    }
    try {
      q.processAllAvailable()
      q.stop()
      if (sink == "parquet")
        // explicit schema: a zero-row drain leaves a store with only
        // _spark_metadata, which schema inference cannot read
        spark.read.schema(df.schema).parquet(s"$dir/store")
      else {
        val t = spark.table(name)
        spark.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
      }
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Scale-adaptive shuffle/state partition count for a streaming drain:
    * ceil(source bytes / 32 MB), clamped to [1, session
    * `spark.sql.shuffle.partitions`]. A stateful operator instantiates and
    * commits ONE state store per shuffle partition per micro-batch, and
    * AQE cannot coalesce stateful exchanges (state partitioning is pinned
    * at the first checkpoint), so the session's batch-sized setting
    * over-partitions small streams by pure overhead — measured on q172's
    * complete-mode windowed count: the 32-partition stateful stage took
    * 1.4-2.1 s for 3 600 aggregate rows (~60 ms of store open/commit per
    * task) where the data itself is milliseconds. Derived from INPUT SIZE,
    * never a constant: a corpus-scale source saturates the clamp and runs
    * at the session's full setting, so this only ever lowers the count
    * where state is provably small. Unknown sizes fall back to the session
    * value.
    */
  private[graft] def streamShufflePartitions(spark: SparkSession,
      targetBytes: Long, srcPaths: Seq[String]): Int = {
    // Clamp against the session's STARTUP value, captured once per JVM —
    // clamping against the live value would let one smoke's in-flight
    // withConfs override (e.g. 1) cap another smoke's derived count at 1
    // even for corpus-scale sources when a harness runs queries
    // concurrently (Verify's 8 threads).
    val session = baselineShufflePartitions(spark)
    val bytes = srcPaths.foldLeft(0L) { (acc, p) =>
      if (acc == Long.MaxValue) Long.MaxValue
      else try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val sum = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(hp).getLength
        acc + sum
      } catch {
        // NonFatal only: an OOM/interrupt must propagate, not silently
        // become the session-value fallback (ADVICE r12)
        case scala.util.control.NonFatal(_) => Long.MaxValue
      }
    }
    if (bytes == Long.MaxValue) session
    else math.max(1L, math.min(session.toLong,
      (bytes + targetBytes - 1) / targetBytes)).toInt
  }

  /** First-observed (pre-smoke) `spark.sql.shuffle.partitions`, one per
    * JVM: the value every smoke derives from and restores to, immune to
    * another thread's in-flight override.
    */
  private val baselinePartitions = new java.util.concurrent.atomic.AtomicInteger(-1)
  private[graft] def baselineShufflePartitions(spark: SparkSession): Int = {
    val cur = baselinePartitions.get()
    if (cur > 0) cur
    else {
      val v = spark.conf.get("spark.sql.shuffle.partitions").toInt
      if (baselinePartitions.compareAndSet(-1, v)) v else baselinePartitions.get()
    }
  }

  /** Set session confs for the duration of `body`, restoring prior values
    * (the set/restore pattern every smoke used inline, shared).
    *
    * The whole region holds one JVM-wide lock: session confs are
    * session-GLOBAL, and Verify drains smokes from 8 threads over one
    * shared session — unserialized set/restore interleaves
    * nondeterministically and can leave the session pinned at a smoke's
    * tiny partition count for the rest of the run (ADVICE r12). Smokes are
    * a small fraction of the query surface, so serializing them costs far
    * less than one mis-planned corpus query. The restore path additionally
    * re-asserts the BASELINE value for spark.sql.shuffle.partitions rather
    * than the entry-time snapshot, so even an unexpected nesting cannot
    * propagate a derived value outward.
    */
  private val confLock = new Object
  private[graft] def withConfs[T](spark: SparkSession,
      confs: Seq[(String, String)])(body: => T): T = confLock.synchronized {
    baselineShufflePartitions(spark) // capture before the first override
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case ("spark.sql.shuffle.partitions", _) =>
        spark.conf.set("spark.sql.shuffle.partitions",
          baselineShufflePartitions(spark).toString)
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Scale-adaptive state partitioning for SKETCH-STATE streams — state is
    * register/group-count sized and the per-row fold is trivial (HLL
    * registers, digit/category counts, windowed counts, rule sums, OHLC
    * per-group pairs, keyed-upsert per-batch reductions), so the stateful
    * stage's cost is store open/commit overhead, not compute: ~32 MB of
    * source per partition. Measured on q172's windowed count: the
    * 32-partition stateful stage was 1.4-2.1 s of store overhead for 3 600
    * rows; derived (1 here) it is milliseconds.
    */
  private[graft] def smokeConfs(spark: SparkSession,
      srcPaths: String*): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" ->
      streamShufflePartitions(spark, 32L << 20, srcPaths).toString)

  /** Scale-adaptive state partitioning for EVENT-STATE streams — every
    * input row enters the stateful operator and pays a real per-row fold
    * (sessionize/funnel group buffers, within-watermark dedup, TWS
    * processors, stream-stream join state), so the stage needs parallelism
    * proportional to data: ~256 KB of source per partition (2 MB events →
    * 8, the value the TWS/timer/join smokes were hand-pinned at; corpus
    * sizes clamp to the session setting). Measured: q42's sessionize fold
    * over 100k events serialized to 3.4 s on 1 partition under the sketch
    * target — this target keeps it parallel while still dropping the 32
    * empty stores.
    */
  private[graft] def eventSmokeConfs(spark: SparkSession,
      srcPaths: String*): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" ->
      streamShufflePartitions(spark, 256L << 10, srcPaths).toString)

  /** True streaming ingest into a hive-partitioned parquet layout — the
    * 100 TB pattern that joins the streaming surface to the storage-layout
    * story: file-source micro-batches → exactly-once `FileStreamSink`
    * (every committed file listed in the transactional `_spark_metadata`
    * manifest, so a crashed batch is invisible to readers) →
    * `partitionBy` directories that q151-style pruned scans read.
    * `Trigger.AvailableNow` drains everything pending and stops — the
    * incremental-backfill invocation: re-running with the same
    * checkpointDir ingests ONLY files that arrived since (offsets live in
    * the checkpoint), which is how a corpus store tails a landing zone.
    *
    * `fresh = true` clears sink + checkpoint first so a verification run
    * is one complete deterministic ingest (Verify replays it on every
    * run); production backfills pass `fresh = false`.
    */
  def runPartitionedIngest(spark: SparkSession, srcParquet: String,
      dstDir: String, checkpointDir: String, partitionCols: Seq[String],
      projectCols: Seq[String], fresh: Boolean = true): Unit = {
    // the derived staging dir is part of the run's state too: a stale
    // previously-staged file would otherwise be drained into a "fresh" run
    if (fresh)
      Seq(dstDir, checkpointDir, checkpointDir + "_landing")
        .foreach(deleteRecursively)
    // a file STREAM source lists a directory, not a single file — stage the
    // source into a landing dir (which is also what the pattern ingests
    // from in production: files arriving in a landing zone)
    val src = java.nio.file.Paths.get(srcParquet)
    val landing =
      if (java.nio.file.Files.isDirectory(src)) srcParquet
      else {
        val l = java.nio.file.Paths.get(checkpointDir + "_landing")
        java.nio.file.Files.createDirectories(l)
        java.nio.file.Files.copy(src, l.resolve(src.getFileName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        l.toString
      }
    // the landing copy holds the source's bytes under a fresh mtime, so
    // its schema is the source's, and the source's is the cached one
    val schema = Engine.parquetSchema(spark, srcParquet)
    val q = spark.readStream.schema(schema).parquet(landing)
      .select(projectCols.map(col): _*)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", dstDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(partitionCols: _*)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming keyed UPSERT (SCD-1 merge) into a plain-parquet keyed store
    * with NO table format: the store is hash-partitioned by key into
    * `nBuckets` directories (`bucket = pmod(xxhash64(key), n)`), and each
    * micro-batch merges ONLY its dirty buckets —
    *   1. reduce the batch to one row per key (max by `(seq, tieBreak)`,
    *      deterministic under ties),
    *   2. read just the bucket directories the batch touches,
    *   3. union store rows + batch rows and reduce per key again,
    *   4. write back with DYNAMIC partition overwrite, which replaces
    *      exactly the dirty `bucket=` directories and leaves the rest of
    *      the store untouched.
    * The merge is idempotent (re-running a batch yields the same store)
    * and order-independent across batches (max-by-seq, not last-writer) —
    * so foreachBatch retries are safe without a transaction log. At
    * 100 TB the bucket count is the knob: a batch touching k of n buckets
    * rewrites k/n of the store; size n so one bucket ~ one task's worth
    * of parquet.
    *
    * `cols` are the payload columns carried per key (key + seq + cols is
    * the store schema, plus the bucket partition column).
    */
  def runKeyedUpsert(spark: SparkSession, srcParquet: String,
      storeDir: String, checkpointDir: String, keyCol: String, seqCol: String,
      tieBreak: String, cols: Seq[String], nBuckets: Int = 16,
      fresh: Boolean = true): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    if (fresh) Seq(storeDir, checkpointDir).foreach(deleteRecursively)
    val schema = Engine.parquetSchema(spark, srcParquet)
    // size-derived shuffle partitions for the per-batch latestPerKey
    // groupBys (the store write already repartitions on the bucket column)
    withConfs(spark, smokeConfs(spark, srcParquet)) {
    def latestPerKey(df: DataFrame): DataFrame = {
      // max_by whole-row over (seq, tieBreak): partial-aggregated per
      // key, one row through the shuffle — exactDedupAgg's 100 TB shape
      val payload = struct((Seq(seqCol, tieBreak) ++ cols).map(col): _*)
      df.groupBy(col(keyCol))
        .agg(max_by(payload, struct(col(seqCol), col(tieBreak))).alias("p"))
        .select(col(keyCol) +: (Seq(seqCol, tieBreak) ++ cols).map(c => col(s"p.$c")): _*)
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one source file per micro-batch:
      // the multi-batch merge path is the thing under test
      .parquet(srcParquet)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-phase wall times to stderr: this query's bench cost has
        // shown large unexplained run-to-run swings (r8: 6 s -> 23 s with
        // no code change) — permanent cheap attribution beats re-living
        // that bisect. One line per micro-batch.
        val tb0 = System.nanoTime()
        val b = latestPerKey(batch.select((Seq(keyCol, seqCol, tieBreak) ++ cols).map(col): _*))
          .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets)))
          .persist()
        try {
          val dirty = b.select(col("bucket")).distinct()
            .collect().map(_.getLong(0)) // bounded by nBuckets
          val tb1 = System.nanoTime()
          val existingDirs = dirty.map(i => s"$storeDir/bucket=$i")
            .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
          val merged =
            if (existingDirs.isEmpty) b
            else {
              val existing = spark.read.option("basePath", storeDir)
                .parquet(existingDirs: _*)
                .select(b.columns.map(col): _*)
              latestPerKey(existing.unionByName(b))
                .withColumn("bucket", pmod(xxhash64(col(keyCol)), lit(nBuckets)))
            }
          // repartition ON the partition column before the write: without
          // it every one of the groupBy's shuffle partitions opens a
          // writer per bucket it holds rows for — up to partitions x
          // nBuckets files PER BATCH (measured 32x16 -> ~500 small files
          // at sf0.1), and each later batch re-reads the accumulated
          // fragments, so the store read cost grows per batch and the
          // query time swings with FS cache state (the r8 bench's
          // unexplained 6 s -> 23 s drift). One writer per bucket is also
          // the 100 TB shape: a bucket rewrite is one aligned file, not a
          // shard per upstream task.
          merged.repartition(nBuckets, col("bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(storeDir)
          val tb2 = System.nanoTime()
          System.err.println(
            f"[upsert] batch=$batchId reduce+collect=${(tb1 - tb0) / 1e9}%.2fs " +
              f"merge+write=${(tb2 - tb1) / 1e9}%.2fs dirty=${dirty.length}")
        } finally { b.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    }
  }

  /** STREAMING MATERIALIZED-VIEW maintenance: a changelog stream (rows
    * with an is-delete flag) folded per micro-batch into a versioned
    * parquet store via
    * [[graft.operators.Relational.deltaAgg]]/[[graft.operators.Relational.maintainAggKeep]]
    * — each batch costs the BATCH size, never a fact-table rescan, and the
    * store is the q192 maintainable form (keys, n, sums).
    *
    * Versioned directories (`v<batchId>`) stand in for a table format's
    * snapshot log: the merge reads the latest version and writes the next,
    * so no batch ever overwrites files it is still reading — the
    * local-filesystem rendition of what Delta/Iceberg commit logs do, with
    * idempotent-by-construction replays (a retried batch rewrites the same
    * `v<id>` from the same input). Intermediate states keep zero/negative
    * groups (`dropEmpty = false`): count+sum deltas commute, so even a
    * retraction arriving BEFORE its insert converges — readers apply
    * `n > 0` once, at the end ([[readMaintainedView]]).
    */
  def runStreamingViewMaintenance(spark: SparkSession, srcParquet: String,
      storeRoot: String, checkpointDir: String, isDeleteCol: String,
      keys: Seq[String], sums: Seq[(String, Column)],
      fresh: Boolean = true): Unit = {
    import graft.operators.Relational
    if (fresh) Seq(storeRoot, checkpointDir).foreach(deleteRecursively)
    val schema = Engine.parquetSchema(spark, srcParquet)
    def latestVersion(): Option[String] = {
      val root = java.nio.file.Paths.get(storeRoot)
      if (!java.nio.file.Files.exists(root)) None
      else {
        val vs = java.nio.file.Files.list(root).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("v"))
          .map(_.drop(1).toLong).toSeq
        if (vs.isEmpty) None else Some(s"$storeRoot/v${vs.max}")
      }
    }
    // size-derived shuffle partitions: each micro-batch's deltaAgg +
    // merge groupBys otherwise run at the session's batch-sized setting,
    // pure task overhead on file-sized batches
    withConfs(spark, smokeConfs(spark, srcParquet)) {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // one changelog file per micro-batch:
        // the multi-batch fold is the thing under test
        .parquet(srcParquet)
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val delta = Relational.deltaAgg(batch, col(isDeleteCol),
            keys.map(col), sums)
          val merged = latestVersion() match {
            case Some(dir) => Relational.maintainAggKeep(
              spark.read.parquet(dir), dropEmpty = false, delta)
            case None => delta
          }
          merged.write.mode("overwrite").parquet(s"$storeRoot/v$id")
          ()
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** Read the latest maintained-view snapshot, applying the final
    * zero-count drop (see [[runStreamingViewMaintenance]]).
    */
  def readMaintainedView(spark: SparkSession, storeRoot: String): DataFrame = {
    val vs = java.nio.file.Files.list(java.nio.file.Paths.get(storeRoot))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("v")).map(_.drop(1).toLong).toSeq
    require(vs.nonEmpty, s"no view versions under $storeRoot")
    spark.read.parquet(s"$storeRoot/v${vs.max}").filter(col("n") > 0)
  }

  /** Drain [[dedupStream]] over a parquet directory synchronously into a
    * memory sink (same pattern as [[runSessionizeSmoke]]). The emitted
    * survivor ROW per key depends on intra-batch order, so callers wanting
    * a deterministic result project the key columns only.
    */
  def runDedupSmoke(spark: SparkSession, parquetPath: String,
      keyCols: Seq[String]): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    val stream = normalizeTs(schema, raw)
    withConfs(spark, eventSmokeConfs(spark, parquetPath)) {
      drainStream(spark, dedupStream(stream, keyCols))
    }
  }

  /** True-streaming data-quality gate: [[graft.operators.Validation]]'s
    * predicate rules as a STREAMING global aggregation (complete mode — the
    * one conditional-sum row re-emits per micro-batch, so an operator can
    * threshold violation_ppm mid-ingest, not after the batch lands), then
    * the final row pivots through the same report decoration as the batch
    * [[graft.operators.Validation.checkRules]] — identical math, so the
    * final report equals the batch report over the same data exactly.
    *
    * Scale shape: per-rule conditional sums partial-aggregate inside each
    * micro-batch and merge into one state row per rule set — state is
    * rule-count-sized, never row-sized. The memory-sink drain is the
    * verification harness only.
    */
  def runValidationGateSmoke(spark: SparkSession, parquetPath: String,
      rules: Seq[(String, Column)]): DataFrame = {
    import graft.operators.Validation
    require(rules.nonEmpty, "validation gate needs at least one rule")
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    val stream = normalizeTs(schema, raw)
    val aggs = Validation.rulesAgg(rules)
    withConfs(spark, smokeConfs(spark, parquetPath)) {
      val row = drainStream(spark, stream.agg(aggs.head, aggs.tail: _*), "complete")
      Validation.rulesReport(row, rules)
    }
  }

  /** True-streaming HyperLogLog: the register aggregation
    * (bucket-wise max rho — [[graft.operators.Corpus.hllSketch]]'s core)
    * as a complete-mode streaming groupBy, drained and finalized through
    * the identical batch math. THE canonical streaming distinct counter:
    * 2^b integers of state no matter how many events flow, and the drained
    * registers equal the batch sketch over the same data exactly (register
    * max is order- and batching-insensitive). `nExact` is computed
    * batch-side as the oracle instrument.
    */
  def runHllStreamSmoke(spark: SparkSession, parquetPath: String,
      valueName: String, b: Int = 6): DataFrame = {
    import graft.operators.Corpus
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    val sparse = withConfs(spark, smokeConfs(spark, parquetPath)) {
      drainStream(spark, Corpus.hllRho(raw, col(valueName), b)
        .groupBy("bucket").agg(max(col("rho")).cast("long").alias("register")), "complete")
    }
    val ne = spark.read.schema(schema).parquet(parquetPath)
      .agg(countDistinct(col(valueName)).alias("n_exact"))
    Corpus.hllFinalize(sparse, ne, b)
  }

  /** TRUE-streaming OHLC bars: [[ohlcBars]]'s per-(key, hour) aggregate
    * as a complete-mode streaming aggregation — min_by/max_by carry one
    * (order, value) pair of state per group, so the dashboard's candle
    * chart updates mid-ingest with exactly the batch semantics (the
    * stream == batch contract of the HLL/Benford smokes; the oracle is
    * the batch SQL verbatim).
    */
  def runOhlcStreamSmoke(spark: SparkSession, parquetPath: String,
      keyCol: String, tieCol: String,
      valueExpr: String): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = normalizeTs(schema,
      spark.readStream.schema(schema).parquet(parquetPath))
    val ord = struct(col("ts").alias("t"), col(tieCol).alias("tb"))
    val v = expr(valueExpr)
    withConfs(spark, smokeConfs(spark, parquetPath)) {
      drainStream(spark, raw
        .groupBy(col(keyCol).alias("key"), date_trunc("hour", col("ts")).alias("bucket"))
        .agg(count(lit(1)).alias("n"),
          min_by(v, ord).alias("open"), max_by(v, ord).alias("close"),
          max(v).alias("high"), min(v).alias("low"), sum(v).alias("sum_v")), "complete")
    }
  }

  /** TRUE-streaming Benford gate: the leading-digit counts of a positive
    * numeric expression as a complete-mode streaming aggregation (9 longs
    * of state for any stream length), drained and decorated through the
    * IDENTICAL batch report ([[graft.operators.Validation.benfordDecorate]])
    * — q234's audit running mid-ingest, so a fabricated-feed alarm fires
    * before the batch lands. Same stream==batch contract as the HLL
    * smokes.
    */
  def runBenfordStreamSmoke(spark: SparkSession, parquetPath: String,
      valueExpr: String): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    withConfs(spark, smokeConfs(spark, parquetPath)) {
      val counts = drainStream(spark, raw.select(expr(valueExpr).cast("long").alias("v"))
        .filter(col("v") > 0L)
        .select(substring(col("v").cast("string"), 1, 1).cast("long").alias("digit"))
        .groupBy("digit").agg(count(lit(1)).alias("n")), "complete")
      graft.operators.Validation.benfordDecorate(counts)
    }
  }

  /** TRUE-streaming categorical drift gate: the CURRENT split's category
    * counts as a complete-mode streaming aggregation (category-cardinality
    * state), drained and compared against a BATCH reference through the
    * identical [[graft.operators.Validation.categoricalDriftCounts]]
    * decoration — q195's monitor running mid-ingest, so a mix shift fires
    * before the batch lands. `refFilter`/`curFilter` are SQL predicates
    * selecting the two splits from the same source.
    */
  def runDriftStreamSmoke(spark: SparkSession, parquetPath: String,
      category: String, refFilter: String,
      curFilter: String): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    val curCounts = withConfs(spark, smokeConfs(spark, parquetPath)) {
      drainStream(spark, raw.filter(expr(curFilter))
        .groupBy(col(category).alias("category"))
        .agg(count(lit(1)).alias("n_cur")), "complete")
    }
    val refCounts = spark.read.schema(schema).parquet(parquetPath).filter(expr(refFilter))
      .groupBy(col(category).alias("category"))
      .agg(count(lit(1)).alias("n_ref"))
    graft.operators.Validation.categoricalDriftCounts(refCounts, curCounts)
  }

  /** WINDOWED true-streaming HyperLogLog: distinct-per-event-time-window
    * without ever storing values — register max grouped by (tumbling
    * window, bucket), 2^b longs of state PER WINDOW, drained dense via
    * [[graft.operators.Corpus.hllFinalizeGrouped]] with the batch exact
    * distinct per window as instrument. The "distinct users per hour over
    * an unbounded stream" primitive; complete-mode drain here, watermarked
    * append in production (register max is insensitive to either).
    */
  def runHllWindowedSmoke(spark: SparkSession, parquetPath: String,
      valueName: String, windowLen: String = "1 hour",
      b: Int = 6): DataFrame = {
    import graft.operators.Corpus
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = normalizeTs(schema, spark.readStream.schema(schema).parquet(parquetPath))
    val sparse = withConfs(spark, smokeConfs(spark, parquetPath)) {
      drainStream(spark, Corpus.hllRho(raw, col(valueName), b,
          keep = Seq(window(col("ts"), windowLen).getField("start").alias("group")))
        .groupBy("group", "bucket")
        .agg(max(col("rho")).cast("long").alias("register")), "complete")
    }
    val dense = Corpus.hllFinalizeGrouped(sparse, b)
    // exact-distinct-per-window instrument
    val ne = normalizeTs(schema, spark.read.schema(schema).parquet(parquetPath))
      .groupBy(window(col("ts"), windowLen).getField("start").alias("group"))
      .agg(countDistinct(col(valueName)).alias("n_exact"))
    dense.join(ne, Seq("group"), "left")
      .select(col("group").alias("win_start"), col("bucket"),
        col("register"), coalesce(col("n_exact"), lit(0L)).alias("n_exact"))
  }

  /** Watermarked stream-stream INNER join: every (left, right) event pair
    * with equal `keys` whose right timestamp falls inside
    * `[left.ts, left.ts + windowSeconds]` — the "purchase within 30 min of
    * a click" attribution primitive, run as a true Structured Streaming
    * join.
    *
    * All left columns come back prefixed `l_`, right columns `r_` (a
    * stream-stream self-join from one source would otherwise be ambiguous).
    *
    * Scale shape: both sides are hash-partitioned on the join keys (one
    * shuffle each); the BOUNDED time-range condition plus a watermark on
    * BOTH sides is what lets the state store evict — a left row is dropped
    * once the right watermark passes `l_ts + windowSeconds`, a right row
    * once the left watermark passes its `r_ts`. Without the time bound,
    * stream-stream inner join state grows forever; this operator makes the
    * bound part of the signature rather than an optional predicate.
    */
  /** Stream-static enrichment join: a streaming fact frame joins a STATIC
    * dimension (events x user/item attributes — the most common streaming
    * join in practice). Stateless, unlike [[streamStreamJoin]]: no state
    * stores, no watermark requirement; Spark broadcasts the dimension and
    * re-resolves it per micro-batch, so a slowly-changing dim picks up
    * updates between batches. LEFT join keeps facts with no dimension row
    * (they'd silently vanish inner-joined — the classic enrichment bug).
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "stream-static enrich needs >= 1 equi-key")
    stream.join(broadcast(dim), keys, "left")
  }

  /** Drain [[streamStaticEnrich]] over a parquet directory read as a file
    * stream, synchronously into a memory sink. Stateless append output —
    * deterministic, equals the batch left join (the differential oracle).
    */
  def runStreamEnrichSmoke(spark: SparkSession, parquetPath: String,
      dim: DataFrame, keys: Seq[String]): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val raw = spark.readStream.schema(schema).parquet(parquetPath)
    val stream = normalizeTs(schema, raw)
    drainStream(spark, streamStaticEnrich(stream, dim, keys))
  }

  /** Output row of [[RunningTotalsProcessor]] — the per-user running
    * profile a feature store maintains online.
    */
  private[streaming] case class UserTotals(user_id: Long, n_events: Long,
      value_micros: Long, batches_seen: Long)

  /** Spark 4 `transformWithState` stateful processor: per-key running
    * (count, integer-micros sum, batches-touched) in a single ValueState.
    * Both accumulators are commutative/associative, so the FINAL emission
    * per key equals the batch aggregate regardless of row order within a
    * micro-batch — that is what makes a TWS pipeline oracle-checkable.
    */
  private[streaming] class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), UserTotals] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long, Long)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[UserTotals] = {
      var (n, s, b) = if (totals.exists()) totals.get() else (0L, 0L, 0L)
      rows.foreach { case (_, micros) => n += 1; s += micros }
      b += 1
      totals.update((n, s, b))
      Iterator.single(UserTotals(key, n, s, b))
    }
  }

  /** Drain events through [[RunningTotalsProcessor]] as a TRUE streaming
    * query — the `transformWithState` API (Spark 4's arbitrary-stateful
    * successor to [flat]mapGroupsWithState; requires the RocksDB state
    * store, set for the run and restored after). The source is staged as
    * THREE files split by `event_id % 3` (every active user spans
    * batches), drained one file per micro-batch; update mode emits each
    * touched key's running totals per batch, and the caller-visible frame
    * reduces the update log to the LAST emission per key — which equals
    * the batch groupBy exactly (commutative accumulators), while
    * batches_seen proves the multi-batch path (= distinct event_id % 3
    * values per user, deterministic by construction).
    */
  def runTransformWithStateSmoke(spark: SparkSession,
      srcParquet: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val stageDir = stagedOnce(s"mod3|$srcParquet") { dir =>
      val src = Engine.readParquet(spark, srcParquet)
      (0 until 3).foreach { i =>
        val tmp = s"$dir/_tmp$i"
        src.where(pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dir, f"p$i%02d.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(1000000L * (i + 1))
        deleteRecursively(tmp)
      }
    }
    val schema = Engine.parquetSchema(spark, stageDir)
    val confs = eventSmokeConfs(spark, stageDir) :+
      ("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    withConfs(spark, confs) {
      val keyed = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
        .select(col("user_id").cast("long"),
          expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
        .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .groupByKey(_._1)(Encoders.scalaLong)
      implicit val utEnc: org.apache.spark.sql.Encoder[UserTotals] =
        Encoders.product[UserTotals]
      val out = keyed.transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      val updates = drainStream(spark, out, "update")
      // the update log reduced to each key's final emission: max by
      // batches_seen (strictly increasing per key per touched batch)
      updates.groupBy(col("user_id"))
        .agg(max(struct(col("batches_seen"), col("n_events"),
          col("value_micros"))).alias("m"))
        .select(col("user_id"), col("m.n_events").alias("n_events"),
          col("m.value_micros").alias("value_micros"),
          col("m.batches_seen").alias("batches_seen"))
    }
  }

  /** Output row of [[InactivitySessionProcessor]] — a closed inactivity
    * session (micros bounds, event count).
    */
  private[streaming] case class TimedSession(user_id: Long, start_us: Long,
      end_us: Long, n_events: Long)

  /** Spark 4 TWS with EVENT-TIME TIMERS: rows merge into one open session
    * per key and re-arm a single timer at `last event + gapMs`; the timer
    * firing (watermark passed the horizon with no newer rows to re-arm
    * it) emits the closed session and clears state. Because input rows
    * are processed BEFORE expired timers within a batch (pinned by the
    * StreamingSpec hand case), a key with rows in the firing batch
    * re-arms first and does NOT fire — the deterministic contract q276's
    * oracle replays: a key fires in batch i iff it has NO rows there and
    * last_event + gap < that batch's watermark.
    */
  private[streaming] class InactivitySessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), TimedSession] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    private def micros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[TimedSession] = {
      var (st, en, n) =
        if (sess.exists()) sess.get() else (Long.MaxValue, Long.MinValue, 0L)
      rows.foreach { case (_, t) =>
        val us = micros(t)
        if (us < st) st = us
        if (us > en) en = us
        n += 1
      }
      sess.update((st, en, n))
      // ONE armed timer per key: replace the old horizon with the new
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(en / 1000L + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[TimedSession] = {
      if (!sess.exists()) return Iterator.empty
      val (st, en, n) = sess.get()
      sess.clear()
      Iterator.single(TimedSession(key, st, en, n))
    }
  }

  /** Drain one event type through [[InactivitySessionProcessor]] over a
    * time-split multi-batch staging ([[stageTimeSplitFiles]]) — the
    * event-time-timer side of the TWS surface (q271 covers ValueState
    * without timers). The type filter sits below the watermark node
    * (Catalyst pushdown, the q269 finding), so each batch's watermark is
    * max(filtered ts of prior batches) − delay; no-data batches are
    * disabled, so firings happen only inside data batches — absent
    * open sessions at drain end are absent BY RULE.
    */
  def runTimerSessionsSmoke(spark: SparkSession, srcParquet: String,
      eventType: String,
      gapSeconds: Long, splitTs: Seq[String],
      delay: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val (stageDir, schema) = stageTimeSplitFiles(spark, srcParquet, splitTs)
    val confs = eventSmokeConfs(spark, stageDir) ++ Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    withConfs(spark, confs) {
      val keyed = normalizeTs(schema, spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stageDir))
        .withWatermark("ts", delay)
        .filter(col("event_type") === eventType)
        .select(col("user_id").cast("long"), col("ts").cast("timestamp"))
        .as[(Long, java.sql.Timestamp)](
          Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP))
        .groupByKey(_._1)(Encoders.scalaLong)
      implicit val tsEnc: org.apache.spark.sql.Encoder[TimedSession] =
        Encoders.product[TimedSession]
      val out = keyed.transformWithState(
        new InactivitySessionProcessor(gapSeconds * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
      drainStream(spark, out)
    }
  }

  /** CHAINED stateful operators in ONE streaming query (Spark supports
    * stateful-after-stateful since 3.4): dropDuplicates feeding a tumbling
    * event-time window aggregation. The source is read TWICE and unioned,
    * so every event arrives in duplicate within its micro-batch — the
    * dedup state must absorb them before the aggregation counts. Append
    * mode emits a window once the watermark passes its end; with the
    * time-split multi-batch staging the finalized-window set is exact:
    * windows whose end <= the final batch's watermark (max ts of all but
    * the last range − delay). In-horizon windows stay in state — absent
    * BY RULE (no-data batches disabled).
    */
  def runChainedStatefulSmoke(spark: SparkSession, srcParquet: String,
      splitTs: Seq[String],
      delay: String = "1 hour"): DataFrame = {
    val (stageDir, schema) = stageTimeSplitFiles(spark, srcParquet, splitTs)
    def stream(): DataFrame =
      normalizeTs(schema, spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir))
        .withWatermark("ts", delay)
    val confs = eventSmokeConfs(spark, stageDir) :+
      ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    withConfs(spark, confs) {
      val agg = stream().unionByName(stream())
        .dropDuplicates("event_id")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"))
            .as("value_micros"))
        .select(unix_micros(col("w.start")).as("day_start_us"),
          col("n_events"), col("value_micros"))
      drainStream(spark, agg)
    }
  }

  /** Stage `srcParquet` as `splitTs.size + 1` single-file time-range
    * parquets with forced-increasing mtimes, so a file-stream source with
    * maxFilesPerTrigger=1 drains them oldest range first — one range per
    * micro-batch, watermark progression pinned exactly. Memoized per JVM
    * via [[stagedOnce]] (the zone is read-only after build); returns the
    * shared staged directory and its schema.
    */
  private def stageTimeSplitFiles(spark: SparkSession, srcParquet: String,
      splitTs: Seq[String]): (String, org.apache.spark.sql.types.StructType) = {
    val stageDir = stagedOnce(s"timesplit|$srcParquet|${splitTs.mkString(",")}") { dir =>
      val raw = Engine.readParquet(spark, srcParquet)
      val src = normalizeTs(raw.schema, raw)
      val bounds = (None +: splitTs.map(Option(_))).zip(splitTs.map(Option(_)) :+ None)
      bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
        val part = src.where(
          lo.map(b => col("ts") >= lit(b).cast("timestamp")).getOrElse(lit(true)) &&
          hi.map(b => col("ts") < lit(b).cast("timestamp")).getOrElse(lit(true)))
        val tmp = s"$dir/_tmp$i"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dir, f"p$i%02d.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        // the file source orders by (mtime, path): force both
        dst.setLastModified(1000000L * (i + 1))
        deleteRecursively(tmp)
      }
    }
    (stageDir, Engine.parquetSchema(spark, stageDir))
  }

  /** TRUE left-outer stream-stream join with DETERMINISTIC eviction
    * emission. Inner matches emit as data arrives; an UNMATCHED left row
    * only emits (null-extended) when the event-time watermark passes its
    * join-window end and the state store evicts it — so the output depends
    * on how the watermark advanced, which this harness pins down exactly:
    *
    *  - the source parquet is staged as `splitTs.size + 1` time-range
    *    files with forced-increasing mtimes, drained ONE FILE PER
    *    MICRO-BATCH (maxFilesPerTrigger=1) oldest range first;
    *  - each side's watermark node tracks ITS OWN filtered max event time:
    *    the type filter is written after `withWatermark`, but Catalyst
    *    pushes deterministic predicates beneath the EventTimeWatermark
    *    node (empirically pinned by the StreamingSpec hand case), so the
    *    rows that reach each node are that side's type only. The query's
    *    global watermark is the MIN across nodes — after batch i it is
    *    min(max left-type ts, max right-type ts over files 0..i) − delay,
    *    used while processing batch i+1;
    *  - no-data micro-batches are disabled: evictions happen only inside
    *    data batches, so the final batch's leftover state is absent from
    *    the output BY RULE, not by scheduler timing.
    *
    * Net effect (the SQL-replayable contract, pinned by q269's oracle):
    * emitted rows = all inner matches ∪ unmatched left rows with
    * l_ts + window < min(max left ts, max right ts before the last split
    * boundary) − delay.
    *
    * `joinType` extends the contract to "full_outer": an unmatched RIGHT
    * row evicts (and emits null-extended) when r_ts < watermark — a
    * matching left row would need l_ts ∈ [r_ts − window, r_ts], all of
    * which is behind the watermark and thus can no longer arrive.
    *
    * Scale shape: state is watermark-bounded on both sides; the staging
    * write is the verification harness, not the operator.
    */
  def runStreamLeftOuterJoinSmoke(spark: SparkSession, srcParquet: String,
      key: String,
      leftType: String, rightType: String, windowSeconds: Long,
      splitTs: Seq[String], delay: String = "1 hour",
      joinType: String = "left_outer", drain: String = "parquet"): DataFrame = {
    require(splitTs.nonEmpty, "need >= 1 time split for multi-batch drains")
    val (stageDir, schema) = stageTimeSplitFiles(spark, srcParquet, splitTs)
    def stream(): DataFrame =
      normalizeTs(schema, spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir))
        .withWatermark("ts", delay) // BEFORE the type filter — see Scaladoc
    def side(p: String, tpe: String): DataFrame = {
      val f = stream().filter(col("event_type") === tpe)
      f.select(f.columns.map(c => f(c).alias(p + c)): _*)
    }
    val l = side("l_", leftType)
    val r = side("r_", rightType)
    val joined = l.join(r,
      l("l_" + key) === r("r_" + key) &&
        r("r_ts") >= l("l_ts") &&
        r("r_ts") <= l("l_ts") + expr(s"interval $windowSeconds seconds"),
      joinType)
    // note: an early A/B at 8-vs-4 partitions measured q269/q279 unchanged
    // (4.98/4.52 s vs 4.66/4.53 s) — most of the per-pass floor is 3 data
    // batches each scanning both file streams plus batch planning. The
    // size-derived count (1 here) still trims the 4-stores-per-partition
    // state instantiation; measured on q269, see OPTIMIZATION_r12.md.
    withConfs(spark, eventSmokeConfs(spark, stageDir) :+
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) {
      drainStream(spark, joined, sink = drain)
    }
  }

  def streamStreamJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      windowSeconds: Long, leftTs: String = "ts", rightTs: String = "ts",
      watermark: String = "1 hour"): DataFrame = {
    require(keys.nonEmpty, "stream-stream join needs >= 1 equi-key")
    require(windowSeconds > 0, "windowSeconds must be positive")
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.select(df.columns.map(c => df(c).alias(p + c)): _*)
    val l = prefixed(left, "l_").withWatermark("l_" + leftTs, watermark)
    val r = prefixed(right, "r_").withWatermark("r_" + rightTs, watermark)
    val cond = keys.map(k => l("l_" + k) === r("r_" + k)) ++ Seq(
      r("r_" + rightTs) >= l("l_" + leftTs),
      r("r_" + rightTs) <= l("l_" + leftTs) + expr(s"interval $windowSeconds seconds"))
    l.join(r, cond.reduce(_ && _))
  }

  /** Drain [[streamStreamJoin]] over one parquet directory read as TWO
    * independent file streams (left rows `event_type = leftType`, right
    * rows `event_type = rightType`), synchronously through [[drainStream]]
    * — a committed parquet store read back (default; join output is
    * data-sized, so the production path keeps it off the driver) or a
    * memory sink. Inner-join output is append-only and
    * watermark-independent for a finite drain, so the result is
    * deterministic and equals the batch join — the differential oracle
    * the driver replays in DuckDB.
    */
  def runStreamJoinSmoke(spark: SparkSession, parquetPath: String,
      keys: Seq[String], leftType: String, rightType: String,
      windowSeconds: Long, drain: String = "parquet"): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    def stream(): DataFrame =
      normalizeTs(schema, spark.readStream.schema(schema).parquet(parquetPath))
    val joined = streamStreamJoin(
      stream().filter(col("event_type") === leftType),
      stream().filter(col("event_type") === rightType),
      keys, windowSeconds)
    // A stream-stream join instantiates 4 state stores PER shuffle
    // partition; for a finite local drain that fixed cost dwarfs the data,
    // so run the stateful stage at the size-derived count and skip
    // post-data no-data batches (inner-join matches are all emitted in the
    // data batches; the extra batches only advance eviction, which a
    // finite drain doesn't need).
    withConfs(spark, eventSmokeConfs(spark, parquetPath) :+
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) {
      drainStream(spark, joined, sink = drain)
    }
  }

  /** Run the windowed aggregation as an actual streaming query over a
    * parquet directory (FileStreamSource requires a directory or glob, not
    * a single file), draining it synchronously into a memory sink (the
    * local smoke pattern); returns the materialized result.
    */
  def runStreamingSmoke(spark: SparkSession, parquetPath: String): DataFrame = {
    val schema = Engine.parquetSchema(spark, parquetPath)
    val stream = normalizeTs(schema, spark.readStream.schema(schema).parquet(parquetPath))
    drainStream(spark, windowedCounts(stream))
  }

  /** Ordered funnel analysis: for each user, the earliest time each stage
    * was reached STRICTLY AFTER the previous stage (stage 1 = earliest
    * matching event at all). A user's t columns cascade: once a stage is
    * null every later stage is null, and `stages_completed` counts the
    * non-null prefix — the standard conversion-funnel semantics
    * ("view, then a click after that view, then a purchase after that
    * click").
    *
    * Scale shape: one aggregate per stage, each a partial-aggregated
    * min over (user, stage-predicate) joined narrowly on user_id — no
    * window over a user's full history, no event-list collection. k
    * stages = k shuffles of (user_id, timestamp) pairs only.
    */
  def funnel(events: DataFrame, user: Column, ts: Column,
      stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.map(_._1).distinct == stages.map(_._1), "duplicate stage names")
    val base = events.select(
      (Seq(user.alias("user_id"), ts.alias("__ts")) ++
        stages.map { case (n, c) => c.alias(s"__c_$n") }): _*)
    var acc = base.select(col("user_id")).distinct()
    var prev: Option[String] = None
    stages.foreach { case (nm, _) =>
      val tcol = s"t_$nm"
      val stageAgg = prev match {
        case None =>
          base.filter(col(s"__c_$nm"))
            .groupBy(col("user_id")).agg(min(col("__ts")).alias(tcol))
        case Some(p) =>
          base.join(acc.filter(col(p).isNotNull).select(col("user_id"), col(p)), "user_id")
            .filter(col(s"__c_$nm") && col("__ts") > col(p))
            .groupBy(col("user_id")).agg(min(col("__ts")).alias(tcol))
      }
      acc = acc.join(stageAgg, Seq("user_id"), "left_outer")
      prev = Some(tcol)
    }
    acc.withColumn("stages_completed",
      stages.map(s => when(col(s"t_${s._1}").isNotNull, 1L).otherwise(0L))
        .reduceLeft(_ + _))
  }

  /** Frequent event paths: every length-`depth` run of consecutive states
    * per key under the caller's total order, concatenated `a>b>c` and
    * counted — the "what do users actually do" n-gram view of behavior
    * that funnels (a HYPOTHESIZED path) can't surface. minCount prunes
    * the long tail, which is where path cardinality explodes at scale.
    *
    * Returns (path, n) with n >= minCount.
    *
    * Scale shape: depth−1 lead() offsets inside ONE per-key window pass
    * (never a global window), then a partial-agg path count.
    */
  def eventPaths(events: DataFrame, key: Column, order: Seq[Column],
      state: Column, depth: Int = 3, minCount: Long = 1L): DataFrame = {
    require(depth >= 2, s"depth must be >= 2, got $depth")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    import org.apache.spark.sql.expressions.Window
    val base = events.select(
      (Seq(key.alias("__k"), state.alias("__s")) ++
        order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    val steps = col("__s") +: (1 until depth).map(d => lead(col("__s"), d).over(w))
    base.select(concat_ws(">", steps: _*).alias("path"),
        steps.last.isNotNull.alias("__full"))
      .filter(col("__full"))
      .groupBy(col("path")).agg(count(lit(1)).alias("n"))
      .filter(col("n") >= minCount)
  }

  /** Conversion-lag decile profile: per user, the first stage-B event
    * STRICTLY AFTER the first stage-A event (the [[funnel]] cascade rule),
    * the lag between them, and the exact decile decomposition of the lag
    * distribution — "how long does signup→purchase take" as ten
    * (bin, n, lo_us, hi_us) rows instead of one opaque mean. Deciles come
    * from the exact rank rule ([[graft.operators.Relational.quantileBins]]),
    * so the whole profile hash-replays; users who never convert are
    * absent by funnel semantics.
    *
    * Scale shape: two per-user min aggregations + one narrow join (the
    * funnel shape), then one quantileBins pass over the user-sized lag
    * frame.
    */
  def conversionLagDeciles(events: DataFrame, user: Column, ts: Column,
      stageA: Column, stageB: Column): DataFrame = {
    val base = events.select(user.alias("u"),
      unix_micros(ts.cast("timestamp")).alias("t"),
      stageA.alias("a"), stageB.alias("b"))
    val ta = base.filter(col("a")).groupBy(col("u")).agg(min(col("t")).alias("t_a"))
    val tb = base.join(ta, "u").filter(col("b") && col("t") > col("t_a"))
      .groupBy(col("u")).agg(min(col("t")).alias("t_b"), min(col("t_a")).alias("t_a"))
    val lags = tb.select(col("u"), (col("t_b") - col("t_a")).alias("lag_us"))
    graft.operators.Relational.quantileBins(lags, col("u"), col("lag_us"), 10)
      .groupBy(col("bin"))
      .agg(count(lit(1)).alias("n"), min(col("v")).alias("lo_us"),
        max(col("v")).alias("hi_us"))
  }

  /** Lag-k autocorrelation of per-key hourly event counts — the
    * periodicity detector: r(24) near 1 on hourly buckets means a daily
    * cycle, r(1) near 0 means bursts don't persist; both feed anomaly
    * thresholds ([[rateAnomalies]]) and capacity plans. Counts pair as
    * (x_t, x_{t+lag}) over buckets where BOTH exist (sparse semantics —
    * missing hours are absent, not zero), and the correlation comes from
    * exact DECIMAL co-moments with q78's two-op IEEE tail, so the doubles
    * hash-match cross-engine.
    *
    * Returns one row per (key, lag): (key, lag, n, corr) — corr NULL when
    * either side is constant (undefined), n the pair count.
    *
    * Scale shape per lag: the hourly aggregate (key-and-bucket sized, not
    * event sized) self-equi-joins on (key, bucket+lag), then corrStats'
    * partial-agg moment reduction per key.
    */
  def autocorrelation(events: DataFrame, key: Column, ts: Column,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be >= 1")
    import graft.operators.Relational.GraftOps
    val hourly = events
      .groupBy(key.alias("k"),
        (unix_timestamp(date_trunc("hour", ts)) / 3600L).cast("long").alias("b"))
      .agg(count(lit(1)).alias("x"))
    val perLag = lags.map { lag =>
      val paired = hourly.alias("l").join(
          hourly.select(col("k"), (col("b") - lag).alias("b"),
            col("x").alias("y")).alias("r"),
          Seq("k", "b"))
      paired.corrStats(Seq(col("k")), col("x"), col("y"))
        .select(col("k").alias("key"), lit(lag.toLong).alias("lag"),
          col("n"), round(col("corr"), 6).alias("corr"))
    }
    perLag.reduce(_.union(_))
  }

  /** Last-touch conversion attribution: each conversion event credits the
    * LATEST preceding touch (non-conversion) event by the same user within
    * `windowHours` — the standard marketing attribution read, and more
    * generally "what action immediately precedes the outcome". Ties at
    * the same timestamp break to the larger touch id (the latest-writer
    * convention), conversions with no in-window touch credit the
    * '(none)' channel; every choice is deterministic, so the report
    * replays as SQL.
    *
    * Returns (channel, n_credited, share_ppm) over all conversions.
    *
    * Scale shape: one user-keyed equi-join with the window as a residual
    * range predicate (a user's history is the join cell — never a global
    * range join), a per-conversion max-struct argmax (one row per
    * conversion through the shuffle), a channel-sized groupBy, a 1-row
    * total broadcast.
    */
  def lastTouchAttribution(events: DataFrame, user: Column, ts: Column,
      id: Column, isConversion: Column, channel: Column,
      windowHours: Int = 24): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1, got $windowHours")
    val base = events.select(user.alias("u"),
      unix_micros(ts.cast("timestamp")).alias("t"), id.alias("eid"),
      isConversion.alias("conv"), channel.alias("ch"))
    val convs = base.filter(col("conv"))
      .select(col("u"), col("t").alias("ct"), col("eid").alias("cid"))
    val touches = base.filter(!col("conv"))
      .select(col("u"), col("t").alias("tt"), col("eid").alias("tid"),
        col("ch"))
    val winUs = windowHours * 3600L * 1000000L
    val credited = convs.join(touches,
        convs("u") === touches("u") && col("tt") < col("ct") &&
          col("tt") >= col("ct") - winUs, "left")
      .groupBy(col("cid"))
      .agg(max(struct(col("tt").alias("t"), col("tid").alias("i"),
        col("ch").alias("c"))).alias("m"))
      .select(col("cid"), coalesce(col("m.c"), lit("(none)")).alias("channel"))
    val counts = credited.groupBy(col("channel"))
      .agg(count(lit(1)).alias("n_credited"))
    val tot = counts.agg(sum(col("n_credited")).alias("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_credited"),
        expr("(n_credited * 1000000L) DIV t").alias("share_ppm"))
  }

  /** Pairwise association rules over per-basket item sets (market-basket
    * analysis, Agrawal et al. bounded to 2-itemsets): baskets are the
    * distinct (basket key, item) pairs; for every ordered rule a → b the
    * joint support, per-item supports, confidence = supp(ab)/supp(a) and
    * lift = supp(ab)·N/(supp(a)·supp(b)), both in floor-ppm integers —
    * the "users who did X also did Y" signal behind funnel design and
    * feature-bundling decisions. Lift (= exp(PMI)) keeps the q80 no-log
    * rule: same ranking, exact cross-engine.
    *
    * Returns (antecedent, consequent, n_joint, n_ante, n_cons, n_baskets,
    * conf_ppm, lift_ppm), both directions of each pair, joint support >=
    * `minSupport`.
    *
    * Scale shape: one distinct to the basket-item set, one within-basket
    * equi self-join (bounded by per-basket item cardinality — the
    * |item-vocabulary| cap, not basket row count), item-cardinality
    * groupBys, broadcast support joins. DECIMAL(38,0) clears the
    * lift numerator at any corpus size.
    */
  def associationRules(df: DataFrame, basket: Seq[Column], item: Column,
      minSupport: Long = 1L): DataFrame = {
    require(basket.nonEmpty, "associationRules needs at least one basket key column")
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val keys = basket.zipWithIndex.map { case (c, i) => c.alias(s"__b$i") }
    val keyCols = basket.indices.map(i => col(s"__b$i"))
    val b = df.select((keys :+ item.alias("it")): _*)
      .filter(col("it").isNotNull).distinct()
    val nBaskets = b.select(keyCols: _*).distinct()
      .agg(count(lit(1)).alias("n_baskets"))
    val supp = b.groupBy(col("it")).agg(count(lit(1)).alias("s"))
    val joint = b.alias("x").join(b.alias("y"),
        basket.indices.map(i => col(s"x.__b$i") === col(s"y.__b$i"))
          .reduce(_ && _) && col("x.it") =!= col("y.it"))
      .groupBy(col("x.it").alias("antecedent"), col("y.it").alias("consequent"))
      .agg(count(lit(1)).alias("n_joint"))
      .filter(col("n_joint") >= minSupport)
    joint
      .join(broadcast(supp.select(col("it").alias("antecedent"),
        col("s").alias("n_ante"))), Seq("antecedent"))
      .join(broadcast(supp.select(col("it").alias("consequent"),
        col("s").alias("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .withColumn("conf_ppm", expr("(n_joint * 1000000L) DIV n_ante"))
      .withColumn("lift_ppm", expr(
        """CAST((CAST(n_joint AS DECIMAL(38,0)) * n_baskets * 1000000)
           DIV (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT)"""))
      .select(col("antecedent"), col("consequent"), col("n_joint"),
        col("n_ante"), col("n_cons"), col("n_baskets"), col("conf_ppm"),
        col("lift_ppm"))
  }

  /** First-order Markov transition matrix over per-key event sequences:
    * for each key's events in (order cols) sequence, count every adjacent
    * (state -> next state) pair, then normalize each row of the matrix to
    * floor-ppm probabilities — the behavioral model behind next-action
    * prediction, funnel leak diagnosis, and bot detection (a user whose
    * transition row diverges from the population's is mechanical). The
    * order columns must totally order each key's events (ts + a unique
    * tie-break id), so the adjacency — and the whole matrix — replays
    * deterministically on any engine.
    *
    * Returns (from_state, to_state, n, from_total, p_ppm), one row per
    * observed transition; rows of the matrix sum to <= 1e6 ppm (floor
    * division). A key's last event has no successor and contributes
    * nothing.
    *
    * Scale shape: one lead() window PARTITIONED BY KEY (never global — a
    * key's history is the frame, the q60 rule), one partial-agg groupBy to
    * the |states|² matrix, and the row-normalizing window runs over that
    * tiny aggregate, not the events.
    */
  def transitionMatrix(events: DataFrame, key: Column, order: Seq[Column],
      state: Column): DataFrame = {
    require(order.nonEmpty, "transitionMatrix needs at least one order column")
    import org.apache.spark.sql.expressions.Window
    val base = events.select(
      (Seq(key.alias("__k"), state.alias("__s")) ++
        order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    val m = base.withColumn("__nxt", lead(col("__s"), 1).over(w))
      .filter(col("__nxt").isNotNull)
      .groupBy(col("__s").alias("from_state"), col("__nxt").alias("to_state"))
      .agg(count(lit(1)).alias("n"))
    m.withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("from_state"))))
      .withColumn("p_ppm", expr("(n * 1000000L) DIV from_total"))
  }

  /** OHLC bars (open-high-low-close) per key and time bucket — the
    * canonical downsampling of a value stream for dashboards and drift
    * monitors: open/close are the FIRST/LAST value under the
    * (ts, tieBreak) total order (min_by/max_by over a struct — never a
    * window), high/low the extremes, n and the exact integer sum along
    * for reaggregation. `value` must be integer-valued (pass micros).
    *
    * Scale shape: ONE partial-agg groupBy on (key, bucket); min_by/max_by
    * carry a single (order, value) pair through the combiner — constant
    * state per group.
    */
  def ohlcBars(events: DataFrame, key: Column, ts: Column, tieBreak: Column,
      value: Column, bucket: String = "hour"): DataFrame = {
    val ord = struct(ts.alias("t"), tieBreak.alias("tb"))
    events
      .groupBy(key.alias("key"), date_trunc(bucket, ts).alias("bucket"))
      .agg(count(lit(1)).alias("n"),
        min_by(value, ord).alias("open"),
        max_by(value, ord).alias("close"),
        max(value).alias("high"),
        min(value).alias("low"),
        sum(value).alias("sum_v"))
  }

  /** Sliding-window distinct users ("rolling 24 h DAU at hourly steps"):
    * every event fans out to the `windowHours` hour-aligned window starts
    * it falls inside, then one COUNT(DISTINCT user) per start — the
    * sliding metric computed with a HORIZON-BOUNDED explode (×window
    * fan-out) instead of a per-window rescan or any global window.
    * Starts with zero events are absent by construction (the reached-set
    * rule — at scale the empty grid is the big set, not the output).
    *
    * Scale shape: narrow ×windowHours explode in the scan, one
    * (start, user) distinct aggregate. Fan-out is the window/step ratio —
    * the standard cost of exact sliding distincts; HLL by start
    * ([[graft.operators.Corpus.hllSketchGrouped]]) is the sketch sibling
    * when windows are huge.
    */
  def slidingDistinct(events: DataFrame, user: Column, ts: Column,
      windowHours: Int = 24): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1, got $windowHours")
    val hourUs = 3600L * 1000000L
    events
      .select(user.alias("user_id"),
        unix_micros(date_trunc("hour", ts)).alias("h"))
      .select(col("user_id"), col("h"),
        explode(sequence(lit(0), lit(windowHours - 1))).alias("k"))
      .select(col("user_id"), (col("h") - col("k") * hourUs).alias("win_start_us"))
      .groupBy(col("win_start_us"))
      .agg(count_distinct(col("user_id")).alias("n_users"))
  }

  /** Discrete churn-hazard table (the Kaplan-Meier life table without the
    * cumulative product — products of rationals don't replay, per-step
    * hazards do): users are observed from their FIRST event day; lifetime
    * = whole days between first and last event day. A user whose last
    * activity sits within `censorDays` of the corpus's last day is
    * CENSORED — still at risk through their observed lifetime, never
    * counted churned (they may simply not have acted yet). Per lifetime
    * day d: at_risk = users observed ≥ d days, churned = uncensored users
    * whose lifetime is exactly d, hazard_ppm = churned·1e6 DIV at_risk.
    *
    * Scale shape: one per-user (min, max) partial agg, one
    * lifetime-histogram groupBy (horizon-sized), a suffix-sum window over
    * that TINY aggregate, a 1-row corpus-max broadcast.
    */
  def churnHazard(events: DataFrame, user: Column, ts: Column,
      censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0, got $censorDays")
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000000L
    val spans = events
      .groupBy(user.alias("user_id"))
      .agg(min(unix_micros(date_trunc("day", ts))).alias("first_day"),
        max(unix_micros(date_trunc("day", ts))).alias("last_day"))
    val corpusMax = spans.agg(max(col("last_day")).alias("max_day"))
    val marked = spans.crossJoin(broadcast(corpusMax))
      .select(expr(s"(last_day - first_day) DIV ${dayUs}L").alias("lifetime"),
        (col("last_day") > col("max_day") - censorDays * dayUs).alias("censored"))
    val hist = marked.groupBy(col("lifetime"))
      .agg(count(lit(1)).alias("n_ending"),
        sum(when(!col("censored"), 1L).otherwise(0L)).alias("churned"),
        sum(when(col("censored"), 1L).otherwise(0L)).alias("censored_at"))
    // unpartitioned window, bounded: one row per distinct lifetime in days
    val wSuffix = Window.orderBy(col("lifetime").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("at_risk", sum(col("n_ending")).over(wSuffix))
      .select(col("lifetime"), col("at_risk"), col("churned"),
        col("censored_at"),
        expr("(churned * 1000000L) DIV at_risk").alias("hazard_ppm"))
  }

  /** Event-time disorder profile — the measurement a watermark delay
    * should be CHOSEN from instead of guessed: per key, every event's
    * lateness = (running event-time max over the ARRIVAL order, before
    * this event) − its own event time, floored at 0. Summarized as
    * counts, the worst case, and the exact lower p95 (the
    * [[graft.operators.Relational.GraftOps.weightedPercentile]] integer
    * rule) — "set withWatermark to p95_late and you drop <= 5% of these".
    * Integer microseconds throughout.
    *
    * Returns (key, n, n_late, late_ppm, max_late_us, p95_late_us).
    *
    * Scale shape: one per-key arrival-order window (running max), one
    * per-key reduction, and the percentile's per-key cumulative over
    * DISTINCT lateness values.
    */
  def latenessProfile(events: DataFrame, key: Column, arrivalOrder: Column,
      ts: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Relational.GraftOps
    val w = Window.partitionBy(col("__k")).orderBy(col("__o"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = events
      .select(key.alias("__k"), arrivalOrder.alias("__o"),
        unix_micros(ts).alias("__t"))
      .withColumn("__late",
        greatest(coalesce(max(col("__t")).over(w) - col("__t"), lit(0L)), lit(0L)))
    val summary = late.groupBy(col("__k").alias("key"))
      .agg(count(lit(1)).alias("n"),
        sum(when(col("__late") > 0L, 1L).otherwise(0L)).alias("n_late"),
        max(col("__late")).alias("max_late_us"))
      .withColumn("late_ppm", expr("(n_late * 1000000L) DIV n"))
    val p95 = late.weightedPercentile(Seq(col("__k")), col("__late"),
        lit(1L), pPpm = 950000L)
      .select(col("g0").alias("key"), col("p_value").alias("p95_late_us"))
    summary.join(p95, Seq("key"))
      .select(col("key"), col("n"), col("n_late"), col("late_ppm"),
        col("max_late_us"), col("p95_late_us"))
  }

  /** Markov next-event baseline backtest: learn the per-state argmax
    * transition from a TRAIN split ([[transitionMatrix]]'s counts, ties
    * to the smaller state label), predict every consecutive TEST pair's
    * next state from its current one, and report accuracy per from-state
    * — the zero-parameter sequence model a session-recommendation or
    * next-action model must beat, the [[seasonalNaiveBacktest]] idea
    * applied to categorical sequences. From-states never seen in train
    * predict NULL and score zero (visible, not silently dropped).
    * Integer counts + floor ppm, replayable.
    *
    * Scale shape: one train lead() window per key + matrix groupBy, one
    * per-from-state argmax via min(struct), one test lead() window, one
    * broadcast-sized prediction join (|states| rows), one final groupBy.
    */
  def markovBacktest(train: DataFrame, test: DataFrame, key: Column,
      order: Seq[Column], state: Column): DataFrame = {
    require(order.nonEmpty, "markovBacktest needs at least one order column")
    import org.apache.spark.sql.expressions.Window
    val m = transitionMatrix(train, key, order, state)
    val pred = m.groupBy(col("from_state"))
      .agg(min(struct((-col("n")).alias("nn"), col("to_state").alias("p"))).alias("m"))
      .select(col("from_state").alias("__s"), col("m.p").alias("predicted"))
    val base = test.select(
      (Seq(key.alias("__k"), state.alias("__s")) ++
        order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    val pairs = base.withColumn("__nxt", lead(col("__s"), 1).over(w))
      .filter(col("__nxt").isNotNull)
    pairs.join(broadcast(pred), Seq("__s"), "left")
      .groupBy(col("__s").alias("from_state"))
      .agg(max(col("predicted")).alias("predicted"),
        count(lit(1)).alias("n_pairs"),
        sum(when(col("__nxt") === col("predicted"), 1L).otherwise(0L))
          .alias("n_correct"))
      .selectExpr("from_state", "predicted", "n_pairs", "n_correct",
        "(n_correct * 1000000L) DIV n_pairs AS acc_ppm")
  }

  /** Event-rate anomaly detection: hourly counts per key z-scored against
    * that key's own mean/std over all hours; |z| > threshold flags the
    * bucket. Variance comes from integer co-moments (n, sum, sum-of-
    * squares are exact longs), so mean/std/z replay bit-for-bit — the
    * corrStats discipline applied to rate monitoring. Keys with one
    * bucket or zero variance flag nothing (z = 0).
    *
    * Scale shape: two partial-aggregating groupBys (events -> hourly,
    * hourly -> per-key moments) and one narrow join back; nothing holds a
    * key's full history in memory.
    */
  def rateAnomalies(events: DataFrame, key: Column, ts: Column,
      z: Double = 3.0): DataFrame = {
    require(z > 0, s"z threshold must be positive, got $z")
    val hourly = events
      .groupBy(key.alias("key"), date_trunc("hour", ts).alias("bucket"))
      .agg(count(lit(1)).alias("n"))
    val stats = hourly.groupBy(col("key")).agg(
      count(lit(1)).alias("cnt"),
      sum(col("n")).alias("sn"),
      sum(col("n") * col("n")).alias("snn"))
    val mean = col("sn").cast("double") / col("cnt").cast("double")
    val varNum = col("cnt") * col("snn") - col("sn") * col("sn")     // exact long
    val variance = when(col("cnt") > 1,
      varNum.cast("double") / (col("cnt") * (col("cnt") - 1)).cast("double"))
      .otherwise(lit(0.0))
    val joined = hourly.join(broadcast(stats), "key")
      .withColumn("mean", mean)
      .withColumn("std", sqrt(variance))
    joined
      .withColumn("zscore",
        when(col("std") === 0.0, lit(0.0))
          .otherwise((col("n").cast("double") - col("mean")) / col("std")))
      .select(col("key"), col("bucket"), col("n"), col("mean"), col("std"),
        col("zscore"), (abs(col("zscore")) > z).alias("is_anomaly"))
  }

  /** CUSUM-style changepoint scan over each key's hourly event counts:
    * with T observed (non-empty) hour buckets and N total events, the
    * scaled cumulative deviation at bucket rank r is
    *
    *   dev_r = C_r · T − r · N        (C_r = running count sum)
    *
    * — the division-free form of "cumulative count minus expected
    * cumulative at the key's overall rate" (multiply both sides by T·N:
    * exact longs, zero at r = T by construction). The rank where |dev|
    * peaks is the classic single-changepoint estimator for count data: a
    * rate that jumps mid-series bows the cumulative curve and the apex IS
    * the change. [[rateAnomalies]] flags individual outlier hours; this
    * finds the structural level shift those z-scores can't see.
    * `is_peak` ties break to the EARLIEST rank. Keys with one bucket get
    * dev = 0, peak at rank 1.
    *
    * Scale shape: one partial-agg hourly groupBy, one window PARTITIONED
    * BY KEY (a key's own history is the frame — never global), one
    * per-key argmax via min(struct) joined back. All integers.
    */
  def cusumChangepoints(events: DataFrame, key: Column, ts: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .groupBy(key.alias("key"), date_trunc("hour", ts).alias("bucket"))
      .agg(count(lit(1)).alias("n"))
    val w = Window.partitionBy(col("key")).orderBy(col("bucket"))
    val cum = hourly
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = cum.groupBy(col("key")).agg(
      max(col("r")).alias("t_buckets"), sum(col("n")).alias("n_total"))
    val dev = cum.join(broadcast(totals), "key")
      .withColumn("dev", col("cum") * col("t_buckets") - col("r") * col("n_total"))
    val peak = dev.groupBy(col("key"))
      .agg(min(struct((-abs(col("dev"))).alias("nad"), col("r").alias("pr"))).alias("m"))
      .select(col("key"), col("m.pr").alias("peak_r"))
    dev.join(broadcast(peak), "key")
      .select(col("key"), col("bucket"), col("n"), col("r"), col("cum"),
        col("t_buckets"), col("n_total"), col("dev"),
        (col("r") === col("peak_r")).alias("is_peak"))
  }

  /** Day-of-week seasonality profile per key: event share by weekday in
    * ppm, deviation vs the uniform 1/7, and the key's peak weekday —
    * the calendar shape a seasonal-adjustment or staffing decision reads
    * before trusting any daily comparison. `dow` is 1 = Sunday … 7 =
    * Saturday (Spark's dayofweek convention). `is_peak_dow` ties break to
    * the smaller dow. Integer ppm floor division throughout.
    *
    * Scale shape: one (key, dow) partial-agg groupBy (≤ 7 rows per key),
    * per-key totals + argmax broadcast back — no windows.
    */
  def dowProfile(events: DataFrame, key: Column, ts: Column): DataFrame = {
    val cells = events
      .groupBy(key.alias("key"), dayofweek(ts).cast("long").alias("dow"))
      .agg(count(lit(1)).alias("n"))
    val totals = cells.groupBy(col("key")).agg(
      sum(col("n")).alias("key_total"))
    val peaks = cells.groupBy(col("key"))
      .agg(min(struct((-col("n")).alias("nn"), col("dow").alias("pd"))).alias("m"))
      .select(col("key"), col("m.pd").alias("peak_dow"))
    cells.join(broadcast(totals), "key").join(broadcast(peaks), "key")
      .withColumn("share_ppm", expr("(n * 1000000L) DIV key_total"))
      .select(col("key"), col("dow"), col("n"), col("key_total"),
        col("share_ppm"),
        // 1/7 of a million, floored — the uniform-calendar reference
        (col("share_ppm") - lit(142857L)).alias("dev_vs_uniform_ppm"),
        (col("dow") === col("peak_dow")).alias("is_peak_dow"))
  }

  /** Seasonal-naive forecast backtest: predict each day's value total as
    * the SAME KEY's total `seasonDays` earlier, score only days where
    * both sides exist, and report per key the exact integer error profile
    * — n_scored, Σ|err|, Σ err, MAE and bias as floor-ppm-style micro
    * divisions. The zero-parameter baseline every real forecaster must
    * beat (and the data-drift smell test: a key whose seasonal-naive MAE
    * explodes changed behavior). Values are exact micros
    * (DECIMAL(18,6)·1e6), so sums replay cross-engine; bias is
    * sign-split floor division.
    *
    * Scale shape: one (key, day) partial-agg groupBy, one integer-keyed
    * self equi-join at day − seasonDays (no window, no range join), one
    * per-key reduction.
    */
  def seasonalNaiveBacktest(events: DataFrame, key: Column, ts: Column,
      value: Column, seasonDays: Int = 7): DataFrame = {
    require(seasonDays >= 1, s"seasonDays must be >= 1, got $seasonDays")
    val daily = events
      .groupBy(key.alias("key"),
        unix_micros(date_trunc("day", ts)).alias("day_us"))
      .agg(sum((value.cast(org.apache.spark.sql.types.DecimalType(18, 6)) *
        lit(1000000L)).cast("long")).alias("vmic"))
    val lagUs = seasonDays * 86400L * 1000000L
    val scored = daily.alias("cur").join(
        daily.select(col("key"),
          (col("day_us") + lagUs).alias("day_us"),
          col("vmic").alias("pred")).alias("prev"),
        Seq("key", "day_us"))
    scored
      .withColumn("err", col("vmic") - col("pred"))
      .groupBy(col("key"))
      .agg(count(lit(1)).alias("n_scored"),
        sum(abs(col("err"))).alias("abs_err_sum"),
        sum(col("err")).alias("err_sum"))
      .selectExpr("key", "n_scored", "abs_err_sum", "err_sum",
        "abs_err_sum DIV n_scored AS mae_mic",
        """CASE WHEN err_sum >= 0 THEN err_sum DIV n_scored
             ELSE -((-err_sum) DIV n_scored) END AS bias_mic""")
  }

  /** Weekly cohort retention: users are cohorted by the week of their
    * FIRST event (date_trunc week, Monday start); each later event lands
    * in offset = whole weeks since the cohort week start. Returns
    * (cohort_week_us, week_offset, n_active, cohort_size, retention) —
    * the classic retention matrix in long form.
    *
    * Scale shape: first-event per user is a partial-aggregated min; the
    * offset projection is narrow; the matrix aggregate shuffles
    * (cohort, offset, user) for the distinct count. Integer microsecond
    * arithmetic throughout (exact cross-engine; retention is one final
    * division).
    */
  def cohortRetention(events: DataFrame, user: Column, ts: Column,
      period: String = "week"): DataFrame = {
    val periodUs = period match {
      case "day"  => 86400L * 1000000L
      case "week" => 7L * 86400L * 1000000L
      case other  => throw new IllegalArgumentException(
        s"period must be day or week, got $other")
    }
    val e = events.select(user.alias("user_id"), ts.alias("__ts"))
    val firsts = e.groupBy(col("user_id")).agg(min(col("__ts")).alias("first_ts"))
      .select(col("user_id"),
        unix_micros(date_trunc(period, col("first_ts"))).alias("cohort_us"))
    val hits = e.join(firsts, "user_id")
      .select(col("user_id"), col("cohort_us"),
        floor((unix_micros(col("__ts")) - col("cohort_us")).cast("double") / periodUs)
          .cast("long").alias("period_offset"))
      .groupBy(col("cohort_us"), col("period_offset"))
      .agg(count_distinct(col("user_id")).alias("n_active"))
    val sizes = firsts.groupBy(col("cohort_us"))
      .agg(count_distinct(col("user_id")).alias("cohort_size"))
    hits.join(sizes, "cohort_us")
      .select(col("cohort_us"), col("period_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .alias("retention"))
  }

  /** SCD-2-style state intervals: collapse each key's event stream into
    * runs of consecutive identical `state` values, emitting
    * (key, state, valid_from, valid_to) with valid_to = the next run's
    * start (null while current) — the change-data-capture shape a
    * dimension table loader consumes. `tieBreak` orders same-timestamp
    * events deterministically.
    *
    * One shuffle on the key; both windows (change detection, next-change
    * lookahead) reuse that partitioning.
    */
  def stateIntervals(events: DataFrame, key: Column, ts: Column,
      state: Column, tieBreak: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__ts"), col("__tb"))
    val base = events.select(key.alias("__k"), ts.alias("__ts"),
      state.alias("__s"), tieBreak.alias("__tb"))
    val marked = base
      .withColumn("__prev", lag(col("__s"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("__s"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__ts"), col("__tb"))
    marked
      .withColumn("valid_to", lead(col("__ts"), 1).over(w2))
      .select(col("__k").alias("key"), col("__s").alias("state"),
        col("__ts").alias("valid_from"), col("valid_to"))
  }

  /** Bounded-group contract enforcement for the mapGroups fold family
    * (tokenBucketAdmission, holtLinear/holtWinters, lisLengths,
    * epsilonGreedyReplay, activitySelection, weightedIntervalSchedule,
    * burstViterbi): each fold materializes one key's rows on one executor,
    * which is correct while groups are bounded (events per user, days per
    * key) but would OOM an executor on a 100 TB hot key. The guard counts
    * DURING materialization and fails loudly AT the threshold — strictly
    * cheaper than a pre-agg max-group-size check (no second pass over the
    * upstream) and it stops buffering at the cap instead of after it.
    * Default 10M rows/group (~1 GB of boxed tuples); override with
    * -Dgraft.maxGroupRows. The cap is read on the DRIVER at plan build
    * (each fold captures it before groupByKey) so it serializes into the
    * closure and holds on a real cluster, not just local mode.
    */
  private[streaming] def maxGroupRows: Long =
    sys.props.get("graft.maxGroupRows").map(_.toLong).getOrElse(10000000L)

  private[streaming] def boundedGroupArray[T: scala.reflect.ClassTag](
      op: String, key: Any, rows: Iterator[T], cap: Long): Array[T] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    var n = 0L
    while (rows.hasNext) {
      n += 1
      if (n > cap)
        throw new IllegalStateException(
          s"graft.$op: group '$key' exceeds the bounded-group contract " +
          s"(> $cap rows); this fold materializes each group on one " +
          "executor. Pre-aggregate the group (e.g. to daily grain) or " +
          "raise -Dgraft.maxGroupRows if the group genuinely fits memory.")
      buf += rows.next()
    }
    buf.toArray
  }

  /** Output row of [[tokenBucketAdmission]] (public for the generated
    * encoder, the [[graft.operators.Multimodal.Feat]] rule).
    */
  private[streaming] case class TokenBucketRow(user_id: Long, event_id: Long,
      rn: Long, tokens_before: Long, admit: Long, tokens_after: Long)

  private[streaming] case class HoltRow(key: String, r: Long, y: Long,
      level: Long, trend: Long, forecast: Long)

  private[streaming] case class BanditArmRow(cohort: Long, arm_idx: Long,
      arm: String, pulls: Long, reward_micro: Long)

  /** Offline ε-greedy bandit REPLAY (the Li et al. 2011 replay method:
    * walk the logged stream in order; whenever the policy's choice
    * matches the logged arm, count it as a pull and bank the logged
    * reward — an unbiased offline estimate of the policy's value when
    * the log is uniform). Fully deterministic, integer-exact:
    *   - round t (1-based per cohort, ordered by (ts, id)) explores iff
    *     `t % exploreEvery == 0`, cycling arms `(t / exploreEvery) % K`;
    *   - otherwise it exploits: any never-pulled arm first (smallest
    *     index — optimistic init), else the argmax of mean banked reward
    *     decided by CROSS-MULTIPLICATION (`s_i·c_j > s_j·c_i` — no
    *     float means), ties to the smaller index.
    * Returns one row per (cohort, arm): final pulls and banked reward
    * micros; cohort totals are the per-arm sums.
    *
    * Scale shape: the [[tokenBucketAdmission]] bounded-group mapGroups
    * contract — cohorts are the parallel unit, state is O(K) per cohort.
    */
  def epsilonGreedyReplay(events: DataFrame, cohort: Column, ts: Column,
      id: Column, arm: Column, reward: Column, arms: Seq[String],
      exploreEvery: Int = 5): DataFrame = {
    require(arms.nonEmpty && arms.distinct.size == arms.size,
      "arms must be distinct and non-empty")
    require(exploreEvery >= 2, s"exploreEvery must be >= 2, got $exploreEvery")
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    val k = arms.size
    val armIdx = arms.zipWithIndex.toMap
    val in = events.select(cohort.cast("long").alias("co"),
        unix_micros(ts).alias("tus"), id.cast("long").alias("i"),
        arm.cast("string").alias("a"),
        (reward.cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
          .cast("long").alias("rew"))
      .as[(Long, Long, Long, String, Long)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong))
    val cap = maxGroupRows
    in.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroups { (co, rows) =>
        val evs = boundedGroupArray("epsilonGreedyReplay", co,
          rows.map(r => (r._2, r._3, r._4, r._5)), cap).sortInPlace()
        val c = new Array[Long](k); val s = new Array[Long](k)
        var t = 1
        evs.foreach { case (_, _, a, rew) =>
          val chosen =
            if (t % exploreEvery == 0) (t / exploreEvery) % k
            else {
              val unpulled = c.indexWhere(_ == 0L)
              if (unpulled >= 0) unpulled
              else (1 until k).foldLeft(0) { (acc, i) =>
                if (s(i) * c(acc) > s(acc) * c(i)) i else acc
              }
            }
          armIdx.get(a).foreach { ai =>
            if (ai == chosen) { c(ai) += 1; s(ai) += rew }
          }
          t += 1
        }
        (0 until k).iterator.map(i => BanditArmRow(co, i.toLong, arms(i), c(i), s(i)))
      }(Encoders.product[BanditArmRow])
      .toDF()
  }

  private[streaming] case class ActSelRow(u: Long, n_intervals: Long,
      max_nonoverlap: Long, last_end: Long)

  /** Maximum non-overlapping interval count per key — the activity-
    * selection greedy (earliest finish first), which is provably OPTIMAL
    * for this objective: sort by (end, start, id), take an interval iff
    * its start >= the last taken end (touching endpoints compatible).
    * The capacity question behind scheduling ("how many of these
    * sessions could one resource serve") that q328's union-length sweep
    * — total covered time — cannot answer.
    *
    * Bounded-key fold (the [[epsilonGreedyReplay]] discipline); the
    * oracle replays the same two-register greedy as a recursive CTE over
    * the end-ordered stream. Returns (key, n_intervals, max_nonoverlap,
    * last_end) — the final accepted end is part of the verified state.
    */
  def activitySelection(intervals: DataFrame, key: Column, start: Column,
      end: Column, id: Column): DataFrame = {
    import org.apache.spark.sql.Encoders
    val in = intervals.select(key.cast("long").alias("u"),
        start.cast("long").alias("s"), end.cast("long").alias("e"),
        id.cast("long").alias("i"))
      .as[(Long, Long, Long, Long)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
    val cap = maxGroupRows
    in.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (u, rows) =>
        val iv = boundedGroupArray("activitySelection", u,
          rows.map(r => (r._3, r._2, r._4)), cap).sortInPlace()
        var cnt = 0L
        var lastEnd = Long.MinValue
        iv.foreach { case (e, s, _) =>
          if (s >= lastEnd) { cnt += 1; lastEnd = e }
        }
        ActSelRow(u, iv.length.toLong, cnt,
          if (cnt == 0) 0L else lastEnd)
      }(Encoders.product[ActSelRow])
      .toDF()
  }

  private[streaming] case class WisRow(u: Long, n_intervals: Long,
      best_value: Long)

  /** Weighted interval scheduling per key — the VALUE-optimal sibling of
    * [[activitySelection]] (whose greedy maximizes the COUNT and is not
    * optimal under weights): classic DP over end-sorted intervals,
    * dp(i) = max(dp(i−1), vᵢ + dp(p(i))) with p(i) = the last interval
    * finishing by start(i) (touching compatible), found by binary search
    * over the processed end list. Exact integer values; bounded-key
    * fold. The oracle replays the DP as a recursive CTE carrying the
    * end list and the dp table as two BIGINT lists — the same
    * list-state discipline as q359/q363.
    */
  def weightedIntervalSchedule(intervals: DataFrame, key: Column,
      start: Column, end: Column, id: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.Encoders
    val in = intervals.select(key.cast("long").alias("u"),
        start.cast("long").alias("s"), end.cast("long").alias("e"),
        id.cast("long").alias("i"), value.cast("long").alias("v"))
      .as[(Long, Long, Long, Long, Long)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong))
    val cap = maxGroupRows
    in.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (u, rows) =>
        val iv = boundedGroupArray("weightedIntervalSchedule", u,
          rows.map(r => (r._3, r._2, r._4, r._5)), cap).sortInPlace()
        val n = iv.length
        val ends = new Array[Long](n)
        val dp = new Array[Long](n + 1)
        var i = 0
        while (i < n) {
          val (e, s, _, v) = iv(i)
          // #processed intervals with end <= s (ends sorted non-decr.)
          var lo = 0; var hi = i
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (ends(mid) <= s) lo = mid + 1 else hi = mid
          }
          dp(i + 1) = math.max(dp(i), v + dp(lo))
          ends(i) = e
          i += 1
        }
        WisRow(u, n.toLong, dp(n))
      }(Encoders.product[WisRow])
      .toDF()
  }

  private[streaming] case class DtwRow(u: Long, l1: Long, dtw: Long)

  /** Dynamic-time-warping distance between two equal-length integer
    * series per row — the phase-shift-tolerant profile comparison: a
    * user whose activity pattern merely SHIFTED two hours has a large
    * L1 distance but a small DTW, so (l1, dtw) together separate
    * "changed shape" from "changed phase" (Sakoe-Chiba's original DP,
    * full window, |a_i − b_j| cost). Both distances exact longs.
    *
    * Input: (key, a ARRAY<LONG>, b ARRAY<LONG>), arrays the same
    * bounded length n (the caller builds dense profiles; n ≤ 64
    * enforced — the O(n²) DP is a per-ROW kernel, not a scan cost).
    * Scale shape: a typed row-local map — NO shuffle, no state; the
    * oracle replays the DP cell-by-cell as a systolic recursive CTE
    * carrying the last n+1 anti-diagonal values.
    */
  def dtwDistance(df: DataFrame, key: Column, a: Column,
      b: Column): DataFrame = {
    import org.apache.spark.sql.Encoders
    val spark0 = df.sparkSession
    import spark0.implicits._
    val in = df.select(key.cast("long").alias("u"), a.alias("a"), b.alias("b"))
      .as[(Long, Seq[Long], Seq[Long])]
    in.map { case (u, sa, sb) =>
      val n = sa.length
      require(n == sb.length && n >= 1 && n <= 64,
        s"series must be equal bounded length, got ${sa.length}/${sb.length}")
      val av = sa.toArray; val bv = sb.toArray
      val l1 = av.indices.map(i => math.abs(av(i) - bv(i))).sum
      var prev = new Array[Long](n) // dp row i-1
      var cur = new Array[Long](n)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          val cost = math.abs(av(i) - bv(j))
          val best =
            if (i == 0 && j == 0) 0L
            else if (i == 0) cur(j - 1)
            else if (j == 0) prev(j)
            else math.min(math.min(prev(j), prev(j - 1)), cur(j - 1))
          cur(j) = cost + best
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      DtwRow(u, l1, prev(n - 1))
    }(Encoders.product[DtwRow])
      .toDF()
  }

  private[streaming] case class LisRow(u: Long, n: Long, lis_len: Long,
      lds_len: Long)

  /** Longest strictly-increasing and strictly-decreasing subsequence
    * lengths per key over the (ts, id)-ordered value stream — patience
    * sorting (the Mallows solitaire bound / Aldous-Diaconis): one pass,
    * a sorted pile-top array per direction, each element binary-searching
    * the first top ≥ x (resp. ≤ x) to replace, appending when none. The
    * trend-persistence probe of monitoring: a long LIS in a latency
    * series is sustained drift upward, where lag-k autocorrelation
    * (q-series) only sees local structure. O(n log n) per key.
    *
    * Scale shape: bounded-key contract (the [[epsilonGreedyReplay]]
    * discipline — one key's events fit one task, keys scale out). The
    * oracle replays the IDENTICAL pile-top state as a recursive CTE
    * carrying two BIGINT lists, so the algorithm itself is what gets
    * cross-engine verified, not just the answer.
    */
  def lisLengths(events: DataFrame, key: Column, ts: Column, id: Column,
      value: Column): DataFrame = {
    import org.apache.spark.sql.Encoders
    val in = events.select(key.cast("long").alias("u"),
        unix_micros(ts).alias("tus"), id.cast("long").alias("i"),
        (value.cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
          .cast("long").alias("x"))
      .as[(Long, Long, Long, Long)](Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
    val cap = maxGroupRows
    in.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroups { (u, rows) =>
        val xs = boundedGroupArray("lisLengths", u,
          rows.map(r => (r._2, r._3, r._4)), cap).sortInPlace()
          .map(_._3)
        // first index in [0, size) with !pred(tops(idx)); tops kept sorted
        def lowerBound(tops: scala.collection.mutable.ArrayBuffer[Long],
            pred: Long => Boolean): Int = {
          var lo = 0; var hi = tops.size
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (pred(tops(mid))) lo = mid + 1 else hi = mid
          }
          lo
        }
        val inc = scala.collection.mutable.ArrayBuffer.empty[Long]
        val dec = scala.collection.mutable.ArrayBuffer.empty[Long]
        xs.foreach { x =>
          val ci = lowerBound(inc, _ < x) // first top >= x
          if (ci == inc.size) inc += x else inc(ci) = x
          val di = lowerBound(dec, _ > x) // first top <= x
          if (di == dec.size) dec += x else dec(di) = x
        }
        LisRow(u, xs.length.toLong, inc.size.toLong, dec.size.toLong)
      }(Encoders.product[LisRow])
      .toDF()
  }

  /** Exact Shapley attribution of unit coverage to event types (the
    * cooperative "coverage game" of data valuation, Shapley 1953 /
    * Ghorbani-Zou Data Shapley framing): player i = one event type,
    * v(S) = number of distinct units that fired at least one event whose
    * type is in S, and each player's payout is its exact Shapley value
    * phi_i = sum over coalitions S not containing i of
    * |S|!(k-1-|S|)! / k! * (v(S u {i}) - v(S)). Returned scaled by k!
    * (`shapley_xkfact`) so every number is an exact BIGINT — no
    * factorial division, no floats; sum(shapley_xkfact) = k! * v(full)
    * (the efficiency axiom, asserted in the spec).
    *
    * Scale shape: the ONLY data-sized shuffle is the per-unit bitmask
    * groupBy (map-side combined `bit_or`); masks then collapse to at
    * most 2^k rows, and the whole coalition lattice (2^k x 2^k cells,
    * k <= 12 enforced) is tiny broadcast-join algebra — v(S) via a
    * mask x coalition containment join, marginals via two self-joins of
    * the 2^k-row v frame. No driver math, no collect.
    */
  def shapleyCoverage(events: DataFrame, unit: Column, typ: Column,
      players: Seq[String]): DataFrame = {
    require(players.nonEmpty && players.distinct.size == players.size,
      "players must be distinct and non-empty")
    require(players.size <= 12, s"coalition lattice is 2^k; k=${players.size} > 12")
    val spark = events.sparkSession
    import spark.implicits._
    val k = players.size
    def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
    val pl = players.zipWithIndex.toDF("player", "pi")
    // one real shuffle: unit -> OR of player bits (partial-agg combines)
    val masks = events.select(unit.alias("u"), typ.cast("string").alias("t"))
      .join(broadcast(pl), $"t" === $"player")
      .groupBy($"u")
      .agg(bit_or(expr("shiftleft(1L, pi)")).alias("mask"))
      .groupBy($"mask").agg(count(lit(1)).alias("n"))
    val coal = spark.range(1L << k).toDF("s")
    // v(S) = units whose mask intersects S; S=0 and uncovered S get 0
    val v = coal.join(broadcast(masks), ($"s".bitwiseAND($"mask")) =!= 0L, "left")
      .groupBy($"s").agg(coalesce(sum($"n"), lit(0L)).alias("v"))
    val w = (0 until k).map(s => (s, fact(s) * fact(k - 1 - s)))
      .toDF("sz", "w")
    val pairs = pl.crossJoin(v.select($"s", $"v".alias("v0")))
      .where(expr("shiftright(s, pi)").bitwiseAND(lit(1L)) === 0L)
      .join(broadcast(w), bit_count($"s") === $"sz")
      .join(v.select($"s".alias("s1"), $"v".alias("v1")),
        $"s".bitwiseOR(expr("shiftleft(1L, pi)")) === $"s1")
    val solo = v.select($"s".alias("sb"), $"v".alias("v_solo"))
    pairs.groupBy($"pi", $"player")
      .agg(sum($"w" * ($"v1" - $"v0")).alias("shapley_xkfact"))
      .join(broadcast(solo), expr("shiftleft(1L, pi)") === $"sb")
      .select($"pi".cast("long").alias("player_idx"), $"player",
        $"v_solo", $"shapley_xkfact")
  }

  /** Gap-bounded temporal co-occurrence: count ordered event-type pairs
    * (a then b, 0 < Δt <= gapUs) within each user's stream, plus each
    * pair's share of all pairs STARTING at type a (floor ppm) — the
    * "what follows what, soon" matrix. q227's Markov transitions see
    * only adjacent events; this sees every pair inside the gap, the
    * difference between "next click" and "within the session".
    *
    * Scale shape — the interval-join discipline, not a per-user theta
    * join: the LEFT event probes its own time bucket and the next
    * (bucket width = gapUs, explode ×2), the RIGHT event sits in exactly
    * one bucket, so candidates come from an EQUI-join on (user, bucket)
    * and each true pair is found exactly once; the Δt filter runs on
    * candidates. Pair counting is one partial-agg groupBy; totals
    * broadcast back.
    */
  def temporalPairs(events: DataFrame, user: Column, ts: Column,
      typ: Column, gapUs: Long): DataFrame = {
    require(gapUs >= 1, s"gapUs must be positive, got $gapUs")
    val base = events.select(user.alias("u"), unix_micros(ts).alias("tus"),
      typ.alias("t"))
    val left = base
      .withColumn("bkt", explode(array(expr(s"tus DIV ${gapUs}L"),
        expr(s"tus DIV ${gapUs}L") + 1L)))
      .select(col("u"), col("bkt"), col("tus").alias("ta_us"),
        col("t").alias("type_a"))
    val right = base
      .select(col("u"), expr(s"tus DIV ${gapUs}L").alias("bkt"),
        col("tus").alias("tb_us"), col("t").alias("type_b"))
    val pairs = left.join(right, Seq("u", "bkt"))
      .filter(col("tb_us") > col("ta_us") &&
        col("tb_us") - col("ta_us") <= gapUs)
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).alias("n_pairs"))
    val totals = pairs.groupBy(col("type_a"))
      .agg(sum(col("n_pairs")).alias("n_from_a"))
    pairs.join(broadcast(totals), Seq("type_a"))
      .withColumn("share_ppm", expr("(n_pairs * 1000000L) DIV n_from_a"))
      .select(col("type_a"), col("type_b"), col("n_pairs"), col("n_from_a"),
        col("share_ppm"))
  }

  /** Holt linear (double-exponential) smoothing replayed exactly over a
    * per-key daily series: `l_t = ⌊(α·y_t + (1M−α)·(l_{t−1}+b_{t−1}))/1M⌋`,
    * `b_t = ⌊(β·(l_t−l_{t−1}) + (1M−β)·b_{t−1})/1M⌋` with α, β in ppm and
    * truncation-toward-zero division (BigInt intermediates — no float
    * drift, no overflow), seeded `l_1 = y_1, b_1 = 0`. `forecast` is the
    * one-step-ahead `l_t + b_t` — the trend-aware baseline [[
    * seasonalNaiveBacktest]]'s flat predictor can't give. Values must be
    * exact integers (micros); the whole recurrence replays in a recursive
    * CTE, which is q336's oracle.
    *
    * Scale shape: the daily pre-agg is one partial-agg groupBy; the fold
    * itself is a bounded-group mapGroups (days per key — panel length,
    * thousands at most), the [[tokenBucketAdmission]] contract: state is
    * O(1) per key, output one row per observation, keys distribute.
    */
  def holtLinear(events: DataFrame, key: Column, ts: Column, value: Column,
      alphaPpm: Long, betaPpm: Long): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm <= 1000000 && betaPpm >= 0 && betaPpm <= 1000000,
      s"alpha/beta must be ppm in [0, 1000000], got ($alphaPpm, $betaPpm)")
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .groupBy(key.cast("string").alias("k"),
        date_trunc("day", ts).alias("day"))
      .agg((sum(value.cast(org.apache.spark.sql.types.DecimalType(18, 6))) * 1000000)
        .cast("long").alias("y"))
      .select(col("k"), unix_micros(col("day")).alias("dus"), col("y"))
    def tdiv(n: BigInt): Long = (n / 1000000).toLong // BigInt / truncates toward zero
    val cap = maxGroupRows
    daily.as[(String, Long, Long)](
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroups { (k, rows) =>
        val obs = boundedGroupArray("holtLinear", k,
          rows.map(r => (r._2, r._3)), cap).sortInPlace()
        val out = new Array[HoltRow](obs.length)
        var l = 0L; var b = 0L
        var i = 0
        while (i < obs.length) {
          val y = obs(i)._2
          if (i == 0) { l = y; b = 0L }
          else {
            val pl = l
            l = tdiv(BigInt(alphaPpm) * y + BigInt(1000000 - alphaPpm) * (pl + b))
            b = tdiv(BigInt(betaPpm) * (l - pl) + BigInt(1000000 - betaPpm) * b)
          }
          out(i) = HoltRow(k, i + 1L, y, l, b, l + b)
          i += 1
        }
        out.iterator
      }(Encoders.product[HoltRow])
      .toDF()
  }

  /** Token-bucket admission control replayed over an event log: per key,
    * a bucket starts at `capacity` millitokens, refills at
    * `refillPerHour` millitokens/hour (computed in exact integer
    * microseconds: `dt_us * refillPerHour / 3_600_000_000`, floor), and
    * each event is admitted iff `cost` tokens are available (admitted
    * events deduct, rejected ones don't). Emits one row per event with
    * the bucket state around it — the offline harness for tuning a rate
    * limiter against real traffic before deploying it.
    *
    * The fold is non-linear (the `min(capacity, …)` clamp), so no
    * window/aggregate form exists — this is the bounded-group
    * `groupByKey.mapGroups` contract ([[graft.operators.Relational.groupGapStats]]):
    * one shuffle on the key, each key's (bounded) event list sorted and
    * walked on its executor. Event order is (ts, event_id) — same-ts ties
    * deterministic. All arithmetic is 64-bit integer: dt_us ≤ 3e12 times
    * refill rates up to ~1e6/h stay far inside Long.
    */
  def tokenBucketAdmission(events: DataFrame, key: Column, ts: Column,
      id: Column, capacity: Long, cost: Long, refillPerHour: Long): DataFrame = {
    require(capacity >= cost && cost > 0 && refillPerHour >= 0,
      s"need capacity >= cost > 0 and refill >= 0, got ($capacity, $cost, $refillPerHour)")
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    val cap = maxGroupRows
    events.select(key.cast("long").alias("k"), unix_micros(ts).alias("tus"),
        id.cast("long").alias("i"))
      .as[(Long, Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroups { (k, rows) =>
        val evs = boundedGroupArray("tokenBucketAdmission", k,
          rows.map(r => (r._2, r._3)), cap).sortInPlace()
        val out = new Array[TokenBucketRow](evs.length)
        var tokens = capacity
        var prevUs = 0L
        var i = 0
        while (i < evs.length) {
          val (tus, id) = evs(i)
          val before =
            if (i == 0) capacity
            else {
              val refill = (tus - prevUs) * refillPerHour / 3600000000L
              val t = tokens + refill
              if (t > capacity) capacity else t
            }
          val admit = before >= cost
          tokens = if (admit) before - cost else before
          out(i) = TokenBucketRow(k, id, i + 1L, before, if (admit) 1L else 0L, tokens)
          prevUs = tus
          i += 1
        }
        out.iterator
      }(Encoders.product[TokenBucketRow])
      .toDF()
  }

  /** Streaming near-dup INGESTION: drain a parquet directory one file per
    * micro-batch (`maxFilesPerTrigger = 1`, file order = modification
    * time), checking each batch against the accumulated MinHash-LSH index
    * of EVERY previously seen doc via
    * [[graft.operators.Dedup.incrementalLshDedup]], then appending the
    * whole batch's bands to the index.
    *
    * Invariant this construction buys (and q114's oracle pins): because
    * the index holds every prior doc — not just survivors — and ids are
    * globally unique, the drained result is INDEPENDENT of how the corpus
    * was cut into batches: a doc is dropped iff some smaller-id doc
    * anywhere in the corpus is a near-dup (exact Jaccard >= threshold on
    * LSH candidates), with dup_of the smallest such id. Ingesting in 1
    * batch or 100 gives byte-identical output — the property that makes
    * incremental ingestion trustworthy.
    *
    * Scale shape: per batch, only the batch is shingled; the index is
    * per-doc narrow state (shingle hashes + 32 band keys). This smoke
    * runner accumulates the index as unioned in-memory frames; a
    * production pipeline writes it to a bucketed table
    * ([[graft.Engine.writeBucketed]] on bucket) and unions at read.
    */
  def runLshIngestSmoke(spark: SparkSession, parquetDir: String,
      idName: String, textName: String, threshold: Double = 0.8): DataFrame = {
    import graft.operators.Dedup
    val schema = Engine.parquetSchema(spark, parquetDir)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(parquetDir)
    val results = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var outSchema: org.apache.spark.sql.types.StructType = null
    var index: DataFrame = null
    val lock = new Object
    val q = src.writeStream
      .outputMode("append")
      .option("checkpointLocation", freshDir("lsh_ingest"))
      .foreachBatch { (batch: DataFrame, _: Long) => lock.synchronized {
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val idx =
          if (index != null) index
          else Dedup.lshIndex(b.limit(0), col(idName), col(textName))
        val out = Dedup.incrementalLshDedup(b, col(idName), col(textName),
          idx, threshold = threshold)
        val got = out.collect()
        if (outSchema == null) outSchema = out.schema
        results ++= got
        val newIdx = Dedup.lshIndex(b, col(idName), col(textName))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        newIdx.count() // materialize before the batch cache is released
        index = if (index == null) newIdx else index.union(newIdx)
        b.unpersist()
        ()
      } }
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = java.util.Arrays.asList(results.toSeq: _*)
    spark.createDataFrame(rows, outSchema)
  }

  /** Cross-correlation function between two aligned integer series at lags
    * 0..maxLag — "does y follow x, and by how much?" (conversion lag, cache
    * warm-up, leading indicators). Input: one row per time bucket with both
    * series' values; for each lag the pairs are (x_t, y_{t+lag}) over the
    * buckets where both exist. Pearson r is irrational, so the output is
    * the EXACT signed r² in ppm: with num = nΣxy−ΣxΣy, dx = nΣx²−(Σx)²,
    * dy = nΣy²−(Σy)², r2_signed_ppm = sign(num)·⌊num²·10⁶/(dx·dy)⌋ —
    * DECIMAL(38,0) sufficient statistics, one floor, NULL on a constant
    * side. Magnitude: num²·10⁶ must fit 38 digits (|num| ≲ 10¹⁵ — counts
    * and micros-scaled bucket sums leave headroom).
    *
    * Scale shape: the x side is exploded (maxLag+1)× and equi-joined on
    * the shifted bucket key — a bounded fan-out feeding one partial-agg
    * groupBy per lag; no window, no driver state.
    */
  def crossCorrelation(df: DataFrame, time: Column, x: Column, y: Column,
      maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(time.cast("long").alias("tt"),
      x.cast("long").alias("x"), y.cast("long").alias("y"))
    val a = base.select(col("tt"), col("x"))
      .withColumn("lag", explode(sequence(lit(0), lit(maxLag))))
    val b = base.select(col("tt").alias("tb"), col("y"))
    a.join(b, col("tb") === col("tt") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast(d).alias("n"),
        sum(col("x").cast(d)).alias("sx"), sum(col("y").cast(d)).alias("sy"),
        sum((col("x") * col("y")).cast(d)).alias("sxy"),
        sum((col("x") * col("x")).cast(d)).alias("sxx"),
        sum((col("y") * col("y")).cast(d)).alias("syy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("dx", expr("n * sxx - sx * sx"))
      .withColumn("dy", expr("n * syy - sy * sy"))
      .select(col("lag").cast("long").alias("lag"),
        col("n").cast("long").alias("n"),
        expr("""CASE WHEN dx = 0 OR dy = 0 THEN NULL
                WHEN num >= 0 THEN CAST((num * num * 1000000) DIV (dx * dy) AS BIGINT)
                ELSE -CAST((num * num * 1000000) DIV (dx * dy) AS BIGINT) END""")
          .alias("r2_signed_ppm"))
  }

  private[streaming] case class BurstRow(k: String, n_days: Long,
      base_rate: Long, burst_rate: Long, min_cost: Long, burst_days: Long)

  /** Two-state burst detection per key — Kleinberg's burst automaton with
    * an INTEGER L1 objective so the optimum is exact: states base/burst
    * with rates (median, burstMult·median) of the key's own counts,
    * emission cost |yₜ − rate|, switch penalty λ = median, solved by
    * Viterbi. Ties between equal-cost paths resolve to the FEWEST burst
    * days (lexicographic (cost, burstDays) DP — both components are
    * additive along paths, so the lexicographic min is itself a valid
    * DP). Returns (k, n_days, base_rate, burst_rate, min_cost,
    * burst_days); no backtrack pass is needed because the day count
    * rides the DP state.
    *
    * Scale shape: bounded per-key fold over the (key, day)-aggregated
    * series — days per key bound the state, not raw events.
    */
  def burstViterbi(df: DataFrame, key: Column, time: Column, value: Column,
      burstMult: Long = 3L): DataFrame = {
    require(burstMult >= 2, s"burstMult must be >= 2, got $burstMult")
    import org.apache.spark.sql.Encoders
    val cap = maxGroupRows
    df.select(key.cast("string").alias("k"), time.cast("long").alias("t"),
        value.cast("long").alias("y"))
      .as[(String, Long, Long)](Encoders.tuple(Encoders.STRING,
        Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (k, rows) =>
        val obs = boundedGroupArray("burstViterbi", k,
          rows.map(r => (r._2, r._3)), cap).sortInPlace()
        val n = obs.length
        val med = obs.map(_._2).sorted.apply((n - 1) / 2) // lower median
        val r1 = burstMult * med
        val lam = med
        // lexicographic (cost, burstDays) min
        def lexMin(a: (Long, Long), b: (Long, Long)): (Long, Long) =
          if (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
        var s0 = (math.abs(obs(0)._2 - med), 0L)
        var s1 = (math.abs(obs(0)._2 - r1), 1L)
        var i = 1
        while (i < n) {
          val y = obs(i)._2
          val b0 = lexMin(s0, (s1._1 + lam, s1._2))
          val b1 = lexMin(s1, (s0._1 + lam, s0._2))
          s0 = (math.abs(y - med) + b0._1, b0._2)
          s1 = (math.abs(y - r1) + b1._1, b1._2 + 1L)
          i += 1
        }
        val best = lexMin(s0, s1)
        BurstRow(k, n.toLong, med, r1, best._1, best._2)
      }(Encoders.product[BurstRow])
      .toDF()
  }

  /** Materialize the final snapshot of an ordered CDC changelog: per key
    * the LAST change wins — upsert semantics (I and U both set the
    * payload, a later U resurrects a deleted key), keys whose final
    * operation is a delete drop out. Emits the surviving rows with audit
    * counts (total changes, deletes seen).
    *
    * Scale shape: argmax-by-sequence INSIDE the aggregate
    * (max(struct(order..., op, payload)) with map-side combine) — one
    * partial-agg groupBy, no window, no per-key sort. `order` must
    * totally order changes within a key.
    */
  def cdcApply(changes: DataFrame, key: Column, order: Seq[Column],
      op: Column, payload: Column): DataFrame = {
    val oc = order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }
    val base = changes.select((Seq(key.alias("k"), op.alias("op"),
      payload.cast("long").alias("v")) ++ oc): _*)
    base.groupBy(col("k"))
      .agg(max(struct((oc.indices.map(i => col(s"__o$i")) ++
          Seq(col("op").alias("op"), col("v").alias("v"))): _*))
          .alias("last"),
        count(lit(1)).alias("n_changes"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).alias("n_deletes"))
      .filter(col("last.op") =!= "D")
      .select(col("k"), col("last.v").alias("value"), col("n_changes"),
        col("n_deletes"))
  }

  private[streaming] case class HwRow(k: String, n: Long, level: Long,
      trend: Long, f1: Long, f2: Long, f3: Long)

  /** Additive Holt–Winters (level + trend + seasonal) per key over an
    * integer series, ppm smoothing weights, truncation-toward-zero at
    * every step (BigInt intermediates; the oracle replays with sign-split
    * floor division) — [[holtLinear]] plus the seasonal component:
    *
    *   L_t = ⌈α(y_t − S_{t−p}) + (1−α)(L_{t−1} + T_{t−1})⌉₀
    *   T_t = ⌈β(L_t − L_{t−1}) + (1−β)T_{t−1}⌉₀
    *   S_t = ⌈γ(y_t − L_t) + (1−γ)S_{t−p}⌉₀
    *
    * initialized from the first `period` observations (L = their
    * truncated mean, T = 0, S_i = y_i − L). The seasonal state is a
    * CIRCULAR QUEUE — each step consumes the head and appends the
    * update, so no positional indexing exists to disagree on. Returns
    * one row per key with ≥ period observations: final level/trend and
    * the h = 1..3 forecasts L + h·T + S_(h).
    *
    * Scale shape: the fold sees the (key, time)-aggregated series, never
    * raw rows; keys fold independently in mapGroups.
    */
  def holtWinters(df: DataFrame, key: Column, time: Column, value: Column,
      period: Int, alphaPpm: Long, betaPpm: Long,
      gammaPpm: Long): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    Seq(alphaPpm, betaPpm, gammaPpm).foreach(p =>
      require(p >= 0 && p <= 1000000, s"ppm weight out of range: $p"))
    import org.apache.spark.sql.Encoders
    def tdiv(x: BigInt): Long = (x / 1000000).toLong // truncates toward 0
    val cap = maxGroupRows
    df.select(key.cast("string").alias("k"), time.cast("long").alias("t"),
        value.cast("long").alias("y"))
      .as[(String, Long, Long)](Encoders.tuple(Encoders.STRING,
        Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroups { (k, rows) =>
        val obs = boundedGroupArray("holtWinters", k,
          rows.map(r => (r._2, r._3)), cap).sortInPlace()
        val n = obs.length
        if (n < period) Iterator.empty
        else {
          var init = 0L
          obs.take(period).foreach(o => init += o._2)
          var l = if (init >= 0) init / period else -((-init) / period)
          var tr = 0L
          val s = scala.collection.mutable.Queue.empty[Long]
          obs.take(period).foreach(o => s.enqueue(o._2 - l))
          var i = period
          while (i < n) {
            val y = obs(i)._2
            val sOld = s.dequeue()
            val pl = l
            l = tdiv(BigInt(alphaPpm) * (y - sOld) +
              BigInt(1000000 - alphaPpm) * (pl + tr))
            tr = tdiv(BigInt(betaPpm) * (l - pl) +
              BigInt(1000000 - betaPpm) * tr)
            s.enqueue(tdiv(BigInt(gammaPpm) * (y - l) +
              BigInt(1000000 - gammaPpm) * sOld))
            i += 1
          }
          val sa = s.toArray
          Iterator.single(HwRow(k, n.toLong, l, tr,
            l + tr + sa(0), l + 2 * tr + sa(1 % period),
            l + 3 * tr + sa(2 % period)))
        }
      }(Encoders.product[HwRow])
      .toDF()
  }

  /** Sequential-pattern (GSP-style) support of ordered type triples: a
    * unit supports pattern a→b→c when it has events of those kinds at
    * STRICTLY increasing times t₁ < t₂ < t₃. Exact via the extremes
    * identity — the subsequence exists iff some b-event falls strictly
    * between the unit's FIRST a-event and LAST c-event — so support needs
    * no triple self-join: per-unit (kind, min, max) extremes, one bounded
    * fan-out join over the middle events, distinct, count. Returns
    * (a, b, c, support, support_ppm) over the distinct-unit total.
    *
    * Scale shape: extremes are a partial-agg groupBy (units × kinds);
    * the middle-event join fans each event by kinds² (bounded — pattern
    * mining over a SMALL kind alphabet); the distinct shuffles at most
    * kinds³ rows per unit.
    */
  def seqPatternSupport(events: DataFrame, unit: Column, kind: Column,
      time: Column): DataFrame = {
    // NOT spread (A/B-rejected, r13): the extremes-join fan-out does run
    // fused into a 1-task scan on a single-split event table (one 1.94 s
    // stage, 100k -> 187k rows), but spreading this SHARED base made the
    // plan worse, not better — the keyless exchange is re-executed per
    // consumer (three identical scan+write stages; the r12-documented
    // reuse failure) and the extremes join lost its broadcast shape,
    // shuffling 1.78M pre-distinct rows instead of joining 187k against
    // a broadcast. The fused 1-task expansion is the cheaper evil here.
    val base = events.select(unit.alias("u"), kind.alias("ty"),
      time.cast("long").alias("tm"))
    val ext = base.groupBy(col("u"), col("ty"))
      .agg(min(col("tm")).alias("fmin"), max(col("tm")).alias("lmax"))
    val supp = base.select(col("u"), col("ty").alias("b"), col("tm"))
      .join(ext.select(col("u").alias("ua"), col("ty").alias("a"),
        col("fmin")), col("u") === col("ua") && col("fmin") < col("tm"))
      .join(ext.select(col("u").alias("uc"), col("ty").alias("c"),
        col("lmax")), col("u") === col("uc") && col("tm") < col("lmax"))
      .select(col("u"), col("a"), col("b"), col("c")).distinct()
    val total = base.select(col("u")).distinct()
      .agg(count(lit(1)).alias("nu"))
    supp.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).alias("support"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c"), col("support"),
        expr("(support * 1000000) DIV nu").alias("support_ppm"))
  }

  /** Classical additive seasonal decomposition per key, integer-exact:
    * over a time grid `t` (consecutive integers; gaps simply shorten the
    * windows they fall in) with non-negative integer `v`,
    *
    *   trend(t)    = ⌊Σ v over t±halfWin / period⌋   (only where the
    *                 window is FULL — the standard edge-NA convention)
    *   detrended   = v − trend
    *   seasonal(p) = sign-split ⌊mean of detrended at phase p = t mod period⌋
    *   residual    = detrended − seasonal
    *
    * period must equal 2·halfWin + 1 (centered window = one full cycle,
    * the classical moving-average decomposition). Emits only rows with a
    * defined trend. Sign-split floors keep Spark's DIV (truncation) and
    * an oracle's floor division in agreement on negative detrended sums.
    *
    * Scale shape: one partitioned range window per key + one phase
    * groupBy — no global windows, no driver state.
    */
  def seasonalDecompose(df: DataFrame, key: Column, time: Column,
      value: Column, period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd >= 3 (centered window), got $period")
    val half = period / 2
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"))
      .rangeBetween(-half, half)
    val t2 = df.select(key.alias("k"), time.cast("long").alias("t"),
        value.cast("long").alias("v"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("v")).over(w))
      .filter(col("__n") === period)
      .withColumn("trend", expr(s"__s DIV $period"))
      .withColumn("detr", col("v") - col("trend"))
    val seas = t2.groupBy(col("k"), (col("t") % period).alias("phase"))
      .agg(sum(col("detr")).alias("sd"), count(lit(1)).alias("nd"))
      .select(col("k").alias("__k"), col("phase"),
        expr("""CASE WHEN sd >= 0 THEN sd DIV nd
                ELSE -((-sd) DIV nd) END""").alias("seasonal"))
    t2.join(seas, t2("k") === seas("__k") &&
        (t2("t") % period) === seas("phase"))
      .select(col("k"), col("t"), col("v"), col("trend"),
        col("seasonal"), (col("detr") - col("seasonal")).alias("residual"))
  }

  /** Wald–Wolfowitz runs test per key: values ordered by `order` are
    * signed against their key's EXACT lower median (ties AT the median
    * are dropped — the standard convention), and the run count is
    * 1 + the number of sign changes. Returns (k, n_above, n_below, runs,
    * expected_runs_ppm) with E[R] = 1 + 2·n₁n₂/(n₁+n₂) as a ppm floor —
    * the randomness diagnostic for residual/arrival sequences.
    *
    * Scale shape: median via one partitioned rank window, sign changes
    * via a partitioned lag — everything keyed, one groupBy at the end.
    */
  def runsTest(df: DataFrame, key: Column, order: Seq[Column],
      value: Column): DataFrame = {
    val oc = order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }
    val ocols = oc.indices.map(i => col(s"__o$i"))
    val base = df.select((Seq(key.alias("k"),
      value.cast("long").alias("v")) ++ oc): _*)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("v"))
    val wK = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val med = base
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wK))
      // (n + 1) DIV 2 — column `/` is double division and would miss the
      // row entirely for even n
      .filter(col("rn") === expr("(n + 1) DIV 2"))
      .select(col("k").alias("__k"), col("v").alias("med"))
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(ocols: _*)
    base.join(med, col("k") === col("__k"))
      .filter(col("v") =!= col("med"))
      .withColumn("sgn", when(col("v") > col("med"), 1).otherwise(-1))
      .withColumn("chg",
        when(lag(col("sgn"), 1).over(wSeq).isNull, 1L)
          .when(lag(col("sgn"), 1).over(wSeq) =!= col("sgn"), 1L)
          .otherwise(0L))
      .groupBy(col("k"))
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).alias("n_above"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).alias("n_below"),
        sum(col("chg")).alias("runs"))
      .select(col("k"), col("n_above"), col("n_below"), col("runs"),
        expr("""1000000 + (2000000 * n_above * n_below)
                DIV (n_above + n_below)""").alias("expected_runs_ppm"))
  }

  /** Pettitt changepoint test per key, integer-exact via doubled
    * midranks: with R2ᵢ = 2·midrank(vᵢ) (an integer even under ties),
    * the doubled Mann–Whitney-style statistic at each split t is
    *
    *   U2(t) = Σ_{i≤t} (2·R2ᵢ − 2(N+1))
    *
    * and the test reports K = max |U2(t)| over t = 1..N−1 with the
    * FIRST attaining step — the standard nonparametric single-
    * changepoint location. Returns (k, n, k_stat, t_star_step,
    * t_star).
    *
    * Scale shape: midranks from two partitioned rank windows, the
    * cumulative sum from a partitioned running window, argmax resolved
    * inside a min(struct) aggregate — all keyed.
    */
  def pettittChangepoint(df: DataFrame, key: Column, order: Seq[Column],
      value: Column): DataFrame = {
    val oc = order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }
    val ocols = oc.indices.map(i => col(s"__o$i"))
    val base = df.select((Seq(key.alias("k"),
      value.cast("long").alias("v")) ++ oc): _*)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("v"))
    val wK = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(ocols: _*)
    val wCum = wSeq.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base
      // R2 = rank_min + rank_max = 2*RANK + ties - 1: both from one sort
      .withColumn("rmin", rank().over(wRank))
      .withColumn("ties", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("k"), col("v"))))
      .withColumn("r2", lit(2L) * col("rmin") + col("ties") - 1L)
      .withColumn("n", count(lit(1)).over(wK))
      .withColumn("u2", sum(lit(2L) * col("r2") - (col("n") + 1L) * 2L)
        .over(wCum))
      .withColumn("step", row_number().over(wSeq).cast("long"))
      .filter(col("step") < col("n")) // splits at t = 1..N-1
      .groupBy(col("k"))
      .agg(max(col("n")).alias("n"),
        min(struct(negate(abs(col("u2"))).alias("nk"),
          col("step").alias("st"), col("u2").alias("u"))).alias("m"))
      .select(col("k"), col("n"),
        abs(col("m").getField("u")).alias("k_stat"),
        col("m").getField("st").alias("t_star_step"),
        col("m").getField("u").alias("u2_at_star"))
  }

  /** SAX-lite motif discovery per key: each observation is symbolized
    * into its within-key value QUARTILE (rank-based — no Gaussian
    * breakpoints, so exact and distribution-free), consecutive symbols
    * form 3-gram motifs, and the key's most frequent motif wins (ties →
    * lexicographically smallest). Rank ties break by the order columns,
    * making the symbolization total. Returns (k, n_obs, top_motif,
    * motif_count).
    *
    * Scale shape: one rank window + two lead windows + two partial-agg
    * groupBys, all keyed.
    */
  def quartileMotifs(df: DataFrame, key: Column, order: Seq[Column],
      value: Column): DataFrame = {
    val oc = order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }
    val ocols = oc.indices.map(i => col(s"__o$i"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy((col("v") +: ocols): _*)
    val wK = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(ocols: _*)
    df.select((Seq(key.alias("k"), value.cast("long").alias("v")) ++ oc): _*)
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wK))
      .withColumn("sym", expr("((rnk - 1) * 4) DIV n + 1"))
      .withColumn("s1", lead(col("sym"), 1).over(wSeq))
      .withColumn("s2", lead(col("sym"), 2).over(wSeq))
      .filter(col("s2").isNotNull) // concat_ws would silently shorten
      .withColumn("motif",
        concat_ws("-", col("sym"), col("s1"), col("s2")))
      .groupBy(col("k"), col("motif"))
      .agg(count(lit(1)).alias("cnt"), max(col("n")).alias("n_obs"))
      .groupBy(col("k"))
      .agg(max(col("n_obs")).alias("n_obs"),
        min(struct(negate(col("cnt")).alias("nc"),
          col("motif").alias("m"))).alias("top"))
      .select(col("k"), col("n_obs"),
        col("top").getField("m").alias("top_motif"),
        negate(col("top").getField("nc")).alias("motif_count"))
  }

  /** Per-key maximum-sum contiguous run (best streak) of a signed integer
    * flow — Kadane's DP expressed ENTIRELY as windows, no fold: with
    * prefix sums Pₜ, the best nonempty run ending at t is
    * Pₜ − min(0, min_{j<t} Pⱼ), and the answer is its max with the
    * FIRST attaining step (min(struct) argmax, deterministic). All-
    * negative keys correctly report their best single element.
    *
    * Scale shape: two partitioned running windows + one partial-agg
    * groupBy — the classic example of a "sequential" DP that the
    * prefix-sum identity makes data-parallel.
    */
  def bestStreak(df: DataFrame, key: Column, order: Seq[Column],
      value: Column): DataFrame = {
    val oc = order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }
    val ocols = oc.indices.map(i => col(s"__o$i"))
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(ocols: _*)
    val wCum = wSeq.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wPrev = wSeq.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select((Seq(key.alias("k"), value.cast("long").alias("v")) ++ oc): _*)
      .withColumn("pre", sum(col("v")).over(wCum))
      .withColumn("floor0",
        least(lit(0L), coalesce(min(col("pre")).over(wPrev), lit(0L))))
      .withColumn("endbest", col("pre") - col("floor0"))
      .withColumn("rn", row_number().over(wSeq).cast("long"))
      .groupBy(col("k"))
      .agg(count(lit(1)).alias("n_steps"), sum(col("v")).alias("total"),
        min(struct(negate(col("endbest")).alias("nb"),
          col("rn").alias("rn"))).alias("m"))
      .select(col("k"), col("n_steps"), col("total"),
        negate(col("m").getField("nb")).alias("best_sum"),
        col("m").getField("rn").alias("best_end_step"))
  }

  /** Per-key maximum-drawdown report over an integer flow ordered by
    * `order` (which must be a TOTAL order within each key — pass a
    * tie-broken composite): cum = running sum of `value`, peak = running
    * max of cum, drawdown = peak − cum. Returns one row per key with the
    * step count, final cumulative value, all-time peak, the maximum
    * drawdown, and the 1-based step at which it is FIRST attained
    * (min(struct(−dd, rn)) — argmax with deterministic earliest-step
    * ties, resolved inside the aggregate, not by scan order).
    *
    * Scale shape: one partitioned running-sum window (never global) and
    * one partial-agg groupBy; exact integers end to end.
    */
  def drawdownReport(df: DataFrame, key: Column, order: Seq[Column],
      value: Column): DataFrame = {
    // order expressions are aliased into the projection so arbitrary
    // expressions (not just attributes) survive the select for the window
    val oc = order.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(oc.indices.map(i => col(s"__o$i")): _*)
    val cum = df.select((Seq(key.alias("k"),
        value.cast("long").alias("v")) ++ oc): _*)
      .withColumn("cum", sum(col("v")).over(w))
      .withColumn("peak", max(col("cum")).over(w))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("dd", col("peak") - col("cum"))
    cum.groupBy(col("k"))
      .agg(count(lit(1)).alias("n_steps"),
        sum(col("v")).alias("final_cum"),
        max(col("peak")).alias("peak"),
        min(struct(negate(col("dd")).alias("ndd"),
          col("rn").alias("rn"))).alias("m"))
      .select(col("k"), col("n_steps"), col("final_cum"), col("peak"),
        negate(col("m").getField("ndd")).alias("max_dd"),
        col("m").getField("rn").alias("dd_step"))
  }
}
