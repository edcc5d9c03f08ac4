package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Structured Streaming extension: the same windowed aggregation runs batch
  * and streaming and produces identical results on the driver testdata.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val eventsPath = "/root/testdata/sf0.001/events.parquet"

  private def loadBatch = {
    val df = spark.read.parquet(eventsPath)
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  test("windowedCounts batch: one row per (hour, event_type), counts sum to total") {
    val out = EventStreams.windowedCounts(loadBatch)
    val total = out.agg(sum($"n")).collect()(0).getLong(0)
    assert(total == loadBatch.count())
    assert(out.select($"win_start", $"event_type").distinct().count() == out.count())
  }

  test("streaming smoke over parquet matches the batch aggregation") {
    // FileStreamSource needs a directory: stage the single file into one.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(eventsPath),
      java.nio.file.Paths.get(dir, "events.parquet"))
    // Compare on rounded sums: streaming and batch accumulate doubles in
    // different orders, so raw total_value can differ in the last ulp.
    val streamed = EventStreams.runStreamingSmoke(spark, dir)
      .select($"win_start", $"event_type", $"n", round($"total_value", 4).as("tv"))
    val batch = EventStreams.windowedCounts(loadBatch)
      .select($"win_start", $"event_type", $"n", round($"total_value", 4).as("tv"))
    // Append mode emits only watermark-finalized windows: every emitted row
    // must match batch exactly, and the only batch rows allowed to be
    // missing are trailing windows the watermark never passed.
    assert(streamed.exceptAll(batch).count() == 0)
    val maxTs = loadBatch.agg(max($"ts")).collect()(0).getTimestamp(0)
    val withheld = batch.exceptAll(streamed)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - 2 * 3600 * 1000)
    assert(withheld.filter($"win_start" < cutoff).count() == 0)
    assert(streamed.count() > 0)
  }

  test("sessionizeStream (flatMapGroupsWithState) emits every closed session") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(eventsPath),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val streamed = EventStreams.runSessionizeSmoke(spark, dir, gapMinutes = 30)

    // Batch reference: micro-precision gap sessions, excluding each user's
    // last session (still open — single batch, watermark never passes it).
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"us")
    val sess = loadBatch
      .select($"user_id".cast("long").as("user_id"),
        (unix_micros($"ts")).as("us"))
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("ns", when($"prev_us".isNull || $"us" - $"prev_us" > 1800000000L, 1).otherwise(0))
      .withColumn("session_seq", sum($"ns").over(w))
      .groupBy($"user_id", $"session_seq")
      .agg(min($"us").as("start_us"), max($"us").as("end_us"), count(lit(1)).as("n_events"))
    val lastSeq = sess.groupBy($"user_id").agg(max($"session_seq").as("last_seq"))
    val expected = sess.join(lastSeq, "user_id").filter($"session_seq" < $"last_seq")
      .select($"user_id", $"session_seq", $"start_us", $"end_us", $"n_events")

    assert(streamed.count() > 0)
    assert(streamed.select($"user_id", $"session_seq", $"start_us", $"end_us", $"n_events")
      .exceptAll(expected).count() == 0)
    assert(expected.exceptAll(
      streamed.select($"user_id", $"session_seq", $"start_us", $"end_us", $"n_events")).count() == 0)
  }

  test("sessionizeStream timeout path: watermark evicts idle users' open sessions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_timeout").toString
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit =
      rows.toDF("user_id", "ts").repartition(1).write.parquet(s"$dir/stage_$name")
        .ensuring(_ => true) // staged then moved so the source sees whole files
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)

    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
      val schema = Seq((1L, base)).toDF("user_id", "ts").schema
      val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      val q = EventStreams.sessionizeStream(stream, gapMinutes = 30).writeStream
        .outputMode("append").format("memory").queryName("graft_timeout_test").start()

      // batch 1: user 1 has a 2-event session ending at t=10min; user 2 at t=0
      writeBatch("b1", Seq((1L, at(0)), (1L, at(10)), (2L, at(0))))
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_b1")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/in/b1.parquet"))
      }
      q.processAllAvailable()
      // batch 2: user 2 returns 10h later -> closes user 2's first session by
      // gap AND advances the watermark to 9h, past user 1's 40min horizon ->
      // the no-data batch must evict user 1's open session via timeout
      writeBatch("b2", Seq((2L, at(600))))
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_b2")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/in/b2.parquet"))
      }
      q.processAllAvailable()
      // batch 3: user 1 RETURNS after the timeout eviction — the new session
      // must continue the sequence (seq 2), not restart at 1. Two events
      // 40min apart so the first new session is gap-closed and emitted.
      writeBatch("b3", Seq((1L, at(1200)), (1L, at(1240))))
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_b3")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/in/b3.parquet"))
      }
      q.processAllAvailable()
      q.stop()

      val out = spark.table("graft_timeout_test")
        .select($"user_id", $"session_seq", $"n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // user 1: session 1 (timeout-closed) then session 2 after returning;
      // user 2: session 1 gap-closed, then its 10h session timeout-closed as
      // seq 2 once batch 3 pushed the watermark past 10h30
      assert(out == Set((1L, 1L, 2L), (2L, 1L, 1L), (1L, 2L, 1L), (2L, 2L, 1L)))
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("sessionizeStream retainCounters=false: timeout drops state, returning user restarts at seq 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_nocounter").toString
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit =
      rows.toDF("user_id", "ts").repartition(1).write.parquet(s"$dir/stage_$name")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    def moveIn(name: String): Unit =
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_$name")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/in/$name.parquet"))
      }

    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
      val schema = Seq((1L, base)).toDF("user_id", "ts").schema
      val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      val q = EventStreams.sessionizeStream(stream, gapMinutes = 30, retainCounters = false)
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_nocounter_test").start()

      writeBatch("b1", Seq((1L, at(0)), (2L, at(0)))); moveIn("b1")
      q.processAllAvailable()
      // user 2 returns 10h later: watermark passes user 1's horizon, timeout
      // closes user 1's session AND removes the state entirely
      writeBatch("b2", Seq((2L, at(600)))); moveIn("b2")
      q.processAllAvailable()
      // user 1 returns: with no retained counter the sequence RESTARTS at 1
      writeBatch("b3", Seq((1L, at(1200)), (1L, at(1240)))); moveIn("b3")
      q.processAllAvailable()
      q.stop()

      val u1 = spark.table("graft_nocounter_test")
        .filter($"user_id" === 1L)
        .select($"session_seq", $"n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      // first session timeout-closed as seq 1; post-timeout return opens a
      // fresh seq-1 session (gap-closed inside batch 3 by the 40min gap):
      // two closed sessions, BOTH carrying seq 1 — the sequence restarted
      assert(u1.length == 2 && u1.forall(_._1 == 1L), s"got $u1")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("dedupStream: duplicates within the watermark horizon are dropped across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    def writeBatch(name: String, rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      rows.toDF("user_id", "event_type", "ts").repartition(1)
        .write.parquet(s"$dir/stage_$name")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_$name")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/in/$name.parquet"))
      }
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val schema = Seq((1L, "a", base)).toDF("user_id", "event_type", "ts").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = EventStreams.dedupStream(stream, Seq("user_id", "event_type")).writeStream
      .outputMode("append").format("memory").queryName("graft_dedup_test").start()

    // batch 1: (1,a) twice + (2,b) — intra-batch dup dropped
    writeBatch("b1", Seq((1L, "a", at(0)), (1L, "a", at(5)), (2L, "b", at(0))))
    q.processAllAvailable()
    // batch 2, still inside the 1h watermark horizon: (1,a) again — dropped;
    // (1,c) is a new key — kept
    writeBatch("b2", Seq((1L, "a", at(20)), (1L, "c", at(20))))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("graft_dedup_test")
      .select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out.length == 3, s"got $out")
    assert(out.toSet == Set((1L, "a"), (2L, "b"), (1L, "c")))
    spark.catalog.dropTempView("graft_dedup_test")
  }

  test("TWS event-time timers: expired inactivity fires on a later batch; same-batch rows re-arm first") {
    // gap 600s, delay 1h, splits 02:00/04:00. WM during b2 =
    // max view ts of b0∪b1 (03:55) - 1h = 02:55.
    //  - u1: view@00:10 only -> horizon 00:20 < 02:55, NO rows in b2 -> FIRES in b2
    //  - u2: views@00:30+03:00 -> horizon 03:10 > 02:55 -> open, absent
    //  - u3: view@03:55 -> open, absent
    //  - u4: view@00:05 (horizon 00:15 < 02:55) AND view@05:10 in b2 ->
    //    rows processed BEFORE expired timers re-arm the horizon, so u4
    //    does NOT fire — the ordering this test exists to pin
    //  - u9: view@05:00 in b2 -> open, absent
    val src = java.nio.file.Files.createTempDirectory("graft_tmr_src").toString
    Seq(
      (1L, "2024-01-01 00:05:00", 4L, "view"),
      (2L, "2024-01-01 00:10:00", 1L, "view"),
      (3L, "2024-01-01 00:30:00", 2L, "view"),
      (4L, "2024-01-01 03:00:00", 2L, "view"),
      (5L, "2024-01-01 03:55:00", 3L, "view"),
      (6L, "2024-01-01 05:00:00", 9L, "view"),
      (7L, "2024-01-01 05:10:00", 4L, "view"))
      .toDF("event_id", "tss", "user_id", "event_type")
      .select($"event_id", to_timestamp($"tss").as("ts"), $"user_id", $"event_type")
      .write.mode("overwrite").parquet(src)
    val out = EventStreams.runTimerSessionsSmoke(spark, src,
        "view", 600L,
        Seq("2024-01-01 02:00:00", "2024-01-01 04:00:00"), "1 hour")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val t0010 = java.time.Instant.parse("2024-01-01T00:10:00Z").toEpochMilli * 1000L
    assert(out == Set((1L, t0010, t0010, 1L)), s"got $out")
  }

  test("transformWithState: running totals survive batch boundaries (RocksDB store)") {
    // user 1's events land in all three event_id % 3 batches, user 2's in
    // one — the final emissions must show exact totals AND the batch span
    val src = java.nio.file.Files.createTempDirectory("graft_tws_src").toString
    Seq((3L, 1L, 1.25), (4L, 1L, 2.5), (5L, 1L, 0.125), (6L, 2L, 7.0))
      .toDF("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(src)
    val out = EventStreams.runTransformWithStateSmoke(spark, src)
      .orderBy($"user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 3875000L, 3L),  // 1.25 + 2.5 + 0.125 in micros, 3 batches
      (2L, 1L, 7000000L, 1L)))
  }

  test("runStreamLeftOuterJoinSmoke: matches emit with data, watermark-evicted unmatched emit null-extended, retained state stays absent") {
    // delay 1h, window 600s, splits at 02:00 / 04:00 -> three files.
    // The type filters sit BELOW the watermark nodes (Catalyst pushes
    // them — the semantics this test pins), so the final-batch watermark
    // is min(max view 03:55, max purchase 03:50 before 04:00) - 1h = 02:50:
    //  - view@00:10 (user 1): unmatched, window end 00:20 < 02:50 -> EMITS null-extended (evicted in batch 2, not batch 0 — mid-drain eviction)
    //  - view@00:30 (user 2): matched by purchase@00:35 -> emits; eviction adds nothing
    //  - view@03:00 (user 3): unmatched, window end 03:10 > 02:50 -> stays in state, ABSENT by rule
    //  - an 'other'@05:00 row forms the last batch but reaches NEITHER
    //    watermark node: it advances nothing — also pinned here
    val src = java.nio.file.Files.createTempDirectory("graft_loj_src").toString
    Seq(
      (1L, "2024-01-01 00:10:00", 1L, "view"),
      (2L, "2024-01-01 00:30:00", 2L, "view"),
      (3L, "2024-01-01 00:35:00", 2L, "purchase"),
      (8L, "2024-01-01 01:00:00", 7L, "purchase"),
      (4L, "2024-01-01 03:00:00", 3L, "view"),
      (5L, "2024-01-01 03:50:00", 8L, "purchase"),
      (7L, "2024-01-01 03:55:00", 9L, "view"),
      (6L, "2024-01-01 05:00:00", 9L, "other"))
      .toDF("event_id", "tss", "user_id", "event_type")
      .select($"event_id", to_timestamp($"tss").as("ts"), $"user_id", $"event_type")
      .write.mode("overwrite").parquet(src)
    val out = EventStreams.runStreamLeftOuterJoinSmoke(spark, src,
        "user_id", "view", "purchase", 600L,
        Seq("2024-01-01 02:00:00", "2024-01-01 04:00:00"), "1 hour")
      .select($"l_event_id", $"r_event_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(out == Set((2L, 3L), (1L, -1L)), s"got $out")
    // (same src => same memoized staged zone as the left-outer run above)
    // FULL OUTER adds the right-side rule: unmatched purchase@01:00 (u7)
    // evicts (r_ts < 02:50) and emits null-extended; unmatched
    // purchase@03:50 (u8) is inside the horizon — retained, absent
    val fo = EventStreams.runStreamLeftOuterJoinSmoke(spark, src,
        "user_id", "view", "purchase", 600L,
        Seq("2024-01-01 02:00:00", "2024-01-01 04:00:00"), "1 hour",
        joinType = "full_outer")
      .select($"l_event_id", $"r_event_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(fo == Set((2L, 3L), (1L, -1L), (-1L, 8L)), s"got $fo")
  }

  test("streamStreamJoin: finite drain equals the batch time-range join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(eventsPath),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val streamed = EventStreams.runStreamJoinSmoke(spark, dir,
        Seq("user_id"), leftType = "click", rightType = "purchase", windowSeconds = 1800)
      .select($"l_event_id", $"r_event_id")
    val b = loadBatch
    val l = b.filter($"event_type" === "click")
      .select($"user_id".as("lu"), $"event_id".as("lid"), $"ts".as("lts"))
    val r = b.filter($"event_type" === "purchase")
      .select($"user_id".as("ru"), $"event_id".as("rid"), $"ts".as("rts"))
    val batch = l.join(r, $"lu" === $"ru" && $"rts" >= $"lts" &&
        $"rts" <= $"lts" + expr("interval 1800 seconds"))
      .select($"lid", $"rid")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("join smokes: parquet (file-sink) drain equals the memory drain row for row") {
    // the production drain commits join output to a parquet store and
    // reads the store back (data-sized output never funnels through the
    // driver); this pin keeps it answer-identical to the memory-sink
    // harness for both the inner and the outer (watermark-evicted) paths
    val dir = java.nio.file.Files.createTempDirectory("graft_drain_eq").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(eventsPath),
      java.nio.file.Paths.get(dir, "events.parquet"))
    def innerVia(drain: String) =
      EventStreams.runStreamJoinSmoke(spark, dir,
          Seq("user_id"), leftType = "click", rightType = "purchase",
          windowSeconds = 1800, drain = drain)
        .select($"l_event_id", $"r_event_id")
    val ip = innerVia("parquet"); val im = innerVia("memory")
    assert(ip.count() > 0)
    assert(ip.exceptAll(im).count() == 0 && im.exceptAll(ip).count() == 0)
    def outerVia(drain: String) =
      EventStreams.runStreamLeftOuterJoinSmoke(spark,
          s"$dir/events.parquet", "user_id",
          "view", "purchase", 7200L,
          Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00"), "1 hour",
          drain = drain)
        .select($"l_event_id", $"r_event_id")
    val op = outerVia("parquet"); val om = outerVia("memory")
    assert(op.count() > 0)
    assert(op.exceptAll(om).count() == 0 && om.exceptAll(op).count() == 0)
  }

  test("streamStaticEnrich: finite drain equals the batch LEFT join, keeps dim-less facts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sse").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(eventsPath),
      java.nio.file.Paths.get(dir, "events.parquet"))
    // dim covers only even user ids: odd-id facts must survive with nulls
    val dim = loadBatch.select($"user_id").distinct()
      .filter($"user_id" % 2 === 0)
      .withColumn("segment", concat(lit("seg"), $"user_id" % 3))
    val streamed = EventStreams.runStreamEnrichSmoke(spark, dir,
        dim, Seq("user_id"))
      .select($"event_id", $"segment")
    val batch = loadBatch.join(dim, Seq("user_id"), "left")
      .select($"event_id", $"segment")
    assert(streamed.count() == loadBatch.count(), "left join must keep every fact")
    assert(streamed.filter($"segment".isNull).count() > 0, "unmatched facts keep nulls")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("sessionize: gap splits sessions per user") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val df = Seq(
      (1L, at(0)), (1L, at(10)), (1L, at(100)), // gap 90min > 30 => 2 sessions
      (2L, at(0))
    ).toDF("user_id", "ts")
    val out = EventStreams.sessionize(df, gapMinutes = 30)
      .groupBy($"user_id").agg(max($"session_seq").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L))
  }

  test("eventPaths: per-key trigram runs, short keys contribute nothing, minCount prune") {
    import org.apache.spark.sql.functions.col
    val events = Seq(
      (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "C"), (1L, 4L, "D"),
      (2L, 1L, "A"), (2L, 2L, "B"),            // only 2 events: no trigram
      (3L, 1L, "A"), (3L, 2L, "B"), (3L, 3L, "C"))
      .toDF("u", "seq", "s")
    val out = EventStreams.eventPaths(events, col("u"), Seq(col("seq")),
        col("s"), depth = 3)
      .orderBy("path").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("A>B>C", 2L), ("B>C>D", 1L)))
    val pruned = EventStreams.eventPaths(events, col("u"), Seq(col("seq")),
      col("s"), depth = 3, minCount = 2L).collect()
    assert(pruned.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("A>B>C", 2L)))
    // depth 2 = the transition pairs
    val d2 = EventStreams.eventPaths(events, col("u"), Seq(col("seq")),
        col("s"), depth = 2)
      .orderBy("path").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(d2 == Seq(("A>B", 3L), ("B>C", 2L), ("C>D", 1L)))
  }

  test("conversionLagDeciles: strictly-after funnel pair, exact decile bounds, non-converters absent") {
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // users 1..5 convert with lags 10, 20, 30, 40, 50 s;
    // user 6 signs up but never buys; user 7 buys BEFORE signing up
    val events = (1L to 5L).flatMap { u =>
      Seq((u, ts(100), "signup"), (u, ts(100 + 10 * u), "purchase"))
    } ++ Seq((6L, ts(100), "signup"),
      (7L, ts(100), "purchase"), (7L, ts(200), "signup"))
    val df = events.toDF("user_id", "ts", "event_type")
    val out = EventStreams.conversionLagDeciles(df, col("user_id"), col("ts"),
        col("event_type") === "signup", col("event_type") === "purchase")
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // 5 lags over 10 bins: each lag occupies 2 bins' worth -> bins 0,2,4,6,8
    assert(out == Seq(
      (0L, 1L, 10000000L, 10000000L), (2L, 1L, 20000000L, 20000000L),
      (4L, 1L, 30000000L, 30000000L), (6L, 1L, 40000000L, 40000000L),
      (8L, 1L, 50000000L, 50000000L)))
  }

  test("autocorrelation: alternating series r(1) = -1, r(2) = +1, sparse pair counts") {
    import org.apache.spark.sql.functions.col
    // hourly counts alternate 1, 2, 1, 2, 1, 2 for key "a"
    def ts(h: Int, m: Int) = new java.sql.Timestamp((h * 3600L + m * 60L) * 1000L)
    val events = (0 until 6).flatMap { h =>
      (0 until (if (h % 2 == 0) 1 else 2)).map(m => ("a", ts(h, m)))
    }.toDF("k", "ts")
    val out = EventStreams.autocorrelation(events, col("k"), col("ts"), Seq(1, 2))
      .orderBy("lag").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // lag 1: 5 pairs perfectly anti-phase; lag 2: 4 pairs in phase
    assert(out == Seq((1L, 5L, -1.0), (2L, 4L, 1.0)))
  }

  test("lastTouchAttribution: latest in-window touch wins, id tie-break, (none) bucket") {
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      // user 1: click then view then purchase -> view credited
      (1L, ts(100), 1L, "click"), (1L, ts(200), 2L, "view"),
      (1L, ts(300), 3L, "purchase"),
      // user 2: conversion with no touch at all -> (none)
      (2L, ts(100), 4L, "purchase"),
      // user 3: touch 25h before conversion -> outside 24h window -> (none)
      (3L, ts(0), 5L, "click"), (3L, ts(25 * 3600), 6L, "purchase"),
      // user 4: two touches at the SAME second -> larger event id wins
      (4L, ts(50), 7L, "click"), (4L, ts(50), 8L, "view"),
      (4L, ts(60), 9L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = EventStreams.lastTouchAttribution(events, col("user_id"),
        col("ts"), col("event_id"), col("event_type") === "purchase",
        col("event_type"))
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("(none)", 2L, 500000L), ("view", 2L, 500000L)))
  }

  test("associationRules: distinct baskets, both rule directions, support prune, conf/lift ppm") {
    import org.apache.spark.sql.functions.col
    // u1: {A,B,C}, u2: {A,B}, u3: {A}; duplicate (u1, A) row must collapse
    val df = Seq((1L, "A"), (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (3L, "A")).toDF("u", "it")
    val out = EventStreams.associationRules(df, Seq(col("u")), col("it"),
        minSupport = 2L)
      .orderBy("antecedent", "consequent").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    // supp A=3 B=2 C=1, N=3; A&B joint 2; lift = 2*3/(3*2) = 1.0
    assert(out == Seq(
      ("A", "B", 2L, 3L, 2L, 3L, 666666L, 1000000L),
      ("B", "A", 2L, 2L, 3L, 3L, 1000000L, 1000000L)))
    // minSupport 1 admits the C rules; confidence is direction-sensitive
    val all = EventStreams.associationRules(df, Seq(col("u")), col("it"))
      .collect()
    assert(all.length == 6)
  }

  test("transitionMatrix: adjacency per key under the order, ppm rows, last event drops") {
    import org.apache.spark.sql.functions.col
    // user 1: A(t1,id1) B(t2,id2) A(t3,id3) C(t4,id4)  -> A>B, B>A, A>C
    // user 2: B(t1,id5) B(t1,id6) A(t2,id7)            -> B>B (id tie-break), B>A
    // transitions: A>B 1, A>C 1, B>A 2, B>B 1; from A total 2, from B total 3
    val events = Seq(
      (1L, 1L, 1L, "A"), (1L, 2L, 2L, "B"), (1L, 3L, 3L, "A"), (1L, 4L, 4L, "C"),
      (2L, 1L, 5L, "B"), (2L, 1L, 6L, "B"), (2L, 2L, 7L, "A"))
      .toDF("user_id", "t", "event_id", "state")
    def run(d: org.apache.spark.sql.DataFrame) =
      EventStreams.transitionMatrix(d, col("user_id"),
          Seq(col("t"), col("event_id")), col("state"))
        .orderBy("from_state", "to_state").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    val expect = Seq(
      ("A", "B", 1L, 2L, 500000L), ("A", "C", 1L, 2L, 500000L),
      ("B", "A", 2L, 3L, 666666L), ("B", "B", 1L, 3L, 333333L))
    assert(run(events) == expect)
    // layout cannot change the per-key order the matrix reads
    assert(run(events.repartition(3)) == expect)
  }

  test("rateAnomalies: planted spike flagged, steady rate not, constant key z=0") {
    import org.apache.spark.sql.functions.col
    def ts(h: Int, m: Int) = new java.sql.Timestamp((h * 3600L + m * 60L) * 1000L)
    // key "a": 20 quiet hours of 2 events, one hour with 40 => huge z
    val quiet = (0 until 20).flatMap(h => Seq(("a", ts(h, 0)), ("a", ts(h, 30))))
    val spike = (0 until 40).map(m => ("a", ts(20, m)))
    // key "c": identical count every hour => std 0 => z 0, no flags
    val const = (0 until 5).flatMap(h => Seq(("c", ts(h, 1)), ("c", ts(h, 2))))
    val events = (quiet ++ spike ++ const).toDF("k", "ts")
    val out = EventStreams.rateAnomalies(events, col("k"), col("ts"), z = 3.0)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(5), r.getBoolean(6)))
    val aFlagged = out.filter(x => x._1 == "a" && x._4)
    assert(aFlagged.length == 1 && aFlagged(0)._2 == 40L)
    assert(out.filter(x => x._1 == "a" && x._2 == 2L).forall(!_._4))
    assert(out.filter(_._1 == "c").forall(x => x._3 == 0.0 && !x._4))
  }

  test("latenessProfile: running-max lateness, first event never late, exact p95") {
    import org.apache.spark.sql.functions.col
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // arrival order 1..4; event times 100, 50, 200, 150 s:
    // lateness 0, 50 s, 0, 50 s
    val ev = Seq(("a", 1L, ts(100)), ("a", 2L, ts(50)),
      ("a", 3L, ts(200)), ("a", 4L, ts(150))).toDF("k", "arr", "ts")
    val r = EventStreams.latenessProfile(ev, col("k"), col("arr"), col("ts"))
      .collect()(0)
    assert(r.getString(0) == "a" && r.getLong(1) == 4L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 500000L)
    assert(r.getLong(4) == 50000000L)   // worst case 50 s
    assert(r.getLong(5) == 50000000L)   // p95 lands on the late tail
    // an ordered feed profiles clean: zero lateness, p95 = 0
    val ordered = Seq(("b", 1L, ts(10)), ("b", 2L, ts(20))).toDF("k", "arr", "ts")
    val o = EventStreams.latenessProfile(ordered, col("k"), col("arr"), col("ts"))
      .collect()(0)
    assert(o.getLong(2) == 0L && o.getLong(4) == 0L && o.getLong(5) == 0L)
  }

  test("runOhlcStreamSmoke: streamed bars equal the batch aggregate row for row") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ohlc_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(eventsPath),
      java.nio.file.Paths.get(dir, "events.parquet"))
    try {
      val vexpr = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
      val streamed = EventStreams.runOhlcStreamSmoke(spark, dir,
          "event_type", "event_id", vexpr)
        .orderBy("key", "bucket").collect().toSeq
      val batch = EventStreams.ohlcBars(loadBatch, col("event_type"),
          col("ts"), col("event_id"), expr(vexpr))
        .orderBy("key", "bucket").collect().toSeq
      assert(streamed == batch)
    } finally {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "events.parquet"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir))
    }
  }

  test("ohlcBars: open/close under the (ts, tie) total order, same-ts tie by id") {
    import org.apache.spark.sql.functions.col
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val ev = Seq(("a", ts(0), 2L, 7L), ("a", ts(0), 1L, 5L), ("a", ts(30), 3L, 3L),
      ("a", ts(70), 4L, 9L)).toDF("k", "ts", "eid", "v")
    val out = EventStreams.ohlcBars(ev, col("k"), col("ts"), col("eid"), col("v"))
      .collect().map(r => r.getTimestamp(1).getTime ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // hour 0: open = id1's 5 (same-ts tie), close = 3, high 7, low 3
    assert(out(0L) == (3L, 5L, 3L, 7L, 3L, 15L))
    assert(out(3600000L) == (1L, 9L, 9L, 9L, 9L, 9L))
  }

  test("slidingDistinct: events fan out to the covering starts, distinct per start") {
    import org.apache.spark.sql.functions.col
    def ts(h: Int) = new java.sql.Timestamp(h * 3600000L)
    val ev = Seq((1L, ts(5)), (1L, ts(5)), (2L, ts(6))).toDF("u", "ts")
    val out = EventStreams.slidingDistinct(ev, col("u"), col("ts"), windowHours = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hourUs = 3600L * 1000000L
    // u1@5 covers starts {4,5}; u2@6 covers {5,6}; duplicates collapse
    assert(out == Map(4 * hourUs -> 1L, 5 * hourUs -> 2L, 6 * hourUs -> 1L))
  }

  test("churnHazard: suffix-sum at-risk, censored active never churns") {
    import org.apache.spark.sql.functions.col
    def d(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val ev = Seq((1L, d(0)), (1L, d(2)),   // lifetime 2, churned
      (2L, d(0)),                           // lifetime 0, churned
      (3L, d(9))                            // lifetime 0, active at corpus end -> censored
    ).toDF("u", "ts")
    val out = EventStreams.churnHazard(ev, col("u"), col("ts"), censorDays = 7)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L) == (3L, 1L, 1L, 333333L))
    assert(out(2L) == (1L, 1L, 0L, 1000000L))
  }

  test("markovBacktest: argmax from train only, unseen from-state predicts NULL") {
    import org.apache.spark.sql.functions.col
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    // train (user 1): A->B, B->A, A->B  =>  pred(A)=B, pred(B)=A
    val train = Seq((1L, ts(0), 0L, "A"), (1L, ts(1), 1L, "B"),
      (1L, ts(2), 2L, "A"), (1L, ts(3), 3L, "B")).toDF("u", "ts", "eid", "s")
    // test: user 2 A->B (hit), B->B (miss); user 3 C->A (C unseen in train)
    val test = Seq((2L, ts(0), 4L, "A"), (2L, ts(1), 5L, "B"), (2L, ts(2), 6L, "B"),
      (3L, ts(0), 7L, "C"), (3L, ts(1), 8L, "A")).toDF("u", "ts", "eid", "s")
    val out = EventStreams.markovBacktest(train, test, col("u"),
        Seq(col("ts"), col("eid")), col("s"))
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("A") == (Some("B"), 1L, 1L, 1000000L))
    assert(out("B") == (Some("A"), 1L, 0L, 0L))
    assert(out("C") == (None, 1L, 0L, 0L))
  }

  test("cusumChangepoints: level shift peaks at the change, head-heavy key peaks at rank 1") {
    import org.apache.spark.sql.functions.col
    def ts(h: Int, m: Int) = new java.sql.Timestamp((h * 3600L + m * 60L) * 1000L)
    // key "s": 3 quiet hours of 1, then 3 loud hours of 5 — T=6, N=18;
    // dev = cum·6 − r·18 = -12,-24,-36,-24,-12,0: apex EXACTLY at r=3
    val shift = (0 until 3).map(h => ("s", ts(h, 0))) ++
      (3 until 6).flatMap(h => (0 until 5).map(m => ("s", ts(h, m))))
    // key "a": counts 3,1,1 — T=3, N=5; dev = 4,2,0, peak at r=1
    val head = Seq(("a", ts(0, 0)), ("a", ts(0, 1)), ("a", ts(0, 2)),
      ("a", ts(1, 0)), ("a", ts(2, 0)))
    val out = EventStreams.cusumChangepoints((shift ++ head).toDF("k", "ts"),
        col("k"), col("ts"))
      .collect()
      .map(r => (r.getString(0), r.getLong(3)) ->
        (r.getLong(2), r.getLong(4), r.getLong(7), r.getBoolean(8))).toMap
    assert(out(("s", 3L)) == (1L, 3L, -36L, true))
    assert(out(("s", 4L)) == (5L, 8L, -24L, false))
    assert(out(("s", 6L)) == (5L, 18L, 0L, false))
    assert(out(("a", 1L)) == (3L, 3L, 4L, true))
    assert(out(("a", 3L)) == (1L, 5L, 0L, false))
  }

  test("dowProfile: shares and uniform deviation exact, peak ties to the smaller dow") {
    import org.apache.spark.sql.functions.col
    def d(day: Int) = new java.sql.Timestamp(
      java.time.LocalDateTime.of(2024, 1, day, 12, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    // 2024-01-07 is a Sunday (dow 1), 2024-01-08 a Monday (dow 2)
    val events = Seq(
      ("x", d(7)), ("x", d(7)), ("x", d(7)), ("x", d(8)),  // 3:1 split
      ("t", d(7)), ("t", d(8))                             // tie -> dow 1 peaks
    ).toDF("k", "ts")
    val out = EventStreams.dowProfile(events, col("k"), col("ts"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(out(("x", 1L)) == (3L, 750000L, 607143L, true))
    assert(out(("x", 2L)) == (1L, 250000L, 107143L, false))
    assert(out(("t", 1L)) == (1L, 500000L, 357143L, true))
    assert(out(("t", 2L)) == (1L, 500000L, 357143L, false))
  }

  test("seasonalNaiveBacktest: only both-sides days score; MAE floor, bias sign-split") {
    import org.apache.spark.sql.functions.col
    def d(day: Int) = new java.sql.Timestamp(
      java.time.LocalDateTime.of(2024, 1, day, 6, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    val events = Seq(
      ("k", d(1), 1.5),   // day 1: 1_500_000 mic — never scored (no day -6)
      ("k", d(8), 2.0),   // day 8 vs day 1: err = +500_000
      ("k", d(15), 1.0),  // day 15 vs day 8: err = -1_000_000
      ("lone", d(3), 9.9) // no 7-day-earlier partner -> absent entirely
    ).toDF("k", "ts", "v")
    val rows = EventStreams.seasonalNaiveBacktest(events, col("k"), col("ts"),
      col("v"), seasonDays = 7).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getString(0) == "k" && r.getLong(1) == 2L)
    assert(r.getLong(2) == 1500000L && r.getLong(3) == -500000L)
    assert(r.getLong(4) == 750000L)   // MAE = 1_500_000 DIV 2
    assert(r.getLong(5) == -250000L)  // bias sign-split: -(500_000 DIV 2)
  }

  test("cohortRetention: cohort by first-event day, offsets count later activity, offset 0 full") {
    import org.apache.spark.sql.functions.col
    def d(day: Int, h: Int = 12) = new java.sql.Timestamp(
      java.time.LocalDateTime.of(2024, 1, day, h, 0).toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    val events = Seq(
      (1L, d(1)), (1L, d(2)), (1L, d(3)),    // cohort day1, active offsets 0,1,2
      (2L, d(1)), (2L, d(3)),                // cohort day1, offsets 0,2
      (3L, d(2)), (3L, d(2, 18))             // cohort day2, offset 0 twice (distinct once)
    ).toDF("user_id", "ts")
    val out = EventStreams.cohortRetention(events, col("user_id"), col("ts"), "day")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val day1 = java.time.LocalDate.of(2024, 1, 1).atStartOfDay.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val day2 = day1 + 86400L * 1000000L
    assert(out((day1, 0L)) == (2L, 2L, 1.0))   // offset 0 always complete
    assert(out((day1, 1L)) == (1L, 2L, 0.5))
    assert(out((day1, 2L)) == (2L, 2L, 1.0))
    assert(out((day2, 0L)) == (1L, 1L, 1.0))   // same-day repeat counted once
    assert(out.size == 4)
  }

  test("tokenBucketAdmission: clamp, reject-no-deduct, integer refill, same-ts id order") {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // cap 3000, cost 1000, refill 3_600_000/h = 1 mtok per ms (exact)
    val events = Seq(
      (1L, 1L, 0L), (1L, 2L, 500000L),      // 0.5 s -> +500
      (1L, 3L, 600000L), (1L, 4L, 700000L), // +100 each; 4th must reject
      (1L, 5L, 3000000L),                   // +2300 clamps to cap
      (2L, 20L, 42L),                       // singleton: full bucket
      (3L, 31L, 1000L), (3L, 30L, 1000L)    // same ts: id order decides rn
    ).toDF("user_id", "event_id", "tsus")
      .withColumn("ts", timestamp_micros(col("tsus")))
    val out = EventStreams.tokenBucketAdmission(events, col("user_id"),
        col("ts"), col("event_id"), capacity = 3000L, cost = 1000L,
        refillPerHour = 3600000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out((1L, 1L)) == (1L, 3000L, 1L, 2000L))
    assert(out((1L, 2L)) == (2L, 2500L, 1L, 1500L))
    assert(out((1L, 3L)) == (3L, 1600L, 1L, 600L))
    assert(out((1L, 4L)) == (4L, 700L, 0L, 700L))   // rejected: no deduction
    assert(out((1L, 5L)) == (5L, 3000L, 1L, 2000L)) // refill clamped at cap
    assert(out((2L, 20L)) == (1L, 3000L, 1L, 2000L))
    assert(out((3L, 30L)) == (1L, 3000L, 1L, 2000L)) // smaller id first at same ts
    assert(out((3L, 31L)) == (2L, 2000L, 1L, 1000L))
    assert(out.size == 8)
  }

  test("stateIntervals: consecutive runs collapse, valid_to = next change, last open") {
    import org.apache.spark.sql.functions.col
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val events = Seq(
      (1L, 10L, ts(0), "a"), (1L, 11L, ts(1), "a"), (1L, 12L, ts(2), "b"),
      (1L, 13L, ts(3), "b"), (1L, 14L, ts(4), "a"),
      (2L, 20L, ts(0), "x")
    ).toDF("user_id", "event_id", "ts", "state")
    val out = EventStreams.stateIntervals(events, col("user_id"), col("ts"),
        col("state"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3))))
      .sortBy(x => (x._1, x._3.getTime))
    assert(out.toSeq == Seq(
      (1L, "a", ts(0), Some(ts(2))),
      (1L, "b", ts(2), Some(ts(4))),
      (1L, "a", ts(4), None),
      (2L, "x", ts(0), None)))
  }

  test("funnel: stage times cascade strictly-after, out-of-order stages don't count") {
    import org.apache.spark.sql.functions.col
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val events = Seq(
      // user 1: full ordered funnel
      (1L, ts(0), "view"), (1L, ts(5), "click"), (1L, ts(9), "purchase"),
      // user 2: purchase BEFORE click => stops at click
      (2L, ts(0), "view"), (2L, ts(3), "purchase"), (2L, ts(7), "click"),
      // user 3: click only, no view => 0 stages
      (3L, ts(2), "click"), (3L, ts(4), "purchase"),
      // user 4: same-timestamp click (not strictly after) doesn't count
      (4L, ts(1), "view"), (4L, ts(1), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = EventStreams.funnel(events, col("user_id"), col("ts"), Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 3L, 2L -> 2L, 3L -> 0L, 4L -> 1L))
    // user 2's click time is the one after the view, and purchase is null
    val u2 = EventStreams.funnel(events, col("user_id"), col("ts"), Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")))
      .filter(col("user_id") === 2L).collect()(0)
    assert(u2.getTimestamp(2) == ts(7) && u2.isNullAt(3))
  }

  test("runLshIngestSmoke: 3-batch streaming ingest equals the one-shot global keep-first rule") {
    import org.apache.spark.sql.functions.col
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    val docs = Seq(
      (0L, near + "one"),
      (1L, "totally different first-batch content about mountains rivers and weather patterns"),
      (2L, near + "two"),                 // ~0 (cross-batch)
      (3L, "unique second batch doc with nothing shared across any other document here"),
      (4L, near + "three"),               // ~0, ~2 (third batch)
      (5L, (1 to 14).map(i => s"filler$i").mkString(" "))
    )
    val dir = java.nio.file.Files.createTempDirectory("lsh_ingest_spec")
    try {
      // three 2-doc batches with strictly increasing mod times
      docs.grouped(2).zipWithIndex.foreach { case (chunk, i) =>
        val tmp = dir.resolve(s"t$i")
        spark.createDataFrame(chunk).toDF("doc_id", "text")
          .coalesce(1).write.parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val p = part.next()
          if (p.toString.endsWith(".parquet")) {
            val dest = dir.resolve(s"b$i.parquet")
            java.nio.file.Files.move(p, dest)
            dest.toFile.setLastModified(1000000000L + i * 100000L)
            moved = true
          }
        }
        SparkEntry.deleteRecursively(tmp.toString)
      }
      val got = EventStreams.runLshIngestSmoke(spark, dir.toString,
          "doc_id", "text", threshold = 0.6)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      // global rule: 2 and 4 are near-dups of 0 (smallest similar id)
      assert(got(0L) == (true, -1L))
      assert(got(1L) == (true, -1L))
      assert(got(2L) == (false, 0L))
      assert(got(3L) == (true, -1L))
      assert(got(4L) == (false, 0L))
      assert(got(5L) == (true, -1L))
      // and equals the batch operator's one-shot answer
      val all = spark.createDataFrame(docs).toDF("doc_id", "text")
      val emptyIdx = graft.operators.Dedup.lshIndex(all.limit(0), col("doc_id"), col("text"))
      val oneShot = graft.operators.Dedup.incrementalLshDedup(all, col("doc_id"),
          col("text"), emptyIdx, threshold = 0.6)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      assert(got == oneShot)
    } finally {
      SparkEntry.deleteRecursively(dir.toString)
    }
  }

  test("runPartitionedIngest: exactly-once partitioned layout, incremental second drain") {
    import graft.streaming.EventStreams
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/landing"))
    def land(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      rows.toDF("id", "kind", "v").repartition(1).write.parquet(s"$dir/stage_$name")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_$name")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/landing/$name.parquet"))
      }
    }
    land("a", Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0)))
    EventStreams.runPartitionedIngest(spark, s"$dir/landing",
      s"$dir/data", s"$dir/ckpt", Seq("kind"), Seq("id", "v", "kind"))
    def read() = spark.read.parquet(s"$dir/data")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq
    assert(read() == Seq((1L, 1.0, "x"), (2L, 2.0, "y"), (3L, 3.0, "x")))
    // partition directories exist (the layout q151-style scans prune on)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$dir/data/kind=x")))
    // a second drain with fresh=false must ingest ONLY the new file: no
    // re-ingest/duplication of batch a — the checkpoint + manifest
    // exactly-once contract
    land("b", Seq((4L, "z", 4.0)))
    EventStreams.runPartitionedIngest(spark, s"$dir/landing",
      s"$dir/data", s"$dir/ckpt", Seq("kind"), Seq("id", "v", "kind"), fresh = false)
    assert(read() == Seq((1L, 1.0, "x"), (2L, 2.0, "y"), (3L, 3.0, "x"), (4L, 4.0, "z")))
  }

  test("runKeyedUpsert: max-seq merge across batches — a LATER batch with an OLDER seq loses") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/landing"))
    def land(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      rows.toDF("k", "seq", "tie", "payload").repartition(1)
        .write.parquet(s"$dir/stage_$name")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_$name")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/landing/$name.parquet"))
      }
    }
    // file a (processed first): key 1 at seq 10. file b (processed second,
    // maxFilesPerTrigger=1 ⇒ separate batch): key 1 at OLDER seq 5 — the
    // store must keep seq 10; key 2 is new in batch b. Same-seq tie on
    // key 3 breaks to the larger tie column.
    land("a", Seq((1L, 10L, 0L, "newer"), (3L, 7L, 1L, "low-tie")))
    land("b", Seq((1L, 5L, 0L, "older"), (2L, 1L, 0L, "only"),
      (3L, 7L, 2L, "high-tie")))
    EventStreams.runKeyedUpsert(spark, s"$dir/landing", s"$dir/store",
      s"$dir/ckpt", keyCol = "k", seqCol = "seq", tieBreak = "tie",
      cols = Seq("payload"), nBuckets = 4)
    def read() = spark.read.parquet(s"$dir/store")
      .select("k", "seq", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(read() == Seq((1L, 10L, "newer"), (2L, 1L, "only"), (3L, 7L, "high-tie")))
    // the store is the bucketed layout (dirty-bucket rewrite unit)
    val buckets = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/store"))
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .count()
    assert(buckets >= 1 && buckets <= 4)
    // rebuilding from scratch converges to the same store (idempotent,
    // file-order-independent merge)
    EventStreams.runKeyedUpsert(spark, s"$dir/landing", s"$dir/store",
      s"$dir/ckpt", keyCol = "k", seqCol = "seq", tieBreak = "tie",
      cols = Seq("payload"), nBuckets = 4)
    assert(read() == Seq((1L, 10L, "newer"), (2L, 1L, "only"), (3L, 7L, "high-tie")))
  }

  test("streaming view maintenance: out-of-order retraction converges; versioned store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/landing"))
    def land(name: String, rows: Seq[(String, Long, Boolean)]): Unit = {
      rows.toDF("k", "v", "del").repartition(1).write.parquet(s"$dir/stage_$name")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage_$name")).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(s"$dir/landing/$name.parquet"))
      }
    }
    // file a: the RETRACTION of (b, 5) arrives before its insert (file c);
    // file b: inserts for a; file c: the (b, 5) insert + one more b row
    land("a", Seq(("b", 5L, true), ("a", 1L, false)))
    land("b", Seq(("a", 2L, false)))
    land("c", Seq(("b", 5L, false), ("b", 7L, false)))
    EventStreams.runStreamingViewMaintenance(spark, s"$dir/landing",
      s"$dir/view", s"$dir/ckpt", "del",
      keys = Seq("k"), sums = Seq("s" -> $"v"))
    val out = EventStreams.readMaintainedView(spark, s"$dir/view")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // final: a = {1, 2}; b = {7} (insert 5 cancelled by the early delete)
    assert(out.toSeq == Seq(("a", 2L, 3L), ("b", 1L, 7L)))
    // versioned snapshots exist (one per micro-batch)
    val versions = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/view"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("v")).toSeq
    assert(versions.size >= 3)
  }

  test("streaming HLL: drained registers equal the batch sketch") {
    import graft.operators.Corpus
    val dir = java.nio.file.Files.createTempDirectory("graft_hllstream").toString
    val df = (1 to 500).map(i => (i.toLong, s"u${i % 313}")).toDF("id", "user")
    df.write.parquet(s"$dir/data.parquet")
    val streamed = EventStreams.runHllStreamSmoke(
        spark, s"$dir/data.parquet", "user")
      .orderBy("bucket").collect()
    val batch = Corpus.hllSketch(spark.read.parquet(s"$dir/data.parquet"), $"user")
      .orderBy("bucket").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed(0).getLong(3) == 313L) // n_exact instrument
  }

  test("streaming categorical drift: drained counts equal the batch drift report") {
    import graft.operators.Validation
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_driftstream").toString
    val df = (1 to 300).map(i => (i.toLong, if (i % 2 == 0) s"c${i % 3}" else s"c${i % 5}"))
      .toDF("id", "cat")
    df.write.parquet(s"$dir/data.parquet")
    val streamed = EventStreams.runDriftStreamSmoke(spark, s"$dir/data.parquet",
        "cat", "id % 2 = 0", "id % 2 = 1")
      .orderBy("category").collect()
    val src = spark.read.parquet(s"$dir/data.parquet")
    val batch = Validation.categoricalDrift(
        src.filter(col("id") % 2 === 0), src.filter(col("id") % 2 === 1),
        col("cat"))
      .orderBy("category").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("streaming Benford: drained digit counts decorate into the exact batch report") {
    import graft.operators.Validation
    val dir = java.nio.file.Files.createTempDirectory("graft_benford").toString
    val df = (1 to 400).map(i => (i.toLong, (i * i).toLong)).toDF("id", "v")
    df.write.parquet(s"$dir/data.parquet")
    val streamed = EventStreams.runBenfordStreamSmoke(
        spark, s"$dir/data.parquet", "v")
      .orderBy("digit").collect()
    val batch = Validation.benfordAudit(
        spark.read.parquet(s"$dir/data.parquet"), $"v")
      .orderBy("digit").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 9)
  }

  test("windowed streaming HLL: per-window registers equal the batch grouped sketch") {
    import graft.operators.Corpus
    val dir = java.nio.file.Files.createTempDirectory("graft_hllwin").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val rows = (1 to 300).map { i =>
      val ts = new java.sql.Timestamp(base.getTime + (i % 3) * 3600L * 1000)
      (ts, s"u${i % 97}")
    }
    rows.toDF("ts", "user").write.parquet(s"$dir/data.parquet")
    val streamed = EventStreams.runHllWindowedSmoke(
        spark, s"$dir/data.parquet", "user")
      .orderBy("win_start", "bucket").collect()
    val batch = Corpus.hllSketchGrouped(
        spark.read.parquet(s"$dir/data.parquet"),
        window($"ts", "1 hour").getField("start"), $"user")
      .orderBy("group", "bucket").collect()
    assert(streamed.length == 3 * 64 && batch.length == 3 * 64)
    assert(streamed.map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq ==
      batch.map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq)
    // instrument: each window holds 97 distinct-ish users (mod pattern)
    assert(streamed.map(_.getLong(3)).distinct.forall(n => n > 0 && n <= 100))
  }

  test("streaming validation gate: final report equals the batch checkRules report") {
    import graft.operators.Validation
    val dir = java.nio.file.Files.createTempDirectory("graft_vgate").toString
    val df = Seq((1L, 10.0, "a"), (2L, -3.0, "b"), (3L, 500.0, "a"), (4L, 7.0, "zz"))
      .toDF("id", "v", "kind")
    df.write.parquet(s"$dir/data.parquet")
    val rules = Seq(
      "v_positive" -> ($"v" <= 0.0),
      "v_cap_400" -> ($"v" > 400.0),
      "kind_domain" -> !$"kind".isin("a", "b"))
    val streamed = EventStreams.runValidationGateSmoke(
        spark, s"$dir/data.parquet", rules)
      .orderBy("rule").collect()
    val batch = Validation.checkRules(spark.read.parquet(s"$dir/data.parquet"), rules)
      .orderBy("rule").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.map(_.getString(0)).toSeq ==
      Seq("kind_domain", "v_cap_400", "v_positive"))
    assert(streamed.forall(r => r.getLong(2) == 1L && r.getLong(4) == 0L)) // each rule: 1 violation
  }

  // 2024-01-01 00:00:00 UTC — epoch-derived so the day-window arithmetic
  // is timezone-independent (Timestamp.valueOf would use the JVM zone)
  private val D0 = 1704067200000L
  private val DAY = 86400000L
  private val HOUR = 3600000L

  private def funnelStages = Seq(
    "view" -> (col("event_type") === "view"),
    "click" -> (col("event_type") === "click"),
    "purchase" -> (col("event_type") === "purchase"))

  private def runFunnel(name: String, rows: Seq[(Long, Long, String)]): Set[(Long, Long, Long, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    rows.map { case (u, ms, et) => (u, new java.sql.Timestamp(ms), et) }
      .toDF("user_id", "ts", "event_type")
      .repartition(1).write.parquet(s"$dir/in")
    EventStreams.runFunnelSmoke(spark, s"$dir/in", funnelStages)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
  }

  test("streamingFunnel: cascade per closed day, out-of-order stage doesn't count, open day emits nothing") {
    val out = runFunnel("funnel1", Seq(
      // u1 day 0: view 01:00, purchase 01:30 (BEFORE the click -> must not
      // cascade), click 02:00 -> stages 1 and 2 reached
      (1L, D0 + 1 * HOUR, "view"),
      (1L, D0 + 90 * 60000L, "purchase"),
      (1L, D0 + 2 * HOUR, "click"),
      // u2 day 0: click with no view -> nothing
      (2L, D0 + 3 * HOUR, "click"),
      // sentinel u99 on day 1 at 23:00 -> watermark = day1 22:00: day 0
      // closes, day 1 (including this event) stays open
      (99L, D0 + DAY + 23 * HOUR, "view")))
    assert(out == Set(
      (1L, D0 * 1000L, 1L, (D0 + 1 * HOUR) * 1000L),
      (1L, D0 * 1000L, 2L, (D0 + 2 * HOUR) * 1000L)))
  }

  test("streamingFunnel: event-time timeout is strict — watermark AT the window end keeps it open") {
    // wm = max_ms - 1h == day-0 end exactly -> strictly-less timeout must
    // NOT fire (this pins the comparison the q207 oracle replays)
    val atBoundary = runFunnel("funnel2", Seq(
      (1L, D0 + 1 * HOUR, "view"),
      (9L, D0 + DAY + 1 * HOUR, "view")))
    assert(atBoundary.isEmpty)
    // one ms past the boundary -> the day closes and the cascade emits
    val pastBoundary = runFunnel("funnel3", Seq(
      (1L, D0 + 1 * HOUR, "view"),
      (9L, D0 + DAY + 1 * HOUR + 1L, "view")))
    assert(pastBoundary == Set((1L, D0 * 1000L, 1L, (D0 + 1 * HOUR) * 1000L)))
  }
  test("holtLinear: hand-replayed recurrence with truncation, negative trend, day pre-agg") {
    import spark.implicits._
    val ts = (d: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-0$d%d $h%02d:00:00")
    // day 1 split across two events (pre-agg), day 4 is one micro
    val ev = Seq(
      ("a", ts(1, 5), 6.5), ("a", ts(1, 9), 3.5),
      ("a", ts(2, 1), 20.0), ("a", ts(3, 1), 30.0),
      ("a", ts(4, 1), 0.000001),
      ("z", ts(1, 1), 1.0)
    ).toDF("et", "ts", "v")
    val got = graft.streaming.EventStreams.holtLinear(
        ev, $"et", $"ts", $"v", alphaPpm = 500000L, betaPpm = 300000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == Map(
      ("a", 1L) -> (10000000L, 10000000L, 0L, 10000000L),
      ("a", 2L) -> (20000000L, 15000000L, 1500000L, 16500000L),
      ("a", 3L) -> (30000000L, 23250000L, 3525000L, 26775000L),
      // l4 = trunc((500000*1 + 500000*26775000)/1e6) = 13387500 (.5 truncated)
      ("a", 4L) -> (1L, 13387500L, -491250L, 12896250L),
      ("z", 1L) -> (1000000L, 1000000L, 0L, 1000000L)))
  }
  test("temporalPairs: gap bound inclusive, cross-bucket pair found once, shares per source") {
    import spark.implicits._
    val T0 = 1700000000000000L
    val G = 1000000L // 1 s gap
    val ev = Seq(
      // u1: a@0, b@0.9s (in, crosses no bucket), c@1.0s from a (EXACTLY gap: in),
      // b->c at 0.1s (in), a@2.5s too far from everything before
      (1L, T0, "a"), (1L, T0 + 900000L, "b"), (1L, T0 + 1000000L, "c"),
      (1L, T0 + 2500000L, "a"),
      // u2: straddles a bucket boundary: a@0.95s, b@1.05s -> dt 0.1s in,
      // different buckets — the ×2 probe must still find it exactly once
      (2L, T0 + 950000L, "a"), (2L, T0 + 1050000L, "b")
    ).map { case (u, t, k) => (u, new java.sql.Timestamp(t / 1000L), k) }
      .toDF("u", "ts", "t")
    val got = graft.streaming.EventStreams.temporalPairs(ev, $"u", $"ts", $"t", G)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(4))).toMap
    // from a: (a,b)@u1 0.9s + (a,b)@u2 = 2; (a,c) exactly at gap = 1 -> shares 666666/333333
    assert(got(("a", "b")) == (2L, 666666L))
    assert(got(("a", "c")) == (1L, 333333L))
    assert(got(("b", "c")) == (1L, 1000000L))
    assert(!got.contains(("c", "a")), "2.5s gap excluded")
    assert(got.size == 3)
  }
  test("epsilonGreedyReplay: optimistic init, explore cycle, cross-multiplied exploit, replay banking") {
    import spark.implicits._
    val t0 = 1700000000000000L
    def tsOf(k: Int) = new java.sql.Timestamp((t0 + k * 1000000L) / 1000L)
    // hand trace (exploreEvery=3, arms x,y): t1 exploit->x(match,10);
    // t2 exploit->y(logged x: miss); t3 explore->y(match,4);
    // t4 exploit x wins 10/1 vs 4/1 (match,2); t5 exploit x (logged y: miss
    // — the 100 reward is NOT banked); t6 explore->x(match,0)
    val ev = Seq(
      (1L, tsOf(1), 101L, "x", 10.0), (1L, tsOf(2), 102L, "x", 7.0),
      (1L, tsOf(3), 103L, "y", 4.0), (1L, tsOf(4), 104L, "x", 2.0),
      (1L, tsOf(5), 105L, "y", 100.0), (1L, tsOf(6), 106L, "x", 0.0)
    ).toDF("co", "ts", "id", "arm", "v")
    val got = graft.streaming.EventStreams.epsilonGreedyReplay(
        ev, $"co", $"ts", $"id", $"arm", $"v", arms = Seq("x", "y"),
        exploreEvery = 3)
      .collect().map(r => (r.getLong(0), r.getString(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(got == Map((1L, "x") -> (3L, 12000000L), (1L, "y") -> (1L, 4000000L)))
  }
  test("shapleyCoverage: hand-computed 2-player game, efficiency axiom, uncovered player") {
    import spark.implicits._
    // u1 {a}, u2 {a,b}, u3 {b}: v(a)=2 v(b)=2 v(ab)=3; k=2 -> x2 payouts
    // phi_a*2 = 1*(v{a}-0) + 1*(v{ab}-v{b}) = 2+1 = 3; symmetric for b.
    // Player c never fires: phi_c = 0, v_solo = 0 (k=3 run below).
    val ev = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"))
      .toDF("u", "t")
    val two = graft.streaming.EventStreams.shapleyCoverage(
        ev, $"u", $"t", players = Seq("a", "b"))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(two == Map("a" -> (2L, 3L), "b" -> (2L, 3L)))
    val three = graft.streaming.EventStreams.shapleyCoverage(
        ev, $"u", $"t", players = Seq("a", "b", "c"))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    // k=3 -> x6: phi_a*6 = 2*(2-0) + 1*(3-2) + 1*(2-0) + 2*(3-2) = 9
    assert(three("a") == (2L, 9L) && three("b") == (2L, 9L))
    assert(three("c") == (0L, 0L), "never-firing player pays out zero")
    assert(three.values.map(_._2).sum == 6L * 3L, "efficiency: sum = k! * v(full)")
  }
  test("lisLengths: patience piles hand trace with duplicates, monotone extremes") {
    import spark.implicits._
    val t0 = 1700000000000000L
    def tsOf(k: Int) = new java.sql.Timestamp((t0 + k * 1000000L) / 1000L)
    // u1 = [3,1,4,1,5,9,2,6]: LIS {1,4,5,9} = 4, LDS pairs only = 2
    // u2 strictly rising -> LIS 4 / LDS 1; u3 constant -> both 1
    val vals1 = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val ev = (vals1.zipWithIndex.map { case (v, k) => (1L, tsOf(k), k.toLong, v) } ++
        (0 until 4).map(k => (2L, tsOf(k), (10 + k).toLong, k * 2.0)) ++
        (0 until 3).map(k => (3L, tsOf(k), (20 + k).toLong, 7.0)))
      .toDF("u", "ts", "id", "v")
    val got = graft.streaming.EventStreams.lisLengths(
        ev, $"u", $"ts", $"id", $"v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (8L, 4L, 2L))
    assert(got(2L) == (4L, 4L, 1L))
    assert(got(3L) == (3L, 1L, 1L), "equal values extend neither direction")
  }
  test("activitySelection: earliest-finish greedy, touching endpoints compatible") {
    import spark.implicits._
    // u1: [0,10],[2,3],[4,5],[5,9],[1,2]: greedy by end takes
    // [1,2],[2,3],[4,5],[5,9] = 4; [0,10] skipped
    val iv = Seq(
      (1L, 0L, 10L, 1L), (1L, 2L, 3L, 2L), (1L, 4L, 5L, 3L),
      (1L, 5L, 9L, 4L), (1L, 1L, 2L, 5L),
      (2L, 0L, 5L, 6L), (2L, 1L, 4L, 7L), // nested: only one fits
      (3L, 7L, 7L, 8L) // degenerate point interval
    ).toDF("u", "s", "e", "i")
    val got = graft.streaming.EventStreams.activitySelection(
        iv, $"u", $"s", $"e", $"i")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (5L, 4L, 9L))
    assert(got(2L) == (2L, 1L, 4L), "earliest FINISH wins, not earliest start")
    assert(got(3L) == (1L, 1L, 7L))
  }
  test("weightedIntervalSchedule: beats the count greedy when one heavy job pays more") {
    import spark.implicits._
    // u1: [0,10] worth 100 vs [1,2]+[3,4] worth 5+5: DP picks 100,
    // the count greedy would take the two small ones
    // u2: compatible chain takes everything; touching endpoints ok
    val iv = Seq(
      (1L, 0L, 10L, 1L, 100L), (1L, 1L, 2L, 2L, 5L), (1L, 3L, 4L, 3L, 5L),
      (2L, 0L, 2L, 4L, 7L), (2L, 2L, 5L, 5L, 8L), (2L, 5L, 6L, 6L, 9L),
      (3L, 0L, 4L, 7L, 6L), (3L, 1L, 3L, 8L, 4L) // nested: best single
    ).toDF("u", "s", "e", "i", "v")
    val got = graft.streaming.EventStreams.weightedIntervalSchedule(
        iv, $"u", $"s", $"e", $"i", $"v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (3L, 100L), "value beats count")
    assert(got(2L) == (3L, 24L), "touching chain all compatible")
    assert(got(3L) == (2L, 6L))
  }
  test("crossCorrelation: shifted copy peaks at its lag, inversion negative, constant NULL") {
    import spark.implicits._
    // y_{t+1} = x_t exactly: lag 1 is a perfect linear fit
    val df = Seq(
      (0L, 2L, 99L), (1L, 4L, 2L), (2L, 6L, 4L), (3L, 8L, 6L), (4L, 1L, 8L)
    ).toDF("t", "x", "y")
    val got = graft.streaming.EventStreams.crossCorrelation(
        df, $"t", $"x", $"y", maxLag = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(1L) == (4L, Some(1000000L)), "exact linear fit at lag 1")
    assert(got(0L)._1 == 5L && got(0L)._2.get < 1000000L)
    val inv = Seq((0L, 1L, 5L), (1L, 2L, 3L), (2L, 3L, 1L)).toDF("t", "x", "y")
    val gi = graft.streaming.EventStreams.crossCorrelation(
      inv, $"t", $"x", $"y", 0).collect().head
    assert(gi.getLong(2) == -1000000L, "y = -2x + 7: signed r2 is -1")
    val const = Seq((0L, 1L, 7L), (1L, 2L, 7L)).toDF("t", "x", "y")
    assert(graft.streaming.EventStreams.crossCorrelation(
      const, $"t", $"x", $"y", 0).collect().head.isNullAt(2))
  }

  test("quartileMotifs: repeating shape found, count ties lexicographic") {
    import spark.implicits._
    val df = (Seq(10L, 20L, 30L, 40L, 11L, 21L, 31L, 41L).zipWithIndex
      .map { case (v, i) => ("a", i + 1L, v) }).toDF("k", "t", "v")
    val got = graft.streaming.EventStreams.quartileMotifs(
      df, $"k", Seq($"t"), $"v").collect().head
    assert((got.getLong(1), got.getString(2), got.getLong(3))
      == (8L, "1-2-3", 2L),
      "two rising-quartile repeats; 2-3-4 also has 2 but sorts later")
  }

  test("bestStreak: Kadane via prefix windows, all-negative, first-step tie") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 2L), ("a", 2L, -5L), ("a", 3L, 3L), ("a", 4L, 4L),
      ("a", 5L, -1L),
      ("b", 1L, -2L), ("b", 2L, -7L), ("b", 3L, -1L),
      ("c", 1L, 5L), ("c", 2L, -5L), ("c", 3L, 5L)
    ).toDF("k", "t", "v")
    val got = graft.streaming.EventStreams.bestStreak(
        df, $"k", Seq($"t"), $"v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("a") == (5L, 3L, 7L, 4L), "streak 3+4 ends at step 4")
    assert(got("b") == (3L, -10L, -1L, 3L), "all negative: best single")
    assert(got("c") == (3L, 5L, 5L, 1L), "equal streaks: FIRST end step")
  }

  test("burstViterbi: hand DP, fewest-burst-days tie break") {
    import spark.implicits._
    val df = Seq(("a", 1L, 2L), ("a", 2L, 2L), ("a", 3L, 10L),
      ("a", 4L, 10L), ("a", 5L, 2L)).toDF("k", "t", "y")
    val got = graft.streaming.EventStreams.burstViterbi(
      df, $"k", $"t", $"y").collect().head
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) == (5L, 2L, 6L, 12L, 2L),
      "median 2, burst rate 6, two burst days at cost 12")
  }

  test("cdcApply: last writer wins, delete drops, later upsert resurrects") {
    import spark.implicits._
    val ch = Seq(
      (1L, 1L, "I", 10L), (1L, 2L, "U", 20L),             // plain upsert
      (2L, 1L, "I", 5L), (2L, 2L, "D", 0L),               // deleted
      (3L, 1L, "I", 7L), (3L, 2L, "D", 0L), (3L, 3L, "U", 9L) // resurrected
    ).toDF("k", "seq", "op", "v")
    val got = graft.streaming.EventStreams.cdcApply(
        ch, $"k", Seq($"seq"), $"op", $"v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(1L -> (20L, 2L, 0L), 3L -> (9L, 3L, 1L)),
      "key 2 ends deleted and is absent")
  }

  test("holtWinters: hand period-2 recurrence, circular seasonal queue, short key dropped") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 14L),
      ("a", 4L, 24L), ("b", 1L, 99L)).toDF("k", "t", "y")
    val got = graft.streaming.EventStreams.holtWinters(
        df, $"k", $"t", $"y", period = 2,
        alphaPpm = 500000L, betaPpm = 500000L, gammaPpm = 500000L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.keySet == Set("a"), "key shorter than one period is dropped")
    assert(got("a") == (4L, 18L, 1L, 15L, 25L, 17L),
      "L=18 T=1 S=[-4,5]: forecasts wrap the seasonal queue")
  }

  test("seqPatternSupport: extremes identity, strict ordering, ppm of units") {
    import spark.implicits._
    val ev = Seq(
      (1L, "A", 1L), (1L, "B", 2L), (1L, "C", 3L),
      (2L, "A", 1L), (2L, "C", 2L), (2L, "B", 3L), (2L, "C", 4L)
    ).toDF("u", "ty", "tm")
    val got = graft.streaming.EventStreams.seqPatternSupport(
        ev, $"u", $"ty", $"tm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(got(("A", "B", "C")) == (2L, 1000000L), "both units")
    assert(got(("A", "C", "B")) == (1L, 500000L), "unit 2 only")
    assert(got(("C", "B", "C")) == (1L, 500000L),
      "same kind can open and close the pattern")
    assert(!got.contains(("B", "A", "C")), "no A strictly after first B")
    assert(!got.contains(("A", "A", "B")),
      "strict: an event cannot follow itself at the same instant")
  }

  test("seasonalDecompose: hand period-3 trend/seasonal/residual, edges dropped") {
    import spark.implicits._
    val df = Seq(("a", 1L, 4L), ("a", 2L, 10L), ("a", 3L, 1L),
      ("a", 4L, 7L), ("a", 5L, 13L), ("a", 6L, 4L)).toDF("k", "t", "v")
    val got = graft.streaming.EventStreams.seasonalDecompose(
        df, $"k", $"t", $"v", period = 3)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == Set(2L, 3L, 4L, 5L), "edge rows have no full window")
    assert(got(2L) == (5L, 5L, 0L))
    assert(got(3L) == (6L, -5L, 0L), "negative seasonal sign-split floor")
    assert(got(4L) == (7L, 0L, 0L))
    assert(got(5L) == (8L, 5L, 0L), "phase 2 pools t=2 and t=5")
  }

  test("runsTest: alternation counts runs, median ties dropped, even-n median") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 1L), ("a", 2L, 5L), ("a", 3L, 2L), ("a", 4L, 6L),
      ("a", 5L, 3L), ("a", 6L, 7L),
      ("b", 1L, 1L), ("b", 2L, 3L), ("b", 3L, 2L), ("b", 4L, 4L)
    ).toDF("k", "t", "v")
    val got = graft.streaming.EventStreams.runsTest(df, $"k", Seq($"t"), $"v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("a") == (3L, 2L, 4L, 3400000L),
      "median 3 dropped; - + - + + is four runs")
    assert(got("b") == (2L, 1L, 2L, 2333333L),
      "even n: lower median 2 dropped; - + + is two runs")
  }

  test("pettittChangepoint: level shift located, doubled midranks exact under ties") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 1L),
      ("a", 4L, 9L), ("a", 5L, 8L), ("a", 6L, 9L)).toDF("k", "t", "v")
    val got = graft.streaming.EventStreams.pettittChangepoint(
      df, $"k", Seq($"t"), $"v").collect().head
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
      == (6L, 18L, 3L, -18L), "split after step 3 maximizes |U2|")
  }

  test("drawdownReport: running peak minus trough, first-step ties") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, -4L), ("a", 3L, -3L), ("a", 4L, 8L),
      ("a", 5L, -15L),
      ("b", 1L, 5L), ("b", 2L, -2L), ("b", 3L, 2L), ("b", 4L, -2L)
    ).toDF("k", "step", "v")
    val got = graft.streaming.EventStreams.drawdownReport(
        df, $"k", Seq($"step"), $"v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got("a") == (5L, -4L, 11L, 15L, 5L))
    assert(got("b") == (4L, 3L, 5L, 2L, 2L), "tie resolved to FIRST step")
  }

  test("dtwDistance: shifted spike warps to zero, identical zero, hand DP") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0L, 5L, 0L, 0L), Seq(0L, 0L, 5L, 0L)), // shift: L1 10, DTW 0
      (2L, Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)),
      (3L, Seq(2L, 0L, 0L, 0L), Seq(0L, 1L, 0L, 0L)) // hand DP below
    ).toDF("u", "a", "b")
    val got = graft.streaming.EventStreams.dtwDistance(df, $"u", $"a", $"b")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (10L, 0L), "pure phase shift: high L1, zero DTW")
    assert(got(2L) == (0L, 0L))
    // row3 DP: costs i1=[2,1,2,2] i2..4=[0,1,0,0]; best path 2+0+0+0... = 3
    assert(got(3L) == (3L, 3L))
  }

  test("bounded-group contract: the mapGroups folds fail loudly past graft.maxGroupRows") {
    import graft.streaming.EventStreams
    // one key, 50 rows — over a cap of 10, under a cap of 1000
    val events = spark.range(0, 50).select(
      lit(1L).as("k"),
      timestamp_micros(col("id") * 86400000000L).as("ts"), // distinct days
      col("id").as("i"),
      (col("id") % 7).cast("double").as("v"),
      (col("id") % 2).cast("string").as("arm"))
    val intervals = spark.range(0, 50).select(
      lit(1L).as("k"), col("id").as("s"), (col("id") + 2).as("e"),
      col("id").as("i"), (col("id") % 5 + 1).as("v"))
    val folds: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "tokenBucketAdmission" -> (() => EventStreams.tokenBucketAdmission(
        events, col("k"), col("ts"), col("i"), capacity = 10L, cost = 1L,
        refillPerHour = 100L)),
      "holtLinear" -> (() => EventStreams.holtLinear(
        events, col("k"), col("ts"), col("v"), alphaPpm = 500000L,
        betaPpm = 300000L)),
      "lisLengths" -> (() => EventStreams.lisLengths(
        events, col("k"), col("ts"), col("i"), col("v"))),
      "epsilonGreedyReplay" -> (() => EventStreams.epsilonGreedyReplay(
        events, col("k"), col("ts"), col("i"), col("arm"), col("v"),
        arms = Seq("0", "1"))),
      "activitySelection" -> (() => EventStreams.activitySelection(
        intervals, col("k"), col("s"), col("e"), col("i"))),
      "weightedIntervalSchedule" -> (() => EventStreams.weightedIntervalSchedule(
        intervals, col("k"), col("s"), col("e"), col("i"), col("v"))))
    def causeChain(t: Throwable): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var cur: Throwable = t
      var depth = 0
      while (cur != null && depth < 20) {
        buf += Option(cur.getMessage).getOrElse("")
        cur = cur.getCause; depth += 1
      }
      buf.toSeq
    }
    val old = sys.props.get("graft.maxGroupRows")
    try {
      // cap below the group size: every fold must fail AT the cap with an
      // error naming the op and the remedy (the cap is read at plan build,
      // so setting it before the call is the real contract)
      sys.props("graft.maxGroupRows") = "10"
      folds.foreach { case (op, f) =>
        val e = intercept[Throwable] { f().collect() }
        assert(causeChain(e).exists(_.contains(s"graft.$op")),
          s"$op: expected a bounded-group error naming the op, got $e")
      }
      // cap above the group size: same plans succeed untouched
      sys.props("graft.maxGroupRows") = "1000"
      folds.foreach { case (op, f) =>
        assert(f().collect().nonEmpty, s"$op under the cap must produce rows")
      }
    } finally {
      old match {
        case Some(v) => sys.props("graft.maxGroupRows") = v
        case None => sys.props -= "graft.maxGroupRows"
      }
    }
  }

  test("stagedOnce: one build per key, zone reused; failed builds are not cached") {
    import graft.streaming.EventStreams
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"spec_zone_${java.util.UUID.randomUUID()}"
    def build(dir: String): Unit = {
      built.incrementAndGet()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "marker.txt"), "x")
      ()
    }
    val d1 = EventStreams.stagedOnce(key)(build)
    val d2 = EventStreams.stagedOnce(key)(build)
    assert(d1 == d2, "same key must return the same zone")
    assert(built.get == 1, "build must run exactly once per key")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(d1, "marker.txt")))
    val d3 = EventStreams.stagedOnce(s"other_$key")(build)
    assert(d3 != d1, "different keys get distinct zones")
    // a throwing build maps nothing: the next attempt re-builds into a
    // FRESH directory (counter-named), never reusing half-built debris
    val badKey = s"bad_zone_${java.util.UUID.randomUUID()}"
    intercept[RuntimeException] {
      EventStreams.stagedOnce(badKey) { _ => throw new RuntimeException("boom") }
    }
    val d4 = EventStreams.stagedOnce(badKey)(build)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(d4, "marker.txt")))
    assert(built.get == 3)
  }

  private val splitTs = Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00")

  test("withConfs lock: a stateful smoke's confs never show inside another locked region") {
    // runChainedStatefulSmoke sets noDataMicroBatches=false; while another
    // thread holds withConfs(noDataMicroBatches=true), it must wait for
    // the lock instead of overriding the conf mid-region
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    // the first run stages the split files, so the concurrent run below
    // reaches its conf overrides at once
    val expected = EventStreams.runChainedStatefulSmoke(spark, eventsPath, splitTs)
      .collect().toSet
    val started = new java.util.concurrent.CountDownLatch(1)
    val smoke = scala.concurrent.Future {
      started.await()
      EventStreams.runChainedStatefulSmoke(spark, eventsPath, splitTs).collect().toSet
    }(scala.concurrent.ExecutionContext.global)
    var sawFalse = false
    EventStreams.withConfs(spark, Seq(noData -> "true")) {
      started.countDown()
      val deadline = System.nanoTime() + 5000000000L
      while (!smoke.isCompleted && System.nanoTime() < deadline) {
        sawFalse ||= spark.conf.get(noData) == "false"
        Thread.sleep(2)
      }
    }
    import scala.concurrent.duration._
    assert(scala.concurrent.Await.result(smoke, 5.minutes) == expected)
    assert(!sawFalse, s"$noData read false inside a locked withConfs region")
  }

  test("harness writes stay under the harness root: a parquet drain adds nothing to java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def leaked = tmp.list().filter(n => n.startsWith("drain_") || n.startsWith("graft_staged")).toSet
    val before = leaked
    val dir = EventStreams.stagedCopy(eventsPath)
    val out = EventStreams.runStreamJoinSmoke(spark, dir, Seq("user_id"),
      leftType = "click", rightType = "purchase", windowSeconds = 1800, drain = "parquet")
    assert(out.count() > 0)
    assert((leaked -- before).isEmpty, s"new entries in $tmp: ${leaked -- before}")
    val root = java.nio.file.Paths.get(EventStreams.harnessRoot)
    assert(java.nio.file.Paths.get(dir).startsWith(root))
    assert(root.startsWith(java.nio.file.Paths.get(SparkEntry.scratchRoot)))
  }

  test("every smoke drains without leaving a temporary view behind") {
    val dir = EventStreams.stagedCopy(eventsPath)
    val dim = spark.range(0, 50).select($"id".as("user_id"), lit("s").as("segment"))
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val smokes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "runStreamingSmoke" -> (() => EventStreams.runStreamingSmoke(spark, dir)),
      "runSessionizeSmoke" -> (() => EventStreams.runSessionizeSmoke(spark, dir)),
      "runWindowedTopK" -> (() => EventStreams.runWindowedTopK(spark, dir)),
      "runDedupSmoke" -> (() => EventStreams.runDedupSmoke(spark, dir, Seq("user_id"))),
      "runValidationGateSmoke" -> (() => EventStreams.runValidationGateSmoke(
        spark, dir, Seq("value_positive" -> ($"value" <= 0.0)))),
      "runHllStreamSmoke" -> (() => EventStreams.runHllStreamSmoke(spark, dir, "event_id")),
      "runOhlcStreamSmoke" -> (() => EventStreams.runOhlcStreamSmoke(
        spark, dir, "event_type", "event_id", "event_id")),
      "runBenfordStreamSmoke" -> (() => EventStreams.runBenfordStreamSmoke(spark, dir, "event_id")),
      "runDriftStreamSmoke" -> (() => EventStreams.runDriftStreamSmoke(
        spark, dir, "event_type", "user_id % 2 = 0", "user_id % 2 = 1")),
      "runHllWindowedSmoke" -> (() => EventStreams.runHllWindowedSmoke(spark, dir, "event_id")),
      "runStreamEnrichSmoke" -> (() => EventStreams.runStreamEnrichSmoke(
        spark, dir, dim, Seq("user_id"))),
      "runFunnelSmoke" -> (() => EventStreams.runFunnelSmoke(spark, dir, funnelStages)),
      "runTransformWithStateSmoke" -> (() =>
        EventStreams.runTransformWithStateSmoke(spark, eventsPath)),
      "runTimerSessionsSmoke" -> (() => EventStreams.runTimerSessionsSmoke(
        spark, eventsPath, "purchase", 21600L, splitTs)),
      "runChainedStatefulSmoke" -> (() =>
        EventStreams.runChainedStatefulSmoke(spark, eventsPath, splitTs)),
      "runStreamJoinSmoke" -> (() => EventStreams.runStreamJoinSmoke(spark, dir,
        Seq("user_id"), "click", "purchase", 1800L, drain = "memory")),
      "runStreamLeftOuterJoinSmoke" -> (() => EventStreams.runStreamLeftOuterJoinSmoke(
        spark, eventsPath, "user_id", "view", "purchase", 7200L, splitTs,
        drain = "memory")))
    smokes.foreach { case (name, run) =>
      val before = views
      run().collect()
      assert((views -- before).isEmpty, s"$name left ${views -- before}")
    }
  }
}
