package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.ColFns

/** Source surface (SURVEY.md §2.1). The reference's ONLY source is
  * `read-csv` with header + inferred schema
  * (`/root/reference/src/main.rs:570-578`, `CsvReadOptions::new()` defaults
  * at `src/main.rs:574`); the full end-to-end program in the reference is
  * test.scm over example.csv — replayed here through the real CSV reader.
  * Parquet/JSON/writers are the capability-superset scale path.
  */
class SourcesSpec extends SparkSpec {

  /** `df` as ONE parquet file at `path` (the testdata layout), replacing
    * whatever file was there.
    */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val tmp = s"$path.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  /** `body`'s result and the Spark jobs started while it ran. Listener
    * events are async, so a labelled fence job runs after `body`: events
    * arrive in order, and once the fence is seen every job `body` started
    * has been counted.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setJobDescription("fence")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("fence"), "listener never saw the fence job")
      (result, seen.asScala.count(_ != "fence"))
    } finally sc.removeSparkListener(listener)
  }

  test("Engine.create pins the confs the testdata timestamp contract reads through") {
    // nanos-encoded ts read as int64, micros-encoded ts as LTZ not NTZ,
    // both normalized in UTC (SparkEntry.t / EventStreams.normalizeTs)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("Engine.table: a repeated read of one file plans with no Spark job, same schema and rows") {
    import spark.implicits._
    val dir = tempDir("graft-schema")
    writeFile(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v"), s"$dir/t.parquet")
    // the first read infers the schema (a job); the second reuses it
    assert(jobsDuring(Engine.table(spark, dir, "t"))._2 >= 1)
    val (again, jobs) = jobsDuring(Engine.table(spark, dir, "t"))
    assert(jobs == 0)
    val plain = spark.read.parquet(s"$dir/t.parquet")
    assert(again.schema == plain.schema)
    assert(again.collect().toSeq.sortBy(_.getLong(0)) == plain.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("Engine.table: a rewritten file is re-inferred") {
    import spark.implicits._
    val dir = tempDir("graft-schema-rw")
    writeFile(Seq((1L, "a")).toDF("id", "s"), s"$dir/t.parquet")
    assert(Engine.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    writeFile(Seq((1L, 2.0, 3)).toDF("id", "x", "y"), s"$dir/t.parquet")
    val back = Engine.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "x", "y"))
    assert(back.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ==
      Seq((1L, 2.0, 3)))
  }

  test("Engine.parquetSchema: a session that infers differently gets its own schema") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("graft-schema-conf")
    // written by plain parquet-mr: a Spark-written file carries its Spark
    // schema in the footer, which inference prefers over binaryAsString
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/t.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(msg).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("id", 1L).append("b", "hi"))
    finally w.close()
    assert(Engine.parquetSchema(spark, s"$dir/t.parquet")("b").dataType == BinaryType)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Engine.parquetSchema(s2, s"$dir/t.parquet")("b").dataType == StringType)
    assert(Engine.table(s2, dir, "t").select("b").as[String].collect().toSeq == Seq("hi"))
    // and the first session still reads binary
    assert(Engine.parquetSchema(spark, s"$dir/t.parquet")("b").dataType == BinaryType)
  }

  test("Engine.parquetSchema: a directory is re-inferred after it is overwritten") {
    import spark.implicits._
    val dir = tempDir("graft-schema-dir")
    Engine.writeParquet(Seq((1L, "a")).toDF("id", "s"), s"$dir/d")
    val d = new java.io.File(s"$dir/d")
    val mtime = d.lastModified()
    assert(Engine.parquetSchema(spark, s"$dir/d").fieldNames.toSeq == Seq("id", "s"))
    // new files under an unchanged directory status: only re-inference
    // can see them
    Engine.writeParquet(Seq((1L, 2.0)).toDF("id", "x"), s"$dir/d")
    assert(d.setLastModified(mtime))
    assert(Engine.parquetSchema(spark, s"$dir/d").fieldNames.toSeq == Seq("id", "x"))
  }

  test("Engine.table: a missing path still raises Spark's AnalysisException") {
    val dir = tempDir("graft-schema-missing")
    val e = intercept[AnalysisException](Engine.table(spark, dir, "nope"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    intercept[AnalysisException](Engine.parquetSchema(spark, s"$dir/nope.parquet"))
  }

  test("readCsv: header names + inferred int schema, then the test.scm pipeline") {
    val dir = tempDir("graft-csv")
    // /root/reference/example.csv:1-3 verbatim
    Files.write(java.nio.file.Paths.get(s"$dir/example.csv"),
      "a,b,c\n1,2,3\n20,10,50\n".getBytes("UTF-8"))
    val df = Engine.readCsv(spark, s"$dir/example.csv")
    assert(df.schema.fields.map(_.name).toSeq == Seq("a", "b", "c"))
    assert(df.schema.fields.forall(_.dataType == IntegerType))
    // test.scm:11-14: select a,b; filter a >= b; collect
    val out = df
      .select(ColFns.column("a"), ColFns.column("b"))
      .filter(ColFns.geq(col("a"), col("b")))
      .collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((20, 10)))
  }

  test("partitioned write: a partition-column filter prunes at planning time") {
    val dir = tempDir("graft-part")
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
      .toDF("id", "src", "v")
    Engine.writeParquetPartitioned(df, s"$dir/t", Seq("src"))
    val back = Engine.readParquet(spark, s"$dir/t").filter($"src" === "a")
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // pruning is visible in the scan: the predicate lands in PartitionFilters,
    // not a post-scan Filter
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("src"))
  }

  test("compaction collapses a fragmented partition to one file, same rows") {
    val dir = tempDir("graft-compact")
    import spark.implicits._
    // 40 rows sprayed across 8 tasks => up to 8 files per partition dir
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 1.5))
      .toDF("id", "src", "v").repartition(8)
    Engine.writeParquetPartitioned(df, s"$dir/frag", Seq("src"))
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$dir/frag/src=a").size > 1, "fixture not fragmented")
    Engine.compactPartitionedParquet(spark, s"$dir/frag", s"$dir/compact", Seq("src"))
    // one file per partition directory, identical data
    assert(parquetFiles(s"$dir/compact/src=a").size == 1)
    assert(parquetFiles(s"$dir/compact/src=b").size == 1)
    val before = Engine.readParquet(spark, s"$dir/frag")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq
    val after = Engine.readParquet(spark, s"$dir/compact")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq
    assert(after == before)
  }

  test("bucketed tables join without an exchange") {
    import spark.implicits._
    val facts = (1 to 100).map(i => (i.toLong, i * 1.5)).toDF("k", "v")
    val dims = (1 to 20).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    Engine.writeBucketed(facts, "graft_bucket_facts", Seq("k"), 4)
    Engine.writeBucketed(dims, "graft_bucket_dims", Seq("k"), 4)
    try {
      // disable broadcast so the join would otherwise shuffle both sides
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("graft_bucket_facts")
          .join(spark.table("graft_bucket_dims"), "k")
        assert(joined.count() == 20)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_dims")
    }
  }

  test("parquet and csv writers round-trip; json source reads lines") {
    val dir = tempDir("graft-rt")
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    Engine.writeParquet(df, s"$dir/p")
    assert(Engine.readParquet(spark, s"$dir/p").orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    Engine.writeCsv(df, s"$dir/c")
    assert(Engine.readCsv(spark, s"$dir/c").orderBy("id").collect().length == 2)
    Files.write(java.nio.file.Paths.get(s"$dir/j.json"),
      "{\"id\": 1, \"s\": \"x\"}\n{\"id\": 2, \"s\": \"y\"}\n".getBytes("UTF-8"))
    val j = Engine.readJson(spark, s"$dir/j.json")
    assert(j.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y")))
  }

  test("orc and json writers round-trip; orc scan gets pushdown + pruning") {
    val dir = tempDir("graft-orc")
    import spark.implicits._
    val df = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0)).toDF("id", "s", "v")
    Engine.writeOrc(df, s"$dir/o")
    val back = Engine.readOrc(spark, s"$dir/o")
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // filter + projection must reach the ORC scan like they do for parquet
    val plan = back.filter($"id" > 1L).select($"s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint,s:string>"), plan)
    Engine.writeJson(df, s"$dir/jw")
    assert(Engine.readJson(spark, s"$dir/jw").orderBy("id").collect().length == 3)
  }

  test("forgetRewrite: forgotten keys gone, survivors byte-identical, layout preserved") {
    import spark.implicits._
    val base = tempDir("graft_forget")
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
      .toDF("uid", "part", "v")
    Engine.writeParquetPartitioned(df, s"$base/src", Seq("part"))
    val out = Engine.forgetRewrite(spark, s"$base/src", s"$base/dst", "uid",
      Seq(2L, 3L).toDF("uid"), Seq("part"))
    val rows = out.select("uid", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "a", 10.0), (4L, "b", 40.0)))
    // survivors keep the hive layout (both partition dirs still exist)
    assert(new java.io.File(s"$base/dst/part=a").isDirectory)
    assert(new java.io.File(s"$base/dst/part=b").isDirectory)
    // the source store is untouched — rewrite never mutates in place
    assert(spark.read.parquet(s"$base/src").count() == 4)
  }

  test("readParquetMerged: additive schema evolution unions footers, old files pad NULL") {
    val dir = tempDir("graft-evo")
    import spark.implicits._
    // batch 1 written before the column existed; batch 2 after
    Engine.writeParquet(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      s"$dir/t/batch=1")
    Engine.writeParquet(Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "s", "extra"),
      s"$dir/t/batch=2")
    val merged = Engine.readParquetMerged(spark, s"$dir/t")
    assert(merged.columns.toSet == Set("id", "s", "extra", "batch"))
    val rows = merged.orderBy("id")
      .select($"id", $"extra", $"batch".cast("long")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, -1L, 1L), (2L, -1L, 1L), (3L, 30L, 2L), (4L, 40L, 2L)))
    // the default (non-merged) read would plan only the first footer's
    // schema; the merged read is the schema-evolution contract
    assert(Engine.readParquet(spark, s"$dir/t").columns.toSet.subsetOf(
      Set("id", "s", "extra", "batch")))
  }

  test("Arrow IPC round trip is the identity across types, nulls, and partitions") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(1.5), "a", Some("x")),
      (2L, None, "b", None),
      (3L, Some(-0.0), "", Some("unicode: äöü 中文"))
    ).toDF("id", "d", "s", "opt").repartition(3)
    val back = Engine.fromArrowBatches(spark,
      Engine.toArrowBatches(df), df.schema)
    assert(back.schema == df.schema)
    val a = df.orderBy("id").collect().toSeq
    val b = back.orderBy("id").collect().toSeq
    assert(a == b)
    // empty frame: zero batches decode to an empty frame, same schema
    val empty = df.filter($"id" < 0L)
    val eback = Engine.fromArrowBatches(spark,
      Engine.toArrowBatches(empty), empty.schema)
    assert(eback.count() == 0L && eback.schema == df.schema)
  }

  test("SparkEntry.scratchRoot defaults to target/graft-scratch under the working directory") {
    assume(sys.props.get("graft.scratch").isEmpty && sys.env.get("SPARK_GRAFT_SCRATCH").isEmpty,
      "a scratch root override is set")
    // another checkout: the default follows user.dir, not a fixed path
    val cwd = tempDir("checkout")
    val saved = sys.props("user.dir")
    try {
      sys.props("user.dir") = cwd
      assert(SparkEntry.scratchRoot == Paths.get(cwd, "target", "graft-scratch").toString)
    } finally sys.props("user.dir") = saved
  }
}
