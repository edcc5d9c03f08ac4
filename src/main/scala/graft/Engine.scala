package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session facade — the Spark-native equivalent of the reference's
  * session context (`/root/reference/src/main.rs:379-386`, registered as
  * `session-context` at `src/main.rs:520`).
  *
  * The reference wraps a DataFusion `SessionContext` (catalog + config +
  * UDF registry + read entry points). Here the same role is played by a
  * `SparkSession`; this object provides the construction defaults and the
  * source surface.
  *
  * Scale notes: `shufflePartitions` should track cluster parallelism
  * (driver harness uses 32 local threads); AQE is enabled so joins are
  * re-planned at runtime (broadcast conversion, skew splitting, partition
  * coalescing) — that is the knob that matters at 100 TB, not the static
  * setting.
  */
object Engine {

  def create(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL-name registration for the native vector/hash/binary expressions,
    // so the spark.sql entry point has the full extension surface too.
    graft.plans.VectorExprs.register(spark)
    graft.plans.BinaryExprs.register(spark)
    // Aggregator-backed UDAFs go through spark.udf.register (the extensions
    // hook covers scalar expression builders only).
    graft.functions.Udafs.register(spark)
    spark
  }

  /** The reference's only source: `read-csv`
    * (`/root/reference/src/main.rs:570-578`) — header row = column names,
    * schema inferred (`CsvReadOptions::new()` defaults at `src/main.rs:574`).
    * Spark's inference mirrors DataFusion's (one eager pass, then lazy scan).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** Capability superset: Parquet source (the reference compiles parquet
    * support in but never registers a reader — `/root/reference/Cargo.lock:2286-2288`).
    * Parquet is the scale path: columnar, predicate/projection pushdown,
    * partition pruning all reach the scan. A single file is read with the
    * schema from [[parquetSchema]], so a repeated read of the same file
    * plans without a schema-inference job; a directory or a path that
    * cannot be stat'ed is a plain read. The frame is built fresh on every
    * call.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    cachedParquet(spark, path).fold(identity, s => spark.read.schema(s).parquet(path))

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Schema-evolution read: union the footer schemas of every parquet file
    * under `path` (`mergeSchema` — off by default in Spark because footer
    * merging reads every footer at planning time) so a table whose writer
    * gained columns over time reads as ONE frame, old files padding the
    * new columns with NULL. This is the no-table-format half of schema
    * evolution: additive-only (new nullable columns), which is the
    * compatible-evolution contract every long-lived ingest pipeline keeps;
    * a type CHANGE still needs a rewrite ([[compactPartitionedParquet]]).
    */
  def readParquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC: the other columnar format with full pushdown/pruning support —
    * same scale properties as parquet, for lakes standardized on ORC.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Testdata reader: one parquet file per table under `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Schema of the parquet data at `path`, inferred once per parquet FILE.
    * The lookup is keyed on the file's identity (qualified path, length,
    * modification time) plus the session's conf entries that parquet
    * inference reads, so a rewritten file or a session that infers
    * differently (`binaryAsString`, timestamp inference, case
    * sensitivity) infers afresh. A directory is never cached: its files
    * change without its own status saying so. A path that cannot be
    * stat'ed goes to the plain read, which raises Spark's own error.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    cachedParquet(spark, path).fold(_.schema, identity)

  private final case class SchemaKey(path: String, length: Long, mtime: Long,
      confs: Seq[(String, String)])

  /** Schemas only — no session, file index or data is held. */
  private val parquetSchemas = new ConcurrentHashMap[SchemaKey, StructType]()

  private def inferenceConf(key: String): Boolean =
    key == "spark.sql.caseSensitive" ||
      Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.files.")
        .exists(key.startsWith)

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (st.isDirectory) None
      else Some(SchemaKey(fs.makeQualified(p).toString, st.getLen,
        st.getModificationTime,
        spark.conf.getAll.toSeq.filter(kv => inferenceConf(kv._1)).sorted))
    } catch { case NonFatal(_) => None }

  /** Right(schema) on a hit; on a miss, Left(the inferring read itself),
    * so a miss reads the footer once, not twice.
    */
  private def cachedParquet(spark: SparkSession,
      path: String): Either[DataFrame, StructType] =
    schemaKey(spark, path) match {
      case None => Left(spark.read.parquet(path))
      case Some(k) =>
        val hit = parquetSchemas.get(k)
        if (hit != null) Right(hit)
        else {
          val df = spark.read.parquet(path)
          parquetSchemas.put(k, df.schema)
          Left(df)
        }
    }

  /** Sinks (capability superset — the reference has display-only sinks:
    * `df/show` `src/main.rs:552-559`, `df/collect` `src/main.rs:523-531`).
    */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Hive-style partitioned parquet layout: one directory per value of the
    * partition columns. The 100 TB read pattern — a filter on a partition
    * column prunes whole directories at planning time (`PartitionFilters`
    * in the scan, zero I/O for pruned values). Partition by low-cardinality
    * columns only (date, source, lang); high-cardinality partitioning
    * creates a small-files problem instead.
    */
  def writeParquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Targeted-deletion rewrite (GDPR / right-to-be-forgotten over a plain
    * parquet lake): anti-join the stored rows against a key set and write
    * the survivors to a NEW partitioned layout — the no-table-format
    * delete, same immutability rule as [[compactPartitionedParquet]]
    * (in-place overwrite would truncate the lazy source scan). Returns
    * the re-read survivor frame so callers can fingerprint/audit it
    * ([[graft.operators.Validation.tableFingerprint]] is the natural
    * witness that nothing ELSE changed).
    *
    * Scale shape: one anti join keyed on the forget key (Catalyst picks
    * broadcast when the forget set is small — the common case; a
    * billion-key purge shuffles, which is the honest cost) + one
    * distributed partitioned write. When forget keys correlate with
    * partition values, rewrite only the dirty partitions via dynamic
    * partition overwrite (the [[graft.streaming.EventStreams]] keyed-
    * upsert pattern) instead of calling this full-store form.
    */
  def forgetRewrite(spark: SparkSession, src: String, dst: String,
      key: String, forget: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val store = spark.read.parquet(src)
    val cleaned = store.join(forget.toDF(key).distinct(), Seq(key), "left_anti")
    writeParquetPartitioned(cleaned, dst, partitionCols)
    spark.read.parquet(dst)
  }

  /** Compact a hive-partitioned parquet layout into `dst` with one file
    * per partition directory — the small-files remediation every
    * long-lived 100 TB store needs (streaming ingest and fine-grained
    * backfills fragment partitions; thousands of tiny files turn scan
    * planning and open() overhead into the bottleneck). Repartitioning BY
    * the partition columns routes each directory's rows to one task, so
    * the write emits one file per value combination; everything stays
    * distributed — no collect, no driver-side file juggling. Compaction
    * writes to a NEW directory by design: overwriting the source in place
    * would truncate what the lazy scan still has to read.
    */
  def compactPartitionedParquet(spark: SparkSession, src: String, dst: String,
      partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(src)
      .repartition(partitionCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dst)
  }

  /** Bucketed + sorted table: rows are hash-distributed into `buckets`
    * files per partition by `bucketCols` at write time. Two tables bucketed
    * the same way join WITHOUT a shuffle (and without a sort, when sorted
    * the same way) — pre-paying the exchange once at ingest for every
    * downstream co-located join/aggregation. This is the standard layout
    * for a fact table that joins on the same key query after query.
    * (Bucketing requires the table catalog — `saveAsTable`, not `save`;
    * pass `path` to pin the file location, making the catalog entry an
    * external table over a controlled directory.)
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }

  /** Built-in XML source (Spark 4 folded spark-xml into core): one row
    * element per record under `rowTag`. The fifth lake format after
    * parquet/csv/json/orc.
    */
  def readXml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).load(path)

  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.format("xml").option("rowTag", rowTag).mode("overwrite").save(path)

  /** Arrow IPC record-batch interchange — the reference's RecordBatch
    * return surface (`SRecordBatch`, `src/main.rs:103-105`) re-expressed
    * distributed and inspectable: every partition encodes to a stream of
    * Arrow IPC batches (`df.toArrowBatchRdd`, the same encoder Spark's
    * Python/R bridges use) and [[fromArrowBatches]] decodes them back to
    * a DataFrame with the original schema. Nothing funnels through the
    * driver in either direction, so this is also the zero-copy-ish hand-
    * off lane to Arrow-native consumers (feature stores, GPU loaders) at
    * 100 TB: batches stay partition-local.
    */
  def toArrowBatches(df: DataFrame): org.apache.spark.rdd.RDD[Array[Byte]] =
    org.apache.spark.sql.graft.Bridge.toArrowBatchRdd(df)

  def fromArrowBatches(spark: SparkSession,
      batches: org.apache.spark.rdd.RDD[Array[Byte]],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    org.apache.spark.sql.graft.Bridge.fromArrowBatchRdd(spark, batches, schema)

  /** Plain (unbucketed) catalog table — the registration ANALYZE TABLE and
    * the cost-based optimizer need: statistics attach to catalog entries,
    * not paths, so a CBO story starts here rather than at read.parquet.
    */
  def writeTable(df: DataFrame, tableName: String,
      path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }
}
