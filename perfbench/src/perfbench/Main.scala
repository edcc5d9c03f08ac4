package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.DataFrame
import graft.{Engine, SparkEntry}

/** One query execution. Times are epoch milliseconds: `t0` the registry
  * call starts, `t1` the frame is built, `t2` the action has finished.
  */
final case class Exec(id: Long, pass: Int, query: String, t0: Double, t1: Double,
    t2: Double, ok: Boolean, error: String, gcMs: Long, filesWritten: Int)

/** Minimal JSON writer for the records and spans files. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** One JSON object per line, flushed at once so a killed run keeps them. */
final class Records(file: File) {
  private val w = new PrintWriter(file, "UTF-8")
  def apply(kind: String, fields: (String, Any)*): Unit = {
    w.println(Json(Map("kind" -> kind) ++ fields))
    w.flush()
  }
  def close(): Unit = w.close()
}

/** The JVM half of one benchmark run: set up a session, run the cold pass,
  * then about `--seconds` of timed passes, at least three unless they would
  * end after `--finish-by`, then one results pass that saves each result
  * for the oracle check. Every execution and every pass boundary goes to
  * `records.jsonl` in `--out`; `run.py` turns the records into metrics.
  * With `--trace 1` the cold pass and half of the timed passes run with the
  * [[Tracer]] attached, and the spans of the traced executions go to
  * `--spans`.
  *
  * Each query runs only after the previous one has finished, and the
  * catalog cache is cleared between queries. The seed permutes the query
  * order of every pass. Every pass but the results pass ends its queries
  * with the same `noop` action.
  */
object Main {
  private val clock0 = (System.currentTimeMillis().toDouble, System.nanoTime())
  private def now: Double = clock0._1 + (System.nanoTime() - clock0._2) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opt("out"))
    val record = new Records(new File(out, "records.jsonl"))
    val code =
      try { run(opt, out, record); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally record.close()
    // streaming queries or pools left behind by a failed query must not
    // keep the JVM alive
    sys.exit(code)
  }

  private def run(opt: Map[String, String], out: File, record: Records): Unit = {
    val cpus = opt("cpus").toInt
    val queries = opt("queries").split(',').toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val capMs = (opt("cap").toDouble * 1000).toLong

    val c0 = now
    val spark = Engine.create("perfbench", s"local[$cpus]", cpus)
    val createS = (now - c0) / 1000
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    record("setup", "ready_ms" -> System.currentTimeMillis(), "create_s" -> createS)

    // the bench-scale tables sit next to the tables of the entry query
    val data = opt.get("data").filter(_.nonEmpty).getOrElse {
      val entryFile = new File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head))
      new File(entryFile.getParentFile.getParentFile, "sf0.1").getPath
    }
    record("data", "dir" -> data)

    val writtenDirs = opt("written").split(',').map(new File(_)).toSeq
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val tracedExecs = Seq.newBuilder[Exec]
    val watchdog = new java.util.Timer("perfbench-watchdog", true)
    var execId = 0L

    def execute(pass: Int, name: String, action: (String, DataFrame) => Unit,
        tracing: Boolean): Exec = {
      val sc = spark.sparkContext
      val group = s"perfbench-$pass-$name"
      sc.setJobGroup(group, name, interruptOnCancel = true)
      val timedOut = new AtomicBoolean(false)
      val task = new java.util.TimerTask {
        def run(): Unit = { timedOut.set(true); sc.cancelJobGroupAndFutureJobs(group) }
      }
      watchdog.schedule(task, capMs)
      record("start", "pass" -> pass, "query" -> name)
      val gc0 = gcMillis()
      val t0 = now
      var t1 = Double.NaN
      val error =
        try {
          val fn = SparkEntry.queries.getOrElse(name,
            throw new NoSuchElementException(s"$name is not in SparkEntry.queries"))
          val df = fn(spark, data)
          t1 = now
          action(name, df)
          ""
        } catch {
          case e: Throwable =>
            if (timedOut.get) s"watchdog: over ${capMs / 1000} s" else e.toString
        } finally {
          task.cancel()
          sc.clearJobGroup()
        }
      val t2 = now
      if (t1.isNaN) t1 = t2
      execId += 1
      val e = Exec(execId, pass, name, t0, t1, t2, error.isEmpty, error,
        gcMillis() - gc0, if (tracing) filesWrittenSince(writtenDirs, t0) else 0)
      if (tracing) tracedExecs += e
      record("exec", "id" -> e.id, "pass" -> pass, "query" -> name,
        "build_s" -> (t1 - t0) / 1000, "action_s" -> (t2 - t1) / 1000,
        "ok" -> e.ok, "error" -> error, "gc_ms" -> e.gcMs, "traced" -> tracing)
      spark.catalog.clearCache()
      e
    }

    def pass(n: Int, tracing: Boolean, action: (String, DataFrame) => Unit): Double = {
      if (tracing) tracer.foreach(_.attach())
      val order = new Random(seed * 1000003L + n).shuffle(queries)
      val p0 = now
      order.foreach(execute(n, _, action, tracing))
      val wall = (now - p0) / 1000
      if (tracing) tracer.foreach(_.detach())
      record("pass", "pass" -> n, "wall_s" -> wall, "traced" -> tracing,
        "heap_live_mb" -> liveHeapMb())
      wall
    }

    // cold pass: first run of every query in the fresh session
    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    pass(0, traced, noop)

    // timed passes: as many whole passes as the first one says fit in
    // `seconds`, and at least three, so that each query's median rejects
    // one outlier; but only as many as end by `finish-by` together with the
    // results pass, so that a slow program is measured on fewer passes
    // rather than killed. A traced run makes a multiple of four passes and
    // traces them in the order untraced, traced, traced, untraced, so that
    // the session warming up over the run does not bias the tracing
    // overhead either way
    val first = pass(1, false, noop)
    val wanted = math.max(3, (seconds / first).toInt)
    val fit = ((opt("finish-by").toDouble - now) / 1000 / first).toInt
    val total = math.max(if (traced) 2 else 1,
      math.min(if (traced) (wanted + 3) / 4 * 4 else wanted, fit))
    record("plan", "passes" -> total, "fit" -> fit)
    (2 to total).foreach(n => pass(n, traced && n % 4 >= 2, noop))

    // results pass, outside the timed region: each result is saved for the
    // oracle check, next to the oracles of tools/compare_oracle.py
    val results = new File(out, "results")
    results.mkdirs()
    pass(-1, false, (name, df) =>
      df.write.mode("overwrite").parquet(new File(results, name).getPath))
    val oracles = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    java.nio.file.Files.writeString(new File(results, "oracle_sql.json").toPath, Json(oracles))

    tracer.foreach { t =>
      val spansOut = new PrintWriter(new File(opt("spans")), "UTF-8")
      try t.spans(tracedExecs.result()).foreach(s => spansOut.println(s.json))
      finally spansOut.close()
    }
    watchdog.cancel()
    spark.stop()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use right after a full collection: the live set. Collects
    * until the figure settles, because Spark's context cleaner frees the
    * blocks of finished queries (broadcasts, checkpoints) only after a
    * collection has found them unreachable.
    */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var settled = false
    var i = 0
    while (!settled && i < 10) {
      Thread.sleep(100)
      val next = collect()
      settled = last - next < 1.0
      last = math.min(last, next)
      i += 1
    }
    last
  }

  /** Files under `dirs` last modified at or after `sinceMs`. */
  private def filesWrittenSince(dirs: Seq[File], sinceMs: Double): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).fold(0)(_.map(walk).sum)
      else if (f.lastModified >= sinceMs.toLong) 1 else 0
    dirs.map(walk).sum
  }
}
