package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink rather than `count()`:
  * count() lets Catalyst prune away the projected columns, which would
  * benchmark a cheaper plan than the one users run.
  *
  * Bench measures and records; it does not grade. The stdout line carries
  * per-query seconds only; `bench_out.json` adds the raw passes, the chosen
  * pass's GC time and a raw `regressions` list for a reader to judge.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (testdata), `SPARK_GRAFT_BENCH_ONLY`
  * (comma-separated query-name prefixes, e.g. `q02,q37_emb_pairs`; a full
  * name is its own prefix), `SPARK_GRAFT_BENCH_OUT` (artifact path,
  * default `bench_out.json`). `SPARK_GRAFT_CPUS` is read by [[Engine.create]].
  */
object Bench {
  /** One timed pass: elapsed seconds, whether it succeeded, and the
    * stop-the-world GC milliseconds that landed inside it.
    */
  private[graft] final case class Pass(sec: Double, ok: Boolean, gcMs: Long)

  /** The official pass of a query: the fastest SUCCESSFUL pass, or pass 1
    * when none succeeded (the query then lands in `failed`). A failed
    * pass never substitutes its time: its fast-failure elapsed (or the
    * watchdog cap) is not a measurement. On a tie the later pass wins.
    */
  private[graft] def official(passes: Seq[Pass]): Pass =
    passes.filter(_.ok).reduceLeftOption((a, b) => if (a.sec < b.sec) a else b)
      .getOrElse(passes.head)

  /** Passes as recorded in `bench_out.json`: failed passes negated
    * (sign = pass_ok), so min(passes >= 0) always equals the official time.
    */
  private[graft] def signedPasses(passes: Seq[Pass]): Seq[Double] =
    passes.map(p => if (p.ok) p.sec else -p.sec)

  /** A query more than 1.5x AND more than 1 s slower than a reference
    * time: the previous round or the best of all committed rounds. Raw:
    * nothing is re-measured, labelled or allowlisted.
    */
  private[graft] final case class Regression(q: String, prev: Option[Double],
      best: Option[Double], now: Double)

  private def trips(ref: Option[Double], t: Double): Boolean =
    ref.exists(r => t > r * 1.5 && t - r > 1.0)

  /** Round artifacts carry SHORT keys (the stdout line's qNN prefixes);
    * `bench_out.json` carries full names, so look a query up under both.
    */
  private def lookup(m: Map[String, Double], name: String): Option[Double] =
    m.get(name).orElse(m.get(shortKey(name)))

  private[graft] def regressions(results: Seq[(String, Double)],
      prev: Map[String, Double], best: Map[String, Double]): Seq[Regression] =
    results.flatMap { case (name, t) =>
      val p = lookup(prev, name)
      val b = lookup(best, name)
      if (trips(p, t) || trips(b, t)) Some(Regression(name, p, b, t)) else None
    }

  /** The `"queries":{...}` map of a bench artifact: `bench_out.json`, or a
    * round artifact that embeds the stdout line as an escaped JSON string.
    */
  private[graft] def timesIn(text: String): Map[String, Double] =
    """"queries":\{([^}]*)\}""".r.findFirstMatchIn(text.replace("\\\"", "\""))
      .fold(Map.empty[String, Double]) { g =>
        """"([^"]+)":([0-9.Ee+-]+)""".r.findAllMatchIn(g.group(1))
          .map(p => p.group(1) -> p.group(2).toDouble).toMap
      }

  private def timesFrom(path: String): Map[String, Double] =
    try timesIn(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
    catch { case _: Exception => Map.empty }

  private[graft] def shortKey(name: String): String = name.takeWhile(_ != '_')

  private def f2(d: Double): String = "%.2f".formatLocal(Locale.ROOT, d)
  private def f3(d: Double): String = "%.3f".formatLocal(Locale.ROOT, d)
  private def strs(xs: Iterable[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The driver keeps only the LAST 2000 chars of stdout, and sbt appends a
    * "[success] Total time" line (~75 chars) after ours.
    */
  private[graft] val StdoutBudget = 1850

  /** The stdout line: short keys at 2 decimals. When the full map does not
    * fit [[StdoutBudget]], the slowest queries that fit are kept, with
    * `queries_shown`; the full-precision map lives in `bench_out.json`.
    */
  private[graft] def stdoutLine(results: Seq[(String, Double)],
      failed: Seq[String], sfDir: String): String = {
    val total = results.map(_._2).sum
    val core44 = core44Total(results)
    def line(shown: Seq[(String, Double)], truncated: Boolean): String = {
      val qj = shown.sortBy(_._1)
        .map { case (k, v) => "\"" + shortKey(k) + "\":" + f2(v) }.mkString("{", ",", "}")
      val trunc =
        if (truncated) s""","queries_shown":${shown.size},"queries_full":"bench_out.json""""
        else ""
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","core44_r01_set":${f3(core44)},"n_queries":${results.size},"queries":$qj,"failed":${strs(failed)},"sf":"$sfDir"$trunc}"""
    }
    val full = line(results, truncated = false)
    if (full.length <= StdoutBudget) full
    else {
      val bySlow = results.sortBy(-_._2)
      (bySlow.size to 1 by -1).iterator.map(k => line(bySlow.take(k), truncated = true))
        .find(_.length <= StdoutBudget)
        .getOrElse(line(bySlow.take(1), truncated = true))
    }
  }

  private val Core44 = "q(\\d\\d)_.*".r

  /** Subtotal over the round-1 query set (q01-q44): the grand total is not
    * comparable across rounds because the query surface grows, this is.
    */
  private def core44Total(results: Seq[(String, Double)]): Double =
    results.collect { case (Core44(n), t) if n.toInt >= 1 && n.toInt <= 44 => t }.sum

  /** Per-query watchdog cap: a wedged query costs its own entry, never
    * the run's artifact.
    */
  private val CapSec = 120L

  // Throttled full-GC nudge: one forced full GC on a large heap costs
  // ~0.3-0.5 s of wall, and one per pass (~830 a run) was the largest
  // block of untimed harness time in r13. One nudge per ~15 s still keeps
  // a query's allocation debt from surfacing as a pause inside a
  // NEIGHBOR's timed pass; what lands inside a pass shows in `gc_ms`.
  private val lastGcNudge = new java.util.concurrent.atomic.AtomicLong(0L)
  private def maybeGc(): Unit = {
    val now = System.nanoTime()
    if (now - lastGcNudge.get() > 15L * 1000 * 1000 * 1000) {
      lastGcNudge.set(now)
      System.gc()
    }
  }

  // Cumulative stop-the-world GC time across all collectors; its delta
  // over a pass tells an in-run GC stall from a plan change.
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // the ~15 queries whose contract includes a write (format round-trips,
    // streaming stores, compaction) would otherwise measure the box's disk
    // alongside the operator; opt out by setting SPARK_GRAFT_SCRATCH (or
    // the graft.scratch sysprop)
    SparkEntry.useTmpfsScratch()
    val spark = Engine.create("graft-bench")
    // Warm the JVM/codegen paths once so per-query numbers measure the
    // engine, not first-call classloading.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val selected = only.fold(SparkEntry.queries)(ps =>
      SparkEntry.queries.filter(kv => ps.exists(kv._1.startsWith)))
    // Failures are caught per-query so one bad query can't kill the run,
    // and listed in `failed`: a failed query's "time" is a fast no-op that
    // would otherwise silently flatter the total.
    val failedQueries = scala.collection.mutable.LinkedHashSet[String]()
    // Each pass runs under its own job group with interruptOnCancel; a
    // timer cancels the group after the cap, the noop save throws, and the
    // query lands in `failed` with a "(timeout)" marker. Driver-side
    // planning wedges are not cancellable this way, but every observed
    // wedge so far has been executor-side.
    val watchdog = new java.util.Timer("bench-watchdog", true)
    def guarded(name: String)(body: => Unit): Boolean = {
      val group = s"bench-$name"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      val task = new java.util.TimerTask {
        def run(): Unit = {
          timedOut.set(true)
          System.err.println(s"[bench] $name exceeded ${CapSec}s — cancelling job group")
          // AndFutureJobs: cancelJobGroup only kills in-flight jobs — an
          // iterative query between jobs on the driver (count/checkpoint
          // loops) would sail past a plain cancel and run unbounded
          spark.sparkContext.cancelJobGroupAndFutureJobs(group)
        }
      }
      watchdog.schedule(task, CapSec * 1000L)
      try { body; true }
      catch {
        case e: Throwable =>
          failedQueries += (if (timedOut.get) s"$name(timeout)" else name)
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      } finally {
        task.cancel()
        spark.sparkContext.clearJobGroup()
      }
    }
    def onePass(name: String,
        fn: (SparkSession, String) => DataFrame): Pass = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val ok = guarded(name) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val pass = Pass((System.nanoTime() - t0) / 1e9, ok, gcMillis() - gc0)
      // Drop anything the query persisted, outside the timed region: pass 2
      // must rebuild it (Spark's CacheManager matches canonicalized plans,
      // so reuse would hide real compute), and later queries must not run
      // under this query's cache pressure.
      spark.catalog.clearCache()
      maybeGc()
      pass
    }
    // Two passes per query; the official time is the min (see `official`):
    // pass 1 pays plan + janino codegen, so pass 2 normally wins, and when
    // run-context noise lands inside pass 2, pass 1 caps it. Pass 2 is
    // skipped after a failed pass 1: re-running a wedged query would
    // double its cap cost for no information.
    val timed = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // progress marker: when a query wedges, the LAST start line names it
      System.err.println(s"[bench] start $name")
      val p1 = onePass(name, fn)
      name -> (if (p1.ok) Seq(p1, onePass(name, fn)) else Seq(p1))
    }
    val chosen = timed.map { case (n, ps) => n -> official(ps) }
    val results = chosen.map { case (n, p) => n -> p.sec }
    val failed = failedQueries.toSeq

    // Reference times for the raw `regressions` list: the previous round is
    // the artifact this run overwrites, else the newest committed
    // BENCH_r*.json; best-of-rounds is the min over every committed round.
    val rounds = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(_.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
    val prevPath = Some(outPath).filter(p => Files.exists(Paths.get(p)))
      .orElse(rounds.lastOption.map(_.getPath))
    val prev = prevPath.fold(Map.empty[String, Double])(timesFrom)
    val best = rounds.map(f => timesFrom(f.getPath))
      .foldLeft(Map.empty[String, Double]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.get(k).fold(v)(math.min(_, v))) }
      }
    def ref(v: Option[Double]): String = v.fold("null")(_.toString)
    val regressionsJson =
      if (prev.isEmpty && best.isEmpty) "" // first run: nothing to compare
      else regressions(results, prev, best).map(r =>
        s"""{"q":"${r.q}","prev":${ref(r.prev)},"best":${ref(r.best)},"now":${r.now}}""")
        .mkString(""","regressions":[""", ",", "]")

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val passesJson = timed.map { case (k, ps) =>
      "\"" + k + "\":" + signedPasses(ps).map(f3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val gcJson = chosen.map { case (k, p) => "\"" + k + "\":" + p.gcMs }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec","protocol":"per-query min of 2 passes; raw passes in `passes`, failed passes negated (sign = pass_ok, excluded from the min)","core44_r01_set":${core44Total(results)},"queries":$qs,"passes":$passesJson,"gc_ms":$gcJson,"failed":${strs(failed)},"sf":"$sfDir"$regressionsJson}"""
    Files.write(Paths.get(outPath), (json + "\n").getBytes(UTF_8))
    println(stdoutLine(results, failed, sfDir))
    spark.stop()
  }
}
