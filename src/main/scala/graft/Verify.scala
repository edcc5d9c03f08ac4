package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY (default 8 threads) on one SparkSession:
  * at sf0.01 per-query wall time is dominated by driver-side fixed costs
  * (planning, codegen, stage scheduling), so a thread pool cuts the full
  * ~400-query dump from ~25 min to a few minutes. Safe because every temp
  * view / SQL variable is query-prefixed, UDF registration is idempotent,
  * and Spark SQL job submission is thread-safe on a shared session.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name prefixes]
    // (the optional filter is a dev-loop convenience; the driver passes 2)
    val sfDir = args(0); val outDir = args(1)
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(',').toSeq; n => ps.exists(n.startsWith) }
      else _ => true
    // sf0.01 inputs are tiny — 8 shuffle partitions keeps task-scheduling
    // overhead down; correctness is partition-count independent.
    val spark = Engine.create("graft-verify", shufflePartitions = 8)
    new java.io.File(outDir).mkdirs()
    val work = SparkEntry.queries.filter(kv => only(kv._1)).toSeq.sortBy(_._1)
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt
    val pool = Executors.newFixedThreadPool(nThreads)
    val done = new AtomicInteger(0)
    // failed-fast queries also never write _SUCCESS; tracked separately so
    // a pool timeout reports genuinely-truncated stragglers, not failures
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val t0 = System.nanoTime()
    work.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val q0 = System.nanoTime()
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failed.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          val dt = (System.nanoTime() - q0) / 1e9
          val n = done.incrementAndGet()
          // per-query timing: slow queries are the gate's wall-time budget
          System.err.println(f"[verify] $n%3d/${work.size} $name%-40s $dt%6.1f s")
        }
      })
    }
    pool.shutdown()
    // A timed-out pool means UNFINISHED queries: exiting 0 here would let a
    // partial dump masquerade as a complete gate. Name the stragglers and
    // exit nonzero so the driver sees the truncation.
    if (!pool.awaitTermination(2, TimeUnit.HOURS)) {
      val missing = work.map(_._1).filterNot(n =>
        Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")) || failed.contains(n))
      System.err.println(
        s"[verify] TIMEOUT after 2h — ${missing.size} unfinished: ${missing.mkString(", ")}" +
          (if (failed.isEmpty) "" else
            s"; ${failed.size} failed (not stragglers): " +
              failed.toArray.mkString(", ")))
      pool.shutdownNow()
      sys.exit(2)
    }
    System.err.println(f"[verify] total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Verification-tier tags (pinned / no_oracle; absent = independent) —
    // a sidecar the driver ignores but the artifact's readers need to tell
    // regression pins apart from independent DuckDB re-derivations.
    val prov = SparkEntry.oracleProvenance
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_provenance.json"), prov)
    spark.stop()
  }
}
