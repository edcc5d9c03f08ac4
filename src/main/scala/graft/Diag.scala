package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostics for SparkEntry queries, on Bench's session
  * ([[Engine.create]]) and tmpfs scratch, against the testdata in
  * SPARK_GRAFT_SF_DIR (default sf0.1). Two subcommands:
  *
  *  - `plan <outDir> <suffix> <query...>` writes each query's formatted
  *    physical plan to `<outDir>/<query>_<suffix>.txt` WITHOUT executing
  *    it (no noop save), so a dump is cheap on any tree state — the
  *    before/after plan evidence of an optimization round
  *    (`plans/rNN/<query>_{before,after}.txt`). An unknown name is skipped
  *    with a message.
  *  - `probe <query> [reps]` attributes one query's bench number: one
  *    warm pass, the formatted plan once, then `reps` (default 3) fresh
  *    executions with construction timed apart from execution, and each
  *    job's wall time and each stage's task and record counts on stderr
  *    (the local-mode substitute for the disabled UI).
  *
  * Usage: sbt "runMain graft.Diag probe q142_mutual_knn_ivf 4"
  */
object Diag {
  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit = {
    // diagnostic tool, so diagnose its own inputs: a typo'd query name or
    // non-numeric rep count gets a usage line, not a raw exception stack
    def usage(problem: String): Nothing = {
      System.err.println(s"[diag] $problem")
      System.err.println("usage: sbt \"runMain graft.Diag plan <outDir> <suffix> <query...>\"")
      System.err.println("       sbt \"runMain graft.Diag probe <query> [reps]\"")
      sys.exit(2)
    }
    args.toSeq match {
      case Seq("plan", outDir, suffix, names @ _*) if names.nonEmpty =>
        withSession(plan(_, sfDir, outDir, suffix, names))
      case Seq("probe", name, rest @ _*) if rest.size <= 1 =>
        if (!SparkEntry.queries.contains(name)) {
          val near = SparkEntry.queries.keys.toSeq.sorted
            .filter(_.startsWith(name.takeWhile(_ != '_'))).take(5)
          usage(s"unknown query '$name'" +
            (if (near.nonEmpty) s"; close matches: ${near.mkString(", ")}"
             else "; see SparkEntry.queries for the full list"))
        }
        val reps = rest.headOption.map { r =>
          r.toIntOption.filter(_ > 0).getOrElse(usage(s"reps must be a positive int, got '$r'"))
        }.getOrElse(3)
        withSession(probe(_, name, reps))
      case _ => usage(s"bad arguments: ${args.mkString(" ")}")
    }
  }

  /** Queries whose builders write (index persistence, format round trips,
    * streaming stores) must hit the tmpfs root the bench measured them on:
    * a disk-backed probe of a tmpfs-measured query attributes nothing.
    */
  private def withSession(body: SparkSession => Unit): Unit = {
    SparkEntry.useTmpfsScratch()
    val spark = Engine.create("graft-diag")
    try body(spark) finally spark.stop()
  }

  private[graft] def plan(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[diag] unknown query $name — skipped")
        case Some(fn) =>
          try {
            val p = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
            Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
              p.getBytes(StandardCharsets.UTF_8))
            System.err.println(s"[diag] wrote $name")
          } catch {
            case e: Throwable =>
              System.err.println(s"[diag] $name failed: ${e.getMessage}")
          }
      }
    }
  }

  private def probe(spark: SparkSession, name: String, reps: Int): Unit = {
    // job wall times and stage/task counts attribute a query's seconds to
    // scheduling waves vs real compute
    spark.sparkContext.addSparkListener(new SparkListener {
      private val t0 = new ConcurrentHashMap[Int, Long]()
      override def onJobStart(j: SparkListenerJobStart): Unit =
        t0.put(j.jobId, System.nanoTime())
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val dt = Option(t0.remove(j.jobId))
          .map(s => (System.nanoTime() - s) / 1e9).getOrElse(-1.0)
        System.err.println(f"[probe-job] job=${j.jobId}%3d ${dt}%7.3f s")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val dur = (for {a <- i.completionTime; b <- i.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        val m = i.taskMetrics
        val sr = m.shuffleReadMetrics.recordsRead
        val sw = m.shuffleWriteMetrics.recordsWritten
        val in = m.inputMetrics.recordsRead
        System.err.println(f"[probe-stage] stage=${i.stageId}%3d tasks=${i.numTasks}%3d ${dur}%7.3f s  in=$in sr=$sr sw=$sw  ${i.name.take(40)}")
      }
    })
    val fn = SparkEntry.queries(name)
    // one warm pass (plan + janino codegen), as Bench's warmup does
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    fn(spark, sfDir).explain("formatted")
    spark.catalog.clearCache()
    (1 to reps).foreach { i =>
      // construction (driver work in the query builder — e.g. sampled
      // k-means seeding, plan assembly) timed apart from execution: the
      // split attributes a cold-JIT tail to the right phase
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = (System.nanoTime() - t1) / 1e9
      println(f"[probe] $name rep $i: build $tBuild%.3f s + exec $tExec%.3f s = ${tBuild + tExec}%.3f s")
      spark.catalog.clearCache()
      System.gc()
    }
  }
}
