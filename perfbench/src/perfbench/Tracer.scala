package perfbench

import java.time.Instant
import scala.collection.mutable
import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch milliseconds. `parent` and `exec` are
  * filled in when the spans are assembled at the end of the run.
  */
final case class Span(name: String, start: Double, end: Double,
    attrs: Map[String, Any] = Map.empty, var id: Long = 0, var parent: Long = 0,
    var exec: Long = -1) {
  def json: String = Json(Map("id" -> id, "name" -> name, "start" -> start,
    "end" -> end, "parent" -> parent, "exec" -> exec) ++ attrs)
}

/** Records what Spark reports about the queries it runs while attached,
  * through its public listener APIs only: a [[SparkListener]] for jobs,
  * stages and tasks, a [[QueryExecutionListener]] for the Catalyst phase
  * timings of `QueryPlanningTracker`, and a [[StreamingQueryListener]] for
  * micro-batches. Everything stays in memory until [[spans]] assembles it.
  *
  * Tasks are aggregated per stage attempt instead of becoming spans.
  */
final class Tracer(spark: SparkSession) {
  private final class Job(val id: Int, val start: Long, val stageIds: Seq[Int],
      val call: String, val schema: Boolean) {
    var end: Long = start
  }
  private final class Tasks {
    var n, failed = 0
    var runMs, cpuNs, waitMs, shuffleWrite, shuffleRead, spill, written = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }

  private val jobs = mutable.ArrayBuffer[Job]()
  private val openJobs = mutable.Map[Int, Job]()
  private val tasks = mutable.Map[(Int, Int), Tasks]()
  private val stages = mutable.ArrayBuffer[Span]()
  private val phases = mutable.ArrayBuffer[Span]()
  private val batches = mutable.ArrayBuffer[Span]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val call = e.stageInfos.headOption.map(_.name).getOrElse("")
      val j = new Job(e.jobId, e.time, e.stageIds, call,
        e.stageInfos.exists(s => Tracer.isSchemaInference(s.details)))
      openJobs(e.jobId) = j
      jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val t = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new Tasks)
      t.n += 1
      if (e.reason != Success) t.failed += 1
      t.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        // the scheduler delay as Spark's UI defines it: task time not
        // spent deserializing, running or serializing the result
        t.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.written += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val t = tasks.remove((i.stageId, i.attemptNumber())).getOrElse(new Tasks)
      val sorted = t.durations.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      val s = Span("scheduler.stage",
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(), "tasks" -> t.n,
          "failed_tasks" -> t.failed, "run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6,
          "task_wait_ms" -> t.waitMs, "task_max_ms" -> sorted.lastOption.getOrElse(0L),
          "task_median_ms" -> median, "shuffle_write_b" -> t.shuffleWrite,
          "shuffle_read_b" -> t.shuffleRead, "spill_b" -> t.spill,
          "written_b" -> t.written))
      stages += s
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)
  }
  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      phases += Span(s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches += Span("streaming.batch", start, start + p.batchDuration,
          Map("batch" -> p.batchId))
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far has been delivered, then stops
    * listening.
    */
  def detach(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Builds the span tree of the traced executions: per execution a
    * `query` span with `SparkEntry.build` and `action` children; each
    * Catalyst phase, job and micro-batch parented to the build or action
    * span that covers its start; each stage parented to its job. Events
    * outside every traced execution keep parent 0 and exec -1.
    */
  def spans(execs: Seq[Exec]): Seq[Span] = synchronized {
    var next = 0L
    def add(s: Span): Span = { next += 1; s.id = next; s }
    val tree = execs.map { e =>
      val q = add(Span("query", e.t0, e.t2, Map("query" -> e.query, "pass" -> e.pass,
        "ok" -> e.ok, "gc_ms" -> e.gcMs, "files_written" -> e.filesWritten)))
      val b = add(Span("SparkEntry.build", e.t0, e.t1))
      val a = add(Span("action", e.t1, e.t2))
      Seq(q, b, a).foreach(_.exec = e.id)
      b.parent = q.id
      a.parent = q.id
      (e, q, b, a)
    }
    // Spark stamps events in whole milliseconds: allow one either side
    def place(s: Span): Span = {
      tree.find { case (e, _, _, _) => s.start >= e.t0 - 1 && s.start <= e.t2 + 1 }
        .foreach { case (e, _, b, a) =>
          s.exec = e.id
          s.parent = (if (s.start < e.t1) b else a).id
        }
      add(s)
    }
    val jobSpans = jobs.toSeq.map { j =>
      j -> place(Span("scheduler.job", j.start.toDouble, j.end.toDouble,
        Map("job" -> j.id, "call" -> j.call, "schema_inference" -> j.schema)))
    }
    val jobOfStage = mutable.Map[Int, Span]()
    jobSpans.foreach { case (j, s) => j.stageIds.foreach(jobOfStage.getOrElseUpdate(_, s)) }
    val stageSpans = stages.toSeq.map { s =>
      jobOfStage.get(s.attrs("stage").asInstanceOf[Int])
        .foreach { j => s.parent = j.id; s.exec = j.exec }
      add(s)
    }
    val placed = phases.toSeq.map(place) ++ batches.toSeq.map(place)
    tree.flatMap { case (_, q, b, a) => Seq(q, b, a) } ++
      jobSpans.map(_._2) ++ stageSpans ++ placed
  }
}

object Tracer {
  /** A job started by a reader call (`spark.read.parquet`, `.json`, ...)
    * infers the source's schema: reading runs no other job before an
    * action. A stage's details are its call site's stack, topped by the
    * last Spark frame.
    */
  def isSchemaInference(details: String): Boolean = {
    val top = details.linesIterator.nextOption().getOrElse("")
    top.contains(".DataFrameReader.") || top.contains(".DataStreamReader.")
  }
}
