package graft.operators

import org.apache.spark.sql.DataFrame

/** Per-round lineage truncation for iterative dataflows
  * (connected components, PageRank, Lloyd loops).
  *
  * An iterative dataflow MUST truncate lineage every round — persist alone
  * short-circuits execution but not plan analysis/stringification, so the
  * logical plan doubles per iteration and the driver OOMs on plan trees.
  * Two truncation modes:
  *
  *  - `checkpointDir = None` (default): eager `localCheckpoint` — round
  *    state lives in executor block storage. Fastest, and correct on
  *    local/driver-side runs; on a real cluster an executor loss discards
  *    blocks and the job FAILS (lineage was truncated, Spark cannot
  *    recompute). Acceptable for short loops where a retry is cheap.
  *  - `checkpointDir = Some(dir)`: eager reliable `checkpoint` — round
  *    state is written to `dir`, which must be cluster-visible storage
  *    (HDFS/S3; a local path only works single-node). One FS write per
  *    round buys survival of executor death — the right trade for
  *    long-running 100 TB jobs where a round costs more than the write.
  *
  * The contract callers expose: a `checkpointDir: Option[String]` knob,
  * defaulting to None.
  */
object Iterative {

  /** Max materialized ROWS for which iterative loops compose 2-3
    * un-materialized steps per truncate (hop/relax/star batching). The
    * composed inner steps re-execute inside the round's job, so batching
    * pays exactly while the frame is small enough that the recompute is
    * cheaper than the driver round it replaces; fatter frames fall back
    * to one materialized step per round. Gate on a COUNT of the already-
    * materialized checkpoint (one cheap scan-only job) — optimizer size
    * estimates inflate through join/agg derivations (measured: q349's
    * ~12k-row BFS frontier was estimated past a 64 MB byte gate, silently
    * disabling the batching for the exact round-dominated shape it was
    * built for).
    */
  val batchRows: Long = 2L * 1000 * 1000

  /** The dir this JVM last passed to setCheckpointDir. The stored
    * SparkContext value is NOT comparable to the caller's string —
    * setCheckpointDir records a scheme-qualified per-run UUID child
    * (`file:/dir/<uuid>`), so a startsWith check against the raw dir
    * never matches and would re-set (and re-mkdir a fresh UUID subdir)
    * every round. Remembering what WE set last keeps per-loop set-once
    * semantics while still honoring a caller that switches dirs.
    */
  private val lastSetDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Truncate `df`'s lineage eagerly using the mode selected by
    * `checkpointDir` (see object doc). Sets the session's checkpoint dir
    * when it differs from the last one set; Spark puts each run's files
    * under a generated subdirectory of `dir`, so concurrent jobs don't
    * collide.
    */
  def truncate(df: DataFrame, checkpointDir: Option[String],
      eager: Boolean = true): DataFrame = {
    val cp = checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (lastSetDir.getAndSet(dir) != dir) sc.setCheckpointDir(dir)
        df.checkpoint(eager = eager)
      // eager=false still truncates the LOGICAL plan immediately (the
      // Dataset becomes a LogicalRDD leaf either way) but defers execution:
      // a FIXED-round loop with no per-round driver decision then runs as
      // one composed execution instead of one materialization job per round
      // — the per-round job floor (~0.3-0.5 s/round of scheduling + AQE
      // stage setup) was the dominant cost of the NSW hop pipeline
      // (measured q411: 4.3 s of driver-side build, 0.3 s exec). Loops that
      // READ the frame each round (convergence counts) keep eager=true —
      // lazy would re-execute the whole chain per read.
      case None => df.localCheckpoint(eager = eager)
    }
    // The checkpoint truncates the PLAN but deliberately propagates the
    // source stats (LogicalRDD.originStats) — in a SELF-JOINING loop the
    // carried sizeInBytes squares per round into a million-digit BigInt
    // that wedges Catalyst's size estimation in BigInteger multiplies
    // (observed: q349's parity BFS never finished planning at sf0.1).
    // Sane estimates are kept — they carry the bounded-side evidence that
    // lets small iterative frames broadcast — and only a blown-past-1PB
    // estimate is reset to the conservative default (AQE re-derives real
    // sizes at runtime, so execution strategy is unaffected).
    if (org.apache.spark.sql.graft.Bridge.statsSizeInBytes(cp) <=
        BigInt("1000000000000000")) cp
    else org.apache.spark.sql.graft.Bridge.withoutOriginStats(cp)
  }
}
