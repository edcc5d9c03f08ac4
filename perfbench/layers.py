"""Per-layer metrics of a traced run, computed from its spans file.

Every metric is a mean per traced timed execution unless it is a share, a
ratio or a peak. The layers follow graft's modules:

- Engine: session creation, parquet schema inference, files written;
- SparkEntry: building the frame in the query registry;
- catalyst: Spark's analysis, optimization and planning phases;
- scheduler: jobs, stages and tasks;
- operators: the task work of graft's operators, functions and plans;
- streaming: micro-batches of graft.streaming;
- jvm: garbage collection and the live heap;
- trace: how much the trace covers, and what it costs.
"""
import statistics

MB = 1048576.0

UNITS = {
    "Engine.create_s": "s", "Engine.schema_jobs": "count", "Engine.schema_ms": "ms",
    "Engine.write_mb": "MB", "Engine.files_written": "count",
    "SparkEntry.build_s": "s", "SparkEntry.build_self_s": "s",
    "SparkEntry.build_jobs": "count", "SparkEntry.build_share": "ratio",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.task_wait_ms": "ms", "scheduler.failed_tasks": "count",
    "scheduler.stage_retries": "count",
    "operators.task_busy_s": "s", "operators.task_cpu_s": "s",
    "operators.core_util": "ratio", "operators.task_skew": "ratio",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "streaming.batches": "count", "streaming.batch_ms_p50": "ms",
    "jvm.gc_ms": "ms", "jvm.heap_live_mb": "MB",
    "trace.unattributed_share": "ratio", "trace.overhead": "ratio",
}


def _dur(s):
    return s["end"] - s["start"]


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if a < b and b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def per_layer(spans, records, cpus):
    """{metric: value} over the traced timed executions."""
    queries = [s for s in spans if s["name"] == "query" and s["pass"] > 0]
    if not queries:
        raise ValueError("the traced run has no traced timed execution")
    ids = {q["exec"] for q in queries}
    by_exec = {}
    for s in spans:
        if s["exec"] in ids:
            by_exec.setdefault(s["exec"], []).append(s)
    n = len(queries)

    def named(name, exec_id):
        return [s for s in by_exec[exec_id] if s["name"] == name]

    def mean(f):
        return sum(f(q["exec"]) for q in queries) / n

    def stage_sum(key, scale=1.0):
        return mean(lambda e: sum(s[key] for s in named("scheduler.stage", e)) / scale)

    def one(name, e):
        return named(name, e)[0]

    def build_self(e):
        b = one("SparkEntry.build", e)
        jobs = [(j["start"], j["end"]) for j in named("scheduler.job", e)]
        return (_dur(b) - covered(jobs, b["start"], b["end"])) / 1000

    def skew(e):
        ratios = [s["task_max_ms"] / max(s["task_median_ms"], 1)
                  for s in named("scheduler.stage", e) if s["tasks"] >= 2]
        return max(ratios, default=1.0)

    def action_run_ms(e):
        action = one("action", e)["id"]
        jobs = {j["id"] for j in named("scheduler.job", e) if j["parent"] == action}
        return sum(s["run_ms"] for s in named("scheduler.stage", e) if s["parent"] in jobs)

    def unattributed(e):
        q = one("query", e)
        leaves = [(s["start"], s["end"]) for s in by_exec[e]
                  if s["name"] == "scheduler.job" or s["name"].startswith("catalyst.")]
        return _dur(q) - covered(leaves, q["start"], q["end"])

    def schema_jobs(e):
        return [j for j in named("scheduler.job", e) if j["schema_inference"]]

    query_ms = sum(_dur(q) for q in queries)
    action_ms = sum(_dur(one("action", q["exec"])) for q in queries)
    batch_ms = [_dur(s) for e in ids for s in named("streaming.batch", e)]
    passes = [p for p in records if p["kind"] == "pass" and p["pass"] > 0]
    traced_wall = [p["wall_s"] for p in passes if p["traced"]]
    plain_wall = [p["wall_s"] for p in passes if not p["traced"]]
    setup = next(r for r in records if r["kind"] == "setup")
    return {
        "Engine.create_s": setup["create_s"],
        "Engine.schema_jobs": mean(lambda e: len(schema_jobs(e))),
        "Engine.schema_ms": mean(lambda e: sum(_dur(j) for j in schema_jobs(e))),
        "Engine.write_mb": stage_sum("written_b", MB),
        "Engine.files_written": mean(lambda e: one("query", e)["files_written"]),
        "SparkEntry.build_s": mean(lambda e: _dur(one("SparkEntry.build", e)) / 1000),
        "SparkEntry.build_self_s": mean(build_self),
        "SparkEntry.build_jobs": mean(lambda e: sum(
            j["parent"] == one("SparkEntry.build", e)["id"]
            for j in named("scheduler.job", e))),
        "SparkEntry.build_share":
            sum(_dur(one("SparkEntry.build", q["exec"])) for q in queries) / query_ms,
        "catalyst.analysis_ms": mean(lambda e: sum(map(_dur, named("catalyst.analysis", e)))),
        "catalyst.optimization_ms":
            mean(lambda e: sum(map(_dur, named("catalyst.optimization", e)))),
        "catalyst.planning_ms": mean(lambda e: sum(map(_dur, named("catalyst.planning", e)))),
        "scheduler.jobs": mean(lambda e: len(named("scheduler.job", e))),
        "scheduler.stages": mean(lambda e: len(named("scheduler.stage", e))),
        "scheduler.tasks": stage_sum("tasks"),
        "scheduler.task_wait_ms": stage_sum("task_wait_ms"),
        "scheduler.failed_tasks": stage_sum("failed_tasks"),
        "scheduler.stage_retries":
            mean(lambda e: sum(s["attempt"] > 0 for s in named("scheduler.stage", e))),
        "operators.task_busy_s": stage_sum("run_ms", 1000),
        "operators.task_cpu_s": stage_sum("cpu_ms", 1000),
        "operators.core_util":
            sum(action_run_ms(q["exec"]) for q in queries) / (cpus * action_ms),
        "operators.task_skew": mean(skew),
        "operators.shuffle_write_mb": stage_sum("shuffle_write_b", MB),
        "operators.shuffle_read_mb": stage_sum("shuffle_read_b", MB),
        "operators.spill_mb": stage_sum("spill_b", MB),
        "streaming.batches": mean(lambda e: len(named("streaming.batch", e))),
        "streaming.batch_ms_p50": statistics.median(batch_ms) if batch_ms else 0.0,
        "jvm.gc_ms": mean(lambda e: one("query", e)["gc_ms"]),
        "jvm.heap_live_mb": max(p["heap_live_mb"] for p in records if p["kind"] == "pass"),
        "trace.unattributed_share":
            sum(unattributed(q["exec"]) for q in queries) / query_ms,
        "trace.overhead": (sum(traced_wall) / len(traced_wall))
            / (sum(plain_wall) / len(plain_wall)) - 1,
    }
