#!/usr/bin/env python3
"""graft's benchmark: one client in a closed loop over one workload.

    python3 perfbench/run.py --workload short-scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds the program and the
harness from source (the first time only), starts one JVM with
`local[N]` for N = the number of CPUs, sets the session up, runs one cold
pass over the workload, then about `--seconds` of whole timed passes, at
least three, and one results pass that saves each result. The seed
permutes the query order of every pass. Afterwards each saved result is
checked against the DuckDB replay of its oracle by
`tools/compare_oracle.py`.

It prints every metric by workload, name and unit, names every failed or
mismatched query, and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json; with `--trace 1` they
are its per-layer ones, and the spans go to `.perfbench/spans/`.

Everything the run writes stays under `.perfbench/`; its scratch
directory is deleted at exit, also on SIGTERM.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"

# Kept short so that a run takes about 45 s at 4 CPUs; see perfbench/README.md.
WORKLOADS = {
    "short-scan": [
        "q02_filter", "q07_sort_nulls", "q08_limit_offset", "q09_distinct",
        "q22_like", "q124_tpch_q3", "q175_tpch_q6",
    ],
    "heavy-compute": [
        "q37_emb_pairs", "q146_audio_decode",
    ],
    "write-reread": [
        "q153_source_roundtrip", "q219_schema_evolution", "q155_streaming_partitioned_ingest",
    ],
}

UNITS = {
    "setup_s": "s", "warmup_s": "s", "queries_per_min": "1/min",
    "query_geomean_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
    "failed_frac": "ratio", "heap_live_peak_mb": "MB", **layers.UNITS,
}

QUERY_CAP_S = 60  # watchdog: a query running longer is cancelled and fails
JVM_DEADLINE_S = 150  # the whole JVM run, setup included; then it is killed
# The JVM makes fewer timed passes than `--seconds` asks rather than end
# its passes later than this; the rest of the deadline is for the results
# pass and stopping the session.
PASSES_END_S = 115
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_command(classpath, run_dir, args):
    scratch = run_dir / "scratch"
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    opens.append("--add-opens=java.base/java.nio=org.apache.arrow.memory.core,ALL-UNNAMED")
    return ["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss8m", *opens,
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            f"-Dgraft.scratch={scratch / 'graft'}",
            f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
            f"-Dspark.local.dir={scratch / 'local'}",
            "-cp", os.pathsep.join(map(str, classpath)), "perfbench.Main", *args]


def run_jvm(classpath, run_dir, workload, seed, seconds, trace, spans, cpus):
    """Runs the JVM half; returns (records, seconds from process start to
    session ready)."""
    scratch = run_dir / "scratch"
    for d in ("tmp", "graft", "warehouse", "local"):
        (scratch / d).mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=str(scratch / "local"))
    with open(run_dir / "jvm.log", "w") as log:
        spawned = time.time()
        args = ["--queries", ",".join(WORKLOADS[workload]), "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
                "--cap", str(QUERY_CAP_S), "--out", str(run_dir), "--spans", str(spans),
                "--finish-by", str((spawned + PASSES_END_S) * 1000),
                "--written", f"{scratch / 'graft'},{scratch / 'warehouse'}",
                "--data", os.environ.get("SPARK_GRAFT_SF_DIR", "")]
        proc = subprocess.Popen(java_command(classpath, run_dir, args), cwd=scratch,
                                env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            code = f"killed after {JVM_DEADLINE_S} s"
        finally:
            if proc.poll() is None:
                proc.terminate()
                try:
                    proc.wait(timeout=15)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    path = run_dir / "records.jsonl"
    records = [json.loads(line) for line in open(path)] if path.exists() else []
    if code != 0 or not any(r["kind"] == "pass" and r["pass"] == -1 for r in records):
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise RuntimeError(f"the JVM run failed ({code}) in {phase(records)}\n{tail}")
    setup = next(r for r in records if r["kind"] == "setup")
    return records, setup["ready_ms"] / 1000 - spawned


def phase(records):
    """Where a JVM run stopped, from its records."""
    starts = [r for r in records if r["kind"] == "start"]
    done = sum(r["kind"] == "pass" for r in records)
    if not starts:
        return "setup"
    last = starts[-1]
    name = {0: "the cold pass", -1: "the results pass"}.get(
        last["pass"], f"timed pass {last['pass']}")
    return f"{name}, at {last['query']}, after {done} whole passes"


def _finite(v):
    return None if v is None or math.isinf(v) else v


def emit(workload, metrics, names, bad, attempted, failed):
    """Prints every metric by workload, name and unit, names every failed
    query, and ends with the result line, whose `metrics` hold `names`.
    An infinite value, from a failed execution, is printed as `inf` and
    reported as null."""
    for q, why in sorted(bad.items()):
        print(f"FAILED {q}: {why}")
    for name, v in metrics.items():
        if v is None:
            shown = f"n/a (too few timed executions: {attempted})"
        else:
            shown = "inf" if math.isinf(v) else f"{v:.6g}"
        print(f"{workload:<14} {name:<28} {shown:>14} {UNITS[name]}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": _finite(metrics[n]), "unit": UNITS[n]} for n in names}}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write every metric and sample to this JSON file")
    a = ap.parse_args(argv)

    def terminate(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, terminate)

    try:
        classpath = build.build(ROOT)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))  # as `nproc` counts them
    run_dir = STATE / f"run-{os.getpid()}"
    spans = STATE / "spans" / f"{a.workload}-seed{a.seed}.jsonl"
    spans.parent.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        records, setup_s = run_jvm(classpath, run_dir, a.workload, a.seed, a.seconds,
                                   a.trace, spans, cpus)
        data = next(r["dir"] for r in records if r["kind"] == "data")
        bad = oracle.check(ROOT, run_dir / "results", WORKLOADS[a.workload], data)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics, attempted, failed = stats.end_to_end(records, setup_s, set(bad))
    for r in records:
        if r["kind"] == "exec" and not r["ok"]:
            bad.setdefault(r["query"], r["error"])
    if a.trace:
        metrics = layers.per_layer([json.loads(s) for s in open(spans)], records, cpus)
    plan = next(r for r in records if r["kind"] == "plan")
    print(f"workload {a.workload}, seed {a.seed}, {cpus} CPUs, data {data}: "
          f"{plan['passes']} timed passes ({plan['fit']} fit before the deadline), "
          f"{attempted} timed executions, {failed} failed")
    if a.trace:
        print(f"spans: {spans.relative_to(ROOT)}")
    if a.report:
        Path(a.report).write_text(json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "metrics": {k: _finite(v) for k, v in metrics.items()},
            "latencies": [_finite(stats.latency(r, bad)) for r in records
                          if r["kind"] == "exec" and r["pass"] > 0],
            "failed": sorted(bad)}))
    spec = ROOT / "BENCHMARK.json"
    names = ([m["name"] for m in json.loads(spec.read_text())
              ["per_layer" if a.trace else "end_to_end"]] if spec.exists() else list(metrics))
    emit(a.workload, metrics, names, bad, attempted, failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
