#!/usr/bin/env python3
"""Steadiness report: runs each workload k times, each in a fresh JVM
with its own seed (seed, seed+1, ...), then once traced, and prints per
end-to-end metric the median, the quartiles, the spread (interquartile
range over the median, the figure the benchmark's bounds are checked
against), min and max, plus the traced run's `trace.overhead`.

    python3 perfbench/steady.py --runs 10 --seed 1 --seconds 10

The percentiles are pooled over the timed executions of all k runs, so
that they are given where a single run has too few samples.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import run  # noqa: E402
import stats  # noqa: E402


def one_run(workload, seed, seconds, trace, out_dir):
    report = out_dir / f"{workload}-seed{seed}-trace{trace}.json"
    cmd = [sys.executable, str(Path(__file__).with_name("run.py")), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--report", str(report)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} failed ({p.returncode}):\n{p.stdout}{p.stderr}")
    return dict(json.loads(report.read_text()), wall_s=time.time() - t0)


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "min": min(values), "max": max(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    out_dir = run.STATE / "steady"
    out_dir.mkdir(parents=True, exist_ok=True)
    print(f"{'workload':<14} {'metric':<20} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'min':>10} {'max':>10} unit")
    for w in run.WORKLOADS:
        reports = [one_run(w, a.seed + i, a.seconds, 0, out_dir) for i in range(a.runs)]
        failed = sorted({q for r in reports for q in r["failed"]})
        lat = [math.inf if x is None else x for r in reports for x in r["latencies"]]
        for name in reports[0]["metrics"]:
            if name in ("latency_p50_s", "latency_p90_s"):
                v = stats.percentile(lat, 0.5 if name == "latency_p50_s" else 0.9)
                shown = "n/a" if v is None else f"{v:.4g}"
                print(f"{w:<14} {name:<20} {shown:>10}   (pooled over {len(lat)} "
                      f"executions) {run.UNITS[name]}")
                continue
            values = [r["metrics"][name] for r in reports]
            if any(v is None for v in values):
                print(f"{w:<14} {name:<20} {'inf':>10}   (failed executions)")
                continue
            s = summary(values)
            print(f"{w:<14} {name:<20} {s['median']:>10.4g} {s['q1']:>10.4g} "
                  f"{s['q3']:>10.4g} {s['spread']:>7.3f} {s['min']:>10.4g} "
                  f"{s['max']:>10.4g} {run.UNITS[name]}")
        walls = [r["wall_s"] for r in reports]
        print(f"{w:<14} {'(run wall time)':<20} {statistics.median(walls):>10.4g} "
              f"{'':>10} {'':>10} {'':>7} {min(walls):>10.4g} {max(walls):>10.4g} s")
        t = one_run(w, a.seed, a.seconds, 1, out_dir)["metrics"]["trace.overhead"]
        print(f"{w:<14} {'trace.overhead':<20} {t:>10.4g}   (one traced run) ratio")
        if failed:
            print(f"{w:<14} FAILED: {', '.join(failed)}")
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    os.chdir(run.ROOT)
    sys.exit(main())
