"""End-to-end metrics of one run, computed from the JVM's records.

A failed execution -- an exception, a watchdog timeout, or a query whose
saved result did not match its oracle -- has an infinite latency. It
never counts with the time it took to fail, which would flatter every
figure below.
"""
import math
import statistics

INF = math.inf


def percentile(values, q):
    """Nearest-rank q-quantile of `values`, or None when fewer than 10
    samples lie beyond it (a p90 needs 100 samples, a p50 needs 20)."""
    n = len(values)
    rank = math.ceil(round(q * n, 9))
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[max(rank, 1) - 1]


def geomean_of_medians(latencies_by_query):
    """Geometric mean over queries of each query's median latency."""
    medians = [statistics.median(v) for v in latencies_by_query.values()]
    if not medians:
        return None
    if any(math.isinf(m) for m in medians):
        return INF
    return math.exp(sum(math.log(m) for m in medians) / len(medians))


def latency(execution, mismatched):
    """Seconds of one execution; infinite when it failed."""
    if not execution["ok"] or execution["query"] in mismatched:
        return INF
    return execution["build_s"] + execution["action_s"]


def end_to_end(records, setup_s, mismatched=frozenset()):
    """All end-to-end metrics of a run as {name: value}; a value is None
    where the sample is too small to give it."""
    timed = [r for r in records if r["kind"] == "exec" and r["pass"] > 0]
    passes = [r for r in records if r["kind"] == "pass"]
    by_query = {}
    for r in timed:
        by_query.setdefault(r["query"], []).append(latency(r, mismatched))
    samples = [x for v in by_query.values() for x in v]
    failed = sum(math.isinf(x) for x in samples)
    completed = {p["pass"]: 0 for p in passes if p["pass"] > 0}
    for r in timed:
        completed[r["pass"]] += not math.isinf(latency(r, mismatched))
    return {
        "setup_s": setup_s,
        "warmup_s": next(p["wall_s"] for p in passes if p["pass"] == 0),
        # the median pass, so that one pass slowed by something outside the
        # program does not move the figure
        "queries_per_min": statistics.median(
            completed[p["pass"]] / p["wall_s"] * 60 for p in passes if p["pass"] > 0),
        "query_geomean_s": geomean_of_medians(by_query),
        "latency_p50_s": percentile(samples, 0.5),
        "latency_p90_s": percentile(samples, 0.9),
        "failed_frac": failed / len(samples),
        "heap_live_peak_mb": max(p["heap_live_mb"] for p in passes),
    }, len(samples), failed
