"""Specs of the benchmark's own statistics and output.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import math
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
import pandas as pd  # noqa: E402

import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def execution(query, seconds, ok=True, pass_=1):
    return {"kind": "exec", "pass": pass_, "query": query, "build_s": seconds / 2,
            "action_s": seconds / 2, "ok": ok, "error": "" if ok else "boom"}


def passes(*walls):
    return [{"kind": "pass", "pass": i, "wall_s": w, "heap_live_mb": 100.0 + i,
             "traced": False} for i, w in enumerate(walls)]


class FailureAccounting(unittest.TestCase):
    """A failed execution is an infinite latency, never its fast-failure time."""

    def records(self):
        # 10 passes over three queries; q_fail always fails after 10 ms,
        # faster than any real execution
        rs = passes(5.0, *[1.0] * 10)
        for p in range(1, 11):
            rs += [execution("q_a", 0.5, pass_=p), execution("q_b", 0.2, pass_=p),
                   execution("q_fail", 0.01, ok=False, pass_=p)]
        return rs

    def test_planted_failure_is_infinite(self):
        m, attempted, failed = stats.end_to_end(self.records(), 9.0)
        self.assertEqual((attempted, failed), (30, 10))
        self.assertEqual(m["query_geomean_s"], math.inf)
        self.assertAlmostEqual(m["failed_frac"], 1 / 3)
        # sorted: 10 x 0.2, 10 x 0.5, 10 x inf; a fast failure counted by its
        # time would have made the median 0.2
        self.assertEqual(m["latency_p50_s"], 0.5)
        self.assertAlmostEqual(m["queries_per_min"], 20 / 10 * 60)

    def test_oracle_mismatch_is_a_failure(self):
        rs = [r for r in self.records() if r.get("query") != "q_fail"]
        m, attempted, failed = stats.end_to_end(rs, 9.0, mismatched={"q_b"})
        self.assertEqual((attempted, failed), (20, 10))
        self.assertEqual(m["query_geomean_s"], math.inf)
        self.assertEqual(m["failed_frac"], 0.5)
        self.assertAlmostEqual(m["queries_per_min"], 10 / 10 * 60)

    def test_failure_is_reported_as_null_and_named(self):
        m, attempted, failed = stats.end_to_end(self.records(), 9.0)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.emit("w", m, ["query_geomean_s"], {"q_fail": "boom"}, attempted, failed)
        lines = out.getvalue().splitlines()
        self.assertIn("FAILED q_fail: boom", lines)
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertIsNone(result["metrics"]["query_geomean_s"]["value"])


class Throughput(unittest.TestCase):
    def test_median_pass(self):
        # one pass slowed fourfold from outside does not move the figure
        rs = passes(5.0, 1.0, 4.0, 1.0)
        for p in (1, 2, 3):
            rs += [execution("q_a", 0.4, pass_=p), execution("q_b", 0.4, pass_=p)]
        m, _, _ = stats.end_to_end(rs, 9.0)
        self.assertAlmostEqual(m["queries_per_min"], 2 / 1.0 * 60)


class KilledRun(unittest.TestCase):
    def test_phase_names_the_pass_and_query(self):
        rs = [{"kind": "setup"}, {"kind": "start", "pass": 0, "query": "q_a"},
              *passes(5.0, 1.0), {"kind": "start", "pass": 2, "query": "q_b"}]
        self.assertEqual(run.phase(rs), "timed pass 2, at q_b, after 2 whole passes")
        self.assertEqual(run.phase(rs[:1]), "setup")


class Percentiles(unittest.TestCase):
    """A percentile needs at least 10 samples beyond it."""

    def test_p50_needs_20_samples(self):
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)

    def test_p90_needs_100_samples(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_unsorted_input(self):
        self.assertEqual(stats.percentile(list(range(20, 0, -1)), 0.5), 10)


class Geomean(unittest.TestCase):
    def test_over_per_query_medians(self):
        # q1's one slow outlier does not move its median; the geomean of the
        # medians 1 and 4 is 2, not the geomean of all six samples
        g = stats.geomean_of_medians({"q1": [1.0, 1.0, 100.0], "q2": [4.0, 4.0, 4.0]})
        self.assertAlmostEqual(g, 2.0)


class ResultLine(unittest.TestCase):
    def test_last_line_parses_back(self):
        m, attempted, failed = stats.end_to_end(
            passes(3.0, 1.0) + [execution("q", 0.25)] * 20, 8.5)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.emit("w", m, list(m), {}, attempted, failed)
        lines = out.getvalue().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((result["correct"], result["attempted"], result["failed"]),
                         (True, 20, 0))
        self.assertEqual(result["metrics"]["setup_s"], {"value": 8.5, "unit": "s"})
        self.assertEqual(result["metrics"]["queries_per_min"]["unit"], "1/min")
        self.assertIsNone(result["metrics"]["latency_p90_s"]["value"])
        # every metric also has its own line, by workload, name and unit
        self.assertIn(["w", "latency_p50_s", "0.25", "s"], [ln.split() for ln in lines])
        self.assertTrue(all(not ln.startswith("[") for ln in lines))


class OracleCheck(unittest.TestCase):
    """Results are judged by tools/compare_oracle.py; a missing one fails."""

    def test_verdicts_of_the_checker(self):
        with tempfile.TemporaryDirectory() as tmp:
            data, results = Path(tmp, "data"), Path(tmp, "results")
            data.mkdir()
            for q, a in (("q_ok", 1), ("q_bad", 2), ("q_free", 3), ("q_gone", 4)):
                (results / q).mkdir(parents=True)
                pd.DataFrame({"a": [a]}).to_parquet(results / q / "part-0.parquet")
                if q != "q_gone":
                    (results / q / "_SUCCESS").touch()
            (results / "oracle_sql.json").write_text(json.dumps(
                {"q_ok": "SELECT 1::BIGINT AS a", "q_bad": "SELECT 1::BIGINT AS a",
                 "q_gone": "SELECT 4::BIGINT AS a"}))
            bad = oracle.check(run.ROOT, results, ["q_ok", "q_bad", "q_free", "q_gone"], data)
        self.assertEqual(set(bad), {"q_bad", "q_gone"})
        self.assertIn("oracle mismatch", bad["q_bad"])
        self.assertIn("no result", bad["q_gone"])


class Layers(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(layers.covered([(0, 4), (2, 6), (8, 20)], 1, 10), 7)
        self.assertEqual(layers.covered([], 0, 10), 0)
        self.assertEqual(layers.covered([(0, 2), (12, 15)], 3, 10), 0)

    def test_build_self_excludes_jobs(self):
        def span(id_, name, start, end, parent, **attrs):
            return {"id": id_, "name": name, "start": start, "end": end,
                    "parent": parent, "exec": 1, **attrs}
        stage = dict(tasks=4, failed_tasks=0, run_ms=800, cpu_ms=600.0, task_wait_ms=8,
                     task_max_ms=300, task_median_ms=100, shuffle_write_b=0,
                     shuffle_read_b=0, spill_b=0, written_b=0, attempt=0)
        spans = [
            span(1, "query", 0, 1000, 0, pass_=1, query="q", ok=True, gc_ms=5,
                 files_written=0),
            span(2, "SparkEntry.build", 0, 400, 1),
            span(3, "action", 400, 1000, 1),
            span(4, "scheduler.job", 100, 200, 2, schema_inference=True),
            span(5, "scheduler.job", 500, 900, 3, schema_inference=False),
            span(6, "scheduler.stage", 500, 900, 5, **stage),
            span(7, "catalyst.optimization", 400, 450, 3),
        ]
        spans[0]["pass"] = spans[0].pop("pass_")
        records = [{"kind": "setup", "create_s": 6.0},
                   {"kind": "pass", "pass": 1, "wall_s": 10.0, "traced": False,
                    "heap_live_mb": 90.0},
                   {"kind": "pass", "pass": 2, "wall_s": 11.0, "traced": True,
                    "heap_live_mb": 95.0}]
        m = layers.per_layer(spans, records, cpus=4)
        self.assertAlmostEqual(m["SparkEntry.build_s"], 0.4)
        self.assertAlmostEqual(m["SparkEntry.build_self_s"], 0.3)
        self.assertEqual(m["SparkEntry.build_jobs"], 1)
        self.assertEqual((m["Engine.schema_jobs"], m["Engine.schema_ms"]), (1, 100))
        self.assertAlmostEqual(m["operators.core_util"], 800 / (4 * 600))
        self.assertEqual(m["operators.task_skew"], 3.0)
        # jobs cover 100..200 and 500..900, the phase 400..450: 550 of 1000 ms
        self.assertAlmostEqual(m["trace.unattributed_share"], 0.45)
        self.assertAlmostEqual(m["trace.overhead"], 0.1)
        self.assertEqual(m["jvm.heap_live_mb"], 95.0)
        self.assertEqual(set(m), set(layers.UNITS))


if __name__ == "__main__":
    unittest.main()
