"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import layer_diff  # noqa: E402
import layers  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def scratch_dir():
    base = os.path.join(os.path.dirname(HERE), ".bench_build")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=base)


def items(n, counts=None):
    ids = np.arange(n, dtype=np.int64)
    sched = ids * 1_000_000
    return {"id": ids, "sched": sched, "put_ret": sched + 50_000, "enter": sched + 2_000_000,
            "ret": sched + 3_000_000,
            "count": np.ones(n, dtype=np.int64) if counts is None else np.asarray(counts)}


GOOD_STAT = {"itemsIn": 10, "itemsFlushed": 10, "batchesFlushed": 2, "retries": 0,
             "itemsDropped": 0, "pending": 0}


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        p = benchlib.percentile([5, 1, 4, 2, 3], 50)
        self.assertEqual(p, (3.0, 5))
        self.assertEqual(benchlib.percentile(range(1, 101), 99), (99.0, 100))
        self.assertEqual(benchlib.percentile([7], 99).n, 1)
        self.assertEqual(benchlib.percentile([], 50).n, 0)

    def test_every_percentile_metric_carries_its_count(self):
        raw = pipeline_raw("p-single", 10)
        e2e, latency = benchlib.end_to_end(raw, items(10))
        self.assertEqual(e2e["items_per_s"][2], 10)
        self.assertEqual(e2e["deliver_ms_p50"][2], 10)
        for name in ("deliver_ms_p99", "put_ms_p99"):
            self.assertEqual(latency[name][2], 10, name)
        e2e, latency = benchlib.end_to_end(query_raw("q-cold"))
        self.assertEqual(e2e["deliver_ms_p50"][2], 1)
        self.assertEqual(latency["put_ms_p99"][2], 1)
        _, samples = layers.per_layer(raw, pipeline_spans(raw), items(10))
        for name in layers.UNITS:
            if "_p50" in name or "_p99" in name:
                self.assertIn(name, samples)


class LedgerTest(unittest.TestCase):
    def test_clean_run_passes(self):
        self.assertEqual(benchlib.check_ledger(items(10), 0, GOOD_STAT)["failed"], 0)

    def test_catches_planted_duplicate(self):
        counts = [1] * 10
        counts[3] = 2
        r = benchlib.check_ledger(items(10, counts), 0, GOOD_STAT)
        self.assertEqual(r["duplicated"], 1)
        self.assertGreater(r["failed"], 0)

    def test_catches_planted_missing_item(self):
        counts = [1] * 10
        counts[7] = 0
        r = benchlib.check_ledger(items(10, counts), 0, GOOD_STAT)
        self.assertEqual(r["missing"], 1)
        self.assertGreater(r["failed"], 0)

    def test_catches_stray_and_stat_disagreement(self):
        self.assertGreater(benchlib.check_ledger(items(10), 1, GOOD_STAT)["failed"], 0)
        for k, v in (("itemsFlushed", 9), ("itemsDropped", 1)):
            self.assertGreater(
                benchlib.check_ledger(items(10), 0, dict(GOOD_STAT, **{k: v}))["failed"], 0, k)

    def test_catches_planted_pending_leak(self):
        # every item delivered, but the pending counter did not come back to 0
        for pending in (3, -3):
            r = benchlib.check_ledger(items(10), 0, dict(GOOD_STAT, pending=pending))
            self.assertEqual((r["missing"], r["stat_gap"]), (0, 3), pending)
            self.assertGreater(r["failed"], 0, pending)


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch_dir()
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["a", "b", "c"]}) \
            .to_parquet(os.path.join(self.data, "t.parquet"))
        self.sql = {"q": "SELECT k, v, s FROM t ORDER BY k"}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_output(self, df):
        out = os.path.join(self.dir, "out", "p1")
        os.makedirs(os.path.join(out, "q"))
        df.to_parquet(os.path.join(out, "q", "part-0.parquet"))
        return out

    def test_matching_output_passes(self):
        out = self.write_output(pd.DataFrame({"s": ["a", "b", "c"], "k": [1, 2, 3],
                                              "v": [0.5, 1.5, 2.5]}))
        self.assertEqual(benchlib.oracle_check(self.data, [out], self.sql), {(out, "q"): None})

    def test_catches_planted_wrong_row(self):
        out = self.write_output(pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 9.5, 2.5],
                                              "s": ["a", "b", "c"]}))
        self.assertIsNotNone(benchlib.oracle_check(self.data, [out], self.sql)[(out, "q")])

    def test_catches_missing_row_and_wrong_string(self):
        exp = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5], "s": ["a", "b"]})
        self.assertIsNotNone(benchlib.compare_frames(exp.head(1), exp))
        self.assertIsNotNone(benchlib.compare_frames(exp.assign(s=["a", "x"]), exp))


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 90, 120)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)

    def test_orphan_job_goes_under_the_phase_that_holds_it(self):
        spans = [dict(span(1, 0, 0, 100), layer="run", name="run"),
                 dict(span(2, 1, 10, 50), name="build"),
                 dict(span(3, 0, 20, 30), layer="scheduler", name="job 0")]
        benchlib.attach_orphans(spans)
        self.assertEqual(spans[2]["parent"], 2)


class MetricNamesTest(unittest.TestCase):
    """Every metric BENCHMARK.json names is emitted, with its unit, on
    every workload."""

    def setUp(self):
        with open(BENCHMARK) as f:
            self.bench = json.load(f)

    def test_end_to_end(self):
        want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        for w, raw, it in synthetic_runs():
            got = {k: u for k, (_, u, _) in benchlib.end_to_end(raw, it)[0].items()}
            self.assertEqual(got, want, w)

    def test_per_layer(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for w, raw, it in synthetic_runs():
            spans = pipeline_spans(raw) if it is not None else query_spans(raw)
            got = {k: u for k, (_, u) in layers.per_layer(raw, spans, it)[0].items()}
            self.assertEqual(got, want, w)

    def test_every_listed_workload_runs(self):
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(sorted(names), sorted(benchlib.WORKLOADS))


class LayerDiffTest(unittest.TestCase):
    def test_compares_medians_per_workload(self):
        def record(v):
            return {"workload": "q-cold", "metrics": {"scheduler.jobs": {"value": v}},
                    "layers": {"operators": {"count": 3, "total_s": v, "self_s": v / 2}}}
        d = layer_diff.diff({"q-cold": [record(10), record(12), record(14)]},
                            {"q-cold": [record(5), record(6), record(7)], "p-bulk": []})
        self.assertEqual(list(d), ["q-cold"])
        jobs = d["q-cold"]["scheduler.jobs"]
        self.assertEqual((jobs["a"]["median"], jobs["b"]["median"]), (12, 6))
        self.assertAlmostEqual(jobs["change"], -0.5)
        self.assertIn("layer operators self_s", d["q-cold"])


class CommandTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        d = scratch_dir()
        try:
            shutil.copy(BENCHMARK, d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "data"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "p-bulk",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d)


# ------------------------------------------------------------- fixtures

def span(i, parent, start, end, layer="x", name="x", attrs=None):
    return {"id": i, "parent": parent, "start_us": start, "end_us": end, "layer": layer,
            "name": name, "attrs": attrs or {}}


def query_raw(workload):
    q = {"name": "q1", "build_s": 0.5, "plan_s": 0.1, "action_s": 1.0, "total_s": 1.6,
         "start_us": 0, "error": None}
    return {"workload": workload, "session_start_s": 3.0, "warmup_s": 2.0,
            "retained_mb": 80.0, "host": {"cpus": 4}, "queries": ["q1"],
            "passes": [{"index": 1, "warmup": False, "wall_s": 1.7, "queries": [q],
                        "artifact_tables": 2, "artifact_bytes": 1 << 20}]}


def query_spans(raw):
    task = {"cpu_ns": 10 ** 9, "run_ms": 1000, "gc_ms": 10, "shuffle_write": 1 << 20,
            "shuffle_read": 1 << 20, "spill": 0, "stage": 0, "ok": True}
    return [dict(span(1, 0, 0, 2_000_000), layer="run", name="run"),
            dict(span(2, 1, 0, 1_700_000), layer="pass", name="pass 1"),
            dict(span(3, 2, 0, 1_600_000), layer="query", name="q1"),
            dict(span(4, 3, 0, 500_000), layer="operators", name="build"),
            dict(span(5, 3, 500_000, 600_000), layer="catalyst", name="plan"),
            dict(span(6, 3, 600_000, 1_600_000), layer="exec", name="action"),
            dict(span(7, 6, 700_000, 1_500_000), layer="scheduler", name="job 0"),
            dict(span(8, 7, 700_000, 1_500_000), layer="scheduler", name="stage 0"),
            dict(span(9, 8, 700_000, 1_500_000), layer="executor", name="task", attrs=task)]


def pipeline_raw(workload, n):
    return {"workload": workload, "session_start_s": 3.0, "warmup_s": 2.0,
            "pipeline_start_s": 0.3, "retained_mb": 60.0, "host": {"cpus": 4},
            "passes": [{"items": n, "wall_s": 1.0}], "window_s": 1.2, "flush_s": 0.2,
            "window_us": [0, 1_000_000], "items_file": "items.bin", "items": n,
            "late_ns": [1000] * n, "stray": 0, "inflight_max": 2, "pending_min": 0,
            "max_batch": 1024, "stat": GOOD_STAT}


def pipeline_spans(raw):
    return [dict(span(1, 0, 0, 1_000_000), layer="run", name="run"),
            dict(span(2, 1, 10, 20), layer="core", name="put", attrs={"items": 1}),
            dict(span(3, 1, 100, 300), layer="streaming", name="trigger 0",
                 attrs={"rows": 5, "ms.addBatch": 1, "ms.walCommit": 1}),
            dict(span(4, 3, 120, 280), layer="core", name="sink", attrs={"items": 5})]


def synthetic_runs():
    yield "q-cold", query_raw("q-cold"), None
    yield "p-bulk", pipeline_raw("p-bulk", 10), items(10)
    yield "p-single", pipeline_raw("p-single", 10), items(10)


if __name__ == "__main__":
    unittest.main()
