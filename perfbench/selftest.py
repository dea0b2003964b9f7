#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

Python side: the percentile follows the at-least-ten-beyond rule, warm
figures leave out the warm-up and the other side's passes, every
metric name is well-formed and matches BENCHMARK.json, and the table
generator gives the same bytes for the same seed. JVM side (builds the
harness first): seeded TS inputs are reproducible, captures carry their
planted faults, and the ground-truth checkers flag a missed CC error and
a bump that never becomes visible.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import tablegen  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(99), 0.9))
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)

    def test_median_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(19), 0.5))
        self.assertEqual(metrics.percentile(range(1, 21), 0.5), 10)

    def test_p50_is_the_median_under_the_same_rule(self):
        self.assertIsNone(metrics.p50(range(19)))
        self.assertEqual(metrics.p50(range(1, 21)), 10.5)
        self.assertEqual(metrics.p50(range(1, 22)), 11)

    def test_tail_is_the_eleventh_largest(self):
        self.assertIsNone(metrics.tail(range(10)))
        self.assertEqual(metrics.tail(range(1, 101)), 90)
        self.assertEqual(metrics.tail(range(1, 31)), 20)

    def test_missing_samples_are_ignored(self):
        self.assertEqual(metrics.percentile(
            [None, float("nan")] + list(range(1, 21)), 0.5), 10)


class WarmPasses(unittest.TestCase):
    def test_warm_figures_skip_warmup_and_traced_passes(self):
        walls = [30.0, 12.0, 10.0, 9.0, 11.0, 8.0]
        run = {"workload": "batch_sweep", "warmup_passes": 1,
               "setup_s": 1.0, "peak_rss_mb": 1.0,
               "passes": [{"pass": i, "wall_s": w, "cpu_s": 2 * w,
                           "traced": i % 2 == 1}
                          for i, w in enumerate(walls)],
               "ops": []}
        # untraced after the warm-up: passes 2 and 4
        self.assertEqual(metrics.end_to_end(run)["warm_pass_s"], 10.5)
        # traced: passes 1, 3 and 5
        self.assertEqual(
            metrics.end_to_end(run, traced=True)["warm_pass_s"], 9.0)


class BatchOpLatency(unittest.TestCase):
    def test_geometric_mean_of_each_calls_median_and_slowest(self):
        walls = {"a": [9.0, 0.1, 0.4, 0.2], "b": [9.0, 0.01, 0.01, 0.04]}
        ops = [{"name": n, "pass": i, "wall_s": w, "ok": True}
               for n, ws in walls.items() for i, w in enumerate(ws)]
        ops.append({"name": "b", "pass": 2, "wall_s": 5.0, "ok": False})
        run = {"workload": "batch_sweep", "warmup_passes": 1,
               "setup_s": 1.0, "peak_rss_mb": 1.0, "passes": [],
               "ops": ops}
        e = metrics.end_to_end(run)
        # medians 200 and 10 ms, slowest 400 and 40 ms; the warm-up pass
        # and the failed call count in neither
        self.assertAlmostEqual(e["op_p50_ms"], (200 * 10) ** 0.5)
        self.assertAlmostEqual(e["op_tail_ms"], (400 * 40) ** 0.5)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_use_only_allowed_characters(self):
        names = (list(metrics.END_TO_END) + list(metrics.PER_LAYER) +
                 [w["name"] for w in self.bench["workloads"]])
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_lists_what_the_runs_report(self):
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([m["name"] for m in self.bench["per_layer"]],
                         list(metrics.PER_LAYER))
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            want = metrics.END_TO_END.get(m["name"],
                                          metrics.PER_LAYER.get(m["name"]))
            self.assertEqual(m["unit"], want)


class SeededTables(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        build = os.path.join(ROOT, ".bench_build")
        os.makedirs(build, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build) as d:
            a = tablegen.write(os.path.join(d, "a"), 5, 0.001)
            b = tablegen.write(os.path.join(d, "b"), 5, 0.001)
            c = tablegen.write(os.path.join(d, "c"), 6, 0.001)
        self.assertEqual(a, b)
        self.assertNotEqual(a["lineitem"]["sha256"],
                            c["lineitem"]["sha256"])


def jvm_selftest():
    import run
    cp, opts = run.build()
    d = os.path.join(run.BUILD, "selftest")
    os.makedirs(d, exist_ok=True)
    return subprocess.call(["java"] + opts + ["-cp", cp,
                            "graft.perfbench.Main", "mode=selftest",
                            f"dir={d}"], cwd=ROOT)


if __name__ == "__main__":
    res = unittest.main(exit=False).result
    ok = res.wasSuccessful()
    ok = jvm_selftest() == 0 and ok
    sys.exit(0 if ok else 1)
