#!/usr/bin/env python3
"""Self-tests for the benchmark's arithmetic and result fingerprints.

    python3 perfbench/selftest.py

The fingerprint test builds the benchmark (as run.py does) and runs
the JVM's fingerprint self-test; the others are pure Python.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 99), 99.0)

    def test_tail_keeps_ten_samples_beyond_it(self):
        self.assertIsNone(stats.supported_tail(19))
        self.assertEqual(stats.supported_tail(20), 50.0)
        self.assertEqual(stats.supported_tail(39), 50.0)
        self.assertEqual(stats.supported_tail(40), 75.0)
        self.assertEqual(stats.supported_tail(100), 90.0)
        self.assertEqual(stats.supported_tail(999), 95.0)
        self.assertEqual(stats.supported_tail(1000), 99.0)
        for n in (20, 57, 100, 450, 1000, 12345):
            p = stats.supported_tail(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10)

    def test_quartile_spread(self):
        xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(q2, 14.5)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


    def test_window_percentiles(self):
        # keys 0..99 in 4 windows of 25; values equal keys, one outlier
        pairs = [(k, float(k)) for k in range(100)] + [(150, 1e9)]
        self.assertEqual(stats.window_stat(pairs, 0, 100, 4, 0), [0.0, 25.0, 50.0, 75.0])
        self.assertEqual(stats.window_stat(pairs, 0, 100, 4, 100), [24.0, 49.0, 74.0, 99.0])
        # an empty window is left out
        self.assertEqual(stats.window_stat([(1, 5.0), (80, 7.0)], 0, 100, 4, 50), [5.0, 7.0])


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        # two concurrent jobs overlapping by 5, a third apart
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(5, 15), (0, 10), (20, 25)]), 20)

    def test_union_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 100), (10, 20), (30, 40)]), 100)
        self.assertEqual(stats.union_length([(0, 10), (10, 20)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips_to_window(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 30)], 0, 10), 7)
        self.assertEqual(stats.union_length([(20, 30)], 0, 10), 0)

    def test_self_time(self):
        # children overlap each other and one runs past the span's end
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (15, 30), (90, 120)]), 70)
        self.assertEqual(stats.self_time((0, 100), []), 100)
        self.assertEqual(stats.self_time((0, 100), [(0, 100)]), 0)

    def test_driver_idle_is_wall_minus_busy_union(self):
        op = (1000.0, 2000.0)
        jobs = [(1100.0, 1400.0), (1300.0, 1500.0), (1800.0, 2100.0)]
        self.assertEqual(stats.self_time(op, jobs), 1000 - (400 + 200))


class Families(unittest.TestCase):
    def test_prefixes(self):
        self.assertEqual(run.family("q25_supplier_flow"), "relational")
        self.assertEqual(run.family("ev_session_gap"), "event")
        self.assertEqual(run.family("dd_containment"), "dedup")
        self.assertEqual(run.family("emb_pca_var"), "similarity")
        self.assertEqual(run.family("samp_dsir"), "text")
        self.assertEqual(run.family("mm_frames"), "multimodal")


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_run_py(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.per_layer_units())
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class Fingerprints(unittest.TestCase):
    def test_same_result_any_partitioning(self):
        cp = run.build()
        work = HERE / ".work" / "selftest"
        cmd = run.java_cmd(cp, "1g", {}, work, "fingerprint-selftest", {})
        code, _, log = run.run_jvm(cmd, work, "jvm.log", run.RUN_LIMIT_S)
        self.assertEqual(code, 0, f"see {log}")
        lines = [l for l in log.read_text().splitlines() if l.startswith("{")]
        result = json.loads(lines[-1])
        self.assertTrue(result["partition_invariant"], result)
        self.assertTrue(result["detects_change"], result)


if __name__ == "__main__":
    unittest.main()
