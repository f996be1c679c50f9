"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The end-to-end tests build the benchmark program and run a workload, so they take
a few minutes; run them from the root of a checkout.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import oracle  # noqa: E402


class Rel:
    """Stands in for a DuckDB relation."""

    def __init__(self, columns, rows):
        self.columns, self.rows = columns, rows

    def fetchall(self):
        return self.rows


class FingerprintTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = Rel(["x", "y"], [(1, "a"), (2, "b")])
        b = Rel(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(oracle.fingerprint(a), oracle.fingerprint(b))

    def test_numbers_compare_at_six_places(self):
        a = Rel(["v"], [(0.1234564,), (-0.0,)])
        b = Rel(["v"], [(0.12345640000001,), (0,)])
        self.assertEqual(oracle.fingerprint(a), oracle.fingerprint(b))
        c = Rel(["v"], [(0.123457,), (0,)])
        self.assertNotEqual(oracle.fingerprint(a), oracle.fingerprint(c))

    def test_row_count_is_part_of_the_fingerprint(self):
        a = Rel(["v"], [(1,)])
        b = Rel(["v"], [(1,), (1,)])
        self.assertNotEqual(oracle.fingerprint(a), oracle.fingerprint(b))


class CompareTest(unittest.TestCase):
    def runs(self, workload, values):
        return [{"workload": workload, "seed": i, "correct": True,
                 "metrics": {"suite_s": {"value": v, "unit": "s"}}}
                for i, v in enumerate(values)]

    def test_spread_flags_a_wide_metric(self):
        steady = self.runs("w", [10.0, 10.1, 9.9, 10.0, 10.05])
        wide = self.runs("w", [5.0, 10.0, 15.0, 20.0, 8.0])
        self.assertTrue(compare.spread_table(steady))
        self.assertFalse(compare.spread_table(wide))

    def test_ab_reports_a_regression(self):
        a = self.runs("w", [10.0, 10.1, 9.9, 10.0])
        b = self.runs("w", [13.0, 13.1, 12.9, 13.0])
        self.assertFalse(compare.ab_table(a, b))
        self.assertTrue(compare.ab_table(a, a))


def run_bench(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=1200)


class EndToEndTest(unittest.TestCase):
    def test_a_throwing_query_fails_the_run(self):
        p = run_bench(ROOT, "--workload", "etl_daily", "--seed", "7", "--seconds", "1",
                      "--trace", "0", "--inject-failure", "q_select_filter")
        self.assertNotEqual(p.returncode, 0)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)
        report = json.loads(p.stdout.strip().splitlines()[-2].split(" ", 1)[1])
        self.assertTrue(any(f.startswith("q_select_filter:") for f in report["failures"]))
        self.assertGreater(report["failed_frac"], 0)

    def test_without_library_sources_it_fails_fast(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = run_bench(d, "--workload", "etl_daily", "--seed", "1", "--seconds", "1",
                          "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
