"""BENCHMARK.json lists exactly the metrics run.py reports.

    python3 -m unittest discover -s connbench/tests
"""

import json
import os
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)
import run  # noqa: E402


class ContractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_end_to_end_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         run.E2E)

    def test_per_layer_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         [(n, u) for n, u, _ in run.PER_LAYER])

    def test_workloads_are_runnable(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)


if __name__ == "__main__":
    unittest.main()
