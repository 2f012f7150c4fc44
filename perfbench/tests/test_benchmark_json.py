"""BENCHMARK.json must name only workloads run.py runs, and the same
metrics with the same units.

    python3 -m unittest discover -s perfbench/tests -p 'test_benchmark_json.py'
"""

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_workloads(self):
        gated = [w["name"] for w in self.spec["workloads"]]
        self.assertLessEqual(set(gated), set(run.JOBS))

    def test_metrics(self):
        for key, listed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"]) for m in self.spec[key]], listed, key)


if __name__ == "__main__":
    unittest.main()
