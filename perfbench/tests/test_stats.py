"""Unit tests for the benchmark's statistics.

    python3 -m unittest discover -s perfbench/tests -p 'test_stats.py'
"""

import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


def span(id, parent, name, start, end, job=0):
    return {"id": id, "parent": parent, "name": name, "job": job,
            "start_ns": start, "end_ns": end}


class TailPercentileTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        values = [float(v) for v in range(100, 0, -1)]  # unsorted on purpose
        pct, value, n = stats.tail_percentile(values)
        self.assertEqual((pct, value, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_highest_percentile_leaving_ten_beyond(self):
        pct, value, n = stats.tail_percentile([float(v) for v in range(1, 51)])
        self.assertEqual((pct, value, n), (80.0, 40.0, 50))

    def test_too_few_samples_give_no_percentile(self):
        self.assertIsNone(stats.tail_percentile([1.0] * 10))
        pct, value, n = stats.tail_percentile([float(v) for v in range(11)])
        self.assertAlmostEqual(pct, 100 / 11)
        self.assertEqual((value, n), (0.0, 11))


class FailureCountingTest(unittest.TestCase):
    def jobs(self, latencies, failed):
        return [{"latency_s": v, "ok": i not in failed}
                for i, v in enumerate(latencies)]

    def test_failed_job_misses_every_latency_limit(self):
        jobs = self.jobs([0.1, 0.2, 0.3], failed={0})
        lat = stats.latencies(jobs)
        self.assertEqual(lat[0], math.inf)
        # the fastest job failed, so the median moves up to the slower ones
        self.assertEqual(stats.median(lat), 0.3)
        self.assertEqual(stats.failures(jobs), (3, 1))

    def test_failures_fill_the_tail_first(self):
        jobs = self.jobs([0.01 * i for i in range(1, 101)], failed={0, 1})
        _, value, n = stats.tail_percentile(stats.latencies(jobs))
        self.assertEqual(n, 100)
        self.assertAlmostEqual(value, 0.92)

    def test_failed_job_without_latency(self):
        jobs = [{"latency_s": math.nan, "ok": False}, {"latency_s": 0.5, "ok": True}]
        self.assertEqual(stats.latencies(jobs), [math.inf, 0.5])


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        spans = [span(1, 0, "files.downloader_run", 0, 100),
                 span(2, 1, "files.download", 10, 50),
                 span(3, 1, "files.download", 30, 70),
                 span(4, 1, "files.download", 90, 120)]  # clipped at 100
        selfs = stats.self_times(spans)
        self.assertEqual(selfs[1], 100 - (60 + 10))
        # [30, 50] runs two downloads at once: each is charged half of it
        self.assertEqual(selfs[2], 20 + 10)
        self.assertEqual(selfs[3], 10 + 20)
        self.assertEqual(selfs[4], 10)
        self.assertEqual(sum(selfs.values()), 100)

    def test_overlap_below_a_shared_parent_is_shared_by_grandchildren(self):
        spans = [span(1, 0, "job", 0, 100),
                 span(2, 1, "files.downloader_run", 0, 100),
                 span(3, 2, "files.download", 0, 100),
                 span(4, 2, "files.download", 0, 100),
                 span(5, 3, "files.stat", 0, 50)]
        selfs = stats.self_times(spans)
        self.assertEqual((selfs[1], selfs[2]), (0, 0))
        self.assertEqual((selfs[3], selfs[4], selfs[5]), (25, 50, 25))
        self.assertAlmostEqual(stats.layer_self_seconds(spans)["files"], 100e-9)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, "job", 0, 1000),
                 span(2, 1, "operators.dbwriter_run", 100, 900),
                 span(3, 2, "connections.write", 200, 800)]
        selfs = stats.self_times(spans)
        self.assertEqual((selfs[1], selfs[2], selfs[3]), (200, 200, 600))
        layers = stats.layer_self_seconds(spans)
        self.assertAlmostEqual(layers["job"], 200e-9)
        self.assertAlmostEqual(layers["operators"], 200e-9)
        self.assertAlmostEqual(layers["connections"], 600e-9)

    def test_descendants_keep_only_job_trees(self):
        spans = [span(1, 0, "job", 0, 10), span(2, 1, "core.hwm_get", 1, 2),
                 span(3, 0, "generator.src_write", 20, 30),
                 span(4, 3, "connections.write", 21, 29)]
        self.assertEqual(sorted(s["id"] for s in stats.descendants(spans, "job")), [1, 2])


if __name__ == "__main__":
    unittest.main()
