"""Seeded determinism of the benchmark: two runs with one seed give the
same inputs and identical count metrics; another seed gives other inputs.

Runs the real benchmark (short traced runs), so it takes a few minutes:

    python3 -m unittest discover -s perfbench/tests -p 'test_determinism.py'
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent.parent / "run.py"

# Counts, sizes and ratios that depend only on the inputs, never on timing.
# Parquet bytes written are left out: concurrent seeding writers leave the
# source rows in a different physical order each run, and the encoded size
# follows that order.
COUNT_METRICS = [
    "connections.minmax_calls", "connections.schema_probe_calls",
    "connections.write_calls", "core.hwm_get_calls", "core.hwm_set_calls",
    "operators.dbwriter_rows",
    "operators.dedup_in_rows", "operators.dedup_kept_frac",
    "files.list_calls", "files.stat_calls", "files.download_calls",
    "files.download_bytes", "files.new_file_frac", "filedf.write_calls",
    "spark.jobs_per_op",
]


def run(workload, seed):
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--trace", "1", "--seconds", "1"],
        capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                             f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    digest = next(l.split("=", 1)[1].strip() for l in lines
                  if l.startswith("inputs_digest ="))
    result = json.loads(lines[-1])
    counts = {k: result["metrics"][k]["value"] for k in COUNT_METRICS}
    counts["attempted"] = result["attempted"]
    return digest, counts


class DeterminismTest(unittest.TestCase):
    def check(self, workload):
        digest, counts = run(workload, 5)
        again_digest, again_counts = run(workload, 5)
        self.assertEqual(digest, again_digest)
        self.assertEqual(counts, again_counts)
        other_digest, _ = run(workload, 6)
        self.assertNotEqual(digest, other_digest)

    def test_jdbc_snapshot(self):
        self.check("jdbc_snapshot")

    def test_jdbc_incremental(self):
        self.check("jdbc_incremental")

    def test_curation_ingest(self):
        self.check("curation_ingest")


if __name__ == "__main__":
    unittest.main()
