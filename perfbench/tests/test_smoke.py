"""Smoke test: every workload runs end to end at --size tiny, passes its
checks and prints a result with the metrics BENCHMARK.json declares.
Builds on first use."""

import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent.parent
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace),
                        "--size", "tiny"], cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    return p.returncode, p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "", p.stderr


class Smoke(unittest.TestCase):
    def check(self, workload, trace, names):
        code, last, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        r = json.loads(last)
        self.assertTrue(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        self.assertEqual(sorted(r["metrics"]), sorted(names))

    def test_benchmark_workloads_untraced(self):
        names = [m["name"] for m in DECLARED["end_to_end"]]
        for w in [x["name"] for x in DECLARED["workloads"]]:
            with self.subTest(workload=w):
                self.check(w, 0, names)

    @unittest.expectedFailure
    def test_upload_query_untraced(self):
        """Fails its read-your-writes check: `Ingestion.add` appends
        embeddings and index rows but not the staging chunks, so
        `QueryPipeline.query`, which joins the store's chunks table for
        content, drops every uploaded chunk from its answers."""
        self.check("upload-query", 0, [m["name"] for m in DECLARED["end_to_end"]])

    def test_traced_run(self):
        self.check("ingest-query", 1, [m["name"] for m in DECLARED["per_layer"]])


if __name__ == "__main__":
    unittest.main()
