"""A short run of each workload at smoke scale, untraced and traced:
the result line has the contract's keys, every metric BENCHMARK.json
names is present with its unit, and every oracle check passes. The
first run builds the benchmark (a few minutes).

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import subprocess
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    # stream_serve drops a file every 4.5 s from the window's start:
    # 5 s gives it two commits
    seconds = "5" if workload == "stream_serve" else "3"
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", seconds, "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in want})
        for m in want:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        return r["metrics"]

    def test_docs_flow(self):
        self.check("docs_flow", 0)

    def test_docs_flow_traced(self):
        m = self.check("docs_flow", 1)
        self.assertGreater(m["self_s.pipeline"]["value"], 0)
        self.assertGreater(m["self_s.ext"]["value"], 0)

    def test_stream_serve(self):
        self.check("stream_serve", 0)

    def test_stream_serve_traced(self):
        m = self.check("stream_serve", 1)
        self.assertGreater(m["self_s.store"]["value"], 0)

    def test_curate(self):
        # not one of BENCHMARK.json's workloads (see README.md), but it
        # runs and checks the same way
        self.check("curate", 0)


if __name__ == "__main__":
    unittest.main()
