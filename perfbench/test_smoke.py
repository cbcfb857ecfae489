"""The benchmark's own test: every workload end to end at tiny sizes.

    python3 -m unittest perfbench/test_smoke.py

Each workload runs plain and traced; every metric BENCHMARK.json declares
must be printed with its unit in the result line. A run with an altered
golden (extraction) or oracle row (query_ops) must exit 1 and report
`correct: false`. Takes a few minutes: each run starts a JVM and Spark.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace=0, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


class SmokeTest(unittest.TestCase):
    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_metric_printed_with_its_unit(self):
        for w in BENCH["workloads"]:
            for trace, declared in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    rc, result, err = run(w["name"], trace)
                    self.assertEqual(rc, 0, err[-3000:])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.check_metrics(result, declared)

    def test_wrong_golden_fails_the_run(self):
        for w in ("extract_mixed", "query_ops"):
            with self.subTest(workload=w):
                rc, result, err = run(w, 0, "--break-golden")
                self.assertEqual(rc, 1, err[-3000:])
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()
