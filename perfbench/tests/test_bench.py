#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-seed smoke run of every workload.

  python3 perfbench/tests/test_bench.py

Asserts that every metric BENCHMARK.json names is printed with its unit
on every workload, that the untraced and traced runs check clean, and that a deliberately
corrupted output (one dropped window) is counted as failed.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
from run import END_TO_END, WORKLOADS  # noqa: E402


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    def assert_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_run_knows_the_manifest(self):
        self.assertEqual(set(WORKLOADS), {w["name"] for w in SPEC["workloads"]})
        self.assertEqual(END_TO_END, {m["name"] for m in SPEC["end_to_end"]})
        self.assertIn("setup_s", END_TO_END)

    def test_every_workload_prints_every_metric_and_checks_clean(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                e2e = SPEC["end_to_end"]
                plain = run(w["name"], 0)
                self.assert_metrics(plain, e2e)
                self.assertTrue(plain["correct"])
                self.assertGreater(plain["attempted"], 0)
                self.assertEqual(plain["failed"], 0)
                for m in e2e:
                    self.assertGreater(plain["metrics"][m["name"]]["value"], 0, m["name"])
                traced = run(w["name"], 1)
                self.assert_metrics(traced, SPEC["per_layer"])
                self.assertTrue(traced["correct"])
                self.assertEqual(traced["metrics"]["check.failed_frac"]["value"], 0)

    def test_dropped_window_is_counted_as_failed(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = run(w["name"], 0, "--corrupt")
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], 1)
                self.assertGreater(res["attempted"], 1)


if __name__ == "__main__":
    unittest.main()
