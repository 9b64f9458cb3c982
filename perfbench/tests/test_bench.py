#!/usr/bin/env python3
"""The benchmark's own tests, at smoke size (a few thousand records, the
sf0.001 corpus). Every workload runs end to end untraced and traced; every
declared metric must be present with its unit; a damaged output must fail
the run; and a checkout holding only the benchmark must fail fast.

Run from the repository root:  python3 perfbench/tests/test_bench.py
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace),
                        "--smoke", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class SmokeRuns(unittest.TestCase):
    def check_metrics(self, result, declared):
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, v in result["metrics"].items():
            self.assertTrue(math.isfinite(v["value"]), name)

    def test_untraced_runs_report_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, result, err = run(w, 0)
                self.assertEqual(rc, 0, err[-2000:])
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.check_metrics(result, SPEC["end_to_end"])
                for name, v in result["metrics"].items():
                    self.assertGreater(v["value"], 0, name)

    def test_traced_runs_report_every_per_layer_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, result, err = run(w, 1)
                self.assertEqual(rc, 0, err[-2000:])
                self.assertTrue(result["correct"])
                self.check_metrics(result, SPEC["per_layer"])
                m = {k: v["value"] for k, v in result["metrics"].items()}
                self.assertGreater(m["trace.spans"], 0)
                if w == "plumb_avro":
                    self.assertEqual(m["serde.decode_exprs"], 3)
                    self.assertGreater(m["serde.malformed_frac"], 0)
                if w == "board_loops":
                    self.assertGreater(m["ops.jobs"], 0)
                    self.assertGreater(m["ops.exchanges"], 0)

    def test_a_damaged_output_fails_the_run(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, result, _ = run(w, 0, "--corrupt")
                self.assertEqual(rc, 1)
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)

    def test_a_checkout_of_only_the_benchmark_fails_without_a_result(self):
        bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path))
            rc, result, _ = run(WORKLOADS[0], 0, cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
