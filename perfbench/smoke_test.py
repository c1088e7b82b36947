#!/usr/bin/env python3
"""Smoke test of the benchmark: tiny runs of every workload.

Run from the repository root:

    python3 perfbench/smoke_test.py

Checks that an untraced run prints every end-to-end metric of
BENCHMARK.json with its unit and passes its correctness checks, that a
traced run prints every per-layer metric, and that a corrupted estimate is
rejected by the correctness check, as is a sketch built with a smaller
lgK than the default.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace=0, corrupt=False, seed=7, conf=(), log=None):
    """Runs one tiny workload and returns its result; appends stderr to `log`."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    if corrupt:
        cmd.append("--corrupt")
    for kv in conf:
        cmd += ["--conf", kv]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    if log is not None:
        log.append(p.stderr)
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def assert_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run(w)
                self.assert_metrics(r, SPEC["end_to_end"])
                self.assertTrue(r["correct"], w)
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_prints_every_per_layer_metric(self):
        r = run(WORKLOADS[0], trace=1)
        self.assert_metrics(r, SPEC["per_layer"])
        self.assertTrue(r["correct"])

    def test_corrupted_estimate_is_rejected(self):
        r = run(WORKLOADS[0], corrupt=True)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertLess(r["metrics"]["success_ratio"]["value"], 1)

    def test_smaller_theta_lgk_is_rejected(self):
        # lgK 11 keeps 2048 entries; its accuracy alone would pass the bound
        log = []
        r = run("sketch_ingest", conf=["spark.sql.dataSketches.theta.lgK=11"], log=log)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertIn("theta global: sketch retained entries", log[0])


if __name__ == "__main__":
    unittest.main()
