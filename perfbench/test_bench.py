#!/usr/bin/env python3
"""Smoke test of the benchmark harness.

Runs every workload at its tiny `--size smoke` (a few thousand files),
untraced and traced, and requires each run to pass its answer checks and
to report exactly the metrics BENCHMARK.json names, so a broken harness or
a renamed metric fails loudly. Run from the repository root:

    python3 perfbench/test_bench.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check(self, workload, trace):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "2", "--trace", str(trace), "--size", "smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        kind = "per_layer" if trace else "end_to_end"
        want = {m["name"]: m["unit"] for m in self.spec[kind]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        if not trace:
            for k, v in res["metrics"].items():
                self.assertGreater(v["value"], 0, k)
        return res["metrics"]

    def test_workloads(self):
        for w in [x["name"] for x in self.spec["workloads"]]:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    m = self.check(w, trace)
                    if trace:
                        self.assertGreaterEqual(m["trace.coverage"]["value"], 0.9)

    def test_refuses_without_engine_sources(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, "perfbench", ".work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
