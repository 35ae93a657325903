#!/usr/bin/env python3
"""The benchmark's own test.

- The output checks reject a perturbed rank, cluster or score output
  (perfbench.SelfTest).
- A run prints every end-to-end metric of BENCHMARK.json with its unit
  (untraced) and every per-layer metric (traced), and nothing else.
- In a directory holding only BENCHMARK.json and the benchmark, the
  benchmark fails without printing a result.

Run from the root of a checkout: python3 perfbench/test_perfbench.py
(about three minutes: it builds, then runs one workload twice).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)


class PerfbenchTest(unittest.TestCase):

    def test_checks_reject_perturbed_outputs(self):
        classes = build.build(ROOT)
        r = subprocess.run(
            [build.java(), "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
             "perfbench.SelfTest"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("MISS", r.stdout)
        self.assertGreaterEqual(r.stdout.count("ok  "), 10, r.stdout)

    def check_metrics(self, trace, wanted):
        workload = SPEC["workloads"][0]["name"]
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in wanted})
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        return res

    def test_untraced_run_reports_end_to_end_metrics(self):
        res = self.check_metrics(0, SPEC["end_to_end"])
        for k, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, k)

    def test_traced_run_reports_per_layer_metrics(self):
        self.check_metrics(1, SPEC["per_layer"])

    def test_fails_without_the_engine_sources(self):
        bare = os.path.join(ROOT, build.OUT_DIR, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        try:
            r = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
