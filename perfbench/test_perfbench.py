"""Tests for the store-lifecycle benchmark.

Run from the repository root (each smoke run starts a JVM; the whole file
takes several minutes):

    python3 -m unittest perfbench/test_perfbench.py
"""
import functools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
with open(os.path.join(HERE, "meta.json")) as fh:
    META = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def invoke(cwd, workload, seed, trace, smoke=True):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)] + (["--smoke"] if smoke else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


@functools.lru_cache(maxsize=None)
def smoke(workload, trace, attempt=0):
    """One smoke run's result line; `attempt` tells repeated runs apart."""
    r = invoke(ROOT, workload, 7, trace)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and lines, f"{workload} trace={trace} exited {r.returncode}:\n{r.stdout}\n{r.stderr}"
    return json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_metrics(self, res, spec):
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual({n: m["unit"] for n, m in res["metrics"].items()}, {m["name"]: m["unit"] for m in spec})
        for name, m in res["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)

    def test_untraced_run_prints_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = smoke(w, 0)
                self.check_metrics(res, BENCH["end_to_end"])
                for name, m in res["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_traced_run_prints_every_per_layer_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check_metrics(smoke(w, 1), BENCH["per_layer"])

    def test_traced_counts_repeat_at_a_fixed_seed(self):
        exact = [m["name"] for m in BENCH["per_layer"]
                 if m["unit"] in ("count", "bytes") and m["name"] not in META["non_exact"]]
        for w in WORKLOADS:
            a, b = smoke(w, 1), smoke(w, 1, attempt=1)
            for name in exact:
                with self.subTest(workload=w, metric=name):
                    self.assertEqual(a["metrics"][name]["value"], b["metrics"][name]["value"])


class CheckoutTest(unittest.TestCase):
    def test_fails_without_graft_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", "out", "__pycache__"))
            r = invoke(d, WORKLOADS[0], 1, 0, smoke=False)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
