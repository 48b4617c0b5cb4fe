"""Tests of the benchmark itself (not of the engine).

    python3 perfbench/test_bench.py

Builds the benchmark, runs the Spark-free Scala checks (graftbench.SelfTest:
input determinism, the tail-percentile rule, self-time arithmetic, job
attribution, failure counting), checks BENCHMARK.json against the metrics
graftbench.Main prints, and checks that run.py fails cleanly without the
engine sources.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def java(*args):
    return subprocess.run(["java", "-cp", build.build(), *args],
                          capture_output=True, text=True, timeout=300)


class SelfTest(unittest.TestCase):
    def test_scala_checks(self):
        r = java("graftbench.SelfTest")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("all checks passed", r.stdout)


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        r = java("graftbench.SelfTest", "--metrics")
        self.assertEqual(r.returncode, 0, r.stderr)
        self.printed = json.loads(r.stdout.strip().splitlines()[-1])

    def test_keys(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})

    def test_workloads_match_main(self):
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(names, self.printed["workloads"])
        self.assertEqual(tuple(names), run.WORKLOADS)
        for w in self.spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_metrics_match_main(self):
        for key in ("end_to_end", "per_layer"):
            spec = [(m["name"], m["unit"]) for m in self.spec[key]]
            printed = [(m["name"], m["unit"]) for m in self.printed[key]]
            self.assertEqual(spec, printed, key)

    def test_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertIn("setup_s", e2e)
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        bounds = [m["bound"] for m in self.spec["end_to_end"]]
        self.assertTrue(all(0 < b <= 0.25 for b in bounds))
        self.assertEqual(e2e["setup_s"]["bound"], max(bounds))
        for m in self.spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})


class RunPy(unittest.TestCase):
    def test_result_line(self):
        ok = {"correct": True, "attempted": 3, "failed": 0, "metrics": {}}
        self.assertTrue(run.result_ok(json.dumps(ok)))
        self.assertFalse(run.result_ok(json.dumps({**ok, "attempted": 0})))
        self.assertFalse(run.result_ok(json.dumps({**ok, "extra": 1})))
        self.assertFalse(run.result_ok("not json"))

    def test_fails_without_engine_sources(self):
        bare = os.path.join(build.OUT, "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(build.BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            last = (r.stdout.strip().splitlines() or [""])[-1]
            self.assertFalse(run.result_ok(last))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
