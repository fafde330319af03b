"""The benchmark's own tests.

Each workload runs at the tiny scale (`--scale tiny`: sf0.001 tables, a
300-trip backlog and a two-second live phase):

  * a traced run must be correct and emit every per-layer metric of
    BENCHMARK.json with its unit;
  * an untraced run with one deliberately wrong result (the negative
    control) must emit every end-to-end metric with its unit and count the
    wrong result as a failed operation;
  * in a directory that holds only BENCHMARK.json and the benchmark's files,
    the command must fail without printing a result.

Run from the repository root: python3 -m pytest perfbench/tests -q
(about five minutes on four cores).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(cwd, *args, timeout=900):
    s = spec()
    p = subprocess.run(s["command"] + list(args), cwd=cwd, capture_output=True, text=True,
                       timeout=timeout)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class BenchmarkTest(unittest.TestCase):

    def check_metrics(self, out, declared):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual({n: m["unit"] for n, m in out["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        for n, m in out["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), n)

    def test_traced_runs_are_correct_and_emit_every_layer_metric(self):
        for w in spec()["workloads"]:
            with self.subTest(workload=w["name"]):
                out = result(run(ROOT, "--workload", w["name"], "--seed", "1", "--seconds", "2",
                                 "--trace", "1", "--scale", "tiny"))
                self.check_metrics(out, spec()["per_layer"])
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertGreaterEqual(out["attempted"], 1)

    def test_a_wrong_result_counts_as_failed(self):
        for w in spec()["workloads"]:
            with self.subTest(workload=w["name"]):
                out = result(run(ROOT, "--workload", w["name"], "--seed", "2", "--seconds", "2",
                                 "--trace", "0", "--scale", "tiny", "--inject-wrong"))
                self.check_metrics(out, spec()["end_to_end"])
                self.assertFalse(out["correct"])
                self.assertGreater(out["failed"], 0)
                for m in out["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_percentile_is_the_harrell_davis_estimate(self):
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import run as bench
        self.assertAlmostEqual(bench.incomplete_beta(2, 3, 0.4), 0.5248)
        self.assertAlmostEqual(bench.incomplete_beta(0.5, 0.5, 0.9), 0.7951672353)
        self.assertAlmostEqual(bench.percentile([5, 1, 4, 2, 3], 50), 3.0)
        self.assertAlmostEqual(bench.percentile([7.0], 90), 7.0)
        # with many samples the estimate approaches the sample percentile
        xs = list(range(1001))
        self.assertAlmostEqual(bench.percentile(xs, 90), 900.0, delta=1.0)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in spec()["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = run(d, "--workload", spec()["workloads"][0]["name"], "--seed", "1",
                    "--seconds", "2", "--trace", "0", timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    sys.exit(unittest.main())
