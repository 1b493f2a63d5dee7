#!/usr/bin/env python3
"""The benchmark's own tests: the output contract, in smoke mode.

    python3 -m unittest perfbench/test_perfbench.py      (from the repo root, ~4 min)

Every workload runs once untraced and once traced with --smoke (one
set-up, the least work per workload). Each run must print, as its last
stdout line, a JSON object with exactly correct/attempted/failed/metrics,
with every check passing and every metric BENCHMARK.json names present
with its unit. A copy of the benchmark without the program must exit
non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def bench(*args, cwd=REPO):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        self.assertEqual({w["name"] for w in BENCH["workloads"]}, set(run.WORKLOADS))
        layer = {f"{s}.{c}": u for s in run.SPANS for c, u in run.COUNTERS}
        layer.update(dict(run.EXTRAS))
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["per_layer"]}, layer)
        self.assertIn("setup_s", {m["name"] for m in BENCH["end_to_end"]})

    def test_end_to_end_drops_failed_ops(self):
        rec = {"setup_s": [9.0, 1.0, 2.0], "retained_heap_mb": 90.0,
               "ops": [{"s": 1.0, "ok": True}, {"s": 5.0, "ok": False}, {"s": 3.0, "ok": True}]}
        m = run.end_to_end(rec)
        self.assertEqual(m["setup_s"]["value"], 2.0)
        self.assertEqual(m["op_p50_s"]["value"], 2.0)
        self.assertEqual(m["pass_s"]["value"], 4.0)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        res = bench("--workload", workload, "--seed", "7", "--seconds", "5",
                    "--trace", str(trace), "--smoke")
        self.assertEqual(res.returncode, 0, res.stderr[-2000:])
        out = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], res.stderr[-2000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return out

    def test_star_rebuild(self):
        self.check("star_rebuild", 0)
        traced = self.check("star_rebuild", 1)["metrics"]
        self.assertGreaterEqual(traced["tracing.coverage_frac"]["value"], 0.95)
        self.assertGreater(traced["star.process.jobs"]["value"], 0)

    def test_index_loop(self):
        self.check("index_loop", 0)
        traced = self.check("index_loop", 1)["metrics"]
        self.assertGreaterEqual(traced["tracing.coverage_frac"]["value"], 0.95)
        self.assertGreater(traced["operators.maintain.jobs"]["value"], 0)

    def test_query_mix(self):
        self.check("query_mix", 0)
        traced = self.check("query_mix", 1)["metrics"]
        self.assertGreaterEqual(traced["tracing.coverage_frac"]["value"], 0.95)


class NoProgramTest(unittest.TestCase):
    def test_exits_nonzero_without_the_program(self):
        lone = os.path.join(REPO, ".bench_build", "lone")
        shutil.rmtree(lone, ignore_errors=True)
        os.makedirs(lone)
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), lone)
        shutil.copytree(HERE, os.path.join(lone, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            res = bench("--workload", "query_mix", "--seed", "1", "--seconds", "5",
                        "--trace", "0", cwd=lone)
            self.assertNotEqual(res.returncode, 0)
            self.assertNotIn('"correct"', res.stdout)
        finally:
            shutil.rmtree(lone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
