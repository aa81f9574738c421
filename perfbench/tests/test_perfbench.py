"""Smoke tests of the benchmark itself, at the tiny size.

Run from the repository root (builds on first use, a few minutes in all):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace=0, seconds=2, extra=(), cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), "--size", "tiny",
           *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def result(lines):
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    return res


def printed(lines, kind):
    """name -> (value, unit) of the `report` / `metric` lines."""
    out = {}
    for line in lines:
        if line.startswith(kind + " "):
            name, rest = line[len(kind) + 1:].split(" = ", 1)
            value, unit = rest.rsplit(" ", 1)
            out[name] = (float(value), unit)
    return out


class SmokeTest(unittest.TestCase):

    def check_metrics(self, res, lines, spec_list):
        want = {m["name"]: m["unit"] for m in spec_list}
        self.assertEqual(set(res["metrics"]), set(want))
        shown = printed(lines, "metric")
        for name, unit in want.items():
            self.assertEqual(res["metrics"][name]["unit"], unit, name)
            self.assertIsInstance(res["metrics"][name]["value"], (int, float), name)
            self.assertIn(name, shown)
            self.assertEqual(shown[name][1], unit, name)

    def test_search_hot_prints_every_metric(self):
        rc, lines = run("search-hot")
        res = result(lines)
        self.assertEqual(rc, 0, lines[-10:])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.check_metrics(res, lines, SPEC["end_to_end"])
        report = printed(lines, "report")
        for name, unit in [("query_p50_ms", "ms"), ("query_p99_ms", "ms"),
                           ("build_docs_per_s", "docs/s"), ("error_rate", "failed/attempted")]:
            self.assertEqual(report[name][1], unit, name)
        self.assertTrue(any(l.startswith("box local[") for l in lines))
        self.assertTrue(any("host_ext_busy_frac=" in l and "dirty_window=" in l for l in lines))

    def test_search_open_traced_prints_every_layer(self):
        # long enough for every family to reach the window at the open rates
        rc, lines = run("search-open", trace=1, seconds=12)
        res = result(lines)
        self.assertEqual(rc, 0, lines[-10:])
        self.check_metrics(res, lines, SPEC["per_layer"])
        report = printed(lines, "report")
        for rate in ("low", "mid", "high"):
            self.assertEqual(report[f"open_p50_ms.{rate}"][1], "ms")
            self.assertEqual(report[f"open_p95_ms.{rate}"][1], "ms")
        self.assertEqual(report["max_qps_slo"][1], "1/s")
        # the cold stream overflows the cache: some queries launch fetch jobs
        self.assertGreater(res["metrics"]["spark.jobs_per_query"]["value"], 0)

    def test_build_workload_prints_its_metrics(self):
        rc, lines = run("build", seconds=1)
        res = result(lines)
        self.assertEqual(rc, 0, lines[-10:])
        self.check_metrics(res, lines, SPEC["end_to_end"])
        self.assertIn("build_docs_per_s", printed(lines, "report"))

    def test_wrong_topk_fails_the_run(self):
        rc, lines = run("search-hot", extra=["--perturb-check", "1"])
        res = result(lines)
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertTrue(any(l.startswith("error ") for l in lines))

    def test_lagging_generator_is_flagged(self):
        rc, lines = run("search-open", extra=["--gen-lag-ms", "80"])
        self.assertIn("info open_generator_lagged = true", lines)

    def test_refuses_to_run_without_the_engine_sources(self):
        bare = os.path.join(BENCH, "work", f"bare-{os.getpid()}")
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.makedirs(bare)
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "work", "__pycache__"))
            rc, lines = run("search-hot", cwd=bare,
                            script=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
