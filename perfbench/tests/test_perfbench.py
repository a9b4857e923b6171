"""Tests of the benchmark itself: run from the repository root with

    python3 -m unittest discover -s perfbench/tests
"""
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(BENCH, name + ".py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


diff = load("diff")


def scratch_dir():
    """A temporary directory inside the checkout's build directory."""
    build = os.path.join(ROOT, ".bench_build")
    os.makedirs(build, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=build)


def result(metrics):
    return {"correct": True, "attempted": 1, "failed": 0,
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_the_runs_print(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(BENCH, "src/perfbench/Main.scala")) as f:
            main = f.read()
        for m in spec["end_to_end"]:
            self.assertIn('"%s" -> (' % m["name"], main)
        for m in spec["per_layer"]:
            self.assertIn('"%s" -> "%s"' % (m["name"], m["unit"]), main)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         ["ingest_backfill", "report_daily", "query_suite"])
        self.assertTrue(any(m["name"] == "setup_s" and m["bound"] == max(
            x["bound"] for x in spec["end_to_end"]) for m in spec["end_to_end"]))


class DiffTest(unittest.TestCase):
    def compare(self, base, change):
        d = scratch_dir()
        try:
            paths = []
            for name, runs in (("base", base), ("change", change)):
                p = os.path.join(d, name + ".jsonl")
                with open(p, "w") as f:
                    for seed, m in enumerate(runs):
                        f.write(json.dumps({"workload": "report_daily", "seed": seed,
                                            "trace": 0, "result": result(m)}) + "\n")
                paths.append(p)
            out = subprocess.run([sys.executable, os.path.join(BENCH, "diff.py"), "compare"] + paths,
                                 stdout=subprocess.PIPE, text=True)
            rows = {l.split()[0]: l.split()[-1] for l in out.stdout.splitlines()
                    if l and l.split()[0] in ("op_p50_s", "rows_per_s")}
            return out.returncode, rows
        finally:
            shutil.rmtree(d)

    def test_verdicts(self):
        base = [{"op_p50_s": 2.0 + 0.01 * i, "rows_per_s": 100.0 + i} for i in range(10)]
        faster = [{"op_p50_s": 1.5 + 0.01 * i, "rows_per_s": 100.0 + i} for i in range(10)]
        code, rows = self.compare(base, faster)
        self.assertEqual((code, rows["op_p50_s"], rows["rows_per_s"]), (0, "better", "within"))
        slower = [{"op_p50_s": 3.0 + 0.01 * i, "rows_per_s": 60.0 + i} for i in range(10)]
        code, rows = self.compare(base, slower)
        self.assertEqual((code, rows["op_p50_s"], rows["rows_per_s"]), (1, "regressed", "regressed"))

    def test_unresolved_when_base_spread_exceeds_bound(self):
        base = [{"op_p50_s": v, "rows_per_s": 100.0} for v in (1, 3, 1, 3, 1, 3, 1, 3)]
        change = [{"op_p50_s": v, "rows_per_s": 100.0} for v in (1.1, 3.1) * 4]
        _, rows = self.compare(base, change)
        self.assertEqual(rows["op_p50_s"], "unresolved")

    def test_quartiles_match_statistics(self):
        vs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(diff.quartiles(vs)[1], 3.0)


class RunTest(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        d = scratch_dir()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "report_daily",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d)

    @unittest.skipUnless(os.environ.get("PERFBENCH_SELFTEST") == "1",
                         "set PERFBENCH_SELFTEST=1 to build the engine and run the self-test")
    def test_selftest(self):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--selftest"], cwd=ROOT,
                           stdout=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertIn(" 0 failed", p.stdout)


if __name__ == "__main__":
    unittest.main()
