#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

They run every workload at a tiny size (a few JVM runs, several minutes),
check that each metric named in BENCHMARK.json is printed with its unit,
that a wrong expected result counts as a failed op, and that the command
fails without printing a result where there is nothing to build.
"""
import collections
import json
import pathlib
import shutil
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import oracle  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=str(cwd),
                       capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return r.returncode, result, r.stderr


def tiny(workload, trace, *extra):
    return run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
               "--size", "tiny", *extra)


class MetricsPrinted(unittest.TestCase):
    def assert_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in wanted}
        got = result["metrics"]
        self.assertEqual(set(got), set(want))
        for name, unit in want.items():
            self.assertEqual(got[name]["unit"], unit, name)
            self.assertIsInstance(got[name]["value"], (int, float), name)

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            for trace, wanted in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    code, result, err = tiny(w["name"], trace)
                    self.assertEqual(code, 0, err[-3000:])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.assert_metrics(result, wanted)
                    if trace == 0:
                        for m in result["metrics"].values():
                            self.assertGreater(m["value"], 0)


class CorrectnessGate(unittest.TestCase):
    def test_corrupted_expectation_is_a_failed_op(self):
        code, result, err = tiny("registry_mix", 0, "--corrupt-oracle", "x59_pagerank")
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertIn("q.x59_pagerank: oracle mismatch", err)

    def test_fingerprint_ignores_row_order_but_not_values(self):
        import duckdb

        con = duckdb.connect()
        a = oracle.fingerprint(con.execute("SELECT * FROM (VALUES (1, 'x', 0.5), (2, 'y', 'NaN'::DOUBLE)) t(b, a, c)"))
        b = oracle.fingerprint(con.execute("SELECT a, c, b FROM (VALUES (2, 'y', 'NaN'::DOUBLE), (1, 'x', 0.5)) t(b, a, c)"))
        c = oracle.fingerprint(con.execute("SELECT * FROM (VALUES (1, 'x', 0.5), (2, 'y', 0.25)) t(b, a, c)"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertNotEqual(a, oracle.corrupt(a))
        self.assertEqual(sum(oracle.corrupt(a)[1].values()), sum(a[1].values()) + 1)
        self.assertIsInstance(a[1], collections.Counter)


class NothingToBuild(unittest.TestCase):
    def test_fails_without_result_when_sources_are_missing(self):
        bare = ROOT / ".bench_tmp" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            for p in SPEC["paths"]:
                shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
            code, result, _ = run("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                                  "--seconds", "1", "--trace", "0", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
