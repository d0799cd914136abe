"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The last test builds the engine and runs one workload end to end with an
injected failure (about a minute); set PERFBENCH_FAST=1 to skip it.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class OracleTest(unittest.TestCase):
    def test_canon_orders_columns_and_rows_and_normalises_floats(self):
        cols, rows = oracle.canon([(2, float("nan"), "b"), (1, -0.0, None)], ["z", "a", "m"])
        self.assertEqual(cols, ["a", "m", "z"])
        self.assertEqual(rows, [(0.0, None, 1), ("NaN", "b", 2)])

    def test_compare_reports_a_differing_row(self):
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            con.sql(f"COPY (SELECT 1 AS x UNION ALL SELECT 3) TO '{d}/got.parquet'")
            os.makedirs(f"{d}/dump")
            os.rename(f"{d}/got.parquet", f"{d}/dump/part-0.parquet")
            ok, _ = oracle.compare(con, f"{d}/dump", "SELECT 1 AS x UNION ALL SELECT 3")
            self.assertTrue(ok)
            ok, detail = oracle.compare(con, f"{d}/dump", "SELECT 1 AS x UNION ALL SELECT 2")
            self.assertFalse(ok)
            self.assertIn("rows differ", detail)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(gen.generate("cold_pipeline", a, 7),
                             gen.generate("cold_pipeline", b, 7))
            for name in sorted(os.listdir(f"{a}/pages"))[:3]:
                with open(f"{a}/pages/{name}") as x, open(f"{b}/pages/{name}") as y:
                    self.assertEqual(x.read(), y.read())


@unittest.skipIf(os.environ.get("PERFBENCH_FAST") == "1", "end-to-end run skipped")
class InjectedFailureTest(unittest.TestCase):
    def test_one_injected_failure_is_counted_and_fails_the_run(self):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "corpus_index", "--seed", "3",
             "--seconds", "1", "--trace", "0", "--inject-failure", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertNotEqual(p.returncode, 0)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertGreater(res["attempted"], 1)
        # the failed cold build counts as +inf: the total cannot read faster
        self.assertGreaterEqual(res["metrics"]["work_s"]["value"], 1e300)


if __name__ == "__main__":
    unittest.main()
