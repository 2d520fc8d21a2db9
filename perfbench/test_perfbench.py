#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py

The Scala arithmetic (percentile rule, geometric mean, span self time, job
attribution, pagination model, seeded generators) is checked by perfbench.SelfTest;
this file builds and runs it, and checks the result-line contract run.py enforces and
the row comparison of the slice's oracle check.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class SelfTest(unittest.TestCase):
    def test_scala_arithmetic(self):
        cp = build.build(run.BUILD_DIR)
        proc = subprocess.run(["java", "-cp", ":".join(map(str, cp)), "perfbench.SelfTest"],
                              capture_output=True, text=True)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr)


class ResultLine(unittest.TestCase):
    good = {"correct": True, "attempted": 3, "failed": 0,
            "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}

    def test_accepts_contract_line(self):
        self.assertEqual(run.parse_result(json.dumps(self.good)), self.good)

    def test_rejects_extra_keys(self):
        with self.assertRaises(ValueError):
            run.parse_result(json.dumps(dict(self.good, env={})))

    def test_rejects_zero_attempts(self):
        with self.assertRaises(ValueError):
            run.parse_result(json.dumps(dict(self.good, attempted=0)))


class OracleCompare(unittest.TestCase):
    def frame(self, rows, cols=("a", "b")):
        import pandas as pd
        return pd.DataFrame(rows, columns=list(cols))

    def test_row_and_column_order_do_not_matter(self):
        got = self.frame([(1, "x"), (2, "y")])
        want = self.frame([("y", 2), ("x", 1)], cols=("b", "a"))
        self.assertIsNone(oracle.compare(got, want))

    def test_a_changed_value_is_reported(self):
        self.assertIn("differs", oracle.compare(self.frame([(1, "x"), (2, "y")]),
                                                self.frame([(1, "x"), (2, "z")])))

    def test_duplicates_count(self):
        self.assertIsNotNone(oracle.compare(self.frame([(1, "x"), (1, "x"), (2, "y")]),
                                            self.frame([(1, "x"), (2, "y"), (2, "y")])))

    def test_row_count_and_columns(self):
        self.assertIn("rows", oracle.compare(self.frame([(1, "x")]), self.frame([])))
        self.assertIn("columns", oracle.compare(self.frame([(1, "x")]),
                                                self.frame([(1, "x")], cols=("a", "c"))))


if __name__ == "__main__":
    unittest.main()
