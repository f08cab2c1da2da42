#!/usr/bin/env python3
"""Tests for tools/check_oracle.py.

Usage: python3 tools/test_check_oracle.py

Each test writes tiny parquet tables, a Verify-style output directory (one
parquet directory per query plus oracle_sql.json) into a temp dir, runs the
checker on them and asserts the lines it prints.
"""
import json, os, subprocess, sys, tempfile, unittest
import pandas as pd

CHECKER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_oracle.py")


def run_checker(spark_out, oracle_sql, budget=None):
    """Checker output lines for Spark answers `spark_out` (name -> DataFrame)
    and oracle SQL `oracle_sql` (name -> SQL) over one table `t`."""
    with tempfile.TemporaryDirectory() as tmp:
        sf_dir, out_dir = os.path.join(tmp, "sf"), os.path.join(tmp, "out")
        os.makedirs(sf_dir)
        pd.DataFrame({"id": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["a", "b", "c"]}) \
            .to_parquet(os.path.join(sf_dir, "t.parquet"))
        for name, df in spark_out.items():
            os.makedirs(os.path.join(out_dir, name))
            df.to_parquet(os.path.join(out_dir, name, "part-00000.parquet"), index=False)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
            json.dump(oracle_sql, f)
        args = [sys.executable, CHECKER, sf_dir, out_dir] + ([str(budget)] if budget else [])
        done = subprocess.run(args, capture_output=True, text=True, timeout=120)
        if done.returncode != 0:
            raise AssertionError(f"checker exited {done.returncode}: {done.stderr}")
        return done.stdout.splitlines()


T = pd.DataFrame({"id": [1, 2, 3], "v": [0.5, 1.5, 2.5]})


class CheckOracleTest(unittest.TestCase):

    def test_pass(self):
        out = run_checker({"q": T}, {"q": "SELECT id, v FROM t ORDER BY id"})
        self.assertEqual(out, ["PASS q (3 rows)", "", "1 pass / 0 fail / 0 oracle-timeout"])

    def test_value_mismatch(self):
        out = run_checker({"q": T.assign(v=[0.5, 1.75, 2.5])},
                          {"q": "SELECT id, v FROM t ORDER BY id"})
        self.assertEqual(out[0], "FAIL q.v: first diff row 1: spark=1.75 oracle=1.5 "
                                 "(maxabs=0.25, ndiff=1)")
        self.assertEqual(out[-1], "0 pass / 1 fail / 0 oracle-timeout")

    def test_string_mismatch(self):
        out = run_checker({"q": pd.DataFrame({"s": ["a", "x", "c"]})},
                          {"q": "SELECT s FROM t ORDER BY s"})
        self.assertEqual(out[0], "FAIL q.s: first diff row 1: spark='x' oracle='b' (ndiff=1)")

    def test_int_vs_float_kind_skew(self):
        out = run_checker({"q": T[["id"]]}, {"q": "SELECT CAST(id AS DOUBLE) AS id FROM t ORDER BY id"})
        self.assertEqual(out[0], "FAIL q.id: dtype kind skew spark=int64 oracle=float64 "
                                 "(driver hashes stringified values: int vs float never match)")
        self.assertEqual(out[-1], "0 pass / 1 fail / 0 oracle-timeout")

    def test_columns_and_rows(self):
        out = run_checker({"q_cols": T, "q_rows": T.head(2)},
                          {"q_cols": "SELECT id FROM t", "q_rows": "SELECT id, v FROM t"})
        self.assertEqual(out[:2], ["FAIL q_cols: columns spark=['id', 'v'] oracle=['id']",
                                   "FAIL q_rows: rows spark=2 oracle=3"])

    def test_missing_spark_output(self):
        out = run_checker({}, {"q": "SELECT id FROM t"})
        self.assertEqual(out, ["MISSING SPARK OUT: q", "", "0 pass / 1 fail / 0 oracle-timeout"])

    def test_oracle_sql_error(self):
        out = run_checker({"q": T}, {"q": "SELECT id FROM no_such_table"})
        self.assertTrue(out[0].startswith("ORACLE SQL ERROR q: "), out[0])
        self.assertIn("no_such_table", out[0])
        self.assertEqual(out[-1], "0 pass / 1 fail / 0 oracle-timeout")

    def test_rows_only(self):
        out = run_checker({
            "r_ok": T,
            "r_empty": T.head(0),
            "r_array": pd.DataFrame({"a": [[1.0, 2.0], [3.0, 4.0]]}),
        }, {})
        self.assertTrue(out[0].startswith("ROWS-ONLY r_array: 2 rows — DRIVER-UNSORTABLE: "), out[0])
        self.assertEqual(out[1:], [
            "ROWS-ONLY r_empty: 0 rows (driver-sortable)",
            "  WARNING r_empty: 0 rows — driver smoke wants rows>0",
            "ROWS-ONLY r_ok: 3 rows (driver-sortable)",
            "",
            "0 pass / 2 fail / 0 oracle-timeout"])

    def test_budget_interrupts_and_sweep_continues(self):
        # q_then runs after the interrupted q_slow, on the same connection
        out = run_checker({"q_slow": pd.DataFrame({"n": [0]}), "q_then": T, "r_ok": T}, {
            "q_slow": "SELECT count(*) AS n FROM range(100000000000)",
            "q_then": "SELECT id, v FROM t ORDER BY id",
        }, budget=1)
        self.assertEqual(out, [
            "TIMEOUT q_slow (> 1s oracle — skipped)",
            "PASS q_then (3 rows)",
            "ROWS-ONLY r_ok: 3 rows (driver-sortable)",
            "",
            "1 pass / 0 fail / 1 oracle-timeout"])


if __name__ == "__main__":
    unittest.main()
