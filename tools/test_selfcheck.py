"""Tests of the Verify-vs-DuckDB oracle check, over tiny parquet dirs
and VALUES oracles (no testdata tables needed).

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "selfcheck.py")

TWO_ROWS = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, s)"


class SelfCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")   # no tables: oracles are VALUES
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(self.out)

    def tearDown(self):
        self.tmp.cleanup()

    def oracles(self, **sql):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(sql, f)

    def output(self, name, **cols):
        """One Verify query dir; no columns means no part files, as an
        empty Spark result can leave."""
        d = os.path.join(self.out, name)
        os.makedirs(d)
        if cols:
            pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))

    def check(self, *names):
        r = subprocess.run([sys.executable, SCRIPT, self.sf, self.out, *names],
                           capture_output=True, text=True)
        return r.returncode, r.stdout

    def test_rows_in_another_order_match(self):
        self.oracles(a=TWO_ROWS)
        self.output("a", id=[2, 1], s=["b", "a"])
        code, out = self.check()
        self.assertEqual(code, 0, out)
        self.assertIn("✓ a: 2 rows", out)
        self.assertIn("1 ok, 0 bad", out)

    def test_value_mismatch_is_bad(self):
        self.oracles(a=TWO_ROWS)
        self.output("a", id=[1, 2], s=["a", "c"])
        code, out = self.check()
        self.assertEqual(code, 1, out)
        self.assertIn("✗ a: VALUES differ", out)
        self.assertIn("0 ok, 1 bad", out)

    def test_column_name_mismatch_is_bad(self):
        self.oracles(a=TWO_ROWS)
        self.output("a", id=[1, 2], t=["a", "b"])
        code, out = self.check()
        self.assertEqual(code, 1, out)
        self.assertIn("✗ a: columns differ", out)

    def test_empty_result_matches_empty_oracle(self):
        self.oracles(a=TWO_ROWS + " WHERE id > 2")
        self.output("a")
        code, out = self.check()
        self.assertEqual(code, 0, out)
        self.assertIn("✓ a: 0 rows", out)

    def test_oracle_sql_error_is_bad(self):
        self.oracles(a="SELECT * FROM no_such_table")
        self.output("a", id=[1])
        code, out = self.check()
        self.assertEqual(code, 1, out)
        self.assertIn("✗ a: ORACLE SQL ERROR", out)

    def test_missing_output_dir_is_bad(self):
        self.oracles(a=TWO_ROWS, b=TWO_ROWS)
        self.output("a", id=[1, 2], s=["a", "b"])
        code, out = self.check()
        self.assertEqual(code, 1, out)
        self.assertIn("✗ b: no Verify output", out)
        self.assertIn("1 ok, 1 bad", out)

    def test_names_check_only_that_subset(self):
        self.oracles(a=TWO_ROWS, b=TWO_ROWS)
        self.output("a", id=[1, 2], s=["a", "b"])
        code, out = self.check("a")
        self.assertEqual(code, 0, out)
        self.assertIn("1 ok, 0 bad", out)
        self.assertNotIn("b:", out)
        code, out = self.check("a", "b")
        self.assertEqual(code, 1, out)
        self.assertIn("✗ b: no Verify output", out)

    def test_output_without_oracle_is_rows_only(self):
        self.oracles(a=TWO_ROWS)
        self.output("a", id=[1, 2], s=["a", "b"])
        self.output("r", x=[1.5])
        code, out = self.check()
        self.assertEqual(code, 0, out)
        self.assertIn("[rows-only] r: 1 rows", out)
        self.assertIn("1 ok, 0 bad", out)


if __name__ == "__main__":
    unittest.main()
