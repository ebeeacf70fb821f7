"""Tests of the Verify-dir comparer, over tiny parquet dirs.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import math
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "verify_compare.py")


def write_query(root, name, **cols):
    """One Verify query dir holding one parquet part of `cols`."""
    d = os.path.join(root, name)
    os.makedirs(d)
    pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))


def compare(a, b):
    r = subprocess.run([sys.executable, SCRIPT, a, b],
                       capture_output=True, text=True)
    return r.returncode, r.stdout


class VerifyCompare(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.makedirs(self.a)
        os.makedirs(self.b)

    def tearDown(self):
        self.tmp.cleanup()

    def test_identical_rows_in_another_order_match(self):
        write_query(self.a, "q", id=[1, 2], x=[0.5, 0.25])
        write_query(self.b, "q", id=[2, 1], x=[0.25, 0.5])
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 0, out)
        self.assertIn("1/1 match", out)

    def test_last_bit_float_difference_is_a_mismatch(self):
        x = 0.1
        y = math.nextafter(x, 1.0)  # one ulp up
        write_query(self.a, "q", id=[1], x=[x])
        write_query(self.b, "q", id=[1], x=[y])
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 1, out)
        self.assertIn("MISMATCH", out)

    def test_binary_column_compares_by_bytes(self):
        write_query(self.a, "same", code=pa.array([b"\x00\xff"], pa.binary()))
        write_query(self.b, "same", code=pa.array([b"\x00\xff"], pa.binary()))
        write_query(self.a, "diff", code=pa.array([b"\x00\xff"], pa.binary()))
        write_query(self.b, "diff", code=pa.array([b"\x00\xfe"], pa.binary()))
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 1, out)
        self.assertRegex(out, r"same\s+rows 1 vs 1, bit-identical")
        self.assertRegex(out, r"diff\s+rows 1 vs 1, MISMATCH")

    def test_query_missing_on_one_side_is_a_mismatch(self):
        write_query(self.a, "q", id=[1])
        write_query(self.b, "q", id=[1])
        write_query(self.a, "only_a", id=[1])
        write_query(self.b, "only_b", id=[1])
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 1, out)
        self.assertRegex(out, r"only_a\s+MISSING in " + self.b)
        self.assertRegex(out, r"only_b\s+MISSING in " + self.a)

    def test_nothing_compared_fails(self):
        # a Verify run whose every query threw: only oracle_sql.json
        for d in (self.a, self.b):
            with open(os.path.join(d, "oracle_sql.json"), "w") as f:
                f.write("{}")
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 1, out)
        self.assertIn("0/0 match", out)
        self.assertIn("nothing compared", out)


if __name__ == "__main__":
    unittest.main()
