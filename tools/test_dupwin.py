"""Tests of the repeated-window counter, over synthetic source files.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import dupwin  # noqa: E402

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dupwin.py")


def lines(text):
    return text.splitlines(keepends=True)


class ExtraOccurrences(unittest.TestCase):
    def test_no_repeat(self):
        self.assertEqual(dupwin.extra_occurrences(lines("a\nb\nc\nd\n")), 0)

    def test_window_repeated_three_times(self):
        # a b c occurs three times: two extra; the windows that span two
        # copies (b c a, c a b) occur twice each: one extra each
        self.assertEqual(dupwin.extra_occurrences(lines("a\nb\nc\n" * 3)), 4)

    def test_blank_lines_are_dropped(self):
        self.assertEqual(
            dupwin.extra_occurrences(lines("a\nb\nc\nx\na\n\nb\n   \nc\n")), 1)

    def test_indentation_only_differences_match(self):
        self.assertEqual(
            dupwin.extra_occurrences(lines("a\n b\n  c\nx\n    a\nb\n\tc\n")), 1)

    def test_trailing_text_still_differs(self):
        self.assertEqual(
            dupwin.extra_occurrences(lines("a\nb\nc\nx\na\nb\nc;\n")), 0)

    def test_file_shorter_than_window(self):
        self.assertEqual(dupwin.extra_occurrences(lines("a\nb\n")), 0)
        self.assertEqual(dupwin.extra_occurrences([]), 0)

    def test_window_size(self):
        self.assertEqual(dupwin.extra_occurrences(lines("a\nb\nx\na\nb\n"), 2), 1)
        self.assertEqual(dupwin.extra_occurrences(lines("a\nb\nx\na\nb\n"), 3), 0)


class Cli(unittest.TestCase):
    def test_per_file_counts_and_total(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "A.scala"), "w") as f:
                f.write("a\nb\nc\n" * 3)
            with open(os.path.join(d, "B.scala"), "w") as f:
                f.write("a\nb\nc\n")  # repeats A's window, but in another file
            with open(os.path.join(d, "notes.txt"), "w") as f:
                f.write("a\nb\nc\n" * 5)  # not a source file: skipped
            out = subprocess.run([sys.executable, SCRIPT, d], capture_output=True,
                                 text=True, check=True).stdout.splitlines()
            self.assertEqual(out, ["     4  " + os.path.join(d, "A.scala"),
                                   "     4  total"])
            out = subprocess.run([sys.executable, SCRIPT, "--window", "1",
                                  os.path.join(d, "B.scala")], capture_output=True,
                                 text=True, check=True).stdout.splitlines()
            self.assertEqual(out, ["     0  total"])


if __name__ == "__main__":
    unittest.main()
