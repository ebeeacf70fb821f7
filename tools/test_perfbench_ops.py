"""Tests of the per-operation perfbench comparer, over synthetic reports.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "perfbench_ops.py")


def write_report(d, seed, ops, workload="eco_serve", trace=0):
    """A raw report holding `ops`: (name, traced, cpu_ns, tasks,
    shuffle_records, crit_ms) per timed sample."""
    os.makedirs(d, exist_ok=True)
    samples, groups = [], {}
    for i, (name, traced, cpu_ns, tasks, recs, crit) in enumerate(ops):
        op = "p%d.%s" % (2 + i, name)
        samples.append({"op": op, "name": name, "pass": 2 + i, "ms": 10.0, "traced": traced})
        groups[op] = {"cpu_ns": cpu_ns, "tasks": tasks, "shuffle_records": recs, "crit_ms": crit}
    path = os.path.join(d, "%s-seed%d-trace%d.json" % (workload, seed, trace))
    with open(path, "w") as f:
        json.dump({"workload": workload, "ops": samples, "groups": groups}, f)


def run(*args):
    r = subprocess.run([sys.executable, SCRIPT] + list(args), capture_output=True, text=True)
    return r.returncode, r.stdout


def row(out, name):
    line = next(l for l in out.splitlines() if l.startswith(name + " "))
    return line.split()[1:]


class PerfbenchOps(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.p = os.path.join(self.tmp.name, "parent")
        self.c = os.path.join(self.tmp.name, "change")

    def tearDown(self):
        self.tmp.cleanup()

    def test_medians_side_by_side(self):
        write_report(self.p, 1, [("eco_a", False, 100e6, 4, 10, 50)])
        write_report(os.path.join(self.p, ".bench_build", "run-x", "reports"), 2, [("eco_a", False, 300e6, 6, 30, 70)])
        write_report(self.p, 3, [("eco_a", False, 200e6, 5, 20, 60)])
        write_report(self.c, 1, [("eco_a", False, 50e6, 2, 4, 30), ("eco_b", False, 7e6, 1, 0, 2)])
        code, out = run(self.p, self.c)
        self.assertEqual(code, 0, out)
        # n_p n_c, then cpu, tasks, shuffle records, crit (parent, change), cpu move
        self.assertEqual(row(out, "eco_a"),
                         ["3", "1", "200.0", "50.0", "5.0", "2.0", "20.0", "4.0", "60.0", "30.0", "-75.0"])
        self.assertEqual(row(out, "eco_b")[:4], ["0", "1", "nan", "7.0"])

    def test_traced_samples_and_other_workloads_are_skipped(self):
        write_report(self.p, 1, [("eco_a", False, 100e6, 4, 10, 50), ("eco_a", True, 900e6, 4, 10, 50)])
        write_report(self.p, 2, [("eco_a", False, 500e6, 4, 10, 50)], workload="eco_stream")
        write_report(self.c, 1, [("eco_a", False, 100e6, 4, 10, 50)])
        code, out = run(self.p, self.c)
        self.assertEqual(code, 0, out)
        self.assertEqual(row(out, "eco_a")[:4], ["1", "1", "100.0", "100.0"])

    def test_op_filter(self):
        write_report(self.p, 1, [("eco_a", False, 1e6, 1, 1, 1), ("eco_b", False, 1e6, 1, 1, 1)])
        write_report(self.c, 1, [("eco_a", False, 1e6, 1, 1, 1), ("eco_b", False, 1e6, 1, 1, 1)])
        code, out = run(self.p, self.c, "--op", "eco_b")
        self.assertEqual(code, 0, out)
        self.assertIn("eco_b ", out)
        self.assertNotIn("eco_a ", out)

    def test_total_row_sums_the_per_op_medians(self):
        write_report(self.p, 1, [("eco_a", False, 100e6, 4, 10, 50), ("eco_b", False, 300e6, 1, 0, 20)])
        write_report(self.p, 2, [("eco_a", False, 200e6, 6, 30, 70), ("eco_b", False, 500e6, 3, 0, 40)])
        write_report(self.c, 1, [("eco_a", False, 50e6, 2, 4, 30), ("eco_c", False, 7e6, 1, 2, 3)])
        code, out = run(self.p, self.c)
        self.assertEqual(code, 0, out)
        # parent: eco_a medians 150/5/20/60 + eco_b 400/2/0/30;
        # change: eco_a 50/2/4/30 + eco_c 7/1/2/3 (an op a side never ran adds nothing)
        self.assertEqual(row(out, "total"),
                         ["550.0", "57.0", "7.0", "3.0", "20.0", "6.0", "90.0", "33.0", "-89.6"])
        self.assertNotIn("share", out)

    def test_op_filter_prints_the_share_of_total_cpu(self):
        write_report(self.p, 1, [("eco_a", False, 100e6, 1, 1, 1), ("eco_b", False, 300e6, 1, 1, 1)])
        write_report(self.c, 1, [("eco_a", False, 100e6, 1, 1, 1), ("eco_b", False, 100e6, 1, 1, 1)])
        code, out = run(self.p, self.c, "--op", "eco_b")
        self.assertEqual(code, 0, out)
        # the total still covers every op, not just the named ones
        self.assertEqual(row(out, "total")[:2], ["400.0", "200.0"])
        self.assertIn("share of total cpu_ms: parent 300.0 of 400.0 (75.0%), change 100.0 of 200.0 (50.0%)", out)

    def test_an_empty_side_compares_nothing(self):
        write_report(self.p, 1, [("eco_a", False, 1e6, 1, 1, 1)])
        os.makedirs(self.c)
        code, out = run(self.p, self.c)
        self.assertEqual(code, 1)
        self.assertIn("nothing compared", out)


if __name__ == "__main__":
    unittest.main()
