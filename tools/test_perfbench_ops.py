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


def write_stream_report(d, seed, queries, trace=0):
    """An eco_stream raw report: `queries` maps each run id to (query
    name, cpu_ns, stages, tasks, shuffle_records, crit_ms)."""
    os.makedirs(d, exist_ok=True)
    names, groups = {}, {"none": {"cpu_ns": 5e9, "stages": 9}, "read0": {"cpu_ns": 7e9, "stages": 9}}
    for run_id, (name, cpu_ns, stages, tasks, recs, crit) in queries.items():
        names[run_id] = name
        groups[run_id] = {"cpu_ns": cpu_ns, "stages": stages, "tasks": tasks,
                          "shuffle_records": recs, "crit_ms": crit}
    path = os.path.join(d, "eco_stream-seed%d-trace%d.json" % (seed, trace))
    with open(path, "w") as f:
        json.dump({"workload": "eco_stream", "trace": trace, "query_groups": names, "groups": groups}, f)


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

    def test_stream_queries_one_sample_per_run(self):
        for seed, cpu in ((1, 1000e6), (2, 3000e6), (3, 2000e6)):
            write_stream_report(self.p, seed, {
                "r%da" % seed: ("pb_win", cpu, 20, 80, 2000, 7000),
                "r%db" % seed: ("pb_dgim", 500e6, 10, 40, 100, 3000)})
        # a traced run is left out; a query restarted under a second run id sums both
        write_stream_report(self.c, 4, {"x": ("pb_win", 9000e6, 99, 99, 99, 99)}, trace=1)
        write_stream_report(self.c, 5, {"c5a": ("pb_win", 600e6, 12, 50, 1000, 4000),
                                        "c5b": ("pb_win", 200e6, 2, 8, 0, 500),
                                        "c5c": ("pb_latest", 100e6, 4, 10, 10, 90)})
        code, out = run(self.p, self.c, "--workload", "eco_stream")
        self.assertEqual(code, 0, out)
        self.assertIn("stages_p", out.splitlines()[2])
        # n_p n_c, then cpu, stages, tasks, shuffle records, crit (parent, change), cpu move
        self.assertEqual(row(out, "pb_win"),
                         ["3", "1", "2000.0", "800.0", "20.0", "14.0", "80.0", "58.0",
                          "2000.0", "1000.0", "7000.0", "4500.0", "-60.0"])
        self.assertEqual(row(out, "pb_dgim")[:4], ["3", "0", "500.0", "nan"])
        self.assertEqual(row(out, "pb_latest")[:4], ["0", "1", "nan", "100.0"])
        # job groups outside the queries (reads, "none") get no row and no part of the total
        self.assertNotIn("read0", out)
        self.assertEqual(row(out, "total")[:4], ["2500.0", "900.0", "30.0", "18.0"])

    def test_stream_reports_without_queries_compare_nothing(self):
        write_stream_report(self.p, 1, {"a": ("pb_win", 1e6, 1, 1, 1, 1)})
        write_stream_report(self.c, 1, {"a": ("pb_win", 1e6, 1, 1, 1, 1)}, trace=1)
        code, out = run(self.p, self.c, "--workload", "eco_stream")
        self.assertEqual(code, 1)
        self.assertIn("nothing compared: a side has no eco_stream sample", out)


if __name__ == "__main__":
    unittest.main()
