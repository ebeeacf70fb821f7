#!/usr/bin/env python3
"""Per-operation work of two sets of perfbench runs, side by side.

Usage: perfbench_ops.py PARENT_DIR CHANGE_DIR [--workload NAME] [--op NAME ...]

Each DIR is searched recursively for perfbench raw reports
(`<workload>-seed<N>-trace<T>.json`, written under
`.bench_build/perfbench/run-*/reports/` of the checkout that ran them),
so a checkout root, its reports dir or a copy of several reports all
work. For every operation of the workload (default eco_serve) it prints
the median over the untraced timed samples of all reports of:

  cpu_ms    executor CPU of the operation's stages
  tasks     tasks run
  shuf_rec  shuffle records written
  crit_ms   critical-path task time (wall time the cores were busy)

for the parent and the change, and the change's relative move in
executor CPU. `n` is the sample count per side. `--op` (repeatable)
limits the table to the named operations. A last `total` row sums each
side's per-op medians over every operation of the workload, and with
`--op` a `share` line gives the named operations' part of each side's
total executor CPU.

eco_stream has no timed operations: its rows are the streaming queries
(pb_win, pb_latest, pb_dgim), each the work of its run id's job group
as the report's `query_groups` names it, one sample per untraced run,
with a `stages` column after `cpu_ms`.

Exit 0 iff both sides hold at least one sample of the workload.
"""
import argparse
import fnmatch
import json
import os
import statistics
import sys

COLUMNS = (("cpu_ms", "cpu_ns", 1e-6), ("tasks", "tasks", 1.0),
           ("shuf_rec", "shuffle_records", 1.0), ("crit_ms", "crit_ms", 1.0))
#: a streaming query runs one or two stages per micro-batch, so its
#: stage count shows how many batches a run took
QUERY_COLUMNS = COLUMNS[:1] + (("stages", "stages", 1.0),) + COLUMNS[1:]


def reports(root, workload):
    """The raw reports of `workload` under `root`, hidden dirs included."""
    paths = [os.path.join(d, f) for d, _, files in os.walk(root)
             for f in fnmatch.filter(files, "%s-seed*-trace*.json" % workload)]
    out = []
    for path in sorted(paths):
        with open(path) as f:
            r = json.load(f)
        if r.get("workload") == workload and ("ops" in r or "query_groups" in r) and "groups" in r:
            out.append(r)
    return out


def columns(reps):
    return QUERY_COLUMNS if any("query_groups" in r for r in reps) else COLUMNS


def samples(reps):
    """{name: {column: [values]}} over the untraced timed ops, or for a
    streaming workload over its queries, one value per untraced run (a
    query restarted under a second run id sums both groups)."""
    cols = columns(reps)
    by_name = {}
    for r in reps:
        if "query_groups" in r:
            if r.get("trace"):
                continue
            runs = {}
            for run, name in r["query_groups"].items():
                runs.setdefault(name, []).append(r["groups"].get(run, {}))
            items = sorted(runs.items())
        else:
            items = [(o["name"], [r["groups"].get(o["op"], {})]) for o in r["ops"] if not o.get("traced")]
        for name, groups in items:
            side = by_name.setdefault(name, {c: [] for c, _, _ in cols})
            for c, key, scale in cols:
                side[c].append(sum(g.get(key, 0) for g in groups) * scale)
    return by_name


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pct(part, whole):
    return 100.0 * part / whole if whole else float("nan")


def line(name, n_p, n_c, mp, mc, cols):
    """One table line from the two sides' {column: value}."""
    out = "%-26s %5s %5s" % (name, n_p, n_c)
    for col, _, _ in cols:
        out += " %10.1f %10.1f" % (mp[col], mc[col])
    return out + " %+8.1f" % pct(mc["cpu_ms"] - mp["cpu_ms"], mp["cpu_ms"])


def total(side, names, cols):
    """{column: sum of the per-op medians} over the `names` the side ran."""
    return {c: sum(median(side[n][c]) for n in names if n in side) for c, _, _ in cols}


def table(parent, change, only=(), cols=COLUMNS):
    """The side-by-side lines, one per operation in either set, then the
    `total` row over all of them and, when `only` names operations, the
    share of each side's total CPU those take."""
    every = sorted(set(parent) | set(change))
    names = [n for n in every if n in only] if only else every
    head = "%-26s %5s %5s" % ("op", "n_p", "n_c")
    for c, _, _ in cols:
        head += " %10s %10s" % (c + "_p", c + "_c")
    lines = [head + " %8s" % "cpu_d%"]
    empty = {c: [] for c, _, _ in cols}
    for n in names:
        p, c = parent.get(n, empty), change.get(n, empty)
        lines.append(line(n, len(p["cpu_ms"]), len(c["cpu_ms"]),
                          {k: median(v) for k, v in p.items()}, {k: median(v) for k, v in c.items()}, cols))
    tp, tc = total(parent, every, cols), total(change, every, cols)
    lines.append(line("total", "", "", tp, tc, cols))
    if only:
        sp, sc = total(parent, names, cols)["cpu_ms"], total(change, names, cols)["cpu_ms"]
        lines.append("share of total cpu_ms: parent %.1f of %.1f (%.1f%%), change %.1f of %.1f (%.1f%%)" % (
            sp, tp["cpu_ms"], pct(sp, tp["cpu_ms"]), sc, tc["cpu_ms"], pct(sc, tc["cpu_ms"])))
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", default="eco_serve")
    ap.add_argument("--op", action="append", default=[])
    a = ap.parse_args(argv)
    sides, every = [], []
    for d in (a.parent_dir, a.change_dir):
        reps = reports(d, a.workload)
        print("%s: %d %s reports" % (d, len(reps), a.workload))
        sides.append(samples(reps))
        every += reps
    if not sides[0] or not sides[1]:
        print("nothing compared: a side has no %s sample" % a.workload)
        return 1
    print("\n".join(table(sides[0], sides[1], a.op, columns(every))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
