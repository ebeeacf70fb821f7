#!/usr/bin/env python3
"""Split a JFR recording's executor CPU samples into engine buckets.

Usage:
  jfr print --stack-depth 2048 --events jdk.ExecutionSample rec.jfr > rec.txt
  python3 tools/jfr_split.py rec.txt [--start S] [--end S] [--frame REGEX ...]

Keeps the samples of Spark executor threads ("Executor task launch
worker ..."), optionally only those taken S seconds or more after the
recording's first sample (--start) and before --end, and prints each
bucket's sample count and share. `jfr print` gives each sample's time
of day only, so times are unwrapped across midnight (a recording must
be shorter than 12 hours):

  task_deser    deserializing task binaries (ObjectInputStream)
  wire_decode   from_json / Jackson, or the graft_wire_decode kernel
  codegen       generating and compiling expression code (Spark's
                codegen package, its interpreted-fallback factories, Janino)
  shuffle_write the shuffle writers and their sorters
  state_store   streaming state store reads, writes and commits
  other         everything else

A sample goes to the bucket of its innermost matching frame; frames of
the codegen package's per-row helpers (row writers, projections,
orderings) match none. Each --frame REGEX adds a row counting, per
bucket, the samples with any stack frame the regex finds, e.g.
`--frame 'CodegenStage1[.]' --frame 'CodegenStage2[.]'` to tell which
whole-stage-codegen stage a bucket's samples ran in. Profiled runs
only say where time goes; they are never evidence for a speed claim
(the recording itself costs CPU).
"""
import argparse
import re
import sys

BUCKETS = [
    ("task_deser", ("java.io.ObjectInputStream.", "org.apache.spark.serializer.JavaDeserializationStream",
                    "org.apache.spark.serializer.JavaSerializerInstance.deserialize")),
    ("wire_decode", ("org.apache.spark.sql.catalyst.json.", "org.apache.spark.sql.catalyst.expressions.json.",
                     "org.apache.spark.sql.catalyst.expressions.JsonToStructs", "com.fasterxml.jackson.",
                     "graft.plans.WireKernel")),
    ("codegen", ("org.codehaus.janino.", "org.codehaus.commons.compiler.",
                 "org.apache.spark.sql.catalyst.expressions.codegen.",
                 "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")),
    ("shuffle_write", ("org.apache.spark.shuffle.ShuffleWriteProcessor", "org.apache.spark.shuffle.sort.",
                       "org.apache.spark.util.collection.ExternalSorter",
                       "org.apache.spark.storage.DiskBlockObjectWriter")),
    ("state_store", ("org.apache.spark.sql.execution.streaming.state.",)),
]
# classes of the codegen package that run per row rather than generate
# code: their frames match no bucket, so the sample goes to the caller's
ROW_HELPERS = tuple(f"org.apache.spark.sql.catalyst.expressions.codegen.{c}."
                    for c in ("UnsafeRowWriter", "UnsafeArrayWriter", "UnsafeWriter", "BufferHolder",
                              "UnsafeRowJoiner", "BaseProjection", "BaseMutableProjection",
                              "LazilyGeneratedOrdering"))
NAMES = [b for b, _ in BUCKETS] + ["other"]
TIME = re.compile(r"startTime = (\d+):(\d+):(\d+(?:\.\d+)?)")
DAY = 24 * 3600
THREAD = re.compile(r'sampledThread = "([^"]*)"')


def samples(lines):
    """(seconds of day, thread, frames innermost first) per sample."""
    t, thread, frames, in_stack = None, None, [], False
    for line in lines:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            t, thread, frames, in_stack = None, None, [], False
        elif (m := TIME.match(s)):
            t = int(m[1]) * 3600 + int(m[2]) * 60 + float(m[3])
        elif (m := THREAD.match(s)):
            thread = m[1]
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s)
        elif s == "}" and t is not None:
            yield t, thread or "", frames
            t = None


def bucket(frames):
    for f in frames:
        if f.startswith(ROW_HELPERS):
            continue
        for name, prefixes in BUCKETS:
            if f.startswith(prefixes):
                return name
    return "other"


def executor_stacks(lines, start=None, end=None):
    """Frames of each executor-thread sample inside the window."""
    # samples are printed per thread buffer, not in time order
    all_samples = list(samples(lines))
    if not all_samples:
        return
    # times of day, unwrapped to the nearest day of the first printed sample
    ref = all_samples[0][0]
    times = [t - ref - DAY * round((t - ref) / DAY) for t, _, _ in all_samples]
    first = min(times)
    for t, (_, thread, frames) in zip(times, all_samples):
        rel = t - first
        if not thread.startswith("Executor task launch worker"):
            continue
        if (start is not None and rel < start) or (end is not None and rel >= end):
            continue
        yield frames


def split(lines, start=None, end=None):
    counts = dict.fromkeys(NAMES, 0)
    for frames in executor_stacks(lines, start, end):
        counts[bucket(frames)] += 1
    return counts


def frame_counts(lines, patterns, start=None, end=None):
    """Per regex of `patterns`, the samples in each bucket whose stack
    has a frame the regex finds."""
    regexes = [re.compile(p) for p in patterns]
    counts = {p: dict.fromkeys(NAMES, 0) for p in patterns}
    for frames in executor_stacks(lines, start, end):
        b = bucket(frames)
        for p, rx in zip(patterns, regexes):
            if any(rx.search(f) for f in frames):
                counts[p][b] += 1
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("print_output", help="output of `jfr print --events jdk.ExecutionSample`")
    ap.add_argument("--start", type=float, help="seconds after the first sample")
    ap.add_argument("--end", type=float, help="seconds after the first sample")
    ap.add_argument("--frame", action="append", default=[], metavar="REGEX",
                    help="also count, per bucket, the samples with a frame matching REGEX (repeatable)")
    a = ap.parse_args()
    with open(a.print_output) as f:
        lines = f.readlines()
    counts = split(lines, a.start, a.end)
    total = sum(counts.values())
    if total == 0:
        sys.exit("no executor samples in the window")
    print(f"{'bucket':<14}{'samples':>9}{'share':>8}")
    for name in NAMES:
        print(f"{name:<14}{counts[name]:>9}{100.0 * counts[name] / total:>7.1f}%")
    print(f"{'total':<14}{total:>9}")
    for p, m in frame_counts(lines, a.frame, a.start, a.end).items():
        per_bucket = ", ".join(f"{name} {m[name]}" for name in NAMES if m[name])
        print(f"frame {p}: {sum(m.values())} samples" + (f" ({per_bucket})" if per_bucket else ""))


if __name__ == "__main__":
    main()
