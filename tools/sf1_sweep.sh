#!/usr/bin/env bash
# One-command sf1 scale sweep (round-10 verdict item 7): regenerate the
# deterministic 10x testdata if absent, run the full Verify surface at
# sf1 twice (local[8] vs local[16]) plus a SQL-reference leg, compare all
# three for bit-parity, then bench at sf1. Surfaces scale regressions
# every round instead of only when someone remembers the recipe.
#
# Usage:   tools/sf1_sweep.sh            # full sweep, ~15-20 min
#          SF1_SKIP_BENCH=1 tools/sf1_sweep.sh   # parity legs only
# Results: record the outcome in TESTDATA.md's sf1 section.
set -euo pipefail
cd "$(dirname "$0")/.."

SF1=.scratch/sf1
if [ ! -d "$SF1" ]; then
  echo "== generating $SF1 (deterministic 10x of sf0.1) =="
  sbt -batch "runMain graft.ScaleGen /root/testdata/sf0.1 $SF1 10"
fi

echo "== Verify leg A: local[8] =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF1 /tmp/sf1_a"
echo "== Verify leg B: local[16] (layout determinism) =="
SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify $SF1 /tmp/sf1_b"
echo "== Verify leg C: local[8], SQL reference formulations where a kernel has one =="
SPARK_GRAFT_CPUS=8 GRAFT_CONF="spark.graft.kernels.enabled=false" \
  sbt -batch "runMain graft.Verify $SF1 /tmp/sf1_c"

# IVF is set-stable but not bit-stable under kernel-off (Lloyd merge
# order differs by design) — same overlap carve-out as round 10
echo "== cross-layout parity A vs B =="
python3 tools/verify_compare.py /tmp/sf1_a /tmp/sf1_b
echo "== kernel vs SQL reference parity A vs C =="
python3 tools/verify_compare.py /tmp/sf1_a /tmp/sf1_c --overlap llm_ann_ivf

if [ "${SF1_SKIP_BENCH:-0}" != "1" ]; then
  echo "== bench at sf1 (settled host recommended) =="
  SPARK_GRAFT_SF_DIR=$SF1 SPARK_GRAFT_BENCH_OUT=/tmp/sf1_bench.json \
    SPARK_GRAFT_BENCH_FULL_OUT=/tmp/sf1_bench_full.json \
    sbt -batch "runMain graft.Bench" | tail -1
  echo "sf1 bench record: /tmp/sf1_bench_full.json (do NOT commit as BENCH_FULL.json)"
fi
echo "== sf1 sweep complete =="
