#!/bin/bash
# Rebuild the two composed sf1-density gate datasets in /tmp.
#
# /tmp does not survive a VM restart, so any session that wants to run
# the composed-density sweeps (tools/check_oracle.py /tmp/sf1_composed
# ...) must first rebuild them. The chain is deterministic: a scale-10
# facts-only bootstrap of the driver's sf0.1 testdata, then the five
# injection axes with their original seeds (nulls 5 → skew 7 →
# strings 11 → floats 13 → times 17). Seed 1 bootstrap = 20260814,
# seed 2 = 99260816 (COVERAGE.md rounds 6-9). Sanity anchors after a
# rebuild: seed 2's hot o_custkey is 2338 with ~450k orders; seed 1's
# is 11452. ~8 min, ~2 GB in /tmp.
#
# Also rebuilds the two sf1 scale rungs that BENCH_SF1.json and
# BENCH_SF1_REPLICA.json were measured on: /tmp/sf1_bench (scale-10
# bootstrap, seed 99) and /tmp/sf1_replica (multiplicity-preserving
# --replicate=10). Today they feed the oracle gate
# (tools/check_oracle.py /tmp/sf1_bench); perfbench scales its own
# seeded inputs with --scale.
set -euo pipefail
cd "$(dirname "$0")/.."
SRC=/root/testdata/sf0.1

build_composed() { # $1 = bootstrap seed, $2 = destination
  local work
  work=$(mktemp -d /tmp/composed_build_XXXX)
  python tools/resample_testdata.py --scale=10 "$SRC" "$work/boot" "$1"
  python tools/resample_testdata.py --nulls   "$work/boot" "$work/n"   5
  python tools/resample_testdata.py --skew    "$work/n"    "$work/ns"  7
  python tools/resample_testdata.py --strings "$work/ns"   "$work/nss" 11
  python tools/resample_testdata.py --floats  "$work/nss"  "$work/nsf" 13
  python tools/resample_testdata.py --times   "$work/nsf"  "$2"        17
  rm -rf "$work"
}

build_composed 20260814 /tmp/sf1_composed
build_composed 99260816 /tmp/sf1_composed_s2
python tools/resample_testdata.py --scale=10 "$SRC" /tmp/sf1_bench 99
python tools/resample_testdata.py --replicate=10 "$SRC" /tmp/sf1_replica
echo "composed seeds + scale rungs rebuilt"
