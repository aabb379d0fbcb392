#!/bin/bash
# Interleaved same-host A/B: run the named query subset through a
# baseline checkout ($AB_BASE) and this checkout, alternating
# B A B A ..., one full Bench subset run per leg (min-of-3 inside each
# leg). Usage:
#   AB_BASE=<baseline checkout> [AB_OUT=<dir>] tools/ab.sh <rounds> <out_prefix> q1,q2,...
# Emits $AB_OUT/<out_prefix>_{base,new}_<i>.json (AB_OUT defaults to
# /tmp); summarize with tools/ab_report.py <out_prefix> [$AB_OUT]. Bench's
# own settings (SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR, ...) pass through;
# the quiet-host wait defaults to 120 s per leg.
set -e
ROUNDS=${1:?rounds}
PREFIX=${2:?prefix}
QUERIES=${3:?queries}
BASE=${AB_BASE:?set AB_BASE to the baseline checkout}
NEW=$(cd "$(dirname "$0")/.." && pwd)
OUT=$(mkdir -p "${AB_OUT:-/tmp}" && cd "${AB_OUT:-/tmp}" && pwd)
for i in $(seq 1 "$ROUNDS"); do
  for side in base new; do
    dir=$NEW; [ "$side" = base ] && dir=$BASE
    (cd "$dir" && SPARK_GRAFT_ONLY="$QUERIES" \
      SPARK_GRAFT_QUIET_WAIT="${SPARK_GRAFT_QUIET_WAIT:-120}" \
      SPARK_GRAFT_BENCH_OUT="${OUT}/${PREFIX}_${side}_${i}.json" \
      sbt -batch "runMain graft.Bench" >/dev/null 2>&1)
    echo "done ${side} ${i}"
  done
done
