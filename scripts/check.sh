#!/bin/bash
# Run Verify at sf0.01 then the DuckDB oracle compare (driver t2 mimic).
# Usage: scripts/check.sh [sfDir] [outDir] [q1,q2,...]
# The optional query list restricts both steps to those queries.
set -e -o pipefail
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
ONLY=${3:-}
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT${ONLY:+ $ONLY}" 2>&1 | grep -Ev '^\[info\]' | tail -20
python3 scripts/check.py "$SF" "$OUT" ${ONLY:+"$ONLY"}
