#!/usr/bin/env bash
# One-command tri-scale parity: runs graft.Verify at sf0.001/0.01/0.1 in a
# single sbt JVM (three runMain commands), then mirrors the driver's DuckDB
# compare with tools/check_parity.py per scale. Exits non-zero if any scale
# has any failing query, so this can gate a round snapshot:
#
#   tools/parity_all.sh [outRoot] [names]
#
# outRoot defaults to /tmp/graft_parity. names is an optional
# comma-separated query filter (e.g. q45_streaming_sessionize): Verify
# runs and the compare checks only those queries.
#
set -uo pipefail
cd "$(dirname "$0")/.."
OUT_ROOT="${1:-/tmp/graft_parity}"
ONLY="${2:-}"
SFS=(0.001 0.01 0.1)

CMDS=()
for sf in "${SFS[@]}"; do
  rm -rf "$OUT_ROOT/sf$sf"
  CMDS+=("runMain graft.Verify /root/testdata/sf$sf $OUT_ROOT/sf$sf${ONLY:+ $ONLY}")
done
sbt -batch "${CMDS[@]}" || { echo "== Verify failed"; exit 1; }

rc=0
for sf in "${SFS[@]}"; do
  echo "== parity sf$sf"
  python3 tools/check_parity.py "/root/testdata/sf$sf" "$OUT_ROOT/sf$sf" \
    ${ONLY:+"$ONLY"} | grep -E '^(FAIL|==)' || rc=1
done
exit $rc
