#!/usr/bin/env bash
# Net line delta of src/main against a base revision, split into code
# and comment/scaladoc lines.
#
#   tools/src_delta.sh <base-rev>
#
# Compares <base-rev> with the working tree (new files count once they
# are tracked or staged). Totals come from `git diff --numstat`; a
# changed line counts as comment when, trimmed, it starts with `//`,
# `/*`, `*` or `*/` — everything else, blank lines included, is code.
set -euo pipefail

if [ $# -ne 1 ]; then
  echo "usage: $0 <base-rev>" >&2
  exit 2
fi
base=$1
cd "$(git rev-parse --show-toplevel)"
git rev-parse --verify --quiet "$base^{commit}" >/dev/null ||
  { echo "unknown revision: $base" >&2; exit 2; }

read -r added removed < <(git diff --numstat "$base" -- src/main |
  awk '{a += $1; r += $2} END {print a + 0, r + 0}')

git diff -U0 --no-color "$base" -- src/main | awk -v base="$base" \
  -v added="$added" -v removed="$removed" '
  /^(\+\+\+ (b\/|\/dev\/null)|--- (a\/|\/dev\/null))/ { next }
  /^[+-]/ {
    sign = substr($0, 1, 1)
    line = substr($0, 2)
    sub(/^[ \t]+/, "", line)
    kind = (line ~ /^(\/\/|\/\*|\*)/) ? "comment" : "code"
    n[sign kind]++
  }
  END {
    ac = n["+code"] + 0; am = n["+comment"] + 0
    rc = n["-code"] + 0; rm = n["-comment"] + 0
    if (ac + am != added || rc + rm != removed) {
      printf "classification mismatch: diff +%d/-%d vs numstat +%d/-%d\n",
        ac + am, rc + rm, added, removed > "/dev/stderr"
      exit 1
    }
    printf "src/main vs %s\n", base
    printf "  added   %6d  (code %d, comment %d)\n", added, ac, am
    printf "  removed %6d  (code %d, comment %d)\n", removed, rc, rm
    printf "  net     %+6d  (code %+d, comment %+d)\n",
      added - removed, ac - rc, am - rm
  }'
