#!/usr/bin/env bash
# Alternating A/B pairs of the repository benchmark: a parent revision
# against the working tree, one pair per seed.
#
#   tools/ab_pairs.sh <parent-rev> <workload> <seed>...
#
# Both sides run from fresh temporary `git clone --shared` checkouts, so
# neither inherits this checkout's ignored state (`.bench_build/`,
# `spark-warehouse/`) or its warm page cache: the parent is checked out
# at <parent-rev>, the change at a commit of the working tree. That
# commit is written through a temporary index (GIT_INDEX_FILE), so it
# holds tracked edits and untracked files that are not ignored, and
# neither the index nor any ref of this checkout moves. Each pair is two
# untraced `perfbench/run.py` runs (--trace 0, --seconds from
# BENCHMARK.json's run_seconds) on the same seed: the change first on
# odd seeds, the parent first on even ones, so a drift in host load
# does not always favour the same side. Each run prints one line with
# its `correct`, `failed`, end-to-end metrics and `host_steal_share`.
# The summary gives, per declared end-to-end metric, both sides'
# median and quartiles, the median gap, whether it exceeds the
# parent's IQR, and in how many pairs the change won (by the metric's
# `better` field in BENCHMARK.json; a tie is not a win). Under each
# metric a second line gives both sides' median and quartiles over only
# the runs whose host_steal_share is below 5%, with how many runs that
# is; it is printed in addition to the full figures. The clones are
# removed at exit. Nothing under perfbench/ or BENCHMARK.json is
# written.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
rev=$1 workload=$2
shift 2
root=$(git rev-parse --show-toplevel)
cd "$root"
sha=$(git rev-parse --verify --quiet "$rev^{commit}") ||
  { echo "unknown revision: $rev" >&2; exit 2; }
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

tmp=$(mktemp -d "${TMPDIR:-/tmp}/ab_pairs.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
# the working tree as a commit, written through a temporary index
cp "$(git rev-parse --git-path index)" "$tmp/index"
work=$(export GIT_INDEX_FILE="$tmp/index" && git add -A &&
  git -c user.name=ab_pairs -c user.email=ab_pairs@localhost \
    commit-tree "$(git write-tree)" -p HEAD -m "ab_pairs working tree")
for side in parent change; do
  git clone --quiet --shared --no-checkout "$root" "$tmp/$side"
done
git -C "$tmp/parent" checkout --quiet --detach "$sha"
git -C "$tmp/change" checkout --quiet --detach "$work"
results="$tmp/results.jsonl"
: > "$results"

# run <side> <dir> <seed>: one untraced run, one JSON line appended
run() {
  local side=$1 dir=$2 seed=$3 out
  out=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
    --seed "$seed" --seconds "$seconds" --trace 0 2>"$tmp/stderr") || {
    echo "$side seed $seed: run failed: $(tail -n 3 "$tmp/stderr")" >&2
    return 0
  }
  printf '%s\n' "$out" | tail -n 2 | python3 -c '
import json, sys
side, seed = sys.argv[1], int(sys.argv[2])
env, res = [json.loads(l) for l in sys.stdin.read().splitlines()[-2:]]
row = {"side": side, "seed": seed, "correct": res["correct"],
       "failed": res["failed"],
       "metrics": {k: v["value"] for k, v in res["metrics"].items()},
       "host_steal_share": env["env"].get("host_steal_share")}
print(json.dumps(row))' "$side" "$seed" | tee -a "$results"
}

echo "parent $sha vs working tree $work; workload $workload, --seconds $seconds"
for seed in "$@"; do
  if [ $((seed % 2)) -eq 1 ]; then
    run change "$tmp/change" "$seed"
    run parent "$tmp/parent" "$seed"
  else
    run parent "$tmp/parent" "$seed"
    run change "$tmp/change" "$seed"
  fi
done

python3 - "$results" <<'EOF'
import json, statistics, sys

rows = [json.loads(l) for l in open(sys.argv[1])]
declared = json.load(open("BENCHMARK.json"))["end_to_end"]
by = {(r["side"], r["seed"]): r for r in rows}
seeds = sorted({r["seed"] for r in rows})
pairs = [s for s in seeds if ("parent", s) in by and ("change", s) in by]
bad = [r for r in rows if not r["correct"] or r["failed"]]
print("== %d pairs; %d run(s) not correct or with failures" % (len(pairs), len(bad)))

STEAL_CAP = 0.05

def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

for m in declared:
    name, higher = m["name"], m["better"] == "higher"
    p = [by[("parent", s)]["metrics"][name] for s in pairs]
    c = [by[("change", s)]["metrics"][name] for s in pairs]
    if not pairs:
        continue
    pq1, pmed, pq3 = quart(p)
    cq1, cmed, cq3 = quart(c)
    wins = sum((b > a) if higher else (b < a) for a, b in zip(p, c))
    gap = cmed - pmed
    print("%-18s parent %.4g (%.4g-%.4g)  change %.4g (%.4g-%.4g)  "
          "gap %+.4g (%+.1f%%), %s parent IQR %.4g; change wins %d/%d (%s is better)"
          % (name, pmed, pq1, pq3, cmed, cq1, cq3, gap,
             100.0 * gap / pmed if pmed else 0.0,
             ">" if abs(gap) > pq3 - pq1 else "<=", pq3 - pq1,
             wins, len(pairs), m["better"]))
    # the same figures over the runs on a quiet host only, printed next
    # to the full ones (wins above stay counted over all pairs)
    parts = []
    for side in ("parent", "change"):
        xs = [by[(side, s)]["metrics"][name] for s in pairs
              if (by[(side, s)]["host_steal_share"] is not None
                  and by[(side, s)]["host_steal_share"] < STEAL_CAP)]
        if xs:
            q1, med, q3 = quart(xs)
            parts.append("%s %.4g (%.4g-%.4g) over %d run(s)"
                         % (side, med, q1, q3, len(xs)))
        else:
            parts.append("%s: no run" % side)
    print("%-18s steal<%g%%: %s" % ("", 100 * STEAL_CAP, "  ".join(parts)))
EOF
