#!/bin/bash
# Interleaved A/B of one perfbench workload: a parent commit against the
# working tree, one pair of runs per seed, the order alternating per seed
# (parent first on the 1st, 3rd, ... seed; the change first on the others).
#
#   tools/ab_pairs.sh <parent-sha> <workload> <seed>...
#   e.g. tools/ab_pairs.sh HEAD~1 stream_read $(seq 101 110)
#
# The parent is extracted with `git archive` into a temporary directory,
# removed on exit. Each side builds from its own sources and runs through
# its own perfbench/run.py with `--seconds 9 --trace 0` (`--trace 1`
# under AB_TRACE=1, below); nothing under
# perfbench/ or BENCHMARK.json is touched. Prints one line per pair and,
# for task_cpu_s, shuffle_bytes and setup_s, both sides' medians and
# quartiles, the parent's interquartile range, and in how many pairs the
# change is lower and tied; flags any run that was not correct or had a
# failed operation. A gain holds when the change is lower in at least
# nine tenths of the pairs (ties count for neither side) and the medians
# differ by more than the parent's IQR. AB_KEEP=<dir> keeps every run's
# output there.
#
# AB_TRACE=1 runs `--trace 1` pairs instead and reports, the same way,
# the per-layer metrics named in AB_LAYERS (space-separated; default
# below), to show in which layer a change in the end-to-end figures
# appears:
#
#   AB_TRACE=1 tools/ab_pairs.sh HEAD stream_read 1 2
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-sha> <workload> <seed>..." >&2
  exit 2
fi
parent=$1 workload=$2
shift 2
repo=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/parent"
git -C "$repo" archive "$parent" | tar -x -C "$tmp/parent"
out=${AB_KEEP:-$tmp/out}
mkdir -p "$out"
trace=${AB_TRACE:-0}
export AB_TRACE=$trace
export AB_LAYERS=${AB_LAYERS:-table.scan_shuffle_bytes table.scan_task_ms table.read_task_ms spark.jobs spark.tasks}

run() { # <tree> <side> <seed>
  echo "$(date +%H:%M:%S) $2 seed $3" >&2
  (cd "$1" && python3 perfbench/run.py --workload "$workload" --seed "$3" --seconds 9 --trace "$trace") \
    > "$out/$2-$3.txt" 2>&1 || echo "$2 seed $3 exited non-zero (see $out/$2-$3.txt)" >&2
}

i=0
for s in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run "$tmp/parent" parent "$s"; run "$repo" change "$s"
  else
    run "$repo" change "$s"; run "$tmp/parent" parent "$s"
  fi
  i=$((i + 1))
done

python3 - "$out" "$@" <<'EOF'
import json, os, statistics, sys

out, seeds = sys.argv[1], sys.argv[2:]
# a traced run's JSON holds its per-layer metrics, an untraced one's the end-to-end ones
keys = os.environ["AB_LAYERS"].split() if os.environ["AB_TRACE"] == "1" else ["task_cpu_s", "shuffle_bytes", "setup_s"]

def result(side, seed):
    try:
        lines = open(f"{out}/{side}-{seed}.txt").read().splitlines()
        return json.loads(next(l for l in reversed(lines) if l.startswith("{")))
    except (OSError, StopIteration, ValueError):
        return None

pairs = []
print("seed  " + "  ".join(f"{k:>27}" for k in keys) + "  ok")
for s in seeds:
    p, c = result("parent", s), result("change", s)
    if p is None or c is None:
        print(f"{s:<5} missing result ({'parent' if p is None else 'change'})")
        continue
    pv = {k: p["metrics"][k]["value"] for k in keys}
    cv = {k: c["metrics"][k]["value"] for k in keys}
    ok = all(r["correct"] and r["failed"] == 0 for r in (p, c))
    pairs.append((pv, cv))
    print(f"{s:<5} " + "  ".join(f"{pv[k]:>12.6g} -> {cv[k]:<12.6g}" for k in keys) + f"  {'yes' if ok else 'NO'}")
def quartiles(xs):
    # (q1, median, q3); one run has no spread
    return tuple(statistics.quantiles(xs, n=4, method="inclusive")) if len(xs) > 1 else (xs[0],) * 3

if pairs:
    n = len(pairs)
    print(f"{n} pairs, parent -> change: median [q1, q3]; parent IQR; change lower in k, tied t, of n:")
    for k in keys:
        pq = quartiles([p[k] for p, _ in pairs])
        cq = quartiles([c[k] for _, c in pairs])
        lower = sum(c[k] < p[k] for p, c in pairs)
        tied = sum(c[k] == p[k] for p, c in pairs)
        pct = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else 0.0
        print(f"  {k}: {pq[1]:.6g} [{pq[0]:.6g}, {pq[2]:.6g}] -> {cq[1]:.6g} [{cq[0]:.6g}, {cq[2]:.6g}]"
              f" ({pct:+.1f}%); parent IQR {pq[2] - pq[0]:.6g}, |median diff| {abs(cq[1] - pq[1]):.6g};"
              f" lower in {lower}, tied {tied}, of {n}")
EOF
