#!/bin/bash
# Interleaved end-to-end A/B of the benchmark (perfbench/run.py): a
# parent ref against the working tree, one run per side per pair.
#
#   dev/perfbench_ab.sh <parent-ref> <pairs> <workload>
#   dev/perfbench_ab.sh HEAD~1 10 llm
#
# The parent is exported with `git archive` into a scratch directory
# under $TMPDIR (default /tmp), so it builds into its own .bench_build;
# the working tree keeps its own. Each pair runs
# `perfbench/run.py --workload <workload> --seed <pair> --seconds 24` in
# both checkouts, switching which side goes first every pair so drift
# hits both alike. Per end-to-end metric of BENCHMARK.json it prints
# each side's median and quartiles, the pairs the working tree won, and
# the verdict of AbMain's rule: the working tree wins >= 9 of 10 pairs
# AND its median beats the parent's by more than the parent's IQR. A
# side is `correct` only if every one of its runs was. Then, per
# operation, each side's median wall time over all its timed passes, so
# a move of `op_tail_s` (the slowest op of each pass) is attributed to
# the op that moved. The raw result lines and each run's per-pass
# report (`<side>.<pair>.raw.json`, a copy of run.py's
# `.bench_build/runs/<workload>/raw.json`) stay in the scratch
# directory (printed at the end); the script writes nothing under
# perfbench/ (run.py's own sbt build keeps its target/ there, as on any
# run).
set -euo pipefail
cd "$(dirname "$0")/.."
[ $# -eq 3 ] || { echo "usage: $0 <parent-ref> <pairs> <workload>" >&2; exit 2; }
REF=$1 PAIRS=$2 W=$3
RUN_SECONDS=24
ROOT=$(pwd)
SHA=$(git rev-parse --verify "$REF^{commit}")
# short paths: the parent's sbt build binds a unix socket below
# $BASE/.bench_build, and socket paths are capped at 108 bytes
WORK=$(mktemp -d "${TMPDIR:-/tmp}/pab.XXXXXX")
BASE=$WORK/p
mkdir -p "$BASE" "$WORK/runs"
git archive "$SHA" | tar -x -C "$BASE"
echo "[ab] parent $SHA in $BASE; results in $WORK/runs" >&2

run_side() { # <side> <pair>
  local dir=$ROOT
  [ "$1" = parent ] && dir=$BASE
  # each checkout keeps its own build state (run.py defaults to
  # <checkout>/.bench_build unless CARGO_TARGET_DIR says otherwise)
  (cd "$dir" && env -u CARGO_TARGET_DIR python3 perfbench/run.py \
      --workload "$W" --seed "$2" --seconds "$RUN_SECONDS") \
    > "$WORK/runs/$1.$2.out" 2> "$WORK/runs/$1.$2.err" || true
  tail -n 1 "$WORK/runs/$1.$2.out" > "$WORK/runs/$1.$2.json"
  cp "$dir/.bench_build/runs/$W/raw.json" "$WORK/runs/$1.$2.raw.json" 2>/dev/null || true
  echo "[ab] pair $2 $1: $(cut -c1-160 "$WORK/runs/$1.$2.json")" >&2
}

for p in $(seq 1 "$PAIRS"); do
  if [ $((p % 2)) -eq 1 ]; then order="parent head"; else order="head parent"; fi
  for side in $order; do run_side "$side" "$p"; done
done

python3 - "$WORK/runs" "$PAIRS" <<'EOF'
import json, os, sys
runs, pairs = sys.argv[1], int(sys.argv[2])
spec = {m["name"]: m for m in json.load(open("BENCHMARK.json"))["end_to_end"]}

def load(side, p):
    try:
        return json.load(open(os.path.join(runs, f"{side}.{p}.json")))
    except (OSError, ValueError):
        return None  # the run died: no result line

def qt(xs, f):  # interpolated quantile, as AbMain
    h = (len(xs) - 1) * f
    lo = int(h)
    return xs[lo] + (h - lo) * (xs[min(lo + 1, len(xs) - 1)] - xs[lo])

res = {s: [load(s, p) for p in range(1, pairs + 1)] for s in ("parent", "head")}
for s, rs in res.items():
    ok = [r is not None and r["correct"] for r in rs]
    failed = sum(r["failed"] for r in rs if r is not None)
    print(f"[ab] {s}: correct={all(ok)} ({sum(ok)}/{len(rs)} runs), failed ops={failed}")
both = [(a, b) for a, b in zip(res["parent"], res["head"]) if a and b]
print(f"[ab] {len(both)} complete pairs")
print(f"{'metric':22} {'parent med [q1, q3]':>30} {'head med [q1, q3]':>30} {'delta':>8} {'won':>6}  verdict")
for name, m in spec.items():
    pv = [a["metrics"][name]["value"] for a, _ in both]
    hv = [b["metrics"][name]["value"] for _, b in both]
    if not pv:
        continue
    sign = 1 if m["better"] == "lower" else -1
    won = sum(1 for x, y in zip(pv, hv) if sign * (x - y) > 0)
    ps, hs = sorted(pv), sorted(hv)
    pq1, pmed, pq3 = qt(ps, .25), qt(ps, .5), qt(ps, .75)
    hq1, hmed, hq3 = qt(hs, .25), qt(hs, .5), qt(hs, .75)
    win = won * 10 >= len(both) * 9 and sign * (pmed - hmed) > pq3 - pq1
    delta = (hmed - pmed) / pmed * 100 if pmed else 0.0
    print(f"{name:22} {pmed:>12.4g} [{pq1:.4g}, {pq3:.4g}]".ljust(53)
          + f" {hmed:>12.4g} [{hq1:.4g}, {hq3:.4g}]".ljust(31)
          + f" {delta:>+7.1f}% {won:>2}/{len(both):<3}  {'WIN' if win else 'no win'}")

def op_walls(side):  # op -> wall seconds of every timed pass of every run
    walls = {}
    for p in range(1, pairs + 1):
        try:
            raw = json.load(open(os.path.join(runs, f"{side}.{p}.raw.json")))
        except (OSError, ValueError):
            continue  # the run died before its report
        for ps in raw["passes"]:
            for op, s in ps["op_s"].items():
                walls.setdefault(op, []).append(s)
    return walls

walls = {s: op_walls(s) for s in ("parent", "head")}
ops = sorted(set(walls["parent"]) | set(walls["head"]),
             key=lambda op: -max(qt(sorted(walls[s].get(op, [0.0])), .5) for s in walls))
print(f"{'op (median wall s)':34} {'parent':>8} {'head':>8} {'delta':>8}")
for op in ops:
    pm, hm = (qt(sorted(walls[s][op]), .5) if op in walls[s] else float("nan") for s in ("parent", "head"))
    print(f"{op:34} {pm:>8.3f} {hm:>8.3f} {(hm - pm) / pm * 100 if pm else 0.0:>+7.1f}%")
EOF
echo "[ab] raw result lines: $WORK/runs" >&2
