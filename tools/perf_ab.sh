#!/bin/bash
# Same-window alternating A/B of the product-path benchmark (perfbench/):
# the parent side is a `git archive` copy of <parent-ref> outside the
# repo, the change side is the working tree. Each seed runs
# `perfbench/run.py --workload <workload> --seed <seed> --seconds 6
# --trace 0` once per side, and the side that runs first alternates from
# seed to seed, so load waves on the machine hit both sides alike.
#
# Usage:
#   tools/perf_ab.sh <parent-ref> <workload> <seed>...
#
# Prints, for each end-to-end metric in BENCHMARK.json, each side's
# median [q1, q3] over the seeds, the change in the median, and the
# number of pairs the change won. Exits 1 if any run is incorrect, has
# a failed operation or gives no result. Each run's output stays under
# $PERF_AB_OUT (default: a new directory under /tmp); the parent copy
# is deleted on exit.
set -euo pipefail
[ $# -ge 3 ] || { echo "usage: $0 <parent-ref> <workload> <seed>..." >&2; exit 2; }
cd "$(dirname "$0")/.."
REPO=$PWD
REF=$1; WORKLOAD=$2; shift 2
OUT=${PERF_AB_OUT:-$(mktemp -d /tmp/perf_ab.XXXXXX)}
PARENT=$OUT/parent
rm -rf "$PARENT"; mkdir -p "$PARENT"
trap 'rm -rf "$PARENT"' EXIT
git archive "$REF" | tar -x -C "$PARENT"
run_side() { # side seed
  local side=$1 seed=$2 dir=$REPO
  [ "$side" = parent ] && dir=$PARENT
  echo "[perf_ab] seed $seed: $side ..." >&2
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
      --seconds 6 --trace 0) >"$OUT/${side}_$seed.out" 2>"$OUT/${side}_$seed.log" ||
    echo "[perf_ab] seed $seed: $side exited $?" >&2
}
i=0
for seed in "$@"; do
  if (( i % 2 == 0 )); then order="parent change"; else order="change parent"; fi
  for side in $order; do run_side "$side" "$seed"; done
  i=$((i + 1))
done
python3 - "$OUT" BENCHMARK.json "$@" <<'EOF'
import json, statistics, sys
out, spec, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
metrics = json.load(open(spec))["end_to_end"]
bad, res = [], {}
for side in ("parent", "change"):
    for s in seeds:
        try:
            with open(f"{out}/{side}_{s}.out") as f:
                r = json.loads(f.read().strip().splitlines()[-1])
        except (OSError, ValueError, IndexError):
            r = None
        if not r or not r["correct"] or r["failed"]:
            bad.append(f"{side} seed {s}: " + ("no result" if not r else
                       f"correct={r['correct']} failed={r['failed']}"))
        else:
            res[side, s] = {k: v["value"] for k, v in r["metrics"].items()}
def fmt(x):
    return f"{x:.4g}" if abs(x) < 1e4 else f"{x:.0f}"
def summary(xs):
    if len(xs) < 2:
        return f"{fmt(xs[0])} [-, -]" if xs else "n/a"
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"{fmt(med)} [{fmt(q1)}, {fmt(q3)}]"
pairs = [s for s in seeds if ("parent", s) in res and ("change", s) in res]
print(f"{len(pairs)} pairs, seeds {' '.join(pairs)}; median [q1, q3] per side")
print(f"{'metric':18s} {'parent':>28s} {'change':>28s} {'delta':>8s}  change won")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    a = [res["parent", s][name] for s in pairs]
    b = [res["change", s][name] for s in pairs]
    won = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    delta = (f"{statistics.median(b) / statistics.median(a) - 1:+8.1%}"
             if pairs and statistics.median(a) else f"{'n/a':>8s}")
    print(f"{name:18s} {summary(a):>28s} {summary(b):>28s} {delta}  {won}/{len(pairs)}")
for b in bad:
    print("BAD", b)
sys.exit(1 if bad else 0)
EOF
