#!/bin/bash
# Same-window alternating A/B bench (the round-16/17 protocol): runs
# graft.Bench on a QUERY subset, alternating configuration A and B
# N times each (A B A B ...), so co-tenant noise waves hit both sides
# equally; per-query result is the MIN across a side's runs.
#
# Usage:
#   tools/ab.sh "<queries,csv>" <N> <label> \
#       <classpath_A> "<extra_java_flags_A>" \
#       <classpath_B> "<extra_java_flags_B>"
#
# Results land under /tmp/ab_<label>/ and a summary table prints at
# the end.
set -euo pipefail
cd "$(dirname "$0")/.."
QUERIES=$1; N=$2; LABEL=$3
CP_A=$4; FLAGS_A=$5; CP_B=$6; FLAGS_B=$7
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-32}
REPEATS=${SPARK_GRAFT_BENCH_REPEATS:-2}
ADD_OPENS=$(sed 's|.*|--add-opens &=ALL-UNNAMED|' tools/add-opens.txt)
OUT=/tmp/ab_$LABEL
rm -rf "$OUT"; mkdir -p "$OUT"
run_one() { # side cp flags out
  local side=$1 cp=$2 flags=$3 out=$4
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_REPEATS="$REPEATS" SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
  SPARK_GRAFT_BENCH_OUT="$out" \
  java $ADD_OPENS -Xmx48g $flags -cp "$cp:/opt/spark/jars/*" \
    graft.Bench >/dev/null 2>"$out.log"
}
for i in $(seq 1 "$N"); do
  echo "[ab] round $i/$N: A ..." >&2
  run_one A "$CP_A" "$FLAGS_A" "$OUT/a_$i.json"
  echo "[ab] round $i/$N: B ..." >&2
  run_one B "$CP_B" "$FLAGS_B" "$OUT/b_$i.json"
done
python3 - "$OUT" <<'EOF'
import json, sys, glob
out = sys.argv[1]
def mins(pat):
    m = {}
    for f in sorted(glob.glob(pat)):
        q = json.load(open(f))["queries"]
        for k, v in q.items():
            m[k] = min(m.get(k, 1e18), v)
    return m
a, b = mins(f"{out}/a_*.json"), mins(f"{out}/b_*.json")
print(f"{'query':34s} {'A(min)':>8s} {'B(min)':>8s} {'B/A':>6s}")
ta = tb = 0.0
for k in sorted(set(a) | set(b)):
    va, vb = a.get(k), b.get(k)
    ta += va or 0; tb += vb or 0
    r = f"{vb/va:6.2f}" if va and vb else "   n/a"
    print(f"{k:34s} {va or float('nan'):8.3f} {vb or float('nan'):8.3f} {r}")
print(f"{'TOTAL':34s} {ta:8.3f} {tb:8.3f} {tb/ta if ta else 0:6.2f}")
EOF
