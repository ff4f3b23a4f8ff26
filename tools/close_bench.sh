#!/bin/bash
# Round-close bench, MECHANICALLY (round-17 verdict item: the round-15
# close shipped a co-tenant-contaminated raw map because splicing and
# committing were manual steps). Runs the full Bench N times (default
# 3) at sf0.1, splices per-query minima via tools/splice_bench.py,
# writes BENCH.json, and COMMITS it — so whatever the driver's
# post-close run leaves in the working tree, HEAD carries the spliced
# close. Any later uncommitted BENCH.json in the tree is driver debris:
# `git checkout -- BENCH.json`.
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:-3}
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
ADD_OPENS=$(sed 's|.*|--add-opens &=ALL-UNNAMED|' tools/add-opens.txt)
OUTDIR=$(mktemp -d /tmp/benchclose.XXXX)
for i in $(seq 1 "$N"); do
  echo "[close] bench run $i/$N ..." >&2
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_REPEATS=2 \
  SPARK_GRAFT_BENCH_OUT="$OUTDIR/run_$i.json" \
  java $ADD_OPENS -Xmx48g -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.Bench >/dev/null 2>"$OUTDIR/run_$i.log"
done
python3 tools/splice_bench.py "$OUTDIR"/run_*.json > BENCH.json
echo "[close] spliced $(python3 -c "import json;d=json.load(open('BENCH.json'));print(f\"{d['value']:.1f}s / {len(d['queries'])} queries over {d['spliced_runs']} runs {d['run_totals']}\")")" >&2
git add BENCH.json
git commit -m "Round close: spliced quiet-window bench ($(python3 -c "import json;d=json.load(open('BENCH.json'));print(len(d['queries']))") queries)"
