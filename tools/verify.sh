#!/bin/bash
# Dev loop: compile, run graft.Verify with plain java (no sbt JVM tax),
# then diff against the DuckDB oracle via tools/selfcheck.py.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
shift 2 2>/dev/null || shift $# 2>/dev/null || true
sbt -batch compile 2>&1 | grep -E '^\[error\]|success' | tail -3
rm -rf "$OUT"
ADD_OPENS=$(sed 's|.*|--add-opens &=ALL-UNNAMED|' tools/add-opens.txt)
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" "$@" 2>&1 | grep -vE '^[0-9/]+ [0-9:]+ (WARN|INFO)' | head -20
# an unknown gate name fails graft.Verify before any gate runs
[ "${PIPESTATUS[0]}" = 0 ] || { echo "graft.Verify failed" >&2; exit 1; }
python3 tools/selfcheck.py "$OUT" "$SF" "$@"
