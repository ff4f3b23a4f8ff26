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
mkdir -p "$OUT"
LOG="$OUT/verify.log" # graft.Verify's full output; selfcheck.py reads only gate dirs
ADD_OPENS=$(sed 's|.*|--add-opens &=ALL-UNNAMED|' tools/add-opens.txt)
status=0
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" "$@" >"$LOG" 2>&1 || status=$?
# every failed gate and error line, wherever it sits in the log, then
# the log's tail without WARN/INFO records and the stack traces they carry
grep -E '^\[verify\]|^[0-9/]+ [0-9:]+ ERROR|^Exception in thread' "$LOG" || true
awk '/^[0-9\/]+ [0-9:]+ [A-Z]+ / { skip = ($3 == "WARN" || $3 == "INFO") }
     /^\[verify\]|^Exception in thread/ { skip = 0 } !skip' "$LOG" | tail -5
echo "graft.Verify log: $LOG"
# an unknown gate name fails graft.Verify before any gate runs
[ "$status" = 0 ] || { echo "graft.Verify failed (exit $status)" >&2; exit 1; }
python3 tools/selfcheck.py "$OUT" "$SF" "$@"
