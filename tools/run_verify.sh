#!/bin/bash
# Local correctness loop: compile, run graft.Verify on a scale factor, then
# hash-compare every query against its DuckDB oracle (emulates the driver).
# Usage: tools/run_verify.sh [sf_dir] [out_dir] [query_filter]
set -e
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
SF=$(realpath "${1:-/root/testdata/sf0.01}")
OUT=$(realpath -m "${2:-/tmp/graft_verify}")
# Gate on sbt's exit status (the old grep-for-success let a compile
# failure run Verify against stale classes).
COMPILE_LOG=$(mktemp)
if ! sbt -batch compile > "$COMPILE_LOG" 2>&1; then
  echo "[run_verify] compile failed:"
  grep -E '^\[error\]' "$COMPILE_LOG" || tail -20 "$COMPILE_LOG"
  exit 1
fi
rm -rf "$OUT"
# Verify runs in a fresh scratch cwd: layout queries re-register standing
# warehouse tables whose source fingerprint still matches, and the
# fingerprint does not cover the code, so a warehouse left in the checkout
# would let a later run check the tables an earlier tree wrote.
SCRATCH="$(mktemp -d /tmp/run_verify.XXXX)"
trap 'rm -rf "$SCRATCH"' EXIT
( cd "$SCRATCH" && java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" \
  graft.Verify "$SF" "$OUT" )
python3 tools/oracle_check.py "$SF" "$OUT" "$3"
