#!/bin/bash
# One-shot budget-drift gate: run a single whole-suite cold pass (fresh JVM,
# scratch cwd — never clobbers the committed BENCH_DETAIL.json) and fail if
# any query's cold time exceeds its committed budget max x2 (COLD_BUDGET.json).
# Quiet box only — the tolerance absorbs environment variance, not contention.
# Usage: tools/budget_gate.sh [sf_dir] [tolerance]
set -e
set -o pipefail
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
SF=${1:-/root/testdata/sf0.1}
TOL=${2:-2.0}
COMPILE_LOG=$(mktemp)
if ! sbt -batch compile > "$COMPILE_LOG" 2>&1; then
  echo "[budget_gate] compile failed:"
  grep -E '^\[error\]' "$COMPILE_LOG" || tail -20 "$COMPILE_LOG"
  exit 1
fi
TMP=$(mktemp -d /tmp/budget_gate.XXXX)
echo "[budget_gate] cold pass (fresh JVM, scratch cwd $TMP) ..."
( cd "$TMP" && \
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_COLD_ONLY=1 \
  java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC \
    -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" graft.Bench \
    > "$TMP/stdout.log" 2>&1 )
BUDGET_GATE_SF="$SF" python3 tools/budget_gate.py "$TMP/BENCH_DETAIL.json" COLD_BUDGET.json "$TOL"
