#!/bin/bash
# Cold-cost budget generator (PLANS.md "cold budgets" discipline, automated
# for the FULL query surface): run the whole-suite cold pass N times, each in
# a FRESH JVM, and record each query's min/median/max first-execution time in
# COLD_BUDGET.json. Any driver-round cold deviation is then attributable in
# one diff: a query far above its budget max on an untouched plan is
# environment (page-cache displacement / box contention), not a regression.
# Usage: tools/cold_budget.sh [sf_dir] [n_passes] [out_json]
set -e
set -o pipefail
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
SF=${1:-/root/testdata/sf0.1}
N=${2:-3}
OUT=${3:-COLD_BUDGET.json}
# Gate on sbt's EXIT STATUS, not on grepping its output: r10's `|| true`
# let stale classes get benchmarked, and an up-to-date batch compile prints
# no "success" line at all (a grep-for-success under pipefail aborts the
# script on a perfectly good build).
COMPILE_LOG=$(mktemp)
if ! sbt -batch compile > "$COMPILE_LOG" 2>&1; then
  echo "[cold_budget] compile failed:"
  grep -E '^\[error\]' "$COMPILE_LOG" || tail -20 "$COMPILE_LOG"
  exit 1
fi
TMP=$(mktemp -d /tmp/cold_budget.XXXX)
for i in $(seq 1 "$N"); do
  echo "[cold_budget] pass $i/$N (fresh JVM, cold-only) ..."
  # Each pass runs in its own scratch cwd: Bench writes BENCH_DETAIL.json
  # (and spark-warehouse) relative to cwd, and r10's in-repo runs clobbered
  # the committed cold+warm artifact with cold-only output.
  PASSDIR="$TMP/run_$i"
  mkdir -p "$PASSDIR"
  ( cd "$PASSDIR" && \
    SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_COLD_ONLY=1 \
    java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" graft.Bench \
      > "$TMP/stdout_$i.log" 2>&1 )
  cp "$PASSDIR/BENCH_DETAIL.json" "$TMP/pass_$i.json"
done
python3 tools/merge_budget.py "$SF" "$OUT" "$TMP"/pass_*.json
# Rerun-context budgets for cache-sharing queries: the gate's breach
# attribution reruns in a fresh-JVM warmed-upstream context, which needs
# its OWN budget (the r14 q231 calibration defect — see rerun_budget.py).
python3 tools/rerun_budget.py "$SF" "$OUT" "${RERUN_SAMPLES:-2}"
echo "[cold_budget] wrote $OUT"
