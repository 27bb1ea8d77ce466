#!/bin/bash
# Local correctness loop: compile, run graft.Verify on a scale factor, then
# hash-compare every query against its DuckDB oracle (emulates the driver).
# Usage: tools/run_verify.sh [--base <tree>] [sf_dir] [out_dir] [query_filter]
#   --base <tree>  also compile and run graft.Verify in another checkout
#                  (e.g. a `git clone` of the parent commit) into
#                  <out_dir>.base, then diff every output of the two trees
#                  row for row (`identical N/M` plus the names that differ).
set -e
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
BASE=""
if [ "$1" = "--base" ]; then
  BASE=$(realpath "$2")
  shift 2
fi
cd "$ROOT"
SF=$(realpath "${1:-/root/testdata/sf0.01}")
OUT=$(realpath -m "${2:-/tmp/graft_verify}")
SCRATCHES=()
trap 'rm -rf "${SCRATCHES[@]}"' EXIT

# verify_tree <checkout> <out_dir>: compile the checkout, run its Verify.
verify_tree() {
  local tree="$1" out="$2"
  # Gate on sbt's exit status (the old grep-for-success let a compile
  # failure run Verify against stale classes).
  local log
  log=$(mktemp)
  SCRATCHES+=("$log")
  if ! (cd "$tree" && sbt -batch compile) > "$log" 2>&1; then
    echo "[run_verify] compile failed in $tree:"
    grep -E '^\[error\]' "$log" || tail -20 "$log"
    exit 1
  fi
  rm -rf "$out"
  # Verify runs in a fresh scratch cwd: layout queries re-register standing
  # warehouse tables whose source fingerprint still matches, and the
  # fingerprint does not cover the code, so a warehouse left in the
  # checkout would let a later run check the tables an earlier tree wrote.
  local scratch
  scratch="$(mktemp -d /tmp/run_verify.XXXX)"
  SCRATCHES+=("$scratch")
  ( cd "$scratch" && java $ADD_OPENS -Xmx8g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "/opt/spark/jars/*:$tree/target/scala-2.13/classes" \
    graft.Verify "$SF" "$out" )
}

verify_tree "$ROOT" "$OUT"
if [ -n "$BASE" ]; then
  verify_tree "$BASE" "$OUT.base"
  python3 tools/oracle_check.py --base "$OUT.base" "$SF" "$OUT" "$3"
else
  python3 tools/oracle_check.py "$SF" "$OUT" "$3"
fi
