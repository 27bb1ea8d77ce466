#!/bin/bash
# Scaling-decade sweep: fresh-JVM bench of the named queries at each scale
# fixture, heap + shuffle width sized per decade (the 100 TB sizing rule:
# per-task build/state must not grow with the corpus).
#
# Quiet-window protocol (the r14 q220 lesson, codified): a SINGLE cell
# reading misled a decade ratio by 1.5x until 8 quiet-window samples across
# 3 JVMs corrected it — so every (query, decade) cell now runs SAMPLES
# independent fresh-JVM invocations of N runs each and emits an explicit
# SUMMARY line with sample count, cold min/median (over the per-JVM run1s)
# and warm min/median (over all runs >= 2 across JVMs). Cite THESE numbers
# in PLANS decade tables, never a lone run line.
#
# A failed sample prints an explicit "FAILED" marker for its (query, sf,
# sample) cell — a crash or OOM must be distinguishable from a row that was
# never run (the old `| grep || true` swallowed crashes despite set -e).
# A cell whose samples ALL failed gets a FAILED summary line.
#
# Usage: tools/decade_sweep.sh [n_runs_per_jvm]
# Env:  QUERIES="q36_... q151_..." to override the default list
#       DECADES="sf1x sf10x sf100x" to override the fixture list
#       SAMPLES=3 fresh-JVM samples per cell (>= 3 for citable numbers)
set -e
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
N=${1:-3}
SAMPLES=${SAMPLES:-3}
run() { # sf_dir xmx shuffle_partitions query
  echo "== $4 @ $1 (xmx=$2 shufP=$3, $SAMPLES samples x $N runs) =="
  local log rc s colds="" warms=""
  for s in $(seq 1 "$SAMPLES"); do
    log=$(mktemp)
    rc=0
    SPARK_GRAFT_SHUFFLE_PARTITIONS=$3 java $ADD_OPENS -Xmx$2 \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" \
      graft.BenchOne "$4" "$1" "$N" >"$log" 2>&1 || rc=$?
    if [ "$rc" -ne 0 ]; then
      echo "  FAILED: exit $rc for $4 @ $1 (sample $s)"
      grep -E "Exception|Error|OutOfMemory" "$log" | head -3 | sed 's/^/  /'
    elif ! grep -qE "run[0-9]+:" "$log"; then
      echo "  FAILED: no timing lines for $4 @ $1 (sample $s; silent crash?)"
      tail -3 "$log" | sed 's/^/  /'
    else
      grep -E "run[0-9]+:" "$log" | sed "s/^/  sample $s: /"
      colds="$colds $(sed -nE 's/.* run1: ([0-9.]+)s.*/\1/p' "$log")"
      warms="$warms $(sed -nE 's/.* run([2-9]|[1-9][0-9]+): ([0-9.]+)s.*/\2/p' \
        "$log" | tr '\n' ' ')"
    fi
    rm -f "$log"
  done
  python3 - "$4" "$1" "$colds" "$warms" <<'PY'
import statistics, sys
q, sf, colds, warms = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
c = sorted(float(x) for x in colds.split())
w = sorted(float(x) for x in warms.split())
if not c:
    print(f"  SUMMARY {q} @ {sf}: FAILED (0 successful samples)")
else:
    wtxt = (f"warm[n={len(w)}] min {w[0]:.2f}s median "
            f"{statistics.median(w):.2f}s") if w else "warm: none (N=1)"
    print(f"  SUMMARY {q} @ {sf}: cold[n={len(c)}] min {c[0]:.2f}s "
          f"median {statistics.median(c):.2f}s | {wtxt}")
PY
}
# Default: the pair-family frontier (q36 = the linear control) + the
# at-rest SERVE paths (layout-served cold should track warm at every
# decade — the proof the stored-artifact convention is what makes 100 TB
# sessions affordable).
DEFAULT_QUERIES="q36_dedup_ngram_jaccard q151_setsim_prefix q218_media_neardup \
q220_crossmodal_align q228_media_index_layout q230_setsim_layout \
q231_crossmodal_index_layout q232_crossmodal_emb_layout"
for q in ${QUERIES:-$DEFAULT_QUERIES}; do
  for sf in ${DECADES:-sf1x sf10x sf100x}; do
    case $sf in
      sf1x)   run $ROOT/scaledata/sf1x   12g 32  "$q" ;;
      sf10x)  run $ROOT/scaledata/sf10x  24g 64  "$q" ;;
      sf100x) run $ROOT/scaledata/sf100x 72g 256 "$q" ;;
      *)      echo "unknown decade: $sf" ; exit 2 ;;
    esac
  done
done
