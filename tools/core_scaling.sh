#!/bin/bash
# Core-scaling check (PLANS.md scaling-table discipline, round 18): the
# sf0.1 bench is driver/planning-bound — 8 cores beats 32 on most of the
# board — so core-scaling claims need a DATA-BOUND fixture. This times
# each listed query at sf1x (tools/make_sf1x.py's 10x replication of
# sf0.1 — performance-only data, never an oracle input) in FRESH JVMs at
# two core counts (BenchOne, n=3: run1 = cold incl. memoized-artifact
# build, min(run2,3) = warm) and prints the 8c/32c wall-clock ratios —
# a ratio > 1 means 32 cores helped; data-bound queries should approach
# the core ratio as per-query execute time grows.
# Usage: tools/core_scaling.sh [out_tsv] [q1 q2 ...]
set -e
set -o pipefail
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
OUT=${1:-/tmp/core_scaling.tsv}
shift || true
QUERIES=${@:-"q36_dedup_ngram_jaccard q47_tfidf q55_dedup_fuzzy \
q68_salted_join q109_multimodal_pipeline q126_profile q135_video_frames \
q153_crossdoc_spans q161_mad_outliers q175_ngram_novelty"}
SF_DIR=${SF_DIR:-$ROOT/scaledata/sf1x}
echo -e "query\tcpus\tcold_s\twarm_s" > "$OUT"
for q in $QUERIES; do
  for cpus in 8 32; do
    LOG=$(mktemp)
    SPARK_GRAFT_CPUS=$cpus java $ADD_OPENS -Xmx${BENCH_XMX:-12g} \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" \
      graft.BenchOne "$q" "$SF_DIR" 3 > "$LOG" 2>&1 || { echo "FAIL $q $cpus"; tail -5 "$LOG"; exit 1; }
    COLD=$(grep -oP 'run1: \K[0-9.]+' "$LOG")
    W2=$(grep -oP 'run2: \K[0-9.]+' "$LOG")
    W3=$(grep -oP 'run3: \K[0-9.]+' "$LOG")
    WARM=$(python3 -c "print(min($W2,$W3))")
    echo -e "$q\t$cpus\t$COLD\t$WARM" | tee -a "$OUT"
    rm -f "$LOG"
  done
done
python3 - "$OUT" <<'PYEOF'
import sys, collections
rows = [l.split('\t') for l in open(sys.argv[1]).read().strip().split('\n')[1:]]
d = collections.defaultdict(dict)
for q, cpus, c, w in rows:
    d[q][cpus] = (float(c), float(w))
print(f"\n{'query':<30} {'cold:8c':>8} {'cold:32c':>9} {'x':>5} "
      f"{'warm:8c':>8} {'warm:32c':>9} {'x':>5}")
for q, v in d.items():
    c8, w8 = v['8']; c32, w32 = v['32']
    print(f"{q:<30} {c8:>8.2f} {c32:>9.2f} {c8/c32:>5.1f} "
          f"{w8:>8.2f} {w32:>9.2f} {w8/w32:>5.1f}")
PYEOF
