#!/bin/bash
# Scaling spot-check (PLANS.md scaling-table discipline, one decade up):
# time each listed query in a FRESH JVM (BenchOne, n=3: run1 = cold incl.
# memoized-artifact build, min(run2,3) = warm) at two scale factors and
# print a ratio table. The sf1x fixture is tools/make_sf1x.py's 10x
# replication of sf0.1 — performance-only data, never an oracle input.
# Usage: tools/scale_check.sh [out_tsv] [q1 q2 ...]
set -e
set -o pipefail
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
OUT=${1:-/tmp/scale_check.tsv}
shift || true
QUERIES=${@:-"q36_dedup_ngram_jaccard q104_cluster_profile q122_pagerank \
q151_setsim_prefix q153_crossdoc_spans q180_basket_lift \
q187_postings_stream_ingest q211_cdc_stream_apply q214_curation_e2e \
q215_curation_incremental"}
echo -e "query\tsf\tcold_s\twarm_s" > "$OUT"
# The two fixture dirs to compare (low then high); override for other
# decades, e.g. SF_DIRS="scaledata/sf1x scaledata/sf10x" for the second.
SF_DIRS=${SF_DIRS:-"/root/testdata/sf0.1 $ROOT/scaledata/sf1x"}
for q in $QUERIES; do
  for sf in $SF_DIRS; do
    LOG=$(mktemp)
    SPARK_GRAFT_CPUS=32 java $ADD_OPENS -Xmx${BENCH_XMX:-12g} \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" \
      graft.BenchOne "$q" "$sf" 3 > "$LOG" 2>&1 || { echo "FAIL $q $sf"; tail -5 "$LOG"; exit 1; }
    COLD=$(grep -oP 'run1: \K[0-9.]+' "$LOG")
    W2=$(grep -oP 'run2: \K[0-9.]+' "$LOG")
    W3=$(grep -oP 'run3: \K[0-9.]+' "$LOG")
    WARM=$(python3 -c "print(min($W2,$W3))")
    echo -e "$q\t$(basename $sf)\t$COLD\t$WARM" | tee -a "$OUT"
    rm -f "$LOG"
  done
done
python3 - "$OUT" <<'PYEOF'
import sys, collections
rows = [l.split('\t') for l in open(sys.argv[1]).read().strip().split('\n')[1:]]
d = collections.defaultdict(dict)
order = []
for q, sf, c, w in rows:
    d[q][sf] = (float(c), float(w))
    if sf not in order:
        order.append(sf)
lo, hi = order[0], order[1]
print(f"\n{'query':<30} {'cold:'+lo:>10} {'cold:'+hi:>10} {'ratio':>6} "
      f"{'warm:'+lo:>10} {'warm:'+hi:>10} {'ratio':>6}")
for q, v in d.items():
    c0, w0 = v[lo]; c1, w1 = v[hi]
    print(f"{q:<30} {c0:>10.2f} {c1:>10.2f} {c1/c0:>6.1f} {w0:>10.2f} {w1:>10.2f} {w1/w0:>6.1f}")
PYEOF
