#!/bin/bash
# Ingest/curation SERVE-vs-LIVE decade cells (round 17 done-bars):
#   q221: serve dual (primes the at-rest ledger+probe tables), then LIVE
#         with the fingerprint-fresh ledger standing — item 4's bar is
#         live cold within ~2x of the serve dual;
#   q222: continuous form with the fresh ledger standing (item 8's serve
#         rows — the fused class at every decade);
#   q216: serve warm vs live warm (item 5's bar is serve warm within
#         ~1.1x of live warm at sf10x/sf100x).
# Same heap/width schedule as tools/decade_sweep.sh; runs IN the checkout so
# primes and reads share the warehouse (deterministic names + fingerprint
# stamps make cross-JVM reuse safe).
# Usage: tools/ingest_serve_sweep.sh [n_runs=3]
set -e
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
cd "$ROOT"
N=${1:-3}
run() { # label sf_dir xmx shufP query serve_flag n
  echo "== $1: $5 @ $2 (serve=$6, n=$7) =="
  SPARK_GRAFT_SHUFFLE_PARTITIONS=$4 SPARK_GRAFT_SERVE_LAYOUTS=$6 \
    java $ADD_OPENS -Xmx$3 \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" \
    graft.BenchOne "$5" "$2" "$7" 2>&1 | grep -E "run[0-9]+:" | sed 's/^/  /'
}
for sf in ${DECADES:-sf1x sf10x sf100x}; do
  case $sf in
    sf1x)   D=$ROOT/scaledata/sf1x;   XMX=12g; W=32  ;;
    sf10x)  D=$ROOT/scaledata/sf10x;  XMX=24g; W=64  ;;
    sf100x) D=$ROOT/scaledata/sf100x; XMX=72g; W=256 ;;
  esac
  run "prime+serve" "$D" "$XMX" "$W" q221_media_neardup_incremental 1 2
  run "live-fresh-ledger" "$D" "$XMX" "$W" q221_media_neardup_incremental 0 "$N"
  run "continuous-fresh-ledger" "$D" "$XMX" "$W" q222_media_stream_ingest 0 "$N"
  run "curation-serve" "$D" "$XMX" "$W" q216_curation_stream 1 "$N"
  run "curation-live" "$D" "$XMX" "$W" q216_curation_stream 0 "$N"
done
