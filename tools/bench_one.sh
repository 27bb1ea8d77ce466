#!/bin/bash
# Micro-bench queries: tools/bench_one.sh <query>[,<query>...] [sf_dir] [n]
# or one getRows stream:  tools/bench_one.sh rows:<table>:<col,col,...> [sf_dir] [n]
# Runs the JVM in a scratch cwd, removed on exit, so layout writes
# (spark-warehouse, derby metastore) land in /tmp, not the repo — gate
# reruns used to deposit warehouse tables into the checkout's
# spark-warehouse.
set -e
. "$(dirname "$0")/add_opens.sh"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SCRATCH="$(mktemp -d /tmp/bench_one.XXXX)"
trap 'rm -rf "$SCRATCH"' EXIT
cd "$SCRATCH"
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" \
  graft.BenchOne "$1" "${2:-/root/testdata/sf0.1}" "${3:-3}"
