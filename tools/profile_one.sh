#!/bin/bash
# Profile one (or a few) bench queries with the Spark event log on, then
# attribute wall time per job/description with tools/evlog.py.
#
# Usage: tools/profile_one.sh <q1[,q2,...]> [tag] [iters]
# Writes tools/solo_out/<tag>.json and /tmp/evlog/<app-id> event logs:
# one plain-text JSON-lines file per app (Spark 4's default is a rolling,
# zstd-compressed eventlog_v2_* directory, which evlog.py/evgaps.py
# cannot read).
set -euo pipefail
cd "$(dirname "$0")/.."

QUERIES="$1"
TAG="${2:-prof}"
ITERS="${3:-1}"
OUT=tools/solo_out
mkdir -p "$OUT" /tmp/evlog

CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done

SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
SPARK_GRAFT_BENCH_ITERS="$ITERS" \
SPARK_GRAFT_BENCH_OUT="$OUT/$TAG.json" \
java $ADDOPENS -Xmx24g -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false \
  -Dspark.eventLog.enabled=true \
  -Dspark.eventLog.dir=file:///tmp/evlog \
  -Dspark.eventLog.rolling.enabled=false \
  -Dspark.eventLog.compress=false \
  -cp "$CP" graft.Bench 2>/dev/null | tail -1
