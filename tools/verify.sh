#!/bin/bash
# Local dev harness: run graft.Verify on a fixture dir, then hash-compare
# each query's parquet against its DuckDB oracle (tools/parity.py).
# Usage: tools/verify.sh [sfDir] [outDir]
set -e
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/graft_verify}
cd /root/repo
sbt -batch compile -warn >/dev/null
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
. tools/add_opens.sh
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx8g \
  -cp "$CP" graft.Verify "$SF" "$OUT" ${GRAFT_ONLY:+"$GRAFT_ONLY"}
python3 tools/parity.py "$SF" "$OUT"
