#!/bin/bash
# Local bench harness: run graft.Bench (min-of-3 protocol) on a fixture dir.
# Usage: tools/bench.sh [sfDir] [outFile]
# Keep the host otherwise idle during official recordings.
set -e
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-bench_out.json}
cd /root/repo
sbt -batch compile -warn >/dev/null
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
. tools/add_opens.sh
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
SPARK_GRAFT_BENCH_OUT="$OUT" java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx48g \
  -cp "$CP" graft.Bench
