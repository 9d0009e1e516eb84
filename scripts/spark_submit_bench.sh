#!/usr/bin/env bash
# North-rule launcher: the extraction job submitted via spark-submit to
# separate executor JVMs at N and 4N executors (local-cluster — the
# sandbox stand-in for a standalone/YARN cluster; on a real cluster only
# --master changes). Prints ClusterProbe's JSON line per run, turns/sec
# in "tps"; BASELINE.md carries the interpretation (per-socket membw
# ceiling, executor JIT warmup).
#
# Usage: scripts/spark_submit_bench.sh [nConvs] [runsPerLeg]
set -euo pipefail
cd "$(dirname "$0")/.."

CONVS="${1:-240000}"
RUNS="${2:-2}"
SPARK_HOME="${SPARK_HOME:-/opt/spark}"
# the launcher cannot infer the Scala version from a binary distribution
export SPARK_SCALA_VERSION=2.13

sbt -batch package >/dev/null
# exclude stale *-tests.jar / *-sources.jar artifacts from earlier
# test:package runs — only the app jar is submittable
JAR=$(ls target/scala-2.13/*.jar | grep -v -e '-tests\.jar$' -e '-sources\.jar$' | head -1)

for W in 2 8; do
  "$SPARK_HOME/bin/spark-submit" \
    --master "local-cluster[$W,4,4096]" \
    --conf spark.executor.memory=4096m \
    --conf spark.executor.extraJavaOptions="-XX:ActiveProcessorCount=4 -XX:+UseParallelGC" \
    --conf spark.driver.host=localhost \
    --class graft.ClusterProbe \
    "$JAR" "$W" 4 "$CONVS" 4096 "$RUNS" full 2>&1 |
    grep "\"tps\":"
done
