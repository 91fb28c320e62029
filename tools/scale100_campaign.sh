#!/bin/bash
# 100x ScaleSmoke campaign: one JVM per query (crash-robust; the tiling
# markers make later invocations reuse the synthesized corpus). Appends
# each run's stderr progress + stdout JSON line to the log.
#
#   tools/scale100_campaign.sh <log> <query>...
#   e.g. tools/scale100_campaign.sh scale100.log \
#          q260_proximity_fleet_dense q270_zorder_optimize
#
# Defaults: 100 replicas, 256 shuffle partitions, 32 cores, median of 3
# repeats per timed region; SPARK_GRAFT_REPLICAS, SPARK_GRAFT_SHUFFLE,
# SPARK_GRAFT_CPUS and SPARK_GRAFT_SCALE_REPEATS override them.
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 <log> <query>..." >&2
  exit 2
fi
LOG=$(realpath -m "$1")
shift
cd "$(dirname "$0")/.."
: > "$LOG"
# Freeze the classpath so a dev-loop `sbt compile` can't race a campaign
# JVM's lazy classloading — refreshed from the current build every run,
# so a campaign never times a stale snapshot.
rm -rf /tmp/graft_scale_classes
if [ -d target/scala-2.13/classes ]; then
  cp -r target/scala-2.13/classes /tmp/graft_scale_classes
else
  echo "no compiled classes at target/scala-2.13/classes — run sbt compile first" >&2
  exit 1
fi
export SPARK_GRAFT_CLASSES=/tmp/graft_scale_classes
export SPARK_GRAFT_REPLICAS=${SPARK_GRAFT_REPLICAS:-100}
export SPARK_GRAFT_SHUFFLE=${SPARK_GRAFT_SHUFFLE:-256}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
export SPARK_GRAFT_SCALE_REPEATS=${SPARK_GRAFT_SCALE_REPEATS:-3}
for q in "$@"; do
  echo "=== $q start $(date -u +%H:%M:%S) ===" >> "$LOG"
  SPARK_GRAFT_ONLY=$q bash tools/scale100.sh >> "$LOG" 2>&1
  echo "=== $q exit=$? $(date -u +%H:%M:%S) ===" >> "$LOG"
done
echo "=== campaign done $(date -u +%H:%M:%S) ===" >> "$LOG"
