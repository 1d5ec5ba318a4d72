#!/bin/bash
# N-vs-4N executor scaling on a REAL local standalone cluster.
#
# The north rule's criterion is "the same job on a cluster of N and 4N
# cores with >= 0.8 efficiency". The closest in-sandbox emulation is not
# one JVM with 4x the threads — it is 4x the EXECUTORS: this script runs
#
#   leg 1: master + 1 worker  (taskset 0-7,   8 cores, one  8-core/10g executor)
#   leg 4: master + 4 workers (taskset 8i..8i+7 each, four 8-core/10g executors)
#
# so scaling up multiplies worker JVMs — constant per-executor heap, own
# G1 instance, own shuffle scratch, real netty shuffle between JVMs —
# exactly how a real cluster grows. A single fat local[32] JVM instead
# measures this VM's pathological large-process memory path (a 48 GiB
# pre-touch costs 185 CPU-min of system time vs 4 s for 12 GiB) and a
# 32-thread shared heap no real deployment has.
#
# The driver (ScalingBench) is unpinned, as a real driver is its own node;
# it does planning only — nothing corpus-sized crosses it.
#
# Usage: scripts/scaling_cluster.sh [nDocs] [rounds] [outMd]
#
# Collection-window safety (round-4 post-mortem: a campaign still running
# at the driver's collection time OOM-killed the round's bench + verify):
#   - GRAFT_CAMPAIGN_BUDGET_MINS (default 75): no NEW round starts after
#     this much wall-clock; the campaign summarizes what it has and exits.
#   - GRAFT_CAMPAIGN_IDLE_GRACE_MINS (default 15): subtracted from the
#     budget for the round-start check, so the LAST round finishes and the
#     box idles before the window closes — a bench collected minutes after
#     a campaign teardown reads the teardown's thermal/cache shadow, not
#     the engine (round-5 post-mortem: driver read 34.3 s where the idle
#     box read 30.3 s). The grace must exceed one paired round's wall.
#   - /tmp/graft-campaign-running exists while legs run (removed on exit);
#     /tmp/campaign_done is (re)touched on every clean completion. Check
#     either before launching anything memory-heavy on this host.
set -e
cd "$(dirname "$0")/.."
NDOCS=${1:-96000}
ROUNDS=${2:-5}
OUT=${3:-BENCH/scaling_rows.md}
BUDGET_MINS=${GRAFT_CAMPAIGN_BUDGET_MINS:-75}
IDLE_GRACE_MINS=${GRAFT_CAMPAIGN_IDLE_GRACE_MINS:-15}
# a budget that does not exceed the grace would start zero rounds and
# still summarize an empty campaign — refuse it before any leg starts
if [ "$BUDGET_MINS" -le "$IDLE_GRACE_MINS" ]; then
  echo "[scaling-driver] GRAFT_CAMPAIGN_BUDGET_MINS=${BUDGET_MINS} must exceed" \
    "GRAFT_CAMPAIGN_IDLE_GRACE_MINS=${IDLE_GRACE_MINS}, or no round would run" >&2
  exit 1
fi
T_START=$(date +%s)
rm -f /tmp/campaign_done
touch /tmp/graft-campaign-running
# Per-executor heap. With pipeline stages checkpointed to parquet the
# executors hold only shuffle/exec memory, so heaps stay small — which also
# keeps this sandbox's non-linear page-fault cost (large / concurrent memory
# commit) out of the measurement. Executors pre-touch via
# GRAFT_EXEC_PRETOUCH=1 (fast at small heaps; the 4x10g concurrent case is
# the one that collapsed the guest fault path).
EXEC_HEAP_GB=${GRAFT_EXEC_HEAP_GB:-10}
EXEC_OPTS=""
[ -n "${GRAFT_EXEC_PRETOUCH:-}" ] && EXEC_OPTS="-XX:+AlwaysPreTouch"
CSV=$(mktemp /tmp/scaling_cluster.XXXX.csv)
CLASSES=$(pwd)/target/scala-2.13/classes
export GRAFT_COMMIT=$(git rev-parse --short HEAD 2>/dev/null || echo unknown)
export SPARK_HOME=/opt/spark
export SPARK_SCALA_VERSION=2.13  # normally set by load-spark-env.sh; the
                                 # worker's ExecutorRunner needs it to build
                                 # the executor command from a bare dist
MASTER_URL=spark://127.0.0.1:7077

ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

sbt -batch compile > /dev/null 2>&1

PIDS=()
# Stage checkpoints: tmpfs by default for small corpora (the per-leg
# analog of the distributed store a real build checkpoints to), but at
# >= 384k docs the checkpoints themselves are multi-GiB — parking them on
# memory-backed /dev/shm under 4x10g pre-touched executors is the exact
# recipe that OOM-killed round 4's collection window. Large corpora
# default to disk; GRAFT_SCALING_CKPT_BASE overrides either way.
if [ -n "${GRAFT_SCALING_CKPT_BASE:-}" ]; then CKPT_BASE=$GRAFT_SCALING_CKPT_BASE
elif [ "$NDOCS" -ge 384000 ]; then CKPT_BASE=/tmp
else CKPT_BASE=/dev/shm; fi

cleanup() {
  for p in "${PIDS[@]}"; do kill "$p" 2>/dev/null || true; done
  sleep 1
  pkill -f org.apache.spark.deploy 2>/dev/null || true
  rm -rf /dev/shm/graft-w* "$CKPT_BASE/graft-ckpt" /tmp/graft-worker-* 2>/dev/null || true
  PIDS=()
}
finish() { cleanup; rm -f /tmp/graft-campaign-running; }
trap finish EXIT

leg() {
  local k=$1   # number of 8-core workers
  cleanup
  # pipeline stages go through the parquet work dir (tmpfs = the per-leg
  # analog of the distributed storage a real build checkpoints to); cached
  # block cuts would pin partitions to the executor that computed them
  rm -rf "$CKPT_BASE/graft-ckpt"; mkdir -p "$CKPT_BASE/graft-ckpt"
  export GRAFT_SCALING_CKPT=$CKPT_BASE/graft-ckpt
  echo "[scaling-driver] leg: $k x 8-core executors"
  java $ADD_OPENS -Xmx1g -cp "/opt/spark/jars/*" \
    org.apache.spark.deploy.master.Master \
    --host 127.0.0.1 --port 7077 --webui-port 8180 \
    > /tmp/graft-master.log 2>&1 &
  PIDS+=($!)
  sleep 3
  for i in $(seq 0 $((k-1))); do
    mkdir -p /dev/shm/graft-w$i /tmp/graft-worker-$i
    # worker daemon JVM is tiny; the EXECUTOR it forks inherits this
    # taskset mask — the executor is an 8-core/10g pre-touched JVM
    SPARK_LOCAL_DIRS=/dev/shm/graft-w$i \
    taskset -c $((i*8))-$((i*8+7)) \
    java $ADD_OPENS -Xmx1g -cp "/opt/spark/jars/*" \
      org.apache.spark.deploy.worker.Worker \
      --cores 8 --memory $((EXEC_HEAP_GB+1))g --work-dir /tmp/graft-worker-$i \
      --webui-port $((8181+i)) $MASTER_URL \
      > /tmp/graft-worker-$i.log 2>&1 &
    PIDS+=($!)
  done
  sleep 4
  # driver heap 6g: two of four 384k campaigns lost an 8-core leg to a
  # SILENT driver death (the grep filter below was eating the exception
  # output) — the driver is unpinned and off the measured executors, so
  # its heap does not participate in the measurement. The full driver
  # output is now tee'd per leg so the next failure is diagnosable.
  GRAFT_EXEC_HEAP_GB=$EXEC_HEAP_GB \
  java $ADD_OPENS -Xms6g -Xmx6g -XX:+AlwaysPreTouch \
    -Dgraft.execJavaOpts="$EXEC_OPTS" \
    -Dgraft.classes="$CLASSES" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CLASSES:/opt/spark/jars/*" \
    graft.app.ScalingBench cluster $MASTER_URL $((k*8)) $NDOCS $CSV \
    2>&1 | tee /tmp/graft-scaling-driver-${k}x.log \
         | grep -E "\[scaling|\[profile\]" || true
  cleanup
}

for r in $(seq 1 "$ROUNDS"); do
  ELAPSED_MINS=$(( ($(date +%s) - T_START) / 60 ))
  if [ "$ELAPSED_MINS" -ge "$((BUDGET_MINS - IDLE_GRACE_MINS))" ]; then
    echo "[scaling-driver] budget ${BUDGET_MINS}m (incl. ${IDLE_GRACE_MINS}m idle grace) exhausted after $((r-1)) rounds — summarizing early"
    break
  fi
  echo "[scaling-driver] round $r (elapsed ${ELAPSED_MINS}m / budget ${BUDGET_MINS}m)"
  leg 1
  leg 4
done
java $ADD_OPENS -cp "$CLASSES:/opt/spark/jars/*" \
  graft.app.ScalingBench summarize $CSV $OUT \
  "standalone cluster, 1x8 vs 4x8-core executors (${EXEC_HEAP_GB}g each, pre-touch=${GRAFT_EXEC_PRETOUCH:-0}, waves=2), pinned" \
  2>&1 | grep -E "\[scaling\]|^\|"
echo "[scaling-driver] raw legs in $CSV"
touch /tmp/campaign_done
