#!/bin/bash
# Affinity-isolated N-vs-4N scaling measurement (BASELINE.json north_rule).
#
# Faithful "n-core executor" emulation, per leg:
#   - own JVM under `taskset -c 0-(n-1)`: GC/JIT/shuffle-IO thread pools
#     size themselves from the VISIBLE core count, exactly as on a real
#     n-core executor (a shared 32-core-host JVM lets the 8-leg borrow
#     host-width runtime services);
#   - heap PROPORTIONAL TO CORES (1.5 GiB/core): a real 4N-executor
#     cluster has 4x the aggregate memory — giving both legs the same
#     total heap makes the 4N leg GC-bound through a wall the real
#     cluster does not have (measured: 96k docs at a flat 24 GiB ran
#     169 s on 8 cores vs 349 s on 32; per-core heap removed the
#     inversion);
#   - shuffle/spill scratch on tmpfs (SPARK_LOCAL_DIRS): one shared
#     spinning disk is not a per-executor resource; page-cache-backed
#     scratch is the closer analog of per-executor local SSDs.
#
# Each leg JIT-warms with an untimed 1000-doc build and runs the pure-CPU
# calibration probe (what the contended VM allows *right now*); rows are
# stamped with gen=<ScalingBench.Generation> commit=<hash>.
#
# Usage: scripts/scaling_paired.sh [nDocs] [rounds] [outMd]
set -e
cd "$(dirname "$0")/.."
NDOCS=${1:-96000}
ROUNDS=${2:-3}
OUT=${3:-BENCH/scaling_rows.md}
CSV=$(mktemp /tmp/scaling_raw.XXXX.csv)
CLASSES=target/scala-2.13/classes
export GRAFT_COMMIT=$(git rev-parse --short HEAD 2>/dev/null || echo unknown)

sbt -batch compile > /dev/null 2>&1   # compile once, outside any mask

ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

leg() {
  local c=$1
  local mem=$((c * 3 / 2))g
  echo "[scaling-driver] local[$c] (taskset 0-$((c-1)), ${mem} pre-touched)"
  # -Xms=-Xmx + AlwaysPreTouch is ESSENTIAL for a faithful leg: without it
  # the heap grows during the run and first-touch page faults CONVOY at
  # high thread counts (guest mmap_sem) — measured 96k-doc 32-leg builds
  # fell 290-450 s -> 98 s from this flag alone. Real executors run with
  # fixed heaps; a growing heap is a local-mode artifact.
  mkdir -p /dev/shm/spark-graft
  SPARK_LOCAL_DIRS=/dev/shm/spark-graft taskset -c 0-$((c-1)) java $ADD_OPENS -Xms$mem -Xmx$mem \
    -XX:+AlwaysPreTouch \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CLASSES:/opt/spark/jars/*" \
    graft.app.ScalingBench level $c $NDOCS $CSV 2>&1 | grep -E "\[scaling|\[profile\]" || true
}

for r in $(seq 1 "$ROUNDS"); do
  echo "[scaling-driver] round $r"
  leg 8
  leg 32
done
java $ADD_OPENS -cp "$CLASSES:/opt/spark/jars/*" \
  graft.app.ScalingBench summarize $CSV $OUT 2>&1 | grep -E "\[scaling\]|^\|"
echo "[scaling-driver] raw legs in $CSV"
