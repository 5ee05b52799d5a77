#!/bin/bash
# Scaling-efficiency protocol (BASELINE.md): identical parse->enrich->route
# job at N and 4N local cores, separate JVMs, same input, interleaved,
# medians reported. N = max(1, nproc/4), so 4N never exceeds the host; the
# driver heap is half of MemTotal clamped to 2g..8g (the tier-1 test sizing).
# Usage: [GRAFT_CORES="N 4N"] [SPARK_DRIVER_MEM=8g] tools/scaling_bench.sh [nConvs] [runs]
set -e
NCONVS=${1:-60000}
RUNS=${2:-3}
MODE=${GRAFT_SINK_MODE:-noop}
N=$(( $(nproc) / 4 )); [ "$N" -ge 1 ] || N=1
CORES_LIST=${GRAFT_CORES:-"$N $((4 * N))"}
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}
cd "$(dirname "$0")/.."
for i in $(seq 1 $RUNS); do
  for CORES in $CORES_LIST; do   # interleaved: N,4N,N,4N,...
    OUT=$(mktemp -d /tmp/graft-scale-XXXX)
    GRAFT_SINK_MODE=$MODE SPARK_DRIVER_MEM=$MEM sbt -batch "runMain graft.pipeline.RunPipeline $NCONVS $OUT $CORES" 2>/dev/null \
      | grep -o '\[pipeline\].*' | sed "s/^/cores=$CORES run=$i mode=$MODE mem=$MEM /"
    rm -rf "$OUT"
    sync; sleep 10   # let writeback drain so runs don't interfere
  done
done
