#!/bin/bash
# Streaming-family scale ladder (VERDICT r16 item 5): run graft.StreamBench
# at every rung and append one stream_floor JSON line per rung to the
# output JSONL — the r15 ladder stopped at sf1.0; this one climbs both
# decades (sf0.1 → sf1.0 → sf3.0 → sf10). Work column should stay
# sub-linear in bytes; floors should stay flat (scheduling, not data).
# Each rung goes through tools/launch.sh (environment gate, cores, heap).
# Usage: tools/run_streambench_ladder.sh <out.jsonl> [sfDir ...]
set -u
OUT=${1:-baselines/streambench_scale_r17.jsonl}
shift || true
RUNGS=${@:-/root/testdata/sf0.1 /tmp/graft-scale/sf1.0 /tmp/graft-scale/sf3.0 /tmp/graft-scale/sf10}
: > "$OUT"
for sf in $RUNGS; do
  echo "[stream-ladder] $sf" >&2
  SPARK_GRAFT_SF_DIR="$sf" "$(dirname "$0")/launch.sh" graft.StreamBench 2>/dev/null \
    | grep '"metric":"stream_floor"' >> "$OUT"
done
echo "[stream-ladder] wrote $(wc -l < "$OUT") rungs to $OUT" >&2
