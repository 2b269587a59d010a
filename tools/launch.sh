#!/bin/bash
# Launch one graft main on the compiled classes with plain `java -cp` (no sbt
# lock), after the environment gate (probe_env_gate.sh).
#
# Cores: SPARK_GRAFT_CPUS, else `nproc` (GraftSession reads the same
# variable). Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 GB,
# the formula of the tier-1 verify command in ROADMAP.md. Every other
# variable the main reads (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_DETAIL)
# passes through. Runs from the repo root, so relative paths resolve there.
# Needs `sbt compile` first and SPARK_HOME pointing at the Spark install.
#
# Usage: tools/launch.sh <main> [args...]
#   scale probe on some queries:
#     SPARK_GRAFT_SF_DIR=/tmp/graft-scale/sf10 SPARK_GRAFT_BENCH_DETAIL=target/sf10.json \
#       tools/launch.sh graft.Bench emb_topk dedup_minhash
#   full suite at a rung:  SPARK_GRAFT_SF_DIR=/tmp/graft-scale/sf10 tools/launch.sh graft.Bench
#   result-set sizes:      tools/launch.sh graft.Verify /tmp/graft-scale/sf10 /tmp/sf10_counts emb_dup_pairs
#     then count rows per query dir:
#     python3 -c 'import sys,os,pyarrow.parquet as pq; d=sys.argv[1]; print({q: pq.read_table(os.path.join(d,q)).num_rows for q in sorted(os.listdir(d)) if os.path.isdir(os.path.join(d,q))})' /tmp/sf10_counts
set -u
[ $# -ge 1 ] || { echo "usage: $0 <main> [args...]" >&2; exit 2; }
REPO_DIR="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
bash "$REPO_DIR/tools/probe_env_gate.sh" >&2 || exit 1
cd "$REPO_DIR"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
         sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${ADD_OPENS[@]}" "-Xmx$HEAP" -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars/*" \
  "$@"
