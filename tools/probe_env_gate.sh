#!/bin/bash
# Pre-probe environment gate (VERDICT r16 item 7): both r16 sf10 probe
# deaths were environmental and detectable in advance — a 20000 process fd
# cap met by a (since-fixed) fd leak, and 46 GB of stale driver-side DuckDB
# oracle spill filling the disk mid-run. Run (or source) this before any
# long probe; it exits nonzero when the box is not safe to launch.
#
# Checks, in order:
#  1. sweep stale DuckDB spill (.tmp/duckdb_temp_*) when no DuckDB-hosting
#     process is alive — the r15 oracle run left 46 GB of dead spill;
#  2. free disk on the probe tmp filesystem >= the disk floor: about 9x the
#     corpus in SPARK_GRAFT_SF_DIR (20 GB over the ~2.2 GB sf10 corpus:
#     staged universe ~4 GB + scale corpora + shuffle spill), at least 1 GB;
#     20 GB when SPARK_GRAFT_SF_DIR is unset; GATE_MIN_DISK_GB overrides;
#  3. fd headroom: hard/soft nofile limit >= ${GATE_MIN_NOFILE:-16384}
#     (the conllu fixture stage opens ~25k files over its life; post-fix it
#     closes them, but a low ulimit still starves the parquet reader pool).
set -u
REPO_DIR="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [ -n "${GATE_MIN_DISK_GB:-}" ]; then
  MIN_DISK_GB=$GATE_MIN_DISK_GB
elif [ -n "${SPARK_GRAFT_SF_DIR:-}" ] && [ -d "$SPARK_GRAFT_SF_DIR" ]; then
  corpus_kb=$(du -skL "$SPARK_GRAFT_SF_DIR" | cut -f1)
  MIN_DISK_GB=$(( (corpus_kb * 9 + 1048575) / 1048576 ))
  [ "$MIN_DISK_GB" -ge 1 ] || MIN_DISK_GB=1
else
  MIN_DISK_GB=20
fi
MIN_NOFILE=${GATE_MIN_NOFILE:-16384}
fail=0

# 1. stale DuckDB spill sweep — only when nothing is running DuckDB (the
# oracle runs inside the driver's python); age guard keeps a live run's
# fresh spill safe even if the process scan misses it.
if ! pgrep -af 'duckdb|check_oracle' >/dev/null 2>&1; then
  swept=$(find "$REPO_DIR/.tmp" -maxdepth 1 -name 'duckdb_temp_*' -mmin +60 2>/dev/null | wc -l)
  if [ "$swept" -gt 0 ]; then
    bytes=$(find "$REPO_DIR/.tmp" -maxdepth 1 -name 'duckdb_temp_*' -mmin +60 -printf '%s\n' 2>/dev/null | awk '{s+=$1} END {printf "%.0f", s+0}')
    echo "[env-gate] sweeping $swept stale DuckDB spill files ($((bytes / 1024 / 1024)) MB, >60 min old, no DuckDB process alive)"
    find "$REPO_DIR/.tmp" -maxdepth 1 -name 'duckdb_temp_*' -mmin +60 -delete 2>/dev/null
  fi
else
  echo "[env-gate] DuckDB-hosting process alive - leaving .tmp spill untouched"
fi

# 2. disk headroom on the probe tmp filesystem
avail_gb=$(( $(df -B1 --output=avail "${TMPDIR:-/tmp}" | tail -1) / 1024 / 1024 / 1024 ))
if [ "$avail_gb" -lt "$MIN_DISK_GB" ]; then
  echo "[env-gate] FAIL: ${avail_gb} GB free on ${TMPDIR:-/tmp} < ${MIN_DISK_GB} GB floor"
  fail=1
else
  echo "[env-gate] disk ok: ${avail_gb} GB free on ${TMPDIR:-/tmp} (floor ${MIN_DISK_GB})"
fi

# 3. fd headroom
nofile=$(ulimit -n)
if [ "$nofile" != "unlimited" ] && [ "$nofile" -lt "$MIN_NOFILE" ]; then
  echo "[env-gate] FAIL: nofile ulimit $nofile < $MIN_NOFILE floor"
  fail=1
else
  echo "[env-gate] fd ok: nofile ulimit $nofile (floor $MIN_NOFILE)"
fi

if [ "$fail" -ne 0 ]; then
  echo "[env-gate] environment NOT safe for a long probe - fix the above first"
  exit 1
fi
echo "[env-gate] all checks green"
