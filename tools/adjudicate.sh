#!/bin/bash
# Isolated single-query adjudication protocol (BASELINE.md standing
# discipline): for each named query, N fresh-JVM repeats of graft.Bench
# filtered to that query alone on an otherwise-idle machine. Emits one
# line per repeat: "<query> repeat k: cold=<s> warm=<s>".
#
# Usage: tools/adjudicate.sh q1[,q2,...] [n_repeats=3]
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
# (default nproc), SPARK_DRIVER_MEM (default half of RAM, clamped to 2g..8g).
set -euo pipefail
cd "$(dirname "$0")/.."
QUERIES=${1:?comma-separated query names}
N=${2:-3}
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
export SPARK_GRAFT_BENCH_MODE=isolated
IFS=',' read -ra QS <<<"$QUERIES"
for q in "${QS[@]}"; do
  for i in $(seq 1 "$N"); do
    line=$(SPARK_GRAFT_ONLY="$q" tools/run_main.sh graft.Bench 2>/dev/null | grep '"metric"')
    cold=$(grep -o '"value":[0-9.]*' <<<"$line" | head -1 | cut -d: -f2)
    warm=$(grep -o '"value_warm":[0-9.]*' <<<"$line" | head -1 | cut -d: -f2)
    nerr=$(grep -o '"n_errors":[0-9]*' <<<"$line" | head -1 | cut -d: -f2)
    echo "$q repeat $i/$N: cold=$cold warm=$warm errors=$nerr"
  done
done
