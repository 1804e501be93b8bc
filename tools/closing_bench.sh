#!/bin/bash
# The adjudication-grade closing bench protocol (BASELINE.md): N isolated
# fresh-JVM repeats of graft.Bench on an otherwise-idle machine, summary
# written to bench_closing.json (one line) so the NEXT driver-run Bench
# line embeds it under "closing" — the artifact then carries the closing
# numbers itself instead of requiring BASELINE.md archaeology.
#
# Usage: tools/closing_bench.sh [n_repeats=3]
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
# (default nproc), SPARK_DRIVER_MEM (default half of RAM, clamped to 2g..8g).
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:-3}
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
export SPARK_GRAFT_BENCH_MODE=isolated
colds=(); warms=(); errs=(); nq=0
for i in $(seq 1 "$N"); do
  line=$(tools/run_main.sh graft.Bench 2>/dev/null | grep '"metric"')
  # FIRST occurrence of each field: the line embeds the PREVIOUS
  # closing summary (which repeats every field name), and greedy sed
  # `.*"k":` matches the LAST occurrence — round-10 recorded the prior
  # run's n_queries (171) for a 181-query bench before this fix
  colds+=("$(grep -o '"value":[0-9.]*' <<<"$line" | head -1 | cut -d: -f2)")
  warms+=("$(grep -o '"value_warm":[0-9.]*' <<<"$line" | head -1 | cut -d: -f2)")
  errs+=("$(grep -o '"n_errors":[0-9]*' <<<"$line" | head -1 | cut -d: -f2)")
  nq=$(grep -o '"n_queries":[0-9]*' <<<"$line" | head -1 | cut -d: -f2)
  echo "repeat $i/$N: cold=${colds[-1]} warm=${warms[-1]} errors=${errs[-1]}" >&2
done
join() { local IFS=,; echo "$*"; }
printf '{"mode":"isolated","n_repeats":%s,"cold_s":[%s],"warm_s":[%s],"n_errors":[%s],"n_queries":%s,"sf":"%s","commit":"%s","date":"%s"}\n' \
  "$N" "$(join "${colds[@]}")" "$(join "${warms[@]}")" "$(join "${errs[@]}")" \
  "$nq" "$SPARK_GRAFT_SF_DIR" "$(git rev-parse --short HEAD)" \
  "$(date -u +%F)" > bench_closing.json
cat bench_closing.json
