#!/bin/bash
# Alternating parent/change pairs of one perfbench workload (choosing-metrics
# guide §8). Pair k runs both checkouts on seed SEED0 + k, the parent first on
# even k and the change first on odd k. Each run is
# `python3 perfbench/run.py --workload W --seed S --seconds 12 --trace 0`
# from that checkout's own root, so each side builds and runs its own sources
# in its own .bench_build. Prints every run's end-to-end metrics, then, per
# metric, each side's median and quartiles and the change's wins.
#
# Usage: tools/perf_pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD N SEED0
# Each run's stderr is kept in a fresh directory under ${TMPDIR:-/tmp}.
set -euo pipefail
PARENT=$(cd "${1:?parent checkout}" && pwd)
CHANGE=$(cd "${2:?change checkout}" && pwd)
WORKLOAD=${3:?workload}
N=${4:?number of pairs}
SEED0=${5:?first seed}
LOGS=$(mktemp -d "${TMPDIR:-/tmp}/perf_pairs.XXXXXX")
RESULTS="$LOGS/results.tsv"
: >"$RESULTS"
# a shared build directory would run one side's classes for both
unset CARGO_TARGET_DIR

for dir in "$PARENT" "$CHANGE"; do
  (cd "$dir" && python3 perfbench/build.py >/dev/null 2>>"$LOGS/build.log")
done

run() { # side dir pair seed
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$4" \
    --seconds 12 --trace 0 2>"$LOGS/$1-$3.log" | tail -1)
  printf '%s\t%s\t%s\t%s\n' "$3" "$4" "$1" "$line" >>"$RESULTS"
  python3 -c 'import json, sys
m = json.loads(sys.argv[4])["metrics"]
print(f"pair {sys.argv[1]} seed {sys.argv[2]} {sys.argv[3]:6s} "
      + " ".join("%s=%.4g" % (k, v["value"]) for k, v in m.items()))' "$3" "$4" "$1" "$line"
}

for k in $(seq 0 $((N - 1))); do
  seed=$((SEED0 + k))
  if ((k % 2 == 0)); then
    run parent "$PARENT" "$k" "$seed"; run change "$CHANGE" "$k" "$seed"
  else
    run change "$CHANGE" "$k" "$seed"; run parent "$PARENT" "$k" "$seed"
  fi
done

python3 - "$RESULTS" "$CHANGE/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = {}
for row in open(sys.argv[1]):
    pair, _, side, line = row.rstrip("\n").split("\t", 3)
    runs.setdefault(side, {})[int(pair)] = json.loads(line)["metrics"]
pairs = sorted(set(runs["parent"]) & set(runs["change"]))
print(f"\n{len(pairs)} pairs; median [q1, q3] per side; wins = pairs the change won, ties to neither")
for m in json.load(open(sys.argv[2]))["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    col = {s: [runs[s][p][name]["value"] for p in pairs] for s in ("parent", "change")}
    def stats(v):
        q1, _, q3 = statistics.quantiles(v, n=4, method="inclusive") if len(v) > 1 else (v[0],) * 3
        return statistics.median(v), q1, q3
    (pm, p1, p3), (cm, c1, c3) = stats(col["parent"]), stats(col["change"])
    wins = sum((c < p) if lower else (c > p) for p, c in zip(col["parent"], col["change"]))
    gap = (pm - cm) if lower else (cm - pm)
    print(f"{name:12s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} [{c1:.4g}, {c3:.4g}]  "
          f"wins {wins}/{len(pairs)}  change {100 * (cm - pm) / pm if pm else 0.0:+.1f}%  "
          f"gap/parent IQR {gap / (p3 - p1) if p3 > p1 else float('inf'):.2f}")
EOF
echo "logs: $LOGS"
