"""Prints every metric of the benchmark by name, with unit and sample
count, and checks the outputs.

    python3 perfbench/report.py [--workload lloyd ...] [--seed 1] [--seconds 12]

Run from the repository root. For each workload it makes one untraced
run (end-to-end metrics) and one traced run (per-layer metrics, span
self times) with the same seed, through perfbench/run.py, and reports
the tracing overhead: the traced median op time against the untraced
warm_s. Exits 1 when any op's output check failed.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(Path(run.__file__)), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if done.returncode != 0:
        raise SystemExit(f"report: {' '.join(cmd)} exited {done.returncode}")
    line = json.loads(done.stdout.strip().splitlines()[-1])
    record = json.loads((build.build_dir() / f"run-{workload}" / "result.json").read_text())
    return line, record


def table(rows):
    for name, value, unit, n in rows:
        print(f"  {name:34s} {value:>14.6g} {unit:6s} n={n}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run.SPEC["run_seconds"])
    a = ap.parse_args()
    all_ok = True
    for w in a.workload or sorted(run.WORKLOADS):
        plain, rec = one_run(w, a.seed, a.seconds, 0)
        traced, trec = one_run(w, a.seed, a.seconds, 1)
        print(f"== {w}  seed={a.seed}  cores={rec['cores']}  params={rec['params']}")
        for name, line, r in (("untraced", plain, rec), ("traced", traced, trec)):
            bad = [o for o in r["ops"] if not o["ok"]]
            print(f"  check ({name} run): {line['attempted'] - line['failed']}/{line['attempted']}"
                  f" ops correct" + "".join(f"\n    op {o['op']}: {o['why']}" for o in bad))
            all_ok &= line["correct"]
        print("end-to-end (untraced run):")
        table((k, v["value"], v["unit"], rec["samples"][k]) for k, v in plain["metrics"].items())
        print("per-layer (traced run, median over measured ops):")
        table((k, v["value"], v["unit"], trec["layer_samples"])
              for k, v in traced["metrics"].items())
        print("self time per span (median over measured ops, s):")
        for k, v in sorted(trec["self_s"].items()):
            print(f"  {k:34s} {v:>14.6g}")
        untraced_warm = plain["metrics"]["warm_s"]["value"]
        traced_warm = traced["metrics"]["trace.warm_s"]["value"]
        print(f"tracing overhead: traced op {traced_warm:.4f} s vs untraced warm_s "
              f"{untraced_warm:.4f} s = {100 * (traced_warm / untraced_warm - 1):+.1f}%")
        host = [o for o in rec["ops"] if o["phase"] == "measured"]
        print(f"host during measured ops (untraced): steal median "
              f"{statistics.median(o['steal_s'] for o in host):.3f} s/op, max "
              f"{max(o['steal_s'] for o in host):.3f}; loadavg1 median "
              f"{statistics.median(o['loadavg1'] for o in host):.2f}\n")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
