"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload lloyd --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the harness if
needed (perfbench/build.py), times SparkSession set-up in fresh JVMs,
runs the harness JVM (perfbench/src/perfbench/Harness.scala), checks
its ops and prints one JSON object as the last line of stdout: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A fuller record of the run (sample counts, per-op host context, span
self times) is written to result.json in the run's work directory.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent

# One op = one closed-loop unit of work from a single client. `warmup` is
# the ops run after the cold one before measuring starts; `op_s` is the
# warm op time on a 4-vCPU host, which turns --seconds into a fixed count
# of measured ops: the window is a fixed range of op indices, whatever
# the host's speed.
WORKLOADS = {
    # ReferencePipeline: points.txt -> bbox -> init -> Lloyd -> centroids.txt + KV files
    "lloyd": {"points": 100_000, "k": 16, "iters": 5, "warmup": 3, "op_s": 2.6},
    # KMeansND.fit on a parquet of 64-dim vectors
    "lloyd_nd": {"points": 200_000, "k": 16, "iters": 3, "dim": 64, "warmup": 4, "op_s": 2.3},
}
HARNESS_PARAMS = ("points", "k", "iters", "dim", "warmup")
SETUP_PROBES = 1        # set-up-only JVMs per run, besides the harness JVM
HEAP = "2g"             # -Xms = -Xmx
JVM_LIMIT_S = 150       # a harness JVM running longer than this is killed

JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# metric names and units, as declared to the benchmark's users
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
# public calls timed as call spans
CALLS = ["TextFormats.readPointsCsv", "Recenter.bbox", "Centroids.randomInit",
         "KMeansLoop.fit", "TextFormats.writeCentroidsCsv", "TextFormats.writeKvText",
         "Centroids.randomInitND", "KMeansND.fit"]
FITS = ["KMeansLoop.fit", "KMeansND.fit"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def measured_ops(workload, seconds) -> int:
    return max(3, round(seconds / WORKLOADS[workload]["op_s"]))


class Jvm:
    """A harness JVM; `ready_s` is the time from launch to its READY line.
    A watchdog kills it after JVM_LIMIT_S."""

    def __init__(self, cp, args, work):
        t0 = time.monotonic()
        self.proc = subprocess.Popen(
            ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
             "perfbench.Harness", *args],
            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
        self.watchdog = threading.Timer(JVM_LIMIT_S, self.proc.kill)
        self.watchdog.start()
        self.ready_s = None
        for line in self.proc.stdout:
            if line.strip() == "READY":
                self.ready_s = time.monotonic() - t0
                break
            sys.stderr.write(line)

    def stop(self):
        """Kills the JVM if it still runs and waits for it; returns its exit code."""
        self.watchdog.cancel()
        self.proc.kill()
        return self.proc.wait()

    def wait(self):
        for line in self.proc.stdout:
            sys.stderr.write(line)
        code = self.proc.wait()
        self.watchdog.cancel()
        if code != 0 or self.ready_s is None:
            raise SystemExit(f"perfbench: harness JVM failed (exit {code}; "
                             f"killed after {JVM_LIMIT_S} s if -9)")


def union_s(intervals):
    """Total length in seconds of the union of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def clip(span, lo, hi):
    return max(span["start"], lo), min(span["end"], hi)


def layer_metrics(ops, spans):
    """Per-layer metrics of each measured op (name -> list of values) and
    the median self time per span name."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def self_s(span):
        kids = [clip(c, span["start"], span["end"]) for c in children.get(span["id"], [])]
        return (span["end"] - span["start"]) / 1000.0 - union_s([k for k in kids if k[1] > k[0]])

    per, selfs = {}, {}
    for o in ops:
        if o["phase"] != "measured":
            continue
        ss = by_op.get(o["op"], [])
        op_span = next(s for s in ss if s["kind"] == "op")
        lo, hi = op_span["start"], op_span["end"]
        calls = {s["name"]: s for s in ss if s["kind"] == "call"}
        jobs = [s for s in ss if s["kind"] == "job"]
        stages = [s for s in ss if s["kind"] == "stage"]
        qes = [s for s in ss if s["kind"] == "qe"]
        iters = o["iterations"]
        fit = next((calls[f] for f in FITS if f in calls), None)
        fit_jobs = [j for j in jobs if fit and j["parent"] == fit["id"]]
        job_wall = union_s([clip(j, lo, hi) for j in jobs])
        m = {f"{c}_s": (calls[c]["end"] - calls[c]["start"]) / 1000.0 if c in calls else 0.0
             for c in CALLS}
        for f in FITS:
            it = iters if f in calls else 0
            m[f"{f.split('.')[0]}.iterations"] = it
            m[f"{f}_per_iter_s"] = m[f"{f}_s"] / it if it else 0.0
        m.update({
            "catalyst.analysis_s": sum(q["analysis_ms"] for q in qes) / 1000.0,
            "catalyst.optimization_s": sum(q["optimization_ms"] for q in qes) / 1000.0,
            "catalyst.planning_s": sum(q["planning_ms"] for q in qes) / 1000.0,
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": sum(s["tasks"] for s in stages),
            "scheduler.jobs_per_iter": len(fit_jobs) / iters if iters else 0.0,
            "scheduler.job_wall_s": job_wall,
            "driver.gap_s": (hi - lo) / 1000.0 - job_wall,
            "driver.gap_per_iter_s": self_s(fit) / iters if fit and iters else 0.0,
            "executor.run_s": sum(s["run_ms"] for s in stages) / 1000.0,
            "executor.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spill.bytes": sum(s["spill_bytes"] for s in stages),
            "jvm.gc_s": o["gc_s"],
            "host.steal_s": o["steal_s"],
            "host.loadavg1": o["loadavg1"],
            "trace.warm_s": o["wall_s"],
        })
        for k, v in m.items():
            per.setdefault(k, []).append(v)
        for s in ss:
            if s["kind"] in ("op", "call"):
                selfs.setdefault(s["name"], []).append(self_s(s))
    return per, {k: statistics.median(v) for k, v in selfs.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build.ensure_built()
    work = build.build_dir() / f"run-{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "out"
    (work / "tmp").mkdir(parents=True)
    out.mkdir()
    base = ["--work", str(work), "--cores", str(cores())]

    params = [x for k, v in WORKLOADS[a.workload].items() if k in HARNESS_PARAMS
              for x in (f"--{k}", str(v))]
    jvm = Jvm(cp, base + ["--workload", a.workload, "--seed", str(a.seed),
                          "--measure", str(measured_ops(a.workload, a.seconds)),
                          "--trace", str(a.trace), "--out", str(out)] + params, work)
    try:
        jvm.wait()
    finally:
        jvm.stop()
    # set-up samples are spread over the run (the harness JVM first, the
    # probes after it), so their median averages the host's speed over time
    setups = [jvm.ready_s]
    for _ in range(SETUP_PROBES):
        probe = Jvm(cp, base + ["--probe", "1"], work)
        probe.stop()  # set-up is timed; its teardown is not needed
        if probe.ready_s is None:
            raise SystemExit("perfbench: set-up probe JVM failed")
        setups.append(probe.ready_s)

    ops = [json.loads(l) for l in (out / "ops.jsonl").read_text().splitlines()]
    run = json.loads((out / "run.json").read_text())
    measured = [o["wall_s"] for o in ops if o["phase"] == "measured"]
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        print(f"perfbench: op {o['op']} ({o['phase']}) failed: {o['why']}", file=sys.stderr)
    e2e = {"setup_s": statistics.median(setups), "cold_s": ops[0]["wall_s"],
           "warm_s": statistics.median(measured), "peak_rss_mb": run["peak_rss_mb"],
           "ok_ratio": (len(ops) - len(failed)) / len(ops)}
    samples = {"setup_s": len(setups), "cold_s": 1, "warm_s": len(measured),
               "peak_rss_mb": 1, "ok_ratio": len(ops)}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores(),
              "params": WORKLOADS[a.workload], "e2e": e2e, "samples": samples,
              "setup_samples_s": setups, "prepare_s": run["prepare_s"], "ops": ops}
    if a.trace:
        spans = [json.loads(l) for l in (out / "spans.jsonl").read_text().splitlines()]
        per, selfs = layer_metrics(ops, spans)
        record["layers"] = {k: statistics.median(v) for k, v in per.items()}
        record["layer_samples"] = len(measured)
        record["self_s"] = selfs
        values, declared = record["layers"], SPEC["per_layer"]
    else:
        values, declared = e2e, SPEC["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    (work / "result.json").write_text(json.dumps(record, indent=1))
    print(f"perfbench: {a.workload} seed={a.seed} ops={len(ops)} measured={len(measured)} "
          f"failed={len(failed)} setup={setups}", file=sys.stderr)
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
