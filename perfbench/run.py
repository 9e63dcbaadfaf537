#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark driver from source (first run only),
generates the seeded inputs, starts one JVM on local[nproc] that warms up on
inputs of its own and then runs the workload's closed loop, checks every
op's output against an independent computation, and prints one JSON object
as the last line of standard output:

    {"correct": true, "attempted": 25, "failed": 0, "metrics": {...}}

The loop's work is fixed (every generated ETL batch; four passes over the
corpus queries), so it does not grow or shrink with the program's speed.
`--seconds` is the loop time that work is sized for: a loop that takes
longer is flagged on standard error and in `report.json` (`loop_s`,
`loop_over_seconds`), and its metrics are still reported.

`--trace 0` reports the end-to-end metrics; `--trace 1` runs with spans and
a Spark listener and reports the per-layer metrics, writing `spans.jsonl`
and `trace_summary.json` (per-layer self times) into the run directory
under `perfbench/.out/runs/`. Exit status is 0 only when every op's output
was correct. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_ingest", "corpus_curate")
# A fixed heap and young generation, so peak RSS tracks what the program
# keeps live rather than how far the collector chose to grow the heap.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
# Wall-clock budget of one run once the program is built.
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit():
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    top_is_root = len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT)
    return out[1] if top_is_root else None


def jvm(cp: str, work: str, argv: list, deadline: float) -> float:
    """Run the driver JVM in `work`; returns its launch time (epoch seconds)."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = (["java"] + JVM_MEMORY + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + ADD_OPENS + ["-cp", cp, "graftbench.Main", "--work", work] + argv)
    with open(f"{work}/jvm.log", "w") as log:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run: JVM exceeded the {RUN_LIMIT_S} s budget (log: {work}/jvm.log)")
    if code != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"run: JVM exited with {code}")
    return launched


def inputs_for(workload: str, seed: int, scale: float) -> tuple:
    """Generated inputs (cached per workload, seed and scale: the same seed
    gives byte-identical files). Returns (dir, generation seconds)."""
    d = f"{OUT}/inputs/{workload}-seed{seed}-scale{scale:g}"
    if os.path.exists(f"{d}/manifest.json"):
        return d, 0.0
    t = time.monotonic()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.generate(workload, seed, tmp, scale)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, time.monotonic() - t


def read_spans(path: str) -> list:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one graft benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    phases = {"start": time.monotonic()}
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("run: the library's sources (src/main/scala) are not in this checkout")
    host = {"loadavg_launch": loadavg(), "nproc": nproc(), "jvm_memory": JVM_MEMORY, "commit": git_commit()}
    os.makedirs(OUT, exist_ok=True)
    with open(f"{OUT}/build.log", "a") as log:
        cp = build.build(log)
    host["source_sha256"] = build.source_hash(build.sources())
    phases["built"] = time.monotonic()
    scale = gen.DEFAULT_SCALE[a.workload]
    inputs, gen_s = inputs_for(a.workload, a.seed, scale)
    manifest = json.load(open(f"{inputs}/manifest.json"))
    phases["inputs"] = time.monotonic()

    work = f"{OUT}/runs/{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.monotonic() + RUN_LIMIT_S
    argv = ["--workload", a.workload, "--inputs", inputs, "--seed", str(a.seed),
            "--cores", str(nproc()), "--trace", str(a.trace)]
    host["loadavg_start"] = loadavg()

    launched = jvm(cp, work, argv, deadline)
    phases["run"] = time.monotonic()
    result = json.load(open(f"{work}/result.json"))
    setup_s = result["first_op_epoch_s"] - launched
    host["loadavg_end"] = loadavg()

    # output checks
    landing = {}
    if a.workload == "etl_ingest":
        failures, landing = check.check_etl(result, inputs, work)
    else:
        failures = check.check_queries(result, inputs, work)
    if a.workload == "corpus_curate":
        stream_bad, landing = check.check_stream(result, inputs, work)
        failures.update(stream_bad)
    for o in result["ops"]:
        if o.get("error"):
            failures.setdefault(o["index"], []).append(o["error"])
    attempted = len(result["ops"])
    phases["checked"] = time.monotonic()

    e2e = metrics.end_to_end(a.workload, result, manifest, setup_s)
    loop_s = result["extra"]["loop_s"]
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "loop_s": loop_s, "loop_over_seconds": loop_s > a.seconds,
              "scale": scale, "host": host, "input_gen_s": gen_s,
              "end_to_end": e2e, "failures": {str(k): v for k, v in sorted(failures.items())},
              "failed_ops_ratio": metrics.failed_ops_ratio(result["ops"], failures),
              "asset_builds_s": result["asset_builds_s"],
              "phases_s": {k: v - phases["start"] for k, v in phases.items()}}
    shown = e2e
    if a.trace:
        spans = read_spans(f"{work}/spans.jsonl")
        shown = metrics.per_layer(a.workload, result, manifest, spans, landing, failures,
                                  result["cores"])
        summary = {"self_times": metrics.self_times(spans), "per_layer": shown}
        untraced = f"{OUT}/runs/{a.workload}-seed{a.seed}-trace0/report.json"
        if os.path.exists(untraced):
            base = json.load(open(untraced))["end_to_end"]["op_p50_s"]
            summary["overhead_vs_untraced"] = {
                "untraced_op_p50_s": base, "traced_op_p50_s": shown["trace.op_p50_s"],
                "ratio": shown["trace.op_p50_s"] / base - 1.0}
        with open(f"{work}/trace_summary.json", "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        report["per_layer"] = shown
        report["trace_summary"] = f"{work}/trace_summary.json"
    with open(f"{work}/report.json", "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)

    units = metrics.PER_LAYER_UNITS if a.trace else metrics.END_TO_END_UNITS
    for name, unit in units.items():
        print(f"{name:40s} {shown[name]:.6g} {unit}", file=sys.stderr)
    for idx, msgs in sorted(failures.items()):
        print(f"FAILED op {idx}: {'; '.join(msgs)}", file=sys.stderr)
    print(f"host {json.dumps(host)}", file=sys.stderr)
    if loop_s > a.seconds:
        print(f"note: the loop took {loop_s:.1f} s, more than --seconds {a.seconds:g}",
              file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()}}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
