#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload ts_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the library and
the harness (see build.py). The harness generates the workload's inputs
from the seed under `.bench_build/work/`, runs a closed loop with one
client on `local[N]` (N = usable CPUs) for `--seconds`, checks every
result, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones of BENCHMARK.json. The line before it holds the details of
the run: per-operation p50/p90, set-up parts, the calibration probe before
and after the loop, and the input hash. A traced run also keeps its spans
in `.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ts_read", "ts_ingest")
HEAP = "2g"
# A run must end within 180 s; leave room for the exit.
JVM_TIMEOUT_S = 165

# What Spark 4 on JDK 17 needs when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(root, jar, archive, work, args):
    # Huge pages for the heap where the kernel offers them on request: with
    # 4 KB pages three runs of one seed measured 124-165 ms a read (most
    # likely TLB misses on the 2 GB heap); with huge pages four seeds
    # measured 121-130 ms.
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseTransparentHugePages", "-Xss8m",
           "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC"]
    # Class-data sharing: the first run of a workload in a checkout dumps
    # the classes it loaded; later runs map them instead of loading them,
    # which takes about 3 s off the session start and the first build.
    fresh = not os.path.exists(archive)
    cmd.append(f"-XX:ArchiveClassesAtExit={archive}.tmp" if fresh
               else f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([jar] + build.spark_jars(root)), "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: harness timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: harness failed (exit {proc.returncode})")
    if fresh and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    jar, stamp = build.ensure(root)
    bench = spec()
    base = build.out_dir(root)
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    try:
        archive = os.path.join(base, f"cds-{a.workload}-{stamp}.jsa")
        res = run_jvm(root, jar, archive, work, [a.workload, str(a.seed), str(a.seconds),
                                      str(a.trace), work, str(cpus)])
        if a.trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = bench["per_layer" if a.trace else "end_to_end"]
    measured = res["per_layer" if a.trace else "end_to_end"]
    if {m["name"] for m in declared} != set(measured) or None in measured.values():
        raise SystemExit("perfbench: measured metrics do not match BENCHMARK.json")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"perfbench": {
        "workload": a.workload, "seed": a.seed, "input_hash": res["input_hash"],
        "ops": res["ops"], "detail": res["detail"],
        "errors": res["errors"]}}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
