#!/usr/bin/env python3
"""Count the child processes one benchmark run starts, by command and caller.

    python3 tools/fork_census.py --workload ts_ingest --seed 5 [--json out.json]

Run from the root of a checkout. The script compiles the harness (see
perfbench/build.py), then runs `perfbench/run.py` for one workload and seed
with a flight recording of `jdk.ProcessStart` events (and their stacks)
passed through `JAVA_TOOL_OPTIONS`, so nothing under `perfbench/` changes.
If the checkout has no class-data-sharing archive for the workload yet, one
short plain run makes it first, so the recorded run neither dumps one nor
leaves one made under the recorder. It prints the process starts counted by
command (the program's base name) and by caller: the first frame of the
library (`graft.`) on the starting thread's stack, else its first frame of
Spark (`org.apache.spark.`) outside Spark's file and shell helpers. The
recording stays in `.bench_build/`.
"""
import argparse
import collections
import glob
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import build  # noqa: E402

# Only the event this census reads, with its stack.
SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="fork census">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
</configuration>
"""
CALLER_PREFIXES = ("graft.", "org.apache.spark.")
# Spark's file and shell helpers: the caller is the frame below them.
SPARK_HELPERS = ("org.apache.spark.util.", "org.apache.spark.network.util.")


def run_bench(workload, seed, seconds, env=None):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"fork_census: run failed ({workload}, seed {seed})")
    return json.loads(lines[-1])


def caller(frames):
    """The first library frame of a stack, else its first Spark frame
    outside Spark's helpers."""
    names = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
             for f in frames]
    names = [n for n in names if not n.startswith(SPARK_HELPERS)]
    for prefix in CALLER_PREFIXES:
        for name in names:
            if name.startswith(prefix):
                return name
    return "(no library or Spark frame)"


def census(jfr_file):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ProcessStart", jfr_file],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    by_command, by_caller = collections.Counter(), collections.Counter()
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        command = os.path.basename(v["command"].split(" ", 1)[0])
        by_command[command] += 1
        stack = v.get("stackTrace") or {}
        by_caller[(command, caller(stack.get("frames") or []))] += 1
    return by_command, by_caller


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ts_read", "ts_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--json", help="also write the counts to this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    _, stamp = build.ensure(ROOT)
    base = build.out_dir(ROOT)
    if not glob.glob(os.path.join(base, f"cds-{a.workload}-{stamp}.jsa")):
        print("fork_census: warm run (class-data-sharing dump)", file=sys.stderr, flush=True)
        run_bench(a.workload, 0, 5)

    settings = os.path.join(base, "fork_census.jfc")
    with open(settings, "w") as fh:
        fh.write(SETTINGS)
    jfr_file = os.path.join(base, f"fork_census-{a.workload}-{a.seed}.jfr")
    if os.path.exists(jfr_file):
        os.remove(jfr_file)
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"),
        "-XX:FlightRecorderOptions=stackdepth=256",
        f"-XX:StartFlightRecording=settings={settings},filename={jfr_file},dumponexit=true"]))
    res = run_bench(a.workload, a.seed, seconds, env)
    by_command, by_caller = census(jfr_file)

    total = sum(by_command.values())
    print(f"{a.workload} seed {a.seed}: {total} process starts, "
          f"{res['attempted']} ops attempted, {res['failed']} failed, recording {jfr_file}")
    print("\nby command:")
    for command, n in by_command.most_common():
        print(f"  {n:7d}  {command}")
    print("\nby command and caller (first library frame, else first Spark frame):")
    for (command, frame), n in by_caller.most_common():
        print(f"  {n:7d}  {command:10s} {frame}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "total": total,
                       "attempted": res["attempted"], "failed": res["failed"],
                       "by_command": dict(by_command),
                       "by_caller": [{"command": c, "frame": f, "count": n}
                                     for (c, f), n in by_caller.most_common()]}, fh, indent=1)


if __name__ == "__main__":
    main()
