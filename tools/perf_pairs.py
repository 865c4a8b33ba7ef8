#!/usr/bin/env python3
"""Compare two checkouts on the benchmark by alternating pairs of runs.

    python3 tools/perf_pairs.py --parent ../parent --change . \\
        --workload ts_read --seeds 311-314,321-326 [--json out.json]

Each side runs `perfbench/run.py` (untraced) from the root of its own
checkout for the parent's BENCHMARK.json `run_seconds`; nothing under
`perfbench/` is changed. Before the pairs, each checkout runs one throwaway
warm run per workload (seed 0), which compiles the harness and pays for the
class-data-sharing dump. Pair i runs
seed i on both sides, parent first on odd pairs and change first on even
ones. The script prints every run's end-to-end metrics and `attempted`,
then for each workload and metric the median and quartiles of each side,
the pairs the change won (ties count for neither), and a verdict:

  gain        at least 10 pairs ran, the change won at least 9/10 of them,
              the medians differ by more than the parent's quartile spread,
              and the change failed no more operations than the parent;
  unresolved  the parent's quartile spread, relative to its median, is
              wider than the metric's bound in BENCHMARK.json, and not
              every change run reads better than every parent run;
  worse       the change's median is worse than the parent's by more
              than the bound;
  no worse    otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

WARM_SEED = 0


def seeds_arg(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"perf_pairs: run failed in {checkout} ({workload}, seed {seed})")
    res = json.loads(lines[-1])
    return {"attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, bound, higher_better, more_failed):
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    better = (lambda c, p: c > p) if higher_better else (lambda c, p: c < p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    n = len(parent)
    worst_change = min(change) if higher_better else max(change)
    best_parent = max(parent) if higher_better else min(parent)
    separated = better(worst_change, best_parent)
    if (n >= 10 and wins * 10 >= 9 * n and abs(cmed - pmed) > pq3 - pq1
            and better(cmed, pmed) and not more_failed):
        word = "gain"
    elif not separated and pmed and (pq3 - pq1) / abs(pmed) > bound:
        word = "unresolved"
    elif pmed and (pmed - cmed if higher_better else cmed - pmed) / abs(pmed) > bound:
        word = "worse"
    else:
        word = "no worse"
    return wins, word


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="root of the parent checkout")
    ap.add_argument("--change", required=True, help="root of the changed checkout")
    ap.add_argument("--workload", action="append", required=True,
                    help="workload name; repeat for several")
    ap.add_argument("--seeds", type=seeds_arg, required=True,
                    help="seed list, e.g. 311-314,321-326: one pair per seed")
    ap.add_argument("--json", help="also write every run to this file")
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = []
    for w in a.workload:
        for side, root in sides.items():
            run(root, w, WARM_SEED, seconds)
            print(f"warm    {w:9} {side:6} seed {WARM_SEED} done", flush=True)
        for i, seed in enumerate(a.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run(sides[side], w, seed, seconds)
                r.update(workload=w, side=side, seed=seed, pair=i + 1)
                runs.append(r)
                vals = " ".join(f"{m['name']}={r['metrics'][m['name']]:g}" for m in metrics)
                print(f"pair {i + 1:2} {w:9} {side:6} seed {seed} attempted={r['attempted']} "
                      f"failed={r['failed']} {vals}", flush=True)

    print()
    print(f"{'workload':9} {'metric':13} {'parent median [Q1-Q3]':30} "
          f"{'change median [Q1-Q3]':30} {'delta':>8} {'wins':>6}  verdict")
    for w in a.workload:
        failed = {s: sum(r["failed"] for r in runs if r["workload"] == w and r["side"] == s)
                  for s in sides}
        for m in metrics:
            name = m["name"]
            # runs are recorded in pair order, so p[i] and c[i] are pair i
            p = [r["metrics"][name] for r in runs if r["workload"] == w and r["side"] == "parent"]
            c = [r["metrics"][name] for r in runs if r["workload"] == w and r["side"] == "change"]
            if len(p) < 2:
                continue
            wins, word = verdict(p, c, m["bound"], m["better"] == "higher",
                                 failed["change"] > failed["parent"])
            pq, cq = quartiles(p), quartiles(c)
            delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
            print(f"{w:9} {name:13} {pq[1]:10.4g} [{pq[0]:.4g}-{pq[2]:.4g}]".ljust(55) +
                  f"{cq[1]:10.4g} [{cq[0]:.4g}-{cq[2]:.4g}]".ljust(31) +
                  f"{delta:+7.1f}% {wins:>2}/{len(p):<3}  {word}")
        att = {s: [r["attempted"] for r in runs if r["workload"] == w and r["side"] == s]
               for s in sides}
        print(f"{w:9} attempted     parent {att['parent']} change {att['change']}; "
              f"failed ops parent {failed['parent']} change {failed['change']}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(runs, fh, indent=1)


if __name__ == "__main__":
    main()
