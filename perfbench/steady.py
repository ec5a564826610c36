#!/usr/bin/env python3
"""Steadiness runner: repeats workloads with different seeds and prints,
for each metric, the median, the quartiles and the spread
(q3 - q1) / median, next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py [workload ...] [--runs 10] [--trace 0|1 ...]

Run from the repository root. With no workload named it runs them all;
seeds are 1..runs. `--trace 0 1` runs an untraced and a traced set of each
workload and also prints the tracing overhead: the traced runs' median
pass wall (`trace.pass_wall_s`) minus the untraced runs' median `wall_s`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_set(bench, workload, runs, trace):
    """{metric: [value per run]}, operations failed, operations attempted."""
    values, failed, attempted = {}, 0, 0
    for seed in range(1, runs + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            print(f"{workload} seed {seed}: exit {r.returncode}")
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        failed += res["failed"]
        attempted += res["attempted"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    return values, failed, attempted


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, nargs="+", choices=[0, 1], default=[0])
    a = ap.parse_args()
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in names:
        sets = {}
        for trace in a.trace:
            values, failed, attempted = sets[trace] = run_set(bench, w, a.runs, trace)
            print(f"== {w} (trace {trace}): {a.runs} runs, "
                  f"{failed} of {attempted} operations failed")
            for k, vs in values.items():
                if len(vs) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vs, n=4)
                spread = (q3 - q1) / med if med else float("nan")
                b = bounds.get(k) if trace == 0 else None
                note = "" if b is None else f"  bound {b}  {'ok' if spread < b / 3 else 'WIDE'}"
                print(f"  {k:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                      f"spread {spread:7.4f}{note}")
        if 0 in sets and 1 in sets and sets[0][0].get("wall_s") and \
                sets[1][0].get("trace.pass_wall_s"):
            base = statistics.median(sets[0][0]["wall_s"])
            over = statistics.median(sets[1][0]["trace.pass_wall_s"]) - base
            print(f"== {w}: tracing overhead {over:.4f} s per pass ({over / base:+.1%})")


if __name__ == "__main__":
    main()
