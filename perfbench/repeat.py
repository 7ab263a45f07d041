#!/usr/bin/env python3
"""Repeat one workload N times and print each metric's median and quartiles.

    python3 perfbench/repeat.py --workload poll_cycle --runs 10
    python3 perfbench/repeat.py --workload sink_upsert --runs 10 --other ../parent

Run i uses seed (--seed0 + i). With --other, the same seeds also run in a
second checkout, alternating which side goes first in each pair, and the
summary is printed per side (A = this checkout, B = --other). The spread
column is (q3 - q1) / median, the figure BENCHMARK.json bounds. Every run
measures for BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(root, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def summarize(label, results):
    ok = [r for r in results if r is not None]
    print(f"== {label}: {len(ok)}/{len(results)} runs completed, "
          f"correct in {sum(1 for r in ok if r['correct'])}")
    if not ok:
        return
    shares = sorted({r["failed"] / r["attempted"] for r in ok})
    print(f"   failed share per run: {shares}")
    names = list(ok[0]["metrics"])
    print(f"   {'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for n in names:
        vs = [r["metrics"][n]["value"] for r in ok if n in r["metrics"]]
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        unit = ok[0]["metrics"][n]["unit"]
        print(f"   {n + ' [' + unit + ']':40s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--other", help="root of a second checkout to alternate with")
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    sides = {"A": root}
    if a.other:
        sides["B"] = os.path.abspath(a.other)
    results = {k: [] for k in sides}
    for i in range(a.runs):
        seed = a.seed0 + i
        order = list(sides) if i % 2 == 0 else list(reversed(list(sides)))
        for side in order:
            t0 = time.time()
            r = run_once(sides[side], a.workload, seed, seconds, a.trace)
            wall = time.time() - t0
            results[side].append(r)
            brief = "failed" if r is None else " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"[{side} seed={seed} wall={wall:.0f}s] {brief}", file=sys.stderr, flush=True)
    for side in sides:
        summarize(f"{side} {sides[side]} {a.workload} trace={a.trace}", results[side])


if __name__ == "__main__":
    main()
