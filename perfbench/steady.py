#!/usr/bin/env python3
"""Run one workload repeatedly and report each metric's spread.

    python3 perfbench/steady.py --workload analytics --runs 10 \
        [--first-seed 1] [--seconds 12] [--trace 0]

Each run uses the next seed. For every metric the script prints the
median, the first and third quartiles (Python's
statistics.quantiles(values, n=4)) and the spread, the distance between
the quartiles as a share of the median. For an end-to-end metric it also
prints the bound from BENCHMARK.json and, except for setup_s, whether
the spread stays within a third of it. The runs' result lines are
appended to --log (JSON lines), so two sets of runs can be compared
afterwards.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", default=os.path.join(HERE, "work", "steady.jsonl"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(a.log), exist_ok=True)

    results = []
    for i in range(a.runs):
        seed = a.first_seed + i
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed with exit code {r.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        results.append(res)
        with open(a.log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, "trace": a.trace,
                                "wall_s": wall, "result": res}) + "\n")
        print(f"seed {seed}: {wall:.0f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", file=sys.stderr)

    if len(results) < 2:
        sys.exit("fewer than two successful runs")
    print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, sp = spread(vals)
        b = bounds.get(name)
        # set-up time is gated on its median only, not on its spread
        flag = "" if b is None or name == "setup_s" else ("ok" if sp <= b / 3 else "WIDE")
        print(f"{name:36} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} "
              f"{'' if b is None else b:>6} {flag}")


if __name__ == "__main__":
    main()
