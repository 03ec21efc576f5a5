#!/usr/bin/env python3
"""Run-to-run spread of the conversion benchmark.

    python3 convbench/spread.py --runs 10 [--workloads uniform,cli_ttl]
                                [--first-seed 1] [--seconds 10] [--trace 0]

Runs convbench/run.py once per (seed, workload), with the workloads
round-robin inside each seed so that host drift hits all of them alike, then
prints for every metric of every workload the median of its values, their
quartiles and the quartile distance as a share of the median, next to the
metric's bound from BENCHMARK.json.
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


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="default: those in BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]

    values = {w: {} for w in workloads}
    walls = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        for w in workloads:
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(seconds),
                                  "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.exit("run failed (%s, seed %d):\n%s" % (w, seed, out.stderr[-3000:]))
            result = json.loads(out.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                sys.exit("incorrect output (%s, seed %d):\n%s" % (w, seed, out.stdout[-3000:]))
            for name, m in result["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])
            probes = [l.split() for l in out.stdout.splitlines() if l.startswith("  host ")]
            print("seed %d %-8s %5.1f s  %s  [%s]" % (seed, w, walls[-1], " ".join(
                "%s=%.4g" % (n, m["value"]) for n, m in result["metrics"].items()), " ".join(
                p for p in (probes[0] if probes else []) if p.startswith(("probe_", "window.")))), flush=True)

    print("\nper run: median %.1f s, max %.1f s, total %.0f s" % (
        statistics.median(walls), max(walls), sum(walls)))
    for w in workloads:
        for name, xs in values[w].items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            print("%-8s %-24s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.3f%s" % (
                w, name, med, q1, q3, spread, "" if bound is None else " (bound %.2f)" % bound))


if __name__ == "__main__":
    main()
