#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule for
this benchmark measures it: for each workload, run the benchmark once per
seed, and report per metric the median and the distance between the first
and third quartile (statistics.quantiles, n=4) as a share of the median,
next to the metric's bound from BENCHMARK.json.

Usage, from the repository root:
    python3 perfbench/spread.py [--seeds 1-10] [--workloads a,b] [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        walls = []
        for s in seeds:
            t0 = time.time()
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            try:
                res = json.loads(last)
            except ValueError:
                print(f"{w} seed {s}: no result (exit {r.returncode})\n{r.stderr[-2000:]}")
                continue
            if not res["correct"]:
                print(f"{w} seed {s}: INCORRECT failed={res['failed']}/{res['attempted']}")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {s}: {walls[-1]:.1f} s  " +
                  "  ".join(f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        report[w] = {"wall_s": walls, "values": values}
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= bounds[m] / 3 else ("  > bound/3" if spread <= bounds[m] else "  > BOUND")
            print(f"  {w:<14} {m:<10} median {med:10.4g}  spread {spread:6.3f}  bound {bounds[m]}{flag}")
        print(f"  {w:<14} run wall median {statistics.median(walls):.1f} s, total {sum(walls):.0f} s",
              flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
