#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end metrics, same seeds.

    python3 perfbench/overhead.py [--workloads ingest,curate] [--seeds 3]

For each workload and seed it makes one untraced and one traced run (the
traced run prints its own end-to-end numbers on its `traced_e2e` line) and
prints, per metric, the median over seeds of untraced, traced and the
difference.
"""
import argparse
import json
import os
import statistics
import sys

from steady import ROOT, run


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seeds", type=int, default=3)
    p.add_argument("--first-seed", type=int, default=5000)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = p.parse_args()
    names = [m["name"] for m in spec["end_to_end"]]
    print(f"{'workload':8} {'metric':14} {'untraced':>12} {'traced':>12} {'traced-untraced':>16}")
    for w in a.workloads.split(","):
        plain, traced = {n: [] for n in names}, {n: [] for n in names}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            r0 = run(w, seed, a.seconds, trace=0)
            lines = []
            r1 = run(w, seed, a.seconds, trace=1, lines=lines)
            e2e = [json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("traced_e2e ")]
            if r0 is None or r1 is None or not e2e:
                print(f"{w} seed {seed}: run failed", file=sys.stderr)
                continue
            for n in names:
                plain[n].append(r0["metrics"][n]["value"])
                traced[n].append(e2e[0][n])
        for n in names:
            if plain[n]:
                u, t = statistics.median(plain[n]), statistics.median(traced[n])
                print(f"{w:8} {n:14} {u:12.6g} {t:12.6g} {t - u:+16.6g}")


if __name__ == "__main__":
    main()
