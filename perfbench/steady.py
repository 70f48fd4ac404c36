#!/usr/bin/env python3
"""Steadiness check: run sets of benchmark runs on the same code and compare.

    python3 perfbench/steady.py [--workloads ingest,curate] [--seeds 10] [--sets 2]

Each set runs every workload once per seed (a different seed each run,
untraced, `run_seconds` from BENCHMARK.json). For each workload and
end-to-end metric it prints every set's median and quartiles, the spread
(interquartile distance / median), whether the spread is within the
metric's bound, and whether the sets' medians differ by at most the bound
in either direction. Raw results go to
perfbench/target/steady-<time>.json. Exits 1 if any check fails.
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


def run(workload, seed, seconds, trace=0, lines=None):
    """One benchmark run; returns its result object, or None if it failed.
    Its other stdout lines are appended to `lines` when given."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        return None
    out = p.stdout.strip().split("\n")
    if lines is not None:
        lines += out[:-1]
    return json.loads(out[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seeds", type=int, default=10, help="runs per workload per set")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1000)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = p.parse_args()

    metrics = spec["end_to_end"]
    results = {}  # workload -> list of sets -> list of result objects
    ok = True
    for w in a.workloads.split(","):
        results[w] = []
        for s in range(a.sets):
            runs = []
            for i in range(a.seeds):
                seed = a.first_seed + 1000 * s + i
                t0 = time.time()
                lines = []
                r = run(w, seed, a.seconds, lines=lines)
                print(f"{w} set {s + 1} seed {seed}: {'failed' if r is None else 'ok'} in {time.time() - t0:.0f}s",
                      file=sys.stderr)
                if r is None or not r["correct"]:
                    ok = False
                if r is not None:
                    r["lines"] = [l for l in lines if l.startswith(("host ", "samples "))]
                    runs.append(r)
            results[w].append(runs)

    print(f"{'workload':8} {'metric':14} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} "
          f"{'bound':>6}  verdict")
    for w, sets in results.items():
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            medians = []
            for s, runs in enumerate(sets):
                xs = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
                if len(xs) < 2:
                    print(f"{w:8} {name:14} {s + 1:>3}  too few runs")
                    ok = False
                    continue
                q1, q2, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / q2 if q2 else float("inf")
                medians.append(q2)
                verdict = "steady" if spread <= bound / 3 else "within bound" if spread <= bound else "UNSTEADY"
                ok &= spread <= bound
                print(f"{w:8} {name:14} {s + 1:>3} {q2:12.6g} {q1:12.6g} {q3:12.6g} {spread:7.3f} {bound:6.2f}  {verdict}")
            if len(medians) >= 2:
                change = (medians[1] - medians[0]) / medians[0]
                agree = abs(change) <= bound
                ok &= agree
                print(f"{w:8} {name:14}     sets agree: {'yes' if agree else 'NO'} (second set median {change:+.3f} "
                      f"from the first, {'lower' if lower else 'higher'} is better)")
    out = os.path.join(HERE, "target", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"raw results: {out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
