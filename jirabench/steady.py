"""Steadiness check: run every workload many times, each with its own
seed, and report each end-to-end metric's median and quartiles against the
bound BENCHMARK.json gives it.

    python3 jirabench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b]

The spread is (Q3 - Q1) / median over the runs, with quartiles as Python's
statistics.quantiles(values, n=4) gives them. A metric is steady when its
spread is below a third of its bound (setup_s is reported but not held to
it: each run times one cold set-up). The share of failed operations must
be the same in every run. Also reports each run's wall time, which bounds
how long a full set of runs takes.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    steady = True
    for w in a.workloads.split(","):
        values, shares, walls = {}, set(), []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            r = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}")
                steady = False
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                print(f"{w} seed {seed}: outputs not correct")
                steady = False
            shares.add(res["failed"] / res["attempted"])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n{w}: {a.runs} runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed share {sorted(shares)}")
        if len(shares) > 1:
            steady = False
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            bound = bounds.get(k)
            ok = k == "setup_s" or (bound is not None and spread < bound / 3)
            steady &= ok
            print(f"  {k:12s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {spread:6.3f}  bound {bound}  {'ok' if ok else 'WIDE'}")
    print("\nsteady" if steady else "\nNOT steady")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
