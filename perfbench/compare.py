#!/usr/bin/env python3
"""Runs two sets of benchmark runs of the same tree and compares them
within the bounds of BENCHMARK.json.

    python3 perfbench/compare.py                 # every workload, 10 seeds
    python3 perfbench/compare.py --workloads capture_scan --seeds 5

Each set runs seeds 1 to --seeds on each workload. For each workload, set
and end-to-end metric it prints the median and the spread (interquartile
distance over the median, as `statistics.quantiles(values, n=4)` gives
it). A set passes when every spread is within the metric's bound; two
sets agree when no metric's second median is worse than the first by
more than the bound and the share of failed steps is the same.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit("%s seed %d failed" % (workload, seed))
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    a = ap.parse_args()
    metrics = bench["end_to_end"]
    ok = True
    raw = {}
    for w in a.workloads.split(","):
        sets = []
        for s in range(2):
            runs = []
            for seed in range(1, a.seeds + 1):
                runs.append(one(w, seed, bench["run_seconds"]))
            sets.append(runs)
        raw[w] = sets
        for m in metrics:
            meds = []
            for s, runs in enumerate(sets):
                xs = [r["metrics"][m["name"]]["value"] for r in runs]
                sp = spread(xs)
                meds.append(statistics.median(xs))
                within = sp <= m["bound"]
                ok &= within
                print("%-18s %-10s set %d median %10.4f %-5s spread %.4f "
                      "(bound %.2f, target < %.4f)%s" % (
                          w, m["name"], s + 1, meds[-1], m["unit"], sp,
                          m["bound"], m["bound"] / 3,
                          "" if within else "  OUT OF BOUND"))
            if len(meds) > 1:
                worse = (meds[1] / meds[0] - 1) if m["better"] == "lower" \
                    else (meds[0] / meds[1] - 1)
                agree = worse <= m["bound"]
                ok &= agree
                print("%-18s %-10s second set worse by %+.4f%s" % (
                    w, m["name"], worse, "" if agree else "  OUT OF BOUND"))
        shares = [sum(r["failed"] for r in runs) /
                  sum(r["attempted"] for r in runs) for runs in sets]
        print("%-18s failed share per set %s" % (w, shares))
        ok &= len(set(shares)) == 1
    with open(os.path.join(HERE, ".state", "compare.json"), "w") as f:
        json.dump(raw, f)
    print("PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
