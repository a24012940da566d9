#!/usr/bin/env python3
"""Steadiness check: runs one workload several times per set, each run on
another seed (or all on `--seed`), and compares the end-to-end metrics with
the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload etl_sync --runs 10 --sets 2
    python3 perfbench/steady.py --workload llm_prep --runs 3 --sets 2 --seed 97

For every metric it prints the median and the quartile spread (the distance
between the first and third quartile as a share of the median) of each set.
It fails when a spread other than setup_s's exceeds the metric's bound, or
when a later set's median is worse than the first set's by more than the
bound.
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
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first, later, better):
    """How much worse `later` is than `first`, as a share of `first`."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seed", type=int, help="run every run on this one seed")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    sets, ok = [], True
    for k in range(a.sets):
        values = {n: [] for n in spec}
        for r in range(a.runs):
            seed = a.seed if a.seed is not None else a.first_seed + k * a.runs + r
            t0 = time.time()
            out = subprocess.run(
                ["python3", *bench["command"][1:], "--workload", a.workload, "--seed",
                 str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if out.returncode != 0:
                print(f"set {k} seed {seed}: exited {out.returncode}", flush=True)
                ok = False
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"set {k} seed {seed}: {time.time() - t0:.1f} s, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{n}={res['metrics'][n]['value']:.6g}" for n in spec), flush=True)
            ok &= res["correct"]
            for n in spec:
                values[n].append(res["metrics"][n]["value"])
        sets.append(values)
    if any(len(s[n]) < 2 for s in sets for n in spec):
        sys.exit(1)
    for n, m in spec.items():
        meds = [statistics.median(s[n]) for s in sets]
        spreads = [spread(s[n]) for s in sets]
        drift = max([worse_by(meds[0], x, m["better"]) for x in meds[1:]], default=0.0)
        bad = drift > m["bound"] or (n != "setup_s" and max(spreads) > m["bound"])
        ok &= not bad
        print(f"{'FAIL' if bad else 'ok  '} {n:20s} bound {m['bound']:.3f}  medians "
              + " ".join(f"{x:.6g}" for x in meds) + "  spreads "
              + " ".join(f"{x:.4f}" for x in spreads) + f"  drift {drift:+.4f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
