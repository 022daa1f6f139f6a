#!/usr/bin/env python3
"""Run the benchmark once per seed and report how much each metric spreads.

    python3 perfbench/steadiness.py --workload ops_dedup --seeds 1-10 [--trace 0]

For every metric it prints the median of the runs and the distance between
the first and third quartile (statistics.quantiles(values, n=4)) as a share
of the median, next to the metric's bound from BENCHMARK.json. Raw results
are appended as JSON lines to --out. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / q2 if q2 else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--out", default=os.path.join(REPO, ".bench_build", "steadiness.jsonl"))
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", a.trace],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            result = None
        rec = {"workload": a.workload, "seed": seed, "trace": a.trace,
               "exit": p.returncode, "wall_s": round(time.time() - t0, 1),
               "result": result}
        with open(a.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        runs.append(rec)
        ok = result is not None and result["correct"] and p.returncode == 0
        print("seed %d: exit %d, %s, %.0f s" % (seed, p.returncode,
              "correct" if ok else "NOT CORRECT", rec["wall_s"]), flush=True)
    good = [r["result"] for r in runs if r["result"]]
    if len(good) < 2:
        sys.exit("fewer than two results")
    print("%-40s %14s %8s %8s" % ("metric", "median", "spread", "bound"))
    for name in good[0]["metrics"]:
        vals = [g["metrics"][name]["value"] for g in good]
        med, sp = spread(vals)
        b = bounds.get(name)
        print("%-40s %14.6g %8.4f %8s" % (name, med, sp, "-" if b is None else b))
    print("mean wall per run: %.1f s" % statistics.mean(r["wall_s"] for r in runs))


if __name__ == "__main__":
    main()
