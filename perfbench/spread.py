#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics. From the repository root:

    python3 perfbench/spread.py --workloads crawl pipeline --seeds 1-10

Runs perfbench/run.py once per workload and seed (untraced), then prints,
per workload and end-to-end metric, the median, the quartiles as
statistics.quantiles(values, n=4) gives them, and the spread: the distance
between the quartiles as a share of the median, next to the metric's
bound in BENCHMARK.json. Results are appended to
.bench_build/spread.jsonl, one JSON line per run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seed_range, default=seed_range("1-10"))
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    log = os.path.join(".bench_build", "spread.jsonl")
    os.makedirs(".bench_build", exist_ok=True)
    for w in a.workloads:
        values = {}
        for seed in a.seeds:
            r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print("%s seed %d: failed (exit %d)" % (w, seed, r.returncode))
                continue
            res = json.loads(lines[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "result": res}) + "\n")
            if not res["correct"]:
                print("%s seed %d: outputs incorrect" % (w, seed))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for m in spec["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print("%-9s %-14s n=%2d median %12.4f q1 %12.4f q3 %12.4f spread %.4f bound %.2f" % (
                w, m["name"], len(xs), med, q1, q3, (q3 - q1) / med, m["bound"]))


if __name__ == "__main__":
    main()
