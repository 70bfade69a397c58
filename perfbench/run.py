#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark (perfbench/build.py), then runs one
workload in one JVM at local[<cores>] with a heap sized from /proc/meminfo.
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything the run writes stays under .bench_build/ in the current
directory. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
WORKLOADS = ("crawl", "pipeline")


def run_jvm(main_class, args, tmp):
    build.build()
    proc = subprocess.Popen(build.java_command(main_class, args, tmp, "use"),
                            stdout=subprocess.PIPE, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: JVM exceeded %ds" % JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def declared_metrics(trace):
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    tmp = os.path.join(root, ".bench_build", "tmp", "run-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.selftest:
            code, out = run_jvm("perfbench.SelfTest", ["--tmp", tmp], tmp)
            sys.stdout.write(out)
            sys.exit(code)
        t0 = time.time()
        code, out = run_jvm("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(build.cores()), "--repo", root,
            "--tmp", tmp, "--trace-out", os.path.join(root, ".bench_build", "traces")], tmp)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            sys.stderr.write(out)
            sys.exit("perfbench: JVM exited with %d" % code)
        result = json.loads(lines[-1])
        missing = declared_metrics(a.trace) ^ set(result["metrics"])
        if missing:
            sys.exit("perfbench: metrics differ from BENCHMARK.json: %s" % sorted(missing))
        for l in lines[:-1]:
            print(l, file=sys.stderr)
        print("perfbench: %s seed %d done in %.1fs" % (a.workload, a.seed, time.time() - t0),
              file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
