#!/usr/bin/env python3
"""Spark jobs per span path, from perfbench span files.

    python3 tools/span_jobs.py .bench_build/traces/spans-crawl-1.jsonl [more.jsonl ...]

`python3 perfbench/run.py --workload crawl --trace 1` writes one JSON line per
span (id, parent, name) and one per Spark job (job id, id of the span that was
innermost on the submitting thread, -1 for none) to
`.bench_build/traces/spans-<workload>-<seed>.jsonl`. A span's path is the
names from its root span down to it, joined by `/`: `epoch/read` is a store
read inside a crawl epoch, `delete/write.seen` the seen rewrite of a delete.

For each file and each path this prints the number of spans on the path, the
jobs started directly under those spans, and per span the jobs directly under
it (`jobs/span`), under it or any span below it (`tree/span`), and its wall
seconds (`s/span`, from start to end, child spans included). Jobs with no span
are listed under `(none)`.
"""
import json
import sys
from collections import defaultdict


def load(path):
    spans, jobs = {}, []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            if "job" in rec:
                jobs.append(rec["span"])
            else:
                spans[rec["span"]] = rec
    return spans, jobs


def span_paths(spans):
    paths = {}

    def path_of(sid):
        if sid not in paths:
            s = spans[sid]
            parent = s["parent"]
            paths[sid] = (path_of(parent) + "/" if parent in spans else "") + s["name"]
        return paths[sid]

    for sid in spans:
        path_of(sid)
    return paths


def table(spans, jobs):
    """path -> (spans, direct jobs, subtree jobs, wall ns) summed over the
    path's spans."""
    paths = span_paths(spans)
    direct = defaultdict(int)
    for sid in jobs:
        direct[sid] += 1
    subtree = defaultdict(int)
    for sid, n in direct.items():
        while sid in spans:
            subtree[sid] += n
            sid = spans[sid]["parent"]
    rows = defaultdict(lambda: [0, 0, 0, 0])
    for sid, path in paths.items():
        row = rows[path]
        row[0] += 1
        row[1] += direct.get(sid, 0)
        row[2] += subtree.get(sid, 0)
        row[3] += spans[sid]["end_ns"] - spans[sid]["start_ns"]
    unattributed = sum(n for sid, n in direct.items() if sid not in spans)
    if unattributed:
        rows["(none)"] = [0, unattributed, unattributed, 0]
    return rows


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        sys.exit(__doc__.strip())
    for path in argv:
        spans, jobs = load(path)
        print("%s: %d spans, %d jobs" % (path, len(spans), len(jobs)))
        print("  %-32s %6s %6s %9s %9s %9s" % ("path", "spans", "jobs", "jobs/span", "tree/span",
                                               "s/span"))
        for p, (n, d, t, ns) in sorted(table(spans, jobs).items()):
            per = ("%9.1f %9.1f %9.3f" % (d / n, t / n, ns / n / 1e9) if n
                   else "%9s %9s %9s" % ("-", "-", "-"))
            print("  %-32s %6d %6d %s" % (p, n, d, per))


if __name__ == "__main__":
    main(sys.argv[1:])
