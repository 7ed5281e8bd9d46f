#!/usr/bin/env python3
"""Per-op job table of one perfbench trace.

Usage: python3 tools/opjobs.py .bench_build/traces/<workload>-<seed>.jsonl

A trace (written by `perfbench/run.py --trace 1`) holds one span per timed
op, one per phase mark (construct / write / exec) and one per Spark job,
linked by op id. This prints one markdown row per op name: how many ops,
their median wall time, and the median number of jobs per op, split the way
perfbench/metrics.py splits them: a job that starts inside the op's
construct phase (1 ms slack) is a construct job, every other job an exec
job. The last column counts, of those, the jobs that start inside the op's
write phase (same slack): the Spark jobs of one facade write call.
"""
import json
import statistics
import sys
from collections import defaultdict

SLACK_MS = 1.0


def main(path):
    ops, phases, jobs = {}, defaultdict(list), defaultdict(list)
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            if s["span"] == "op":
                ops[s["op"]] = s
            elif s["span"] == "phase" and s["name"] in ("construct", "write"):
                phases[s["op"], s["name"]].append((s["start_ms"], s["end_ms"]))
            elif s["span"] == "job":
                jobs[s["op"]].append(s["start_ms"])
    rows = defaultdict(lambda: ([], [], [], []))
    for op, s in ops.items():
        def inside(phase):
            return sum(any(a - SLACK_MS <= t <= b + SLACK_MS for a, b in phases[op, phase])
                       for t in jobs[op])
        walls, cons, execs, writes = rows[s["name"]]
        n_cons = inside("construct")
        walls.append(s["end_ms"] - s["start_ms"])
        cons.append(n_cons)
        execs.append(len(jobs[op]) - n_cons)
        writes.append(inside("write"))
    print("| op | ops | median wall ms | median construct jobs | median exec jobs | median write jobs |")
    print("|---|---:|---:|---:|---:|---:|")
    for name in sorted(rows):
        walls, cons, execs, writes = rows[name]
        print(f"| {name} | {len(walls)} | {statistics.median(walls):.1f} | "
              f"{statistics.median(cons):g} | {statistics.median(execs):g} | "
              f"{statistics.median(writes):g} |")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
