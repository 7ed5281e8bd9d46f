#!/usr/bin/env python3
"""Steadiness check: run each workload N times, one seed per run, and report
every metric's median, quartiles and spread (inter-quartile range as a share
of the median, from statistics.quantiles(n=4)), plus wall time per run. The
regression bounds in BENCHMARK.json come from these spreads.

    python3 perfbench/steady.py --runs 10 [--workloads lookup,analytics]
        [--seconds 10] [--trace 0] [--first-seed 1]

Run from the repository root; runs are sequential (one client, one JVM).
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from metrics import spread  # noqa: E402


def bench_config():
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run_once(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, timeout=900)
    wall = time.time() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def summarize(results):
    """metric -> (median, q1, q3, spread) over a list of run results."""
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = (med, q1, q3, spread(vals))
    return out


def main():
    cfg = bench_config()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seconds", type=float, default=cfg["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    summary = {}
    for wl in a.workloads.split(","):
        results, walls = [], []
        for i in range(a.runs):
            r, wall = run_once(wl, a.first_seed + i, a.seconds, a.trace)
            results.append(r)
            walls.append(wall)
            print(f"{wl} seed={a.first_seed + i} wall={wall:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        print(f"\n{wl}: {a.runs} runs, wall per run median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        stats = summarize(results)
        for name, (med, q1, q3, sp) in stats.items():
            b = bounds.get(name)
            flag = "" if b is None else ("  ok" if sp < b / 3 else "  WIDE")
            print(f"{name:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.4f} {b if b is not None else '':>6}{flag}")
        summary[wl] = {"wall_s": walls, "metrics": {k: dict(zip(("median", "q1", "q3", "spread"), v))
                                                     for k, v in stats.items()}}
        print(flush=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
