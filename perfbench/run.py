#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one client.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the JVM runner from
source (perfbench/build.py), generates the op list from the seed
(perfbench/workloads.py), runs it in a local[<cores>] Spark session for about
--seconds of timed ops (perfbench/jvm/Main.scala), checks every output
against DuckDB (perfbench/oracle.py) and prints one JSON line last: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1
(perfbench/metrics.py).
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

DATA = HERE / "data" / "sf0.01"
# Set-ups per run: one cold, then warm ones whose median is setup_s
# (about 3 s each for lookup, 0.5 s for analytics).
SETUPS = {"lookup": 3, "analytics": 6}
# Leading blocks run untimed to warm the JIT and codegen caches.
WARM_BLOCKS = {"lookup": 1, "analytics": 1}
# Seconds one timed block takes on a 4-core host. A run times
# round(--seconds / this) whole blocks: the same ops on every run, where a
# stop at a deadline would time one more (warmer) block on fast runs only.
NOMINAL_BLOCK_S = {"lookup": 10.0, "analytics": 5.0}
# The runner may take this long for JVM start and the set-ups, plus three
# times the nominal time of every block (warm-up blocks run cold).
JVM_START_S = 90
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, workload, blocks, work, trace):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp / 'hadoop'}",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(work / "ops.jsonl"), str(work / "setup.json"),
            str(DATA), str(work), "1" if trace else "0", str(cores()), str(SETUPS[workload]),
            str(WARM_BLOCKS[workload])]
    log_path = work / "jvm.log"
    try:
        with open(log_path, "wb") as log:
            subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, check=True,
                           timeout=JVM_START_S + 3 * NOMINAL_BLOCK_S[workload] * blocks)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired):
        sys.stderr.write("".join(log_path.read_text(errors="replace").splitlines(True)[-40:]))
        raise
    return json.loads((work / "result.json").read_text())


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.BLOCKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    root = pathlib.Path.cwd()
    cp = build.build(root)
    work = build.build_dir(root) / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        blocks = WARM_BLOCKS[a.workload] + max(1, round(a.seconds / NOMINAL_BLOCK_S[a.workload]))
        ops = workloads.generate(a.workload, a.seed, blocks)
        setup = workloads.setup_data(a.workload, a.seed)
        (work / "ops.jsonl").write_text(workloads.serialize(ops))
        (work / "setup.json").write_text(json.dumps(setup))
        res = run_jvm(cp, a.workload, blocks, work, a.trace == 1)
        failed_ids, attempted = oracle.check(a.workload, ops, setup, res, work, DATA)
        if a.trace:
            report = metrics.per_layer(res, cores())
            traces = build.build_dir(root) / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{a.workload}-{a.seed}.jsonl").write_text(
                "".join(json.dumps(s) + "\n" for s in metrics.spans(res)))
        else:
            report = metrics.end_to_end(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = len(failed_ids)
    print(f"{a.workload} seed={a.seed}: failed_ratio {failed / attempted:.6g} "
          f"({failed}/{attempted} ops failed or wrong)"
          + (f": {sorted(map(str, failed_ids))[:20]}" if failed else ""))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
