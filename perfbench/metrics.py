"""Metric math over the runner's raw records (result.json).

End-to-end metrics come from untraced runs: throughput and latency of the
timed ops, set-up time and retained driver heap. Per-layer metrics come from
traced runs: jobs, stages, planning phases and streaming batches recorded by
the listener are attributed to the timed op whose time window holds their
start, and split into the layers

    op wall = construct.s + catalyst.* + exec.s + driver_gap.s

where construct.s is the wall time of the op's construct phase (the call
that returns the DataFrame: table resolution, eager probe jobs and
materializations, and the driver work between them; construct.job_s is the
job time inside it), catalyst.* the final plan's planning phases, exec.s the
union of job spans after construction, and driver_gap.s the rest: driver time
after construction outside jobs and planning.
"""
import statistics

MODULES = ["sources", "query", "operators", "pipeline", "vector", "functions", "write", "kv",
           "streaming", "plans", "SparkEntry", "Graft", "other", "client", "unattributed"]
MB = 1 << 20


def percentile(values, q):
    """Linear interpolation between closest ranks (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def ratio(num, den):
    return num / den if den else 0.0


def spread(values):
    """Inter-quartile range as a share of the median (statistics.quantiles, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, med)


def union_length(spans):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(spans, windows):
    """Pieces of `spans` that fall inside any of `windows`."""
    return [(max(s, ws), min(e, we)) for s, e in spans for ws, we in windows if min(e, we) > max(s, ws)]


def split_op(wall, job_spans, construct_windows, catalyst):
    """Layer split of one op: (construct, catalyst, exec, gap), summing to
    wall, plus the job time inside the construct phase."""
    construct = sum(e - s for s, e in construct_windows)
    construct_jobs = union_length(clip(job_spans, construct_windows))
    execute = union_length(job_spans) - construct_jobs
    return construct, catalyst, execute, wall - construct - catalyst - execute, construct_jobs


def measured_ops(res):
    return [o for o in res["ops"] if o["measured"]]


def end_to_end(res):
    ops = measured_ops(res)
    lat = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in ops]
    span_s = (res["measure_end_ns"] - res["measure_start_ns"]) / 1e9
    return {
        "ops_per_s": (len(ops) / span_s, "1/s"),
        "lat_p50_ms": (percentile(lat, 50), "ms"),
        "lat_p90_ms": (percentile(lat, 90), "ms"),
        # the first set-up also loads classes and warms the JIT: the median
        # is over the others, each with an empty codegen cache
        "setup_s": (statistics.median(res["setup_s"][1:]), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }


def _attribute(ops, base_ms, items, key):
    """Map each item to the index of the op whose window holds key(item)
    (epoch ms, ms-truncated, so windows get 1 ms of slack)."""
    out = {}
    for it in items:
        t = (key(it) - base_ms) * 1e6
        for i, o in enumerate(ops):
            if o["start_ns"] - 1e6 <= t <= o["end_ns"] + 1e6:
                out.setdefault(i, []).append(it)
                break
    return out


def spans(res):
    """Trace spans linked by op id: one per timed op, one per phase mark and
    one per job (times in ms since the runner's clock base)."""
    ops = measured_ops(res)
    base = res["base_epoch_ms"]
    out = []
    for o in ops:
        out.append({"op": o["id"], "span": "op", "name": o.get("name") or o["kind"],
                    "start_ms": o["start_ns"] / 1e6, "end_ms": o["end_ns"] / 1e6})
        out += [{"op": o["id"], "span": "phase", "name": n, "start_ms": s / 1e6, "end_ms": e / 1e6}
                for n, s, e in o["marks"]]
    for i, jobs in _attribute(ops, base, res["trace"]["jobs"], lambda j: j["start_ms"]).items():
        out += [{"op": ops[i]["id"], "span": "job", "name": f"job {j['id']}", "module": j["module"],
                 "start_ms": j["start_ms"] - base, "end_ms": j["end_ms"] - base} for j in jobs]
    return out


def per_layer(res, cores):
    ops = measured_ops(res)
    n = len(ops)
    tr = res["trace"]
    base = res["base_epoch_ms"]

    def ns(ms):
        return (ms - base) * 1e6

    jobs_by_op = _attribute(ops, base, tr["jobs"], lambda j: j["start_ms"])
    plans_by_op = _attribute(ops, base, tr["plans"], lambda p: p["end_ms"])
    batches_by_op = _attribute(ops, base, tr["batches"], lambda b: b["start_ms"])
    first_job = {}
    for j in sorted(tr["jobs"], key=lambda j: j["id"]):
        for s in j["stages"]:
            first_job.setdefault(s, j["id"])

    acc = dict.fromkeys([
        "wall", "construct", "construct_job", "exec", "gap", "analysis", "optimization", "planning",
        "construct_jobs", "construct_attributed", "exec_jobs", "rdds_delta", "task_ms", "cpu_ns",
        "gc_ms", "stages", "tasks", "retries", "shuffle_w", "shuffle_r", "spill", "input",
        "cg_compiles", "cg_ns", "write_ns", "files", "bytes_written", "user_bytes", "batches",
        "batch_ms", "job_union"], 0)
    mod_jobs, mod_s = dict.fromkeys(MODULES, 0), dict.fromkeys(MODULES, 0.0)
    for i, o in enumerate(ops):
        wall = o["end_ns"] - o["start_ns"]
        construct_w = [(s, e) for name, s, e in o["marks"] if name == "construct"]
        jobs = jobs_by_op.get(i, [])
        spans = [(max(ns(j["start_ms"]), o["start_ns"]), min(ns(j["end_ms"]), o["end_ns"])) for j in jobs]
        plans = [p for p in plans_by_op.get(i, [])
                 if not any(s - 1e6 <= ns(p["end_ms"]) <= e + 1e6 for s, e in construct_w)]
        cat = {k: sum(p[k + "_ms"] for p in plans) * 1e6 for k in ("analysis", "optimization", "planning")}
        c, _, x, g, cj = split_op(wall, spans, construct_w, sum(cat.values()))
        acc["wall"] += wall
        acc["construct"] += c
        acc["construct_job"] += cj
        acc["exec"] += x
        acc["gap"] += g
        acc["job_union"] += cj + x
        for k, v in cat.items():
            acc[k] += v
        for j in jobs:
            in_construct = any(s - 1e6 <= ns(j["start_ms"]) <= e + 1e6 for s, e in construct_w)
            acc["construct_jobs" if in_construct else "exec_jobs"] += 1
            if in_construct and j["module"] not in ("client", "unattributed"):
                acc["construct_attributed"] += 1
            mod_jobs[j["module"]] += 1
            mod_s[j["module"]] += (j["end_ms"] - j["start_ms"]) / 1e3
            for sid in j["stages"]:
                st = tr["stages"].get(str(sid))
                if st is None or first_job.get(sid) != j["id"]:
                    continue
                acc["stages"] += st["completed"]
                acc["tasks"] += st["tasks"]
                acc["retries"] += st["retries"]
                acc["task_ms"] += st["run_ms"]
                acc["cpu_ns"] += st["cpu_ns"]
                acc["gc_ms"] += st["gc_ms"]
                acc["shuffle_w"] += st["shuffle_write"]
                acc["shuffle_r"] += st["shuffle_read"]
                acc["spill"] += st["spill"]
                acc["input"] += st["input"]
        b, a = o["probe_before"], o["probe_after"]
        acc["rdds_delta"] += a["rdds"] - b["rdds"]
        acc["cg_compiles"] += a["codegen_compiles"] - b["codegen_compiles"]
        acc["cg_ns"] += a["codegen_ns"] - b["codegen_ns"]
        changed = {f: sz for f, sz in a["files"].items() if b["files"].get(f) != sz}
        acc["files"] += len(changed)
        acc["bytes_written"] += sum(changed.values())
        acc["user_bytes"] += o["user_bytes"]
        acc["write_ns"] += sum(e - s for name, s, e in o["marks"] if name == "write")
        for bt in batches_by_op.get(i, []):
            acc["batches"] += 1
            acc["batch_ms"] += bt["duration_ms"]

    all_ops = res["ops"]
    traced_ns = all_ops[-1]["end_ns"] - all_ops[0]["start_ns"] if all_ops else 0
    space = res.get("space") or {}
    m = {
        "op.wall_s": (acc["wall"] / 1e9 / n, "s"),
        "construct.s": (acc["construct"] / 1e9 / n, "s"),
        "construct.job_s": (acc["construct_job"] / 1e9 / n, "s"),
        "construct.jobs": (acc["construct_jobs"] / n, "count"),
        "construct.attributed_share": (ratio(acc["construct_attributed"], acc["construct_jobs"]), "ratio"),
        "persist.rdds_delta": (acc["rdds_delta"] / n, "count"),
        "persist.cached_mb_end": (res["cached_mb_end"], "MB"),
        "catalyst.analysis_s": (acc["analysis"] / 1e9 / n, "s"),
        "catalyst.optimization_s": (acc["optimization"] / 1e9 / n, "s"),
        "catalyst.planning_s": (acc["planning"] / 1e9 / n, "s"),
        "exec.s": (acc["exec"] / 1e9 / n, "s"),
        "exec.jobs": (acc["exec_jobs"] / n, "count"),
        "driver_gap.s": (acc["gap"] / 1e9 / n, "s"),
        "executor.task_s": (acc["task_ms"] / 1e3 / n, "s"),
        "executor.cpu_s": (acc["cpu_ns"] / 1e9 / n, "s"),
        "executor.gc_s": (acc["gc_ms"] / 1e3 / n, "s"),
        "executor.core_util": (ratio(acc["task_ms"] * 1e6, acc["job_union"] * cores), "ratio"),
        "scheduler.stages": (acc["stages"] / n, "count"),
        "scheduler.tasks": (acc["tasks"] / n, "count"),
        "scheduler.task_retries": (acc["retries"] / n, "count"),
        "shuffle.write_mb": (acc["shuffle_w"] / MB / n, "MB"),
        "shuffle.read_mb": (acc["shuffle_r"] / MB / n, "MB"),
        "spill.mb": (acc["spill"] / MB / n, "MB"),
        "input.mb": (acc["input"] / MB / n, "MB"),
        "codegen.compiles": (acc["cg_compiles"] / n, "count"),
        "codegen.compile_s": (acc["cg_ns"] / 1e9 / n, "s"),
        "write.s": (acc["write_ns"] / 1e9 / n, "s"),
        "write.files": (acc["files"] / n, "count"),
        "write.bytes_per_user_byte": (ratio(acc["bytes_written"], acc["user_bytes"]), "ratio"),
        "space.bytes_per_live_byte": (ratio(space.get("disk_bytes", 0), space.get("live_bytes", 0)), "ratio"),
        "streaming.batches": (acc["batches"] / n, "count"),
        "streaming.batch_s": (acc["batch_ms"] / 1e3 / n, "s"),
        "trace.overhead_ratio": (ratio(tr["listener_ns"] + tr["probe_ns"], traced_ns), "ratio"),
    }
    for mod in MODULES:
        m[f"jobs.{mod}"] = (mod_jobs[mod] / n, "count")
        m[f"job_s.{mod}"] = (mod_s[mod] / n, "s")
    return m
