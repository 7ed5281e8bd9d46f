"""Unit tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests      # from the repo root
"""
import json
import pathlib
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

CONFIG = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def fake_result():
    """Two timed ops with jobs, a planning phase, a stage and a batch."""
    base = 1_000_000
    ms = 1_000_000  # ns per ms

    def op(i, start, end, construct_end):
        return {"id": i, "kind": "gate", "measured": True, "ok": True,
                "start_ns": start * ms, "end_ns": end * ms,
                "marks": [["construct", start * ms, construct_end * ms], ["exec", construct_end * ms, end * ms]],
                "probe_before": {"rdds": 1, "codegen_compiles": 10, "codegen_ns": 0, "files": {"a": 5}},
                "probe_after": {"rdds": 2, "codegen_compiles": 12, "codegen_ns": 4_000_000,
                                "files": {"a": 5, "b": 100}},
                "user_bytes": 50}

    ops = [op(0, 0, 100, 60), op(1, 100, 300, 150)]
    jobs = [  # construct job, overlapping construct jobs, exec jobs
        {"id": 0, "start_ms": base + 10, "end_ms": base + 30, "module": "pipeline", "stages": [0]},
        {"id": 1, "start_ms": base + 70, "end_ms": base + 90, "module": "client", "stages": [1]},
        {"id": 2, "start_ms": base + 110, "end_ms": base + 130, "module": "sources", "stages": [2]},
        {"id": 3, "start_ms": base + 120, "end_ms": base + 140, "module": "operators", "stages": [3]},
        {"id": 4, "start_ms": base + 200, "end_ms": base + 260, "module": "client", "stages": [4, 3]},
    ]
    stage = {"completed": 1, "tasks": 4, "retries": 0, "run_ms": 40, "cpu_ns": 30_000_000, "gc_ms": 1,
             "shuffle_write": 1 << 20, "shuffle_read": 1 << 20, "spill": 0, "input": 2 << 20}
    return {
        "setup_s": [5.0, 1.0, 1.2], "heap_retained_mb": 80.0, "base_epoch_ms": base,
        "measure_start_ns": 0, "measure_end_ns": 300 * ms, "ops": ops, "cached_mb_end": 0.5,
        "space": {"disk_bytes": 300, "live_bytes": 100},
        "trace": {"jobs": jobs, "stages": {str(i): dict(stage) for i in range(5)},
                  "plans": [{"end_ms": base + 65, "analysis_ms": 1, "optimization_ms": 2, "planning_ms": 3}],
                  "batches": [{"start_ms": base + 20, "duration_ms": 15}],
                  "listener_ns": 1_000_000, "probe_ns": 2_000_000},
    }


class MathTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(metrics.percentile(xs, 50), 30)
        self.assertEqual(metrics.percentile(xs, 0), 10)
        self.assertEqual(metrics.percentile(xs, 100), 50)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 46.0)
        self.assertAlmostEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([7], 90), 7)

    def test_ratio_and_spread(self):
        self.assertEqual(metrics.ratio(1, 0), 0.0)
        self.assertEqual(metrics.ratio(3, 4), 0.75)
        vals = [9.0, 10.0, 10.0, 11.0, 12.0, 10.5, 9.5, 10.2, 9.8, 10.1]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(metrics.spread(vals), (q3 - q1) / med)

    def test_union_length_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30), (30, 31), (40, 40)]), 26)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.clip([(0, 10), (20, 30)], [(5, 25)]), [(5, 10), (20, 25)])

    def test_layer_split_sums_to_wall(self):
        c, cat, x, gap, cj = metrics.split_op(100, [(10, 30), (25, 40), (70, 90)], [(0, 50)], 5)
        self.assertEqual((c, cat, x, cj), (50, 5, 20, 30))
        self.assertAlmostEqual(c + cat + x + gap, 100)


class MetricsTest(unittest.TestCase):
    def test_end_to_end_names_match_benchmark_json(self):
        got = metrics.end_to_end(fake_result())
        self.assertEqual(list(got), [m["name"] for m in CONFIG["end_to_end"]])
        self.assertEqual({k: u for k, (_, u) in got.items()}, {m["name"]: m["unit"] for m in CONFIG["end_to_end"]})
        self.assertAlmostEqual(got["ops_per_s"][0], 2 / 0.3)
        self.assertEqual(got["setup_s"][0], 1.1)  # median of the set-ups after the cold one

    def test_per_layer_names_match_benchmark_json(self):
        got = metrics.per_layer(fake_result(), cores=4)
        self.assertEqual(list(got), [m["name"] for m in CONFIG["per_layer"]])
        self.assertEqual({k: u for k, (_, u) in got.items()}, {m["name"]: m["unit"] for m in CONFIG["per_layer"]})

    def test_per_layer_split_sums_to_op_wall_within_one_percent(self):
        m = {k: v for k, (v, _) in metrics.per_layer(fake_result(), cores=4).items()}
        parts = (m["construct.s"] + m["catalyst.analysis_s"] + m["catalyst.optimization_s"]
                 + m["catalyst.planning_s"] + m["exec.s"] + m["driver_gap.s"])
        self.assertLess(abs(parts - m["op.wall_s"]), 0.01 * m["op.wall_s"])
        # op 0: construct phase 60 ms holding a 20 ms job, exec job 20 ms;
        # op 1: construct phase 50 ms holding 30 ms of overlapping jobs, exec job 60 ms
        self.assertAlmostEqual(m["construct.s"], 0.055)
        self.assertAlmostEqual(m["construct.job_s"], 0.025)
        self.assertAlmostEqual(m["exec.s"], 0.040)
        self.assertAlmostEqual(m["driver_gap.s"], (14 + 90) / 2 / 1e3)
        self.assertAlmostEqual(m["construct.jobs"], 1.5)
        self.assertAlmostEqual(m["construct.attributed_share"], 1.0)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.0015)  # op 0's final plan
        self.assertAlmostEqual(m["catalyst.optimization_s"], 0.001)
        self.assertAlmostEqual(m["persist.rdds_delta"], 1.0)
        self.assertAlmostEqual(m["write.files"], 1.0)
        self.assertAlmostEqual(m["write.bytes_per_user_byte"], 2.0)
        self.assertAlmostEqual(m["space.bytes_per_live_byte"], 3.0)
        self.assertAlmostEqual(m["streaming.batches"], 0.5)
        self.assertAlmostEqual(m["jobs.client"], 1.0)
        self.assertAlmostEqual(m["scheduler.stages"], 2.5)  # stage 3 counts once, for its first job
        self.assertAlmostEqual(m["executor.core_util"], (5 * 40e-3) / (0.13 * 4))
        self.assertAlmostEqual(m["trace.overhead_ratio"], 3e6 / 300e6)


    def test_spans_link_phases_and_jobs_to_their_op(self):
        spans = metrics.spans(fake_result())
        self.assertEqual([s["op"] for s in spans if s["span"] == "job"], [0, 0, 1, 1, 1])
        self.assertEqual(sum(s["span"] == "phase" for s in spans), 4)
        self.assertEqual({s["op"] for s in spans}, {0, 1})


class WorkloadTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_op_list(self):
        for wl in workloads.BLOCKS:
            a = workloads.serialize(workloads.generate(wl, 7, 4))
            b = workloads.serialize(workloads.generate(wl, 7, 4))
            self.assertEqual(a.encode(), b.encode())
            self.assertNotEqual(a, workloads.serialize(workloads.generate(wl, 8, 4)))

    def test_every_block_has_the_same_mix(self):
        ops = workloads.generate("lookup", 3, 5)
        mixes = {b: sorted(o["kind"] for o in ops if o["block"] == b) for b in range(5)}
        self.assertEqual(len({tuple(m) for m in mixes.values()}), 1)
        self.assertEqual(len(mixes[0]), sum(workloads.LOOKUP_MIX.values()))
        gates = workloads.generate("analytics", 3, 3)
        self.assertEqual(sorted(o["name"] for o in gates if o["block"] == 2), sorted(workloads.GATES))

    def test_lookup_writes_cover_every_kind_and_stay_valid(self):
        for seed in range(20):
            ops = workloads.generate("lookup", seed, 16)
            deleted = [o["key"] for o in ops if o["kind"] == "delete"]
            self.assertEqual(len(deleted[:14]), len(set(deleted[:14])))  # distinct for 14 blocks
            self.assertTrue(all(int(k[1:]) < workloads.DELETE_POOL for k in deleted))
            for o in ops:
                if o["kind"] in ("insert", "upsert"):
                    i = int(o["rows"][0]["a_id"][1:])
                    self.assertGreaterEqual(i, workloads.N_ACCOUNTS if o["kind"] == "insert" else workloads.DELETE_POOL)
        setup = workloads.setup_data("lookup", 3)
        self.assertEqual(setup, workloads.setup_data("lookup", 3))
        self.assertEqual(len(setup["accounts"]), workloads.N_ACCOUNTS)
        self.assertEqual({h["h_account"] for h in setup["holdings"]}, {a["a_id"] for a in setup["accounts"]})

    def test_replayed_writes_give_the_expected_read_backs(self):
        import duckdb
        con = duckdb.connect()
        setup = workloads.setup_data("lookup", 5)
        oracle._seed_warehouse(con, setup)
        a = setup["accounts"][150]
        new = dict(a, a_balance=1.5, a_segment="BUILDING")
        self.assertEqual(oracle.replay_write(con, {"kind": "upsert", "rows": [new]}),
                         [tuple(new.values())])
        got = oracle.replay_write(con, {"kind": "update", "nation": new["a_nation"], "by": 2.0,
                                        "segment": "HOUSEHOLD"})
        self.assertIn((new["a_id"], new["a_name"], new["a_nation"], 3.5, "HOUSEHOLD"), got)
        self.assertEqual(oracle.replay_write(con, {"kind": "delete", "key": "a00003"}), 0)
        self.assertEqual(con.sql("SELECT count(*) FROM holdings WHERE h_account = 'a00003'").fetchone()[0], 0)
        self.assertEqual(con.sql("SELECT count(*) FROM accounts").fetchone()[0], workloads.N_ACCOUNTS - 1)

    def test_read_sql_matches_chain_semantics(self):
        import duckdb
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', 2.0), (2, 'b', 3.0), (3, 'b', 4.0)) v(k, g, x)")
        q = {"table": "t", "where": [["k", "BETWEEN", 2, 3]], "group": ["g"],
             "aggs": [["count", "*", "n"], ["sum", "x", "s"]]}
        self.assertEqual(con.sql(oracle.read_sql(q)).fetchall(), [("b", 2, 7.0)])
        self.assertEqual(oracle.read_cols(q), ["g", "n", "s"])
        q = {"table": "t", "select": ["k"], "order": [["x", False]], "limit": 1, "offset": 1}
        self.assertEqual(con.sql(oracle.read_sql(q)).fetchall(), [(2,)])

    def test_rows_equal_tolerates_float_noise_only(self):
        self.assertTrue(oracle.rows_equal([(1, 0.1 + 0.2)], [(1, 0.3)], ordered=True))
        self.assertFalse(oracle.rows_equal([(1, 0.31)], [(1, 0.3)], ordered=True))
        self.assertTrue(oracle.rows_equal([(2, "b"), (1, "a")], [(1, "a"), (2, "b")], ordered=False))
        self.assertFalse(oracle.rows_equal([(2, "b"), (1, "a")], [(1, "a"), (2, "b")], ordered=True))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(CONFIG), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in CONFIG["workloads"]} - set(workloads.BLOCKS), set())
        names = [m["name"] for m in CONFIG["end_to_end"] + CONFIG["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in CONFIG["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in CONFIG["end_to_end"]))

    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            root = pathlib.Path(d)
            (root / "perfbench").symlink_to(HERE)
            p = subprocess.run([sys.executable, str(root / "perfbench" / "run.py"), "--workload", "lookup",
                                "--seed", "1", "--seconds", "1"], cwd=root, capture_output=True, text=True,
                               timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
