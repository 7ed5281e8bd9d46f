"""Seeded op lists and set-up data for the workloads.

Each workload is a sequence of blocks. The first blocks run untimed (warm-up;
block 0 also feeds the output check); the timed loop runs whole blocks, so
every run sees the same traffic mix. The op list and the set-up data are
pure functions of (workload, seed, blocks): the same seed gives
byte-identical JSON. Every row the engine receives is spelled out here, in
an op or in the set-up data, so the runner and the oracle read the same rows.
"""
import json
import random

# Table cardinalities of the bundled sf0.01 data (perfbench/data/sf0.01).
N_CUSTOMER, N_ORDERS, EMB_DIM = 1500, 15000, 64
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Heavy eager gates of the analytics workload: dedup (minhash), stats
# (bootstrap), streaming (materialized-view micro-batches). Each distinct gate
# costs ~5 s of cold start per run, which bounds how many fit a run.
GATES = ["q29_dedup_minhash", "q271_bootstrap", "q171_mv_stream"]

# Lookup block: op kind -> count. The shares are an assumption, not a
# measured traffic mix (perfbench/README.md): two shapes per kind of source
# read, one read of the warehouse tables (its shape alternates by block) and
# one call per kind of write.
LOOKUP_MIX = {"point": 2, "range": 2, "agg": 2, "join": 2, "vector": 2, "kv": 2, "wread": 1,
              "kvset": 1, "insert": 1, "upsert": 1, "update": 1, "delete": 1}
KV_KEYS = 256
# Warehouse tables that lookup writes: accounts and their holdings (FK with
# cascade delete). Accounts [0, DELETE_POOL) may be deleted, the rest are
# upserted; inserted accounts get fresh ids from N_ACCOUNTS on.
N_ACCOUNTS, HOLDINGS_PER_ACCOUNT, DELETE_POOL = 200, 2, 100


def account_row(r, i):
    return {"a_id": f"a{i:05d}", "a_name": f"Account#{i:05d}", "a_nation": r.randrange(25),
            "a_balance": r.randrange(-100000, 1000000) / 100, "a_segment": r.choice(SEGMENTS)}


def setup_data(workload, seed):
    """What the runner loads at set-up: the KV store and the warehouse tables."""
    if workload != "lookup":
        return {}
    r = random.Random(f"{workload}:{seed}:setup")
    return {
        "kv": [[f"k{i:05d}", f"v{r.randrange(10 ** 6)}"] for i in range(KV_KEYS)],
        "accounts": [account_row(r, i) for i in range(N_ACCOUNTS)],
        "holdings": [{"h_id": f"h{j:06d}", "h_account": f"a{j // HOLDINGS_PER_ACCOUNT:05d}",
                      "h_qty": r.randrange(1, 100)} for j in range(N_ACCOUNTS * HOLDINGS_PER_ACCOUNT)],
    }


def _point(r, i):
    if i % 2 == 0:
        return {"table": "customer", "where": [["c_custkey", "=", r.randrange(N_CUSTOMER)]],
                "select": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]}
    return {"table": "lineitem", "where": [["l_orderkey", "=", r.randrange(N_ORDERS)]],
            "select": ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"],
            "order": [["l_linenumber", True]]}


def _range(r, i):
    page = r.randrange(4)
    if i % 2 == 0:
        lo = r.randrange(1000, 400000)
        return {"table": "orders", "where": [["o_totalprice", "BETWEEN", lo, lo + 50000]],
                "select": ["o_orderkey", "o_custkey", "o_totalprice"],
                "order": [["o_totalprice", False], ["o_orderkey", True]], "limit": 20, "offset": 20 * page}
    q = r.randrange(1, 45)
    return {"table": "lineitem",
            "where": [["l_quantity", "BETWEEN", q, q + 5], ["l_discount", "<", r.choice([0.02, 0.05, 0.08])]],
            "select": ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
            "order": [["l_extendedprice", False], ["l_orderkey", True], ["l_linenumber", True]],
            "limit": 20, "offset": 20 * page}


def _agg(r, i):
    if i % 2 == 0:
        return {"table": "lineitem", "where": [["l_quantity", "<", r.randrange(5, 50)]],
                "group": ["l_returnflag", "l_linestatus"],
                "aggs": [["count", "*", "n"], ["sum", "l_extendedprice", "revenue"],
                         ["avg", "l_discount", "avg_disc"]]}
    return {"table": "customer", "where": [["c_nationkey", "=", r.randrange(25)]],
            "group": ["c_mktsegment"],
            "aggs": [["count", "*", "n"], ["avg", "c_acctbal", "avg_bal"], ["max", "c_acctbal", "max_bal"]]}


def _join(r, i):
    if i % 2 == 0:
        return {"table": "orders", "joins": [["customer", "orders.o_custkey", "=", "customer.c_custkey"]],
                "where": [["c_nationkey", "=", r.randrange(25)]],
                "select": ["o_orderkey", "c_name", "o_totalprice"],
                "order": [["o_orderkey", True]], "limit": 50}
    lo = r.randrange(N_ORDERS - 60)
    return {"table": "lineitem",
            "joins": [["orders", "lineitem.l_orderkey", "=", "orders.o_orderkey"],
                      ["customer", "orders.o_custkey", "=", "customer.c_custkey"]],
            "where": [["o_orderkey", "BETWEEN", lo, lo + 50]],
            "select": ["l_orderkey", "l_linenumber", "c_name", "l_extendedprice"],
            "order": [["l_orderkey", True], ["l_linenumber", True]], "limit": 100}


def _wread(r, i):
    """Reads of the warehouse tables that the block's writes change."""
    if i % 2 == 0:
        return {"table": "accounts", "where": [["a_balance", ">", r.randrange(-1000, 5000)]],
                "group": ["a_segment"],
                "aggs": [["count", "*", "n"], ["sum", "a_balance", "total"], ["max", "a_nation", "max_nation"]]}
    return {"table": "holdings", "joins": [["accounts", "holdings.h_account", "=", "accounts.a_id"]],
            "where": [["a_nation", "=", r.randrange(25)]],
            "select": ["h_id", "a_name", "a_balance", "a_segment", "h_qty"],
            "order": [["h_id", True]], "limit": 50}


def _write(r, kind, block):
    """One facade write of one row (or one nation's rows, for update)."""
    if kind == "insert":
        return {"kind": kind, "table": "accounts", "rows": [account_row(r, N_ACCOUNTS + block)]}
    if kind == "upsert":
        return {"kind": kind, "table": "accounts",
                "rows": [account_row(r, DELETE_POOL + r.randrange(N_ACCOUNTS - DELETE_POOL))]}
    if kind == "update":
        return {"kind": kind, "table": "accounts", "nation": r.randrange(25),
                "by": r.randrange(1, 1000) / 4, "segment": r.choice(SEGMENTS)}
    # 7 victims per block: distinct across the first 14 blocks, later a
    # repeat deletes nothing
    return {"kind": kind, "table": "accounts", "key": f"a{(block * 7 + r.randrange(7)) % DELETE_POOL:05d}"}


def lookup_block(r, block):
    kinds = [k for k, n in LOOKUP_MIX.items() for _ in range(n)]
    r.shuffle(kinds)
    seen = dict.fromkeys(LOOKUP_MIX, 0)
    ops = []
    for kind in kinds:
        i = seen[kind]
        seen[kind] += 1
        if kind == "kv":
            op = {"kind": "kv", "key": f"k{r.randrange(KV_KEYS):05d}"}
        elif kind == "kvset":
            op = {"kind": "kvset", "key": f"k{r.randrange(KV_KEYS):05d}", "value": f"w{r.randrange(10 ** 9)}"}
        elif kind in ("insert", "upsert", "update", "delete"):
            op = _write(r, kind, block)
        elif kind == "vector":
            op = {"kind": "vector", "table": "embeddings", "field": "embedding", "pk": "vec_id",
                  "topK": 10, "vector": [round(r.gauss(0, 0.15), 4) for _ in range(EMB_DIM)]}
        else:
            fn = {"point": _point, "range": _range, "agg": _agg, "join": _join, "wread": _wread}[kind]
            q = fn(r, block if kind == "wread" else i)
            if "order" in q:  # selected columns break ties: the order is total
                q["order"] += [[c, True] for c in q["select"] if c not in {f for f, _ in q["order"]}]
            op = {"kind": kind, "q": q}
        ops.append(op)
    return ops


def analytics_block(r, block):
    names = list(GATES)
    r.shuffle(names)
    return [{"kind": "gate", "name": n} for n in names]


BLOCKS = {"lookup": lookup_block, "analytics": analytics_block}


def generate(workload, seed, blocks):
    """Op list: `blocks` blocks, ops numbered in order."""
    r = random.Random(f"{workload}:{seed}")
    ops = []
    for b in range(blocks):
        for op in BLOCKS[workload](r, b):
            ops.append(dict(op, id=len(ops), block=b))
    return ops


def serialize(ops):
    return "".join(json.dumps(op, sort_keys=True, separators=(",", ":")) + "\n" for op in ops)
