"""Correctness check, off the clock, through DuckDB on the same parquet.

- lookup: every read is rerun as SQL and compared cell by cell (doubles
  within 1e-9 relative; ordered when the op orders, as a multiset otherwise;
  vector top-k by distance within 1e-5, ties may swap). The writes are
  replayed in op order on DuckDB copies of the warehouse tables and of the
  KV store, so every read-back, and every later read, sees the state the
  writes should have left.
- analytics: each gate's output from the untimed pass is compared with its
  oracle SQL (SparkEntry.oracleSql) under the canonical-cell rule of the
  repository's tools/check.py; every timed run of a gate that fails counts.

check() returns (ids of failed or wrong ops, ops attempted).
"""
import glob
import math
import pathlib
import sys

import duckdb
import pandas

TOL = 1e-9


def _eq(a, b, tol=TOL):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol)
    return a == b


def rows_equal(got, exp, ordered):
    if len(got) != len(exp):
        return False
    key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
    g, e = (got, exp) if ordered else (sorted(got, key=key), sorted(exp, key=key))
    return all(len(x) == len(y) and all(_eq(a, b) for a, b in zip(x, y)) for x, y in zip(g, e))


def _lit(v):
    return f"'{v}'" if isinstance(v, str) else repr(v)


def read_cols(q):
    """Output columns of a lookup read, in the engine's order."""
    if "aggs" in q:
        return list(q.get("group", [])) + [alias for _, _, alias in q["aggs"]]
    return list(q["select"])


def read_sql(q):
    """The chain-API read of a lookup op as DuckDB SQL."""
    sql = f"FROM {q['table']}"
    for t, lk, op, rk in q.get("joins", []):
        sql += f" JOIN {t} ON {lk} {op} {rk}"
    conds = [f"{w[0]} BETWEEN {_lit(w[2])} AND {_lit(w[3])}" if w[1] == "BETWEEN"
             else f"{w[0]} {w[1]} {_lit(w[2])}" for w in q.get("where", [])]
    if conds:
        sql += " WHERE " + " AND ".join(conds)
    if "aggs" in q:
        cols = list(q.get("group", [])) + [f"{fn}({f}) AS {alias}" for fn, f, alias in q["aggs"]]
        if q.get("group"):
            sql += " GROUP BY " + ", ".join(q["group"])
    else:
        cols = q["select"]
    if q.get("order"):
        sql += " ORDER BY " + ", ".join(f"{f} ASC NULLS FIRST" if asc else f"{f} DESC NULLS LAST"
                                        for f, asc in q["order"])
    sql += f" LIMIT {q.get('limit', 1000)} OFFSET {q.get('offset', 0)}"
    return f"SELECT {', '.join(cols)} {sql}"


def _views(con, data):
    for p in sorted(pathlib.Path(data).glob("*.parquet")):
        con.execute(f"CREATE OR REPLACE VIEW {p.stem} AS SELECT * FROM '{p}'")


def _result_rows(res):
    return [tuple(r) for r in res["rows"]]


def _seed_warehouse(con, setup):
    for t in ("accounts", "holdings"):
        con.register("seed_rows", pandas.DataFrame(setup[t]))
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM seed_rows")
        con.unregister("seed_rows")


def _accounts_where(con, field, v):
    return con.execute(f"SELECT a_id, a_name, a_nation, a_balance, a_segment FROM accounts "
                       f"WHERE {field} = ?", [v]).fetchall()


def replay_write(con, op):
    """Apply one warehouse write to the DuckDB state; return the expected
    read-back."""
    kind = op["kind"]
    if kind in ("insert", "upsert"):
        row = op["rows"][0]
        con.execute("DELETE FROM accounts WHERE a_id = ?", [row["a_id"]])
        con.execute("INSERT INTO accounts VALUES (?, ?, ?, ?, ?)",
                    [row[c] for c in ("a_id", "a_name", "a_nation", "a_balance", "a_segment")])
        return _accounts_where(con, "a_id", row["a_id"])
    if kind == "update":
        con.execute("UPDATE accounts SET a_segment = ?, a_balance = a_balance + ? WHERE a_nation = ?",
                    [op["segment"], op["by"], op["nation"]])
        return _accounts_where(con, "a_nation", op["nation"])
    con.execute("DELETE FROM holdings WHERE h_account = ?", [op["key"]])
    con.execute("DELETE FROM accounts WHERE a_id = ?", [op["key"]])
    return 0


def check_lookup(con, op, res, kv):
    """`kv` holds the store's expected state; it and the DuckDB warehouse
    tables change with the writes, in op order."""
    kind = op["kind"]
    if kind in ("insert", "upsert", "update", "delete"):
        exp = replay_write(con, op)
        return res == exp if kind == "delete" else rows_equal(_result_rows(res), exp, ordered=False)
    if kind == "kvset":
        kv[op["key"]] = op["value"]
    if kind in ("kv", "kvset"):
        return res == kv[op["key"]]
    if kind == "vector":
        vec = "[" + ", ".join(repr(x) for x in op["vector"]) + "]::DOUBLE[]"
        exp = con.sql(f"SELECT {op['pk']}, round(1 - list_cosine_similarity("
                      f"{op['field']}::DOUBLE[], {vec}), 6) AS d FROM {op['table']} "
                      f"ORDER BY d, {op['pk']} LIMIT {op['topK']}").fetchall()
        got = [(r[0], r[1]) for r in _result_rows(res)]
        if len(got) != len(exp) or not all(_eq(g[1], e[1], 1e-5) for g, e in zip(got, exp)):
            return False
        cut = exp[-1][1] - 1e-5  # ids strictly inside the top-k radius must agree
        return {g[0] for g in got if g[1] < cut} == {e[0] for e in exp if e[1] < cut}
    q = op["q"]
    exp = con.sql(read_sql(q)).fetchall()
    return res["cols"] == read_cols(q) and rows_equal(_result_rows(res), exp, ordered=bool(q.get("order")))


def check_analytics(con, root, work, records):
    """Gate name -> passed, for every gate of block 0 (the pass that wrote
    its output)."""
    sys.path.insert(0, str(root / "tools"))
    import check as repo_check  # the repository's canonical-cell rule
    import json
    oracle = json.loads((work / "oracle_sql.json").read_text())
    ok = {}
    for r in records:
        name = r["name"]
        if name not in oracle or not r["ok"]:
            ok[name] = False
            continue
        try:
            files = sorted(glob.glob(str(work / "check" / name / "*.parquet")))
            got_cols = [d[0] for d in con.sql(f"SELECT * FROM read_parquet({files!r}) LIMIT 0").description]
            exp_cols = [d[0] for d in con.sql(f"SELECT * FROM ({oracle[name]}) LIMIT 0").description]
            cols = sorted(got_cols)
            ok[name] = bool(files) and cols == sorted(exp_cols) and \
                repo_check.spark_rows(con, files, cols) == repo_check.oracle_rows(con, oracle[name], cols)
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"oracle error on {name}: {e}", file=sys.stderr)
            ok[name] = False
        if not ok[name]:
            print(f"analytics check failed: {name}", file=sys.stderr)
    return ok


def check(workload, ops, setup, res, work, data):
    """Returns (failed op ids, attempted count). `setup` is the set-up data
    the runner loaded (workloads.setup_data)."""
    by_id = {op["id"]: op for op in ops}
    records = res["ops"]
    failed = [r["id"] for r in records if not r["ok"]]
    con = duckdb.connect()
    _views(con, data)
    if workload == "lookup":
        _seed_warehouse(con, setup)
        kv = dict(map(tuple, setup["kv"]))
        for r in records:
            op = by_id[r["id"]]
            if not r["ok"]:  # a failed write still moves the expected state
                if op["kind"] in ("insert", "upsert", "update", "delete"):
                    replay_write(con, op)
                elif op["kind"] == "kvset":
                    kv[op["key"]] = op["value"]
            elif not check_lookup(con, op, r["result"], kv):
                failed.append(r["id"])
        return failed, len(records)
    root = pathlib.Path(__file__).resolve().parent.parent
    gate_ok = check_analytics(con, root, work, [r for r in records if r["block"] == 0])
    failed += [r["id"] for r in records if r["ok"] and not gate_ok.get(r["name"], False)]
    return failed, len(records)
