"""Output checks for the graft benchmark.

Expected values come from DuckDB over the same generated parquet the
program read: SparkEntry.oracleSql for `suite`, and the same
predicates or DML ops, replayed, for `point_scan` and `dml_mixed`. Every op
is checked; an op that threw or disagrees counts as failed.
"""
import datetime as dt
import decimal
import json
import math
import os

import duckdb

EPOCH = dt.datetime(1970, 1, 1)


def canon(v):
    """Engine-neutral value: the DuckDB side of Canon in Main.scala."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return {"dec": format(v.normalize(), "f")}
    if isinstance(v, dict) and set(v) == {"dec"}:
        return {"dec": format(decimal.Decimal(v["dec"]).normalize(), "f")}
    if isinstance(v, dt.datetime):
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    return v


def canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(json.dumps([canon(r[i]) for i in order], sort_keys=True) for r in rows)


def _connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(input_dir, f)}')")
    return con


def check_suite(result, input_dir):
    """Per query key: does the warm-up output equal the DuckDB oracle?"""
    con = _connect(input_dir)
    ok = {}
    for key, ref in result["reference"].items():
        sql = result["oracle_sql"].get(key)
        if sql is None:
            ok[key] = False
            continue
        rel = con.sql(sql)
        expected = canon_rows(rel.columns, rel.fetchall())
        # The program's rows arrive already in lower-cased column-name order.
        got = sorted(json.dumps([canon(x) for x in r], sort_keys=True) for r in ref["rows"])
        ok[key] = sorted(c.lower() for c in rel.columns) == ref["columns"] and expected == got
    return ok


def _delete_sql(d):
    y, m = d["year"], d["month"]
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    return (f"(l_shipdate >= TIMESTAMP '{y:04d}-{m:02d}-01 00:00:00' AND "
            f"l_shipdate < TIMESTAMP '{ny:04d}-{nm:02d}-01 00:00:00' AND "
            f"l_orderkey % {d['mod']} = {d['rem']})")


def expected_point_scan(ops, plan, input_dir):
    """Expected check values of every point_scan op, keyed by op index."""
    con = _connect(input_dir)
    live = "NOT (" + " OR ".join(_delete_sql(d) for d in plan["deletes"]) + ")"
    con.execute(f"CREATE VIEW live AS SELECT * FROM lineitem WHERE {live}")
    n_live = con.sql("SELECT count(*) FROM live").fetchone()[0]
    n_all = con.sql("SELECT count(*) FROM lineitem").fetchone()[0]
    keys = sorted({o["params"]["key"] for o in ops if o["cls"] == "lookup"})
    ranges = sorted({(o["params"]["lo"], o["params"]["hi"]) for o in ops if o["cls"] == "range"})
    by_key, by_range = {}, {}
    if keys:
        con.execute("CREATE TABLE k AS SELECT unnest(?::BIGINT[]) AS key", [keys])
        for key, n, s1, s2 in con.sql(
                "SELECT k.key, count(l.l_orderkey), sum(l.l_linenumber), sum(l.l_partkey) "
                "FROM k LEFT JOIN live l ON l.l_orderkey = k.key GROUP BY k.key").fetchall():
            by_key[key] = {"n": n, "s1": s1, "s2": s2}
    if ranges:
        con.execute("CREATE TABLE r (lo DATE, hi DATE)")
        con.executemany("INSERT INTO r VALUES (?, ?)", ranges)
        for lo, hi, n, s1 in con.sql(
                "SELECT r.lo, r.hi, count(l.l_orderkey), sum(l.l_orderkey) FROM r LEFT JOIN live l "
                "ON l.l_shipdate >= r.lo AND l.l_shipdate < r.hi GROUP BY r.lo, r.hi").fetchall():
            by_range[(lo.isoformat(), hi.isoformat())] = {"n": n, "s1": s1}
    out = {}
    for i, o in enumerate(ops):
        p = o["params"]
        if o["cls"] == "lookup":
            out[i] = by_key[p["key"]]
        elif o["cls"] == "range":
            out[i] = by_range[(p["lo"], p["hi"])]
        elif o["cls"] == "count":
            out[i] = {"n": n_live}
        else:
            out[i] = {"n": n_all}
    return out


def expected_dml(ops, input_dir):
    """Replay every DML op, warm-up included, in order; the expected
    aggregate of each read op, keyed by op index."""
    con = _connect(input_dir)
    con.execute("CREATE TABLE t AS SELECT * FROM orders")
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    out = {}
    for i, o in enumerate(ops):
        p, name = o["params"], o["name"]
        if not o["ok"] and o["cls"] == "commit":
            continue  # a failed commit changed nothing
        if name == "append":
            con.execute(f"INSERT INTO t SELECT {cols} FROM append_batches WHERE batch = {p['batch']}")
        elif name == "delete":
            con.execute(f"DELETE FROM t WHERE o_orderkey % {p['mod']} = {p['rem']}")
        elif name == "update":
            con.execute(f"UPDATE t SET o_totalprice = o_totalprice + {p['delta']} "
                        f"WHERE o_orderkey % {p['mod']} = {p['rem']}")
        elif name == "merge":
            src = f"(SELECT * FROM merge_batches WHERE batch = {p['batch']})"
            con.execute(f"UPDATE t SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
                        f"FROM {src} s WHERE t.o_orderkey = s.o_orderkey")
            con.execute(f"INSERT INTO t SELECT {cols} FROM {src} s "
                        f"WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.o_orderkey = s.o_orderkey)")
        elif name == "read":
            n, sk, sc = con.sql("SELECT count(*), sum(o_orderkey), "
                                "sum(CAST(round(o_totalprice * 100) AS BIGINT)) FROM t").fetchone()
            out[i] = {"n": n, "sum_key": sk, "sum_cents": sc}
    return out


def _same(got, exp):
    return all(canon(got.get(k)) == canon(v) for k, v in exp.items())


def check(result, workload, plan, input_dir):
    """Marks every op in result["ops"] with "pass"; returns the ops."""
    ops = result["ops"]
    if workload == "suite":
        good = check_suite(result, input_dir)
        for o in ops:
            o["pass"] = o["ok"] and good.get(o["key"], False)
    elif workload == "point_scan":
        exp = expected_point_scan(ops, plan, input_dir)
        for i, o in enumerate(ops):
            o["pass"] = o["ok"] and _same(o["check"], exp[i])
    else:
        exp = expected_dml(ops, input_dir)
        for i, o in enumerate(ops):
            o["pass"] = o["ok"] and (i not in exp or _same(o["check"], exp[i]))
    return ops
