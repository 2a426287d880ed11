"""Correctness checks run outside the timed region.

analytics       every registry query's result against its DuckDB oracle
                SQL on the same parquet (the comparison rules of
                tools/check_oracle.py), and every lake read against the
                staged slices it must see.
lake_lifecycle  every read and the final table against a plain model of
                the executed statement sequence, replayed in DuckDB.
curate_ingest   the exactly-once checks the benchmark JVM ran.

Each check returns (name, ok, detail, wrong) where `wrong` is the number
of operations it found answering wrongly.
"""
import json
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def _connect(stage):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("CREATE MACRO bench_unrounded(x, d) AS x")
    for t in TABLES:
        p = os.path.join(stage, "tables", f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _rounding_tie(a, u):
    """True when `a` is a correct rounding of a value within 1e-9
    (relative) of the oracle's unrounded value `u`: the two engines sum
    in different orders, and a sum that lands on a rounding boundary can
    round either way."""
    tol = 1e-9 * max(1.0, abs(u))
    for d in range(10):
        if abs(a * 10 ** d - round(a * 10 ** d)) < 1e-6:
            return abs(a - u) <= 0.5 * 10 ** -d + tol
    return False


def _oracle_diff(con, got_dir, sql):
    got = con.sql(
        f"SELECT * FROM read_parquet('{got_dir}/*.parquet')").df()
    want = con.sql(sql).df()
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}", 0
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}", 0
    unrounded = None
    ties = 0
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if _close(a, b):
                continue
            if isinstance(a, float) and isinstance(b, float):
                if unrounded is None:
                    raw = re.sub(r"(?i)\bround\s*\(", "bench_unrounded(", sql)
                    try:
                        unrounded = con.sql(raw).df()
                        unrounded = unrounded[sorted(unrounded.columns)]
                    except duckdb.Error:  # e.g. a one-argument round()
                        unrounded = want.iloc[0:0]
                if len(unrounded) == len(got) and \
                        _rounding_tie(a, float(unrounded[c].iloc[i])):
                    ties += 1
                    continue
            return f"{c}: {a!r} != {b!r}", ties
    return None, ties


def check_analytics(stage, plan, result):
    con = _connect(stage)
    ex = result["exported"]
    out = []
    oracle = json.load(open(os.path.join(ex["results_dir"], "oracle_sql.json")))
    runs = ex["query_runs"]
    for name in sorted(runs):
        if not name.startswith("q_"):
            continue
        if name not in oracle:
            out.append((f"oracle.{name}", False, "no oracle SQL", runs[name]))
            continue
        try:
            diff, ties = _oracle_diff(
                con, os.path.join(ex["results_dir"], name), oracle[name])
        except Exception as e:  # a failing oracle is a failed check
            diff, ties = f"error: {e}", 0
        note = f"{ties} rounding ties" if ties else ""
        out.append((f"oracle.{name}", diff is None, diff or note,
                    runs[name] if diff else 0))
    b = plan["slice_bounds"]
    cut = b[plan["branch_at_slice"] + 1]
    d0, d1 = plan["branch_delete"]
    cache = {}

    def expect(op):
        kind = op["op"]
        if kind == "lake_snapshots":
            # one per slice, plus the branch delete when it hit rows
            hit = con.sql(f"SELECT count(*) FROM orders WHERE o_orderkey < {cut} "
                          f"AND o_orderkey >= {d0} AND o_orderkey < {d1}").fetchone()[0]
            return [len(b) - 1 + (1 if hit else 0)]
        if kind == "lake_files":
            return [None, b[-1]]
        where = {
            "lake_current": "true",
            "lake_pruned": (
                f"o_orderdate >= DATE '1995-01-01' + INTERVAL {op.get('from_day')} DAY"
                f" AND o_orderdate < DATE '1995-01-01' + INTERVAL {op.get('to_day')} DAY"),
            "lake_as_of": f"o_orderkey < {b[int(op.get('slice', 0)) + 1]}",
            "lake_branch": (f"o_orderkey < {cut} AND NOT (o_orderkey >= {d0}"
                            f" AND o_orderkey < {d1})"),
        }[kind]
        if where not in cache:
            cache[where] = list(con.sql(
                "SELECT count(*), coalesce(sum(o_orderkey), 0), "
                f"coalesce(sum(o_totalprice), 0) FROM orders WHERE {where}"
            ).fetchone())
        return cache[where]

    bad = []
    for r in ex["lake_reads"]:
        want = expect(r)
        got = r["result"]
        if not all(w is None or _close(float(g), float(w))
                   for g, w in zip(got, want)):
            bad.append(f"{r['op']} got {got} want {want}")
    out.append(("lake_reads.match_staged_slices", not bad,
                f"{len(ex['lake_reads'])} reads; " + "; ".join(bad[:3]), len(bad)))
    return out


def check_lifecycle(stage, plan, result):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    sdir = os.path.join(stage, "stage")
    con.execute(f"CREATE VIEW pool AS SELECT * FROM "
                f"read_parquet('{sdir}/pool.parquet')")
    con.execute("CREATE TABLE main AS SELECT * FROM pool "
                f"WHERE o_orderkey < {plan['base_rows']}")
    stmts = plan["statements"]
    executed = result["exported"]["statements"]
    targets = {s["target"] for s in stmts[:len(executed)] if "target" in s}
    agg = "count(*), coalesce(sum(o_orderkey), 0), coalesce(sum(o_totalprice), 0)"

    def rng(r):
        return f"o_orderkey >= {r[0]} AND o_orderkey < {r[1]}"

    bad = []
    for rec in executed:
        i, kind = rec["i"], rec["kind"]
        s = stmts[i]
        if rec["failed"]:
            bad.append(f"{i} {kind} failed")
        if kind == "insert":
            tab = "dev" if s.get("branch") else "main"
            con.execute(f"INSERT INTO {tab} SELECT * FROM pool WHERE {rng(s['range'])}")
        elif kind == "delete":
            con.execute(f"DELETE FROM main WHERE {rng(s['range'])}")
        elif kind == "update":
            con.execute(f"UPDATE main SET o_totalprice = o_totalprice + {s['delta']}, "
                        f"o_orderstatus = 'U' WHERE {rng(s['range'])}")
        elif kind == "merge":
            con.execute(f"CREATE OR REPLACE TEMP VIEW src AS SELECT * FROM "
                        f"read_parquet('{sdir}/merge_{s['source']}.parquet')")
            con.execute("UPDATE main SET o_totalprice = src.o_totalprice, "
                        "o_orderstatus = src.o_orderstatus FROM src "
                        "WHERE main.o_orderkey = src.o_orderkey")
            con.execute("INSERT INTO main SELECT * FROM src WHERE o_orderkey "
                        "NOT IN (SELECT o_orderkey FROM main)")
        elif kind == "create_branch":
            con.execute("CREATE OR REPLACE TABLE dev AS SELECT * FROM main")
        elif kind == "fast_forward":
            con.execute("CREATE OR REPLACE TABLE main AS SELECT * FROM dev")
        elif kind == "drop_branch":
            con.execute("DROP TABLE dev")
        elif kind == "rollback":
            con.execute(f"CREATE OR REPLACE TABLE main AS SELECT * FROM s{s['target']}")
        elif kind == "read_current" and "rows" in rec:
            where = rng(s["range"]) if s.get("range") else "true"
            want = con.sql(f"SELECT {agg} FROM main WHERE {where}").fetchone()
            if not all(_close(float(g), float(w)) for g, w in zip(rec["rows"][0], want)):
                bad.append(f"{i} read_current got {rec['rows'][0]} want {list(want)}")
        elif kind == "read_as_of" and "rows" in rec:
            want = con.sql(f"SELECT {agg} FROM s{s['target']}").fetchone()
            if not all(_close(float(g), float(w)) for g, w in zip(rec["rows"][0], want)):
                bad.append(f"{i} read_as_of got {rec['rows'][0]} want {list(want)}")
        elif kind == "read_snapshots" and "rows" in rec:
            if rec["head"] not in {int(r[0]) for r in rec["rows"]}:
                bad.append(f"{i} $snapshots lacks the main head {rec['head']}")
        elif kind == "read_files" and "rows" in rec:
            if [float(x) for x in rec["rows"][0]] != rec["meta_files"]:
                bad.append(f"{i} $files {rec['rows'][0]} vs metadata {rec['meta_files']}")
        if i in targets:
            con.execute(f"CREATE OR REPLACE TABLE s{i} AS SELECT * FROM main")
    reads = sum(1 for r in executed if r["kind"].startswith("read_"))
    out = [("lifecycle.reads_match_model", not bad,
            f"{reads} reads, {len(executed)} statements; " + "; ".join(bad[:3]),
            len(bad))]
    final = result["exported"]["final_dir"]
    cols = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "epoch_us(o_orderdate) AS d, o_orderpriority")
    con.execute(f"CREATE VIEW got AS SELECT {cols} FROM "
                f"read_parquet('{final}/*.parquet')")
    con.execute(f"CREATE VIEW want AS SELECT {cols} FROM main")
    extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                    "SELECT * FROM want)").fetchone()[0]
    missing = con.sql("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL "
                      "SELECT * FROM got)").fetchone()[0]
    n = con.sql("SELECT count(*) FROM want").fetchone()[0]
    out.append(("lifecycle.final_state_matches_model", extra == 0 and missing == 0,
                f"{n} rows; {extra} extra, {missing} missing",
                0 if extra == 0 and missing == 0 else 1))
    return out


def run(workload, stage, plan, result):
    jvm = [(c["name"], c["ok"], c["detail"], c["counted"] if not c["ok"] else 0)
           for c in result["checks"]]
    if workload == "analytics":
        return jvm + check_analytics(stage, plan, result)
    if workload == "lake_lifecycle":
        return jvm + check_lifecycle(stage, plan, result)
    return jvm
