"""Output checks for the benchmark workloads.

Each check returns the operations whose output is wrong, with a reason.
DuckDB comparisons normalise both sides the way the repo's oracle mimic
(tools/check.py) does: columns sorted by name, rows sorted by every
column, cells compared by repr (NaN equals NaN).
"""
import csv
import glob
import json
import os
import time

import duckdb

from inputs import GATE_TABLES, rest_body


def _norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def _compare(got, want):
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if repr(a) != repr(b) and not (a != a and b != b):
                return f"col={c} row={i}: engine={a!r} duckdb={b!r}"
    return None


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    con.execute("SET enable_progress_bar=false")
    return con


def gate_oracle(data_dir, check_dir):
    """Compare every gate that has oracle SQL with DuckDB over the same
    tables. Returns ({gate: reason}, {gate: sql})."""
    con = _connect()
    for t in GATE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')").df()
            reason = _compare(got, con.sql(sql).df())
        except Exception as e:  # a failing query is a wrong result
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad[name] = reason
    con.close()
    return bad, oracle


def result_rows(check_dir, gates):
    """Rows the gates returned in pass 0, summed (a gate that failed then
    wrote nothing and counts none)."""
    con = _connect()
    n = sum(con.sql(f"SELECT count(*) FROM read_parquet('{check_dir}/{g}/*.parquet')").fetchone()[0]
            for g in gates if glob.glob(f"{check_dir}/{g}/*.parquet"))
    con.close()
    return n


def duckdb_seconds(views, queries, passes=3):
    """Warm DuckDB time for a query set: one warm-up pass, then the sum of
    each query's median over `passes` passes. Runs after the engine is
    done, never at the same time."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET enable_progress_bar=false")
    for name, sql in views.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    times = {q: [] for q in queries}
    for p in range(passes + 1):
        for q, sql in queries.items():
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            if p:
                times[q].append(time.perf_counter() - t0)
    con.close()
    return sum(sorted(v)[len(v) // 2] for v in times.values())


def read_csv_dir(d):
    """Rows of a Spark CSV output directory as dicts."""
    rows = []
    for p in sorted(glob.glob(os.path.join(d, "part-*.csv"))):
        with open(p, newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


def rest_enrich(plan, input_dir, out_dirs):
    """Each pass must write exactly one row per key the plan answers with
    200 (ok, or retry after a 503), with the stub's fields, and none for
    404 keys."""
    keys = {r["key"]: r["id"] for r in read_csv_dir(input_dir)}
    want = sorted(
        (keys[k], k, rest_body(k)["name"], rest_body(k)["score"])
        for k, kind in plan.items() if kind != "missing")
    bad = {}
    for d in out_dirs:
        got = sorted((r["id"], r["key"], r["name"], r["score"]) for r in read_csv_dir(d))
        if got != want:
            extra = len(got) - len(set(got))
            bad[os.path.basename(d)] = (f"{len(got)} rows ({extra} duplicated), "
                                        f"expected {len(want)}")
    return bad
