"""DuckDB oracle check of one run's Spark results.

Each query's Spark result (parquet, written by the pass) is compared
with its oracle SQL run by DuckDB over the same generated tables, by the rules of
tools/check_oracle.py: columns sorted by name, rows sorted by every
column, equal row counts, equal value kinds per column, equal values.
DuckDB results are cached per (input, query, SQL hash); the Spark side
is read fresh every run.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

from gen import TABLES


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def _duck_result(con, sql, cache_path):
    if os.path.exists(cache_path):
        return pd.read_pickle(cache_path)
    df = con.sql(sql).df()
    tmp = cache_path + ".tmp"
    df.to_pickle(tmp)
    os.replace(tmp, cache_path)
    return df


def compare(got, want):
    """None when equal by the oracle rules, else the first difference."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns differ: spark={gc} duck={wc}"
    got = got[gc].sort_values(gc).reset_index(drop=True)
    want = want[wc].sort_values(wc).reset_index(drop=True)
    if len(got) != len(want):
        return f"rows differ: spark={len(got)} duck={len(want)}"
    for c in gc:
        a, b = got[c], want[c]
        if a.dtype.kind != b.dtype.kind:
            return f"col {c}: dtype spark={a.dtype} duck={b.dtype}"
        try:
            neq = (a != b) & ~(a.isna() & b.isna())
        except Exception:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = neq.idxmax()
            return (f"col {c}: {int(neq.sum())} diffs, first at row {i}: "
                    f"spark={a[i]!r} duck={b[i]!r}")
    return None


def check(data_dir, input_key, results_dir, oracle_sql, queries, cache_dir):
    """({query: None (agrees) | 'why not'}, {query: Spark result rows}) for
    every query with oracle SQL, over the results the pass wrote under
    `results_dir`. Queries without oracle SQL are left out: they are not
    checked."""
    os.makedirs(cache_dir, exist_ok=True)
    con = _connect(data_dir)
    out, rows = {}, {}
    for name in queries:
        sql = oracle_sql.get(name)
        if sql is None:
            continue
        key = hashlib.sha256(f"{input_key}\0{name}\0{sql}".encode()).hexdigest()
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = "no spark output"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            rows[name] = len(got)
            want = _duck_result(con, sql, os.path.join(cache_dir, key[:24] + ".pkl"))
            out[name] = compare(got, want)
        except Exception as e:  # a failing oracle is a mismatch, with why
            out[name] = f"{type(e).__name__}: {str(e)[:300]}"
    con.close()
    return out, rows
