"""Compare one kept query result with its DuckDB oracle.

The rules are those of the repository's correctness gate
(``scripts/check.py``): the same column names, the same DuckDB column
types, the same row count, and equal values row by row in the query's
ORDER BY, with NULL and NaN equal to themselves.
"""
import glob
import os
import pickle

import duckdb


def _null(v):
    return v != v if isinstance(v, float) else v is None


def _oracle(con, sql, cache):
    """The oracle's rows and column types, computed once per input and
    kept in ``cache``: the inputs are fixed, and the curation oracles
    take seconds each in DuckDB."""
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            return pickle.load(f)
    want = (con.execute(sql).fetchdf(),
            dict(r[:2] for r in con.execute(f"DESCRIBE {sql}").fetchall()))
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "wb") as f:
        pickle.dump(want, f)
    os.replace(cache + ".tmp", cache)
    return want


def compare(tables, result_dir, sql, cache):
    """None if the parquet result in ``result_dir`` equals ``sql`` run on
    the parquet tables in ``tables``; otherwise the first difference."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result written"
    con = duckdb.connect()
    try:
        for f in glob.glob(os.path.join(tables, "*.parquet")):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        res = f"read_parquet('{result_dir}/*.parquet')"
        got = con.execute(f"SELECT * FROM {res}").fetchdf()
        g_types = dict(r[:2] for r in con.execute(f"DESCRIBE SELECT * FROM {res}").fetchall())
        want, w_types = _oracle(con, sql, cache)
    except Exception as e:  # a failing oracle or unreadable result is a failed check
        return f"{type(e).__name__}: {e}"
    finally:
        con.close()
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != oracle {sorted(want.columns)}"
    skew = [c for c in cols if g_types.get(c) != w_types.get(c)]
    if skew:
        return "type skew " + ", ".join(f"{c}: {g_types.get(c)} != {w_types.get(c)}" for c in skew)
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    for c in cols:
        for i, (x, y) in enumerate(zip(got[c], want[c])):
            if not (_null(x) and _null(y)) and x != y:
                return f"column {c} row {i}: {x!r} != oracle {y!r}"
    return None
