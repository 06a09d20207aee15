"""Compare query results with their DuckDB oracle (`SparkEntry.oracleSql`).

Values must match exactly after sorting columns by name and rows by all
columns; floats compare as float64 and integer kinds must stay integers,
the rules of the repo's correctness gate.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _kind(k):
    return "i" if k in "iu" else k


def _compare(got, want):
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if _kind(a.dtype.kind) != _kind(b.dtype.kind):
            return f"column {c}: dtype {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            same = np.array_equal(a.astype("float64"), b.astype("float64"), equal_nan=True)
        else:
            same = list(map(str, a)) == list(map(str, b))
        if not same:
            return f"column {c}: values differ"
    return None


def check(data_dir, results_dir, oracle_sql, queries):
    """Return one message per query whose result differs from its oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    errors = []
    for name in queries:
        if name not in oracle_sql:
            errors.append(f"{name}: no oracle SQL")
            continue
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            errors.append(f"{name}: no result written")
            continue
        try:
            got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = _canon(con.sql(oracle_sql[name]).df())
            diff = _compare(got, want)
        except Exception as e:  # an oracle that cannot run is a failed check
            diff = f"oracle error: {e}"
        if diff:
            errors.append(f"{name}: {diff}")
    return errors
