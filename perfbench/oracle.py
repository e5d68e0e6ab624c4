"""Compares the program's results with `SparkEntry.oracleSql` run in DuckDB
on the same inputs. The harness writes each result as parquet and each
oracle's SQL as `oracle/<query>.sql` under the run's work directory."""
import hashlib
import os
import time

import duckdb
import numpy as np
import pandas as pd


def connect(data_dir, work):
    """A DuckDB connection with one view per parquet table of data_dir."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work}/duckdb'")
    con.execute("SET threads=4")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{name}')")
    return con


def sql(work, query):
    with open(f"{work}/oracle/{query}.sql") as f:
        return f.read()


def dedup_check(con, work):
    """q_dedup_pipeline: the same columns, row count and SHA-256 over the
    rows sorted by doc_id."""
    q = sql(work, "q_dedup_pipeline")
    t0 = time.time()
    want = con.execute(f"SELECT * FROM ({q}) ORDER BY doc_id").fetchall()
    oracle_s = time.time() - t0
    got_rel = con.execute(
        f"SELECT * FROM read_parquet('{work}/dedup_result/*.parquet') ORDER BY doc_id")
    cols = [d[0] for d in got_rel.description]
    got = got_rel.fetchall()
    want_cols = [d[0] for d in con.execute(f"SELECT * FROM ({q}) LIMIT 0").description]

    def digest(rows):
        return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    ok = cols == want_cols and len(got) == len(want) and digest(got) == digest(want)
    return ok, (f"oracle_s={oracle_s:.2f} rows={len(got)}/{len(want)} "
                f"hash={digest(got)}/{digest(want)}")


def _canon(df, approx):
    """Columns by name; rows sorted on the exact columns, then on the
    approximate ones rounded."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].astype("float64") if c in approx else df[c].astype(str)
    key = df.copy()
    for c in approx:
        key[c] = key[c].round(6)
    exact = [c for c in df.columns if c not in approx]
    order = key.sort_values(by=exact + sorted(approx), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def _numeric(s):
    return (pd.api.types.is_numeric_dtype(s) or str(s.dtype).startswith("decimal")
            or (s.dtype == object and s.map(lambda v: hasattr(v, "as_tuple")).all()))


def same_rows(con, work, query, result_dir):
    """Value comparison: the same column names and row count; numeric
    columns equal within 1e-6 relative (1e-9 absolute), every other column
    equal as text."""
    want = con.execute(sql(work, query)).df()
    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df()
    if sorted(want.columns) != sorted(got.columns) or len(want) != len(got):
        return False, (f"{query} columns {sorted(got.columns)}/{sorted(want.columns)} "
                       f"rows {len(got)}/{len(want)}")
    approx = [c for c in want.columns if _numeric(want[c]) and _numeric(got[c])]
    a, b = _canon(got, approx), _canon(want, approx)
    ok = all(np.isclose(a[c], b[c], rtol=1e-6, atol=1e-9, equal_nan=True).all()
             if c in approx else (a[c] == b[c]).all() for c in a.columns)
    return ok, f"{query} rows={len(got)}"
