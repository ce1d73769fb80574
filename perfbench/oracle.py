"""DuckDB replay of the engine's oracle SQL and the result comparison.

The comparison follows the repo's oracle gate (tools/check_oracle.py):
same column set, same row count, rows compared after sorting on every
column; float columns must agree on their null masks and within 1e-9,
every other column exactly.
"""
import hashlib
import os
import time

import duckdb
import numpy as np

FLOAT_TOL = 1e-9


def compare(got, want):
    """None when `got` matches `want`, else a one-line reason."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns got={gc} want={wc}"
    if len(got) != len(want):
        return f"rows got={len(got)} want={len(want)}"

    def tuplize(df):
        df = df[gc].copy()
        for c in gc:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        return df.sort_values(by=gc, ignore_index=True)

    g, w = tuplize(got), tuplize(want)
    for c in gc:
        a, b = g[c], w[c]
        if str(a.dtype).startswith("float") or str(b.dtype).startswith("float"):
            if not (a.isna() == b.isna()).all():
                return f"col {c}: null mask differs"
            diff = (a.fillna(0) - b.fillna(0)).abs().max()
            if diff > FLOAT_TOL:
                return f"col {c}: max float diff {diff}"
        else:
            if a.dtype == object:
                eq = a.fillna("__null__") == b.fillna("__null__")
            else:
                eq = (a.isna() & b.isna()) | (a == b)
            if not eq.all():
                i = (~eq).idxmax()
                return f"col {c}: row {i}: got={a[i]!r} want={b[i]!r}"
    return None


def read_output(path):
    return duckdb.connect().execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()


def inputs_digest(inputs):
    h = hashlib.sha256()
    for name in sorted(os.listdir(inputs)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(inputs, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def expected(inputs, sql_by_name, cache_dir, threads):
    """Oracle results per query, replayed once per (inputs, SQL) and cached
    as parquet. Returns ({name: DataFrame}, seconds spent replaying)."""
    digest = inputs_digest(inputs)
    os.makedirs(cache_dir, exist_ok=True)
    out, spent, con = {}, 0.0, None
    for name, sql in sorted(sql_by_name.items()):
        key = hashlib.sha256((digest + sql).encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            t0 = time.perf_counter()
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET threads={threads}")
                for p in sorted(os.listdir(inputs)):
                    if p.endswith(".parquet"):
                        con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                                    f"'{os.path.join(inputs, p)}'")
            tmp = path + ".tmp"
            con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
            os.replace(tmp, path)
            spent += time.perf_counter() - t0
        out[name] = duckdb.connect().execute(f"SELECT * FROM '{path}'").fetchdf()
    return out, spent
