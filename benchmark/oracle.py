"""Checks query results against their DuckDB oracle SQL, at the bar of the
repository's own correctness gate (`tools/verify_local.py`): column names,
dtype kind before normalisation, row count, then every value, floats bit
for bit. The only difference is that a result may span several parquet
files; they are read together.

The oracle's answers are kept, pickled so their dtypes survive, under a
digest of the SQL and the input tables: the tables are fixed, and running
the oracle SQL took about 10 s of a 62 s `query_mix` run on four cores.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from verify_local import TABLES, canon, float_bits_eq  # noqa: E402


def _compare(got_df, want_df):
    """None if equal, else a one-line reason."""
    got, gkinds = canon(got_df)
    want, wkinds = canon(want_df)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    bad_kinds = [c for c in got.columns if gkinds[c] != wkinds[c]]
    if bad_kinds:
        return "dtype kind mismatch (" + ", ".join(
            f"{c}: engine={gkinds[c]} oracle={wkinds[c]}" for c in bad_kinds) + ")"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = float_bits_eq(a.values, b.values)
        else:
            eq = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
        if not eq.all():
            i = int(eq.argmin())
            return f"col {c} differs at row {i}: engine={a.iloc[i]!r} oracle={b.iloc[i]!r}"
    return None


def _expected(con, data_dir, sql, cache_dir):
    h = hashlib.sha1(sql.encode())
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as fh:
                h.update(fh.read())
    path = os.path.join(cache_dir, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check(data_dir, results_dir, names, cache_dir):
    """Returns {name: None if equal else a one-line reason}."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    out = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out[name] = "no committed output"
            continue
        try:
            got = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()
            out[name] = _compare(got, _expected(con, data_dir, oracle[name], cache_dir))
        except Exception as e:  # an oracle or read failure fails the gate
            out[name] = f"{type(e).__name__}: {e}"
    return out
