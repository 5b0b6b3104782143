"""DuckDB oracle check for the harness's verify-pass outputs.

Each key's Spark output (one parquet dir per key) is compared with its
`SparkEntry.oracleSql` query run in DuckDB over the same seeded input.
Both sides are canonicalized the way tools/verify_local.py does it:
columns sorted by name, datetimes at microseconds, strings as str, floats
as float64, integers as nullable Int64, rows sorted by every column; then
values must match exactly. One addition: a DATE column reads back from
Spark's parquet as Python dates but from DuckDB as datetimes, so dates
are canonicalized to datetimes first and the same date compares equal
from either engine. The canonical frames are also hashed, so a run's
record names the output it checked.
"""
import datetime
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

from inputs import TABLES

pd.set_option("future.no_silent_downcasting", True)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if s.dtype == object and s.notna().any() and all(
                isinstance(v, datetime.date) for v in s.dropna()):
            s = pd.to_datetime(s)
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_hash(df):
    return hashlib.sha256(
        pd.util.hash_pandas_object(df, index=False).values.tobytes()
        + ",".join(df.columns).encode()).hexdigest()[:16]


def compare(got, exp):
    """None when the canonical frames match, else a one-line reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns got={list(g.columns)} expected={list(e.columns)}"
    if len(g) != len(e):
        return f"rows got={len(g)} expected={len(e)}"
    bad = []
    for c in g.columns:
        a, b = g[c], e[c]
        if pd.api.types.is_float_dtype(a):
            eq = (a.fillna(-1e308) == b.fillna(-1e308)).all()
        else:
            eq = a.astype("object").fillna("\x00").eq(b.astype("object").fillna("\x00")).all()
        if not eq:
            bad.append(c)
    return f"values differ in {bad}" if bad else None


def check(input_dir, out_dir, keys):
    """Check every key; return {key: {"ok", "hash", "rows", "reason"}}."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for key in keys:
        files = sorted(glob.glob(os.path.join(out_dir, "verify", key, "*.parquet")))
        if not files:
            results[key] = {"ok": False, "reason": "no output written"}
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if key not in oracle:
            results[key] = {"ok": False, "reason": "no oracle SQL"}
            continue
        try:
            exp = con.execute(oracle[key]).df()
        except Exception as e:  # noqa: BLE001 - the reason is recorded
            results[key] = {"ok": False, "reason": f"oracle SQL failed: {e}"[:300]}
            continue
        reason = compare(got, exp)
        results[key] = {"ok": reason is None, "rows": len(got),
                        "hash": frame_hash(canon(got)), "reason": reason}
    con.close()
    return results
