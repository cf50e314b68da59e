"""DuckDB oracle and output fingerprints for the benchmark.

The fingerprint is the engine's correctness-gate canon (tools/check.py):
columns sorted by name, rows sorted by every column, values hashed in
order. A Spark output matches its oracle when column names, row count and
fingerprint are all equal.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def fingerprint(df):
    """(sorted column names, row count, sha256 of the canonical frame)."""
    df = canon(df)
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        s = df[c]
        # Numeric and boolean columns are hashed in one update: repr of a
        # float reads "nan" only for NaN, and str of an integer or boolean
        # reads "<NA>" only for NA, so the null marker can be substituted
        # afterwards. The bytes hashed are the same as value by value.
        if pd.api.types.is_float_dtype(s):
            h.update("".join(map(repr, s.tolist())).replace("nan", "\x00NULL").encode())
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            h.update("".join(map(str, s.tolist())).replace("<NA>", "\x00NULL").encode())
        else:
            for v in s.tolist():
                if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NA:
                    h.update(b"\x00NULL")
                elif isinstance(v, float):
                    h.update(repr(v).encode())
                else:
                    h.update(str(v).encode())
    return list(df.columns), len(df), h.hexdigest()


def connect(data_dir, threads):
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
