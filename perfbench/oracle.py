"""Compare the engine's output for a key with the DuckDB oracle.

Each key's oracle is `SparkEntry.oracleSql(key)`, run by DuckDB over the
same parquet fixtures. The compare follows the repository's oracle gate:
columns sorted by name, rows in produced order, floats within 1e-9,
and the coarse type of every column must agree.
"""
import datetime
import decimal
import glob
import hashlib
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(s):
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    nn = s.dropna()
    if s.dtype == object and len(nn):
        head = list(nn.head(5))
        if all(isinstance(v, decimal.Decimal) for v in head):
            return "float"
        if all(isinstance(v, datetime.date) for v in head):
            return "datetime"
    return "object"


def _kind_skew(exp, got):
    bad = []
    for c in sorted(set(exp.columns) & set(got.columns)):
        # An all-null object column carries no type evidence.
        if any(df[c].dtype == object and df[c].notna().sum() == 0
               for df in (exp, got)):
            continue
        ek, gk = _kind(exp[c]), _kind(got[c])
        if ek == gk:
            continue
        # NULLs turn an integer column into floats in either reader.
        if {ek, gk} == {"int", "float"}:
            fs = exp[c] if ek == "float" else got[c]
            fv = fs.dropna()
            if fs.isna().any() and (fv == fv.round()).all():
                continue
        bad.append((c, ek, gk))
    return bad


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df


def compare(exp_raw, got_raw):
    """None when the frames agree, else a one-line reason."""
    skew = _kind_skew(exp_raw, got_raw)
    if skew:
        return f"column type skew {skew}"
    exp, got = _canon(exp_raw), _canon(got_raw)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if exp.shape != got.shape:
        return f"shape {exp.shape} != {got.shape}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if pd.api.types.is_float_dtype(e):
            ok = ((e.isna() & g.isna()) | (e == g) |
                  np.isclose(e, g, rtol=0, atol=1e-9, equal_nan=True)).all()
        elif e.isna().any() or g.isna().any():
            ok = ((e.isna() & g.isna()) | (e.astype(str) == g.astype(str))).all()
        else:
            ok = (e == g).all()
        if not ok:
            return f"values differ in column {c}"
    return None


class Oracle:
    """DuckDB over the fixtures, with results cached on disk by query and
    fixture, so a key seen by an earlier run is not recomputed."""

    def __init__(self, sf_dir, cache_dir):
        self.con = duckdb.connect()
        stamp = hashlib.sha1(sf_dir.encode())
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            st = os.stat(path)
            stamp.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        self.stamp = stamp.hexdigest()
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, sql):
        name = hashlib.sha1((self.stamp + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, name + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        desc = self.con.execute(f"DESCRIBE ({sql})").fetchall()
        huge = [(c, t) for c, t, *_ in desc if "HUGEINT" in t.upper()]
        if huge:
            raise ValueError(f"oracle has HUGEINT columns {huge}")
        df = self.con.execute(sql).fetchdf()
        with open(path + ".tmp", "wb") as f:
            pickle.dump(df, f)
        os.replace(path + ".tmp", path)
        return df

    def check(self, sql, out_dir):
        """None when the parquet under `out_dir` matches the oracle."""
        if sql is None:
            return "no oracle SQL for this key"
        if not glob.glob(os.path.join(out_dir, "*.parquet")):
            return "no output written"
        try:
            exp = self.expected(sql)
        except Exception as e:  # an oracle that cannot run is a failure
            return f"oracle error: {e}"
        return compare(exp, pd.read_parquet(out_dir))
