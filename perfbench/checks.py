"""Result checks: row count, schema and an order-insensitive value hash,
computed the same way for a Spark result and its DuckDB oracle.

The value hash canonicalises every cell to a string (floats by their
shortest round-trip repr, timestamps as integer microseconds, arrays as
tuples of canonical elements), hashes each row, sorts the row hashes and
hashes the sorted list, so row order never matters and any changed,
dropped or added row does.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "timestamp"
    sample = s.dropna()
    if len(sample):
        v = sample.iloc[0]
        if isinstance(v, (list, tuple, np.ndarray)):
            return "array"
        if isinstance(v, decimal.Decimal):
            return "decimal"
    return "str"


def _canon_scalar(v) -> str:
    if v is None:
        return "\0"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "\0" if math.isnan(f) else repr(f + 0.0)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_scalar(x) for x in v) + "]"
    return str(v)


def _canon_column(s: pd.Series, kind: str) -> pd.Series:
    if kind == "timestamp":
        us = s.astype("datetime64[us]")
        return us.astype("int64").astype(str).where(us.notna(), "\0")
    if kind in ("int", "float", "bool") and not s.isna().any():
        if kind == "float":
            return (s.astype("float64") + 0.0).map(repr)
        return s.astype(str)
    return s.map(_canon_scalar)


def fingerprint(df: pd.DataFrame) -> tuple[int, tuple, str]:
    """(row count, ((column, kind), ...) sorted by name, value hash)."""
    cols = sorted(df.columns)
    kinds = tuple((c, _kind(df[c])) for c in cols)
    canon = pd.DataFrame({c: _canon_column(df[c], k) for c, k in kinds}, columns=cols)
    row_hashes = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    return len(df), kinds, hashlib.sha256(row_hashes.tobytes()).hexdigest()


def diff(got: tuple, want: tuple) -> str | None:
    """None when two fingerprints agree, else a one-line reason."""
    if got[0] != want[0]:
        return f"row count {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"schema {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return "value hash differs"
    return None


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    return diff(fingerprint(got), fingerprint(want))


class Oracle:
    """DuckDB over the same parquet files the engine reads.

    An oracle fingerprint depends only on the SQL text and the lake,
    whose files are pinned by hash, so fingerprints are kept on disk in
    ``cache_path`` (named by the lake digest, keyed by SQL hash) and
    reused by later runs in the same checkout. Nothing of the engine's
    state is kept: this saves the 6-7 s the curation oracles take per
    ``lake_batch`` run."""

    def __init__(self, lake_dir: str, tables: tuple[str, ...], temp_dir: str, cache_path: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')"
            )
        self.cache_path = cache_path
        self.cache: dict[str, list] = {}
        self.dirty = False
        if os.path.exists(cache_path):
            with open(cache_path) as fh:
                self.cache = json.load(fh)

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def fingerprint(self, sql: str) -> tuple:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            n, kinds, h = fingerprint(self.query(sql))
            self.cache[key] = [n, [list(k) for k in kinds], h]
            self.dirty = True
        n, kinds, h = self.cache[key]
        return n, tuple(tuple(k) for k in kinds), h

    def close(self) -> None:
        self.con.close()
        if self.dirty:
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.cache_path)
