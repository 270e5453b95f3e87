"""Deterministic inputs for the benchmark.

* :func:`check_lake` finds the read-only sf0.1 lake the registry
  builders read (600k lineitem, 150k orders, 100k events, 5k documents,
  2k embeddings; 17 MB) and checks its files by hash, so every run and
  every seed queries the same bytes.
* :func:`make_people` builds one ``people`` table for an ETL job (the
  reference's input shape, with duplicate rows and nulls) from a seed,
  and :func:`expected_job_rows` is its pandas model of
  ``run_job``'s clean + filter.
* :func:`acid_batch` builds one batch of the sliding-window ACID table.

Everything is numpy-vectorized so generation stays a small part of a run.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

LAKE_ENV = "SPARK_GRAFT_SF_DIR"
DEFAULT_LAKE = "/root/testdata/sf0.1"  # the read-only sf0.1 lake of TESTDATA.md, as in bench.py
# SHA-256 of every table file: every run must query the same bytes
LAKE_SHA256 = {
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
    "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}
TABLES = tuple(LAKE_SHA256)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


LAKE_DIGEST = hashlib.sha256("".join(LAKE_SHA256.values()).encode()).hexdigest()


def check_lake() -> str:
    """The lake directory (``$SPARK_GRAFT_SF_DIR`` or the sf0.1 default),
    after checking every table file against its pinned SHA-256."""
    lake_dir = os.environ.get(LAKE_ENV, DEFAULT_LAKE)
    for t, want in LAKE_SHA256.items():
        path = os.path.join(lake_dir, f"{t}.parquet")
        with open(path, "rb") as fh:
            got = hashlib.sha256(fh.read()).hexdigest()
        if got != want:
            raise RuntimeError(f"{path}: SHA-256 {got} is not the pinned sf0.1 file")
    return lake_dir


# -- ETL inputs ---------------------------------------------------------

PEOPLE_COLUMNS = [
    "Index", "User Id", "First Name", "Last Name", "Sex",
    "Email", "Phone", "Date of birth", "Job Title",
]
_FIRST = ["Alice", "Bob", "Carol", "David", "Eve", "Frank", "Grace", "Henry", "Ivy", "Jack"]
_LAST = ["Smith", "Jones", "Lee", "Brown", "Garcia", "Kim", "Patel", "Nguyen", "Silva", "Chen"]
_JOBS = ["Engineer", "Teacher", "Nurse", "Chef", "Pilot", "Artist", "Lawyer", "Farmer"]


def make_people(n: int, seed: int) -> pd.DataFrame:
    """``n`` people rows plus 1% exact duplicates; 5% null Phone (imputed
    by the pipeline), 2% null Email (dropped by the pipeline)."""
    rng = np.random.default_rng(seed)
    idx = np.arange(1, n + 1)
    hexchars = np.array(list("abcdef0123456789ABCDEF"))
    uid = hexchars[rng.integers(0, len(hexchars), (n, 15))].view("<U15").ravel()
    months = (rng.integers(1950, 2025, n) - 1970) * 12 + rng.integers(0, 12, n)
    days = months.astype("datetime64[M]").astype("datetime64[D]") + rng.integers(0, 28, n)
    dob = np.datetime_as_string(days, unit="D")
    phone = np.char.add(
        np.char.add(rng.integers(100, 1000, n).astype(str), "."),
        np.char.add(np.char.add(rng.integers(100, 1000, n).astype(str), "."), rng.integers(1000, 10000, n).astype(str)),
    ).astype(object)
    phone[rng.random(n) < 0.05] = None
    email = np.char.add(np.char.add("user", idx.astype(str)), "@example.com").astype(object)
    email[rng.random(n) < 0.02] = None
    df = pd.DataFrame({
        "Index": idx,
        "User Id": uid,
        "First Name": np.array(_FIRST)[rng.integers(0, len(_FIRST), n)],
        "Last Name": np.array(_LAST)[rng.integers(0, len(_LAST), n)],
        "Sex": np.array(["Male", "Female"])[rng.integers(0, 2, n)],
        "Email": email,
        "Phone": phone,
        "Date of birth": dob,
        "Job Title": np.array(_JOBS)[rng.integers(0, len(_JOBS), n)],
    }, columns=PEOPLE_COLUMNS)
    dup = df.iloc[rng.choice(n, size=n // 100, replace=False)]
    df = pd.concat([df, dup], ignore_index=True)
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def write_people(df: pd.DataFrame, path_base: str, fmt: str) -> str:
    if fmt == "csv":
        path = path_base + ".csv"
        df.to_csv(path, index=False)
    else:
        path = path_base + ".parquet"
        df.to_parquet(path, index=False)
    return path


def expected_job_rows(df: pd.DataFrame, dob_lo: str, dob_hi: str) -> tuple[int, int]:
    """(rows read, rows the job's query returns): the pipeline's
    impute Phone → drop rows with any null → exact dedup → BETWEEN filter."""
    cleaned = df.fillna({"Phone": "Unknown"}).dropna(how="any").drop_duplicates()
    dob = cleaned["Date of birth"]
    return len(df), int(((dob >= dob_lo) & (dob <= dob_hi)).sum())


# -- ACID inputs --------------------------------------------------------

ACID_BATCH_ROWS = 20_000


def acid_batch(batch: int, seed: int) -> pd.DataFrame:
    """Batch ``batch`` of the sliding-window table: keys
    ``batch * ACID_BATCH_ROWS + j`` so every batch owns a disjoint key range."""
    rng = np.random.default_rng([seed, batch])
    n = ACID_BATCH_ROWS
    return pd.DataFrame({
        "k": np.arange(batch * n, (batch + 1) * n, dtype=np.int64),
        "batch": np.full(n, batch, dtype=np.int32),
        "v": np.round(rng.uniform(0, 1000, n), 3),
        "tag": np.array(["a", "b", "c", "d"])[rng.integers(0, 4, n)],
    })


def input_digest(frames: list[pd.DataFrame], extra: list[str]) -> str:
    """Hash of generated inputs, so equal seeds can be shown to give
    byte-identical inputs."""
    h = hashlib.sha256()
    for df in frames:
        h.update(pd.util.hash_pandas_object(df, index=True).values.tobytes())
        h.update(",".join(df.columns).encode())
    for s in extra:
        h.update(s.encode())
    return h.hexdigest()
