"""Output comparison helpers shared by the workloads' checks."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def parquet_files(path: str) -> set:
    """Every parquet data file under a table directory."""
    if not os.path.isdir(path):
        return set()
    return {os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")}


def read_dir(path: str) -> pd.DataFrame:
    """A parquet table directory as pandas, read without Spark (files
    starting with ``.`` or ``_`` are skipped, as Spark skips them)."""
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not files:
        return pd.DataFrame()
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame,
              rtol: float = 1e-9, atol: float = 1e-6) -> bool:
    """Multiset equality of two frames over the same column names;
    floating columns compare within a tolerance (Spark and DuckDB sum in
    different orders), the others exactly."""
    if set(got.columns) != set(want.columns) or len(got) != len(want):
        return False
    cols = sorted(want.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c])
              or pd.api.types.is_float_dtype(got[c])]
    exact = [c for c in cols if c not in floats]
    order = exact + floats
    g = got[cols].sort_values(order, kind="mergesort").reset_index(drop=True)
    w = want[cols].sort_values(order, kind="mergesort").reset_index(drop=True)
    for c in exact:
        if not (g[c].astype(str).to_numpy() == w[c].astype(str).to_numpy()).all():
            return False
    for c in floats:
        a = g[c].to_numpy(dtype=float)
        b = w[c].to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=rtol, atol=atol, equal_nan=True):
            return False
    return True
