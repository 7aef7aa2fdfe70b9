"""Output checks against DuckDB, run outside every timed region."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd


class CheckFailed(Exception):
    """An op's output does not match its DuckDB recomputation."""


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    """One comparable form per value: numbers as float, times as ISO
    strings, arrays as tuples, NaN and None as markers."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else f
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(row: tuple) -> str:
    def k(v):
        return f"{v:.6g}" if isinstance(v, float) else repr(v)
    return "|".join(k(v) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows in any order (floats
    within 1e-6), else the first difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    cols = sorted(got.columns)

    def rows(df):
        out = [tuple(_cell(v) for v in r)
               for r in df[cols].itertuples(index=False, name=None)]
        return sorted(out, key=_sort_key)

    for a, b in zip(rows(got), rows(want)):
        if not _close(a, b):
            return f"row {a!r} != {b!r}"
    return None


def expect_match(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    diff = frames_match(got, want)
    if diff is not None:
        raise CheckFailed(f"{name}: {diff}")
