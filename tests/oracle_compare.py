"""The one order-insensitive comparison of an engine result with its DuckDB
oracle result, shared by every oracle-paired test."""

from __future__ import annotations

import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, numbers as float64 rounded to 6 places,
    everything else as str, rows sorted: two results with the same rows in
    any order normalize to equal frames."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("float64").round(6)
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def assert_same_rows(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """``got`` holds the same columns and the same multiset of rows as
    ``want``; on a value mismatch the message shows the first differing
    rows of both."""
    a, b = normalize(got), normalize(want)
    assert list(a.columns) == list(b.columns), "column names differ"
    assert len(a) == len(b), f"row count {len(a)} vs oracle {len(b)}"
    if not a.equals(b):
        diff = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
        raise AssertionError(
            f"values differ in {int(diff.sum())} rows:\n"
            f"{a[diff].head(3)}\noracle:\n{b[diff].head(3)}"
        )
