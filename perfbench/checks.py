"""Output checks and summary statistics shared by the workloads."""

from __future__ import annotations

import hashlib

import pandas as pd


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result's values: columns by name,
    integer/float/timestamp dtypes unified, rows sorted by their repr.
    Spark results and DuckDB oracle results hash alike when they hold
    the same values."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    rows = sorted(map(repr, pdf.itertuples(index=False, name=None)))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it,
    as (value, percentile). With n sorted samples that is the order
    statistic at index n - beyond - 1, whose percentile is its rank
    share. With ``beyond`` or fewer samples no percentile qualifies and
    the maximum is returned, with percentile 100."""
    s = sorted(values)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n


def pass_time(names: list[str], values: list[float]) -> float:
    """Sum over the operation names of each name's median value: the
    time of one pass over the workload's operations, with a slow
    outlier of one name out of three samples left out."""
    by_name: dict[str, list[float]] = {}
    for name, v in zip(names, values):
        by_name.setdefault(name, []).append(v)
    return sum(median(v) for v in by_name.values())
