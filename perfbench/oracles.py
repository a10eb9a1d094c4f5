"""Order-insensitive comparison of a Spark result with its DuckDB oracle:
same row count, same column names, same values after canonicalization."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def _value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, np.ndarray):
        return tuple(_value(x) for x in v)
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, float):
        # engines disagree on integral types (SUM(BIGINT) comes back as a
        # double from DuckDB), never on integral values
        v = round(v, 9)
        return int(v) if v.is_integer() else v
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    return v


def canonical(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_value(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Mismatch descriptions; an empty list means the results are equal."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return [f"row count spark={len(spark_df)} duck={len(duck_df)}"]
    a, b = canonical(spark_df), canonical(duck_df)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return [f"sorted row {i}: spark={x} duck={y}"]
    return []
