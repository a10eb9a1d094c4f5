"""Local replica of the driver's Spark-vs-DuckDB comparison: row count,
column names (sorted), and order-insensitive exact value equality."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from pdf_craft_spark.sources import TABLE_NAMES, table_path


def duck_run(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con.sql(sql).df()


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        canon_row = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                canon_row.append(None)
            elif isinstance(v, float):
                canon_row.append(round(v, 9))
            elif hasattr(v, "item"):
                canon_row.append(v.item() if not isinstance(v, bytes) else v)
            else:
                canon_row.append(v)
        rows.append(tuple(canon_row))
    return sorted(rows, key=repr)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions; empty == match."""
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = _canon(spark_df), _canon(duck_df)
    if a != b:
        diff_at = next(
            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b))
        )
        problems.append(
            f"values differ at sorted-row {diff_at}: "
            f"spark={a[diff_at] if diff_at < len(a) else '<none>'} "
            f"duck={b[diff_at] if diff_at < len(b) else '<none>'}"
        )
    return problems
