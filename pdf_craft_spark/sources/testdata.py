"""The one table seam: every read of a seeded table goes through here.

The seeded tables are single parquet files, ``{sf_dir}/{name}.parquet``,
and this module is the only place that knows that layout.  At cluster
scale these would be Iceberg table scans (``spark.read.format("iceberg")``):
swap ``load_table`` (and ``table_path`` for the Spark-free pyarrow
readers) here and every query follows.  Without the Iceberg jars the
connector is parquet with the same declared-schema discipline — Catalyst
still gets pushdown + pruning on the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, name))
