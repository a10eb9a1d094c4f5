"""S10: checkpointed, resumable extraction runs with per-partition lineage.

Behavioral spec: the reference's resume markers — skip page if its XML
exists, skip doc if 'done' exists (/root/reference/pdf_craft/pdf/ocr.py:
92-95,129-136,218-219).  Spark-native equivalent:

- output spans land through a TABLE-FORMAT SINK (plans/sinks.py): here a
  bucket-partitioned parquet dataset (bucket = sinks.bucket_expr — an
  md5-derived id any engine can recompute); on Iceberg the native
  bucket(n, doc_id) transform with snapshot-atomic commits — the resume
  logic below is sink-agnostic.
- resume = LEFT ANTI join of the input docs against the doc_ids already
  committed — only uncommitted documents are recomputed.
- every run appends a manifest row per touched bucket (run_id, bucket,
  n_docs, n_spans, wall_sec) — the per-partition lineage + metrics record the
  north rule asks for.  Like the reference, which meters each page as it
  is produced, the counts come from the write itself (the sink's
  ``append_spans`` observes them): the committed output is never read
  back, and a first run reads nothing at all.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.plans.pipeline import extract_spans_df
from pdf_craft_spark.plans.sinks import ParquetBucketSink

N_BUCKETS = 16
MANIFEST_SCHEMA = (
    "bucket int, n_docs bigint, n_spans bigint, run_id string, wall_sec double, status string"
)


def committed_doc_ids(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return ParquetBucketSink(out_dir, N_BUCKETS).committed_doc_ids(spark)


def run_with_resume(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    sink=None,
) -> dict:
    """Extract `docs`, skipping documents already committed in the sink.

    Returns run stats; output is appended bucket-partitioned, and the
    manifest gains one row per touched bucket.  ``sink`` defaults to the
    parquet sink rooted at out_dir; pass an IcebergSink for a catalog
    table (plans/sinks.py documents the 1:1 mapping).  The committed
    totals are the previous totals (one aggregate over the committed
    spans, on a resume only) plus this run's observed counts.
    """
    if sink is None:
        sink = ParquetBucketSink(out_dir, N_BUCKETS)
    t0 = time.time()
    done = sink.committed_doc_ids(spark)
    docs_before = spans_before = 0
    if done is not None:
        docs = docs.join(done, "doc_id", "left_anti")
        docs_before, spans_before = sink.read_spans(spark).agg(
            F.count_if(F.col("offset") == 0), F.count(F.lit(1))
        ).first()

    # every span row carries the run that produced it — row-level lineage
    flat = extract_spans_df(docs).withColumn("run_id", F.lit(run_id))
    counts = sink.append_spans(flat)
    wall = time.time() - t0

    # manifest rows record THIS run's delta per touched bucket (none when
    # the run committed nothing); wall_sec is the run-level wall clock
    # (identical across the run's bucket rows).  At most N_BUCKETS driver
    # rows: pandas → Arrow is the cheap createDataFrame path for them
    if counts:
        rows = [(b, d, s, run_id, round(wall, 3), "committed") for b, (d, s) in counts.items()]
        columns = ["bucket", "n_docs", "n_spans", "run_id", "wall_sec", "status"]
        sink.append_manifest(
            spark.createDataFrame(pd.DataFrame(rows, columns=columns), MANIFEST_SCHEMA)
        )
    return {
        "run_id": run_id,
        "wall_sec": wall,
        "total_docs_committed": docs_before + sum(d for d, _ in counts.values()),
        "total_spans_committed": spans_before + sum(s for _, s in counts.values()),
    }
