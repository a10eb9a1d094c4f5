"""S10 resume semantics: a second run over a superset input recomputes
ONLY the uncommitted documents; manifest rows accrue per bucket."""

from __future__ import annotations

import uuid

from pdf_craft_spark.plans.checkpoint import run_with_resume
from pdf_craft_spark.plans.pipeline import corpus_df


def test_resume_skips_committed(spark, tmp_path):
    out_dir = str(tmp_path / "out")

    stats1 = run_with_resume(spark, corpus_df(spark, 4, partitions=2), out_dir, "run1")
    assert stats1["total_docs_committed"] == 4

    # superset input: only the 4 new docs should be extracted
    stats2 = run_with_resume(spark, corpus_df(spark, 8, partitions=2), out_dir, "run2")
    assert stats2["total_docs_committed"] == 8

    out = spark.read.parquet(f"{out_dir}/spans")
    # no duplicated work: each (doc_id, offset) appears exactly once
    n = out.count()
    nd = out.select("doc_id", "offset").distinct().count()
    assert n == nd

    manifest = spark.read.parquet(f"{out_dir}/manifest")
    runs = {r.run_id for r in manifest.select("run_id").distinct().collect()}
    assert runs == {"run1", "run2"}
    assert manifest.filter(manifest.status == "committed").count() >= 2


def test_resume_into_pre_run_id_output(spark, tmp_path):
    """An output dir written before the run_id column existed (schema
    drift) must resume cleanly: the sink's mergeSchema read unions the
    footers and the lineage delta filter sees NULL run_id on old files."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.plans.pipeline import extract_spans_df
    from pdf_craft_spark.plans.sinks import ParquetBucketSink

    out_dir = str(tmp_path / "out")
    legacy = extract_spans_df(corpus_df(spark, 2, partitions=2)).withColumn(
        "bucket", F.pmod(F.hash("doc_id"), F.lit(16))
    )
    legacy.write.mode("append").partitionBy("bucket").parquet(f"{out_dir}/spans")

    stats = run_with_resume(spark, corpus_df(spark, 4, partitions=2), out_dir, "r2")
    assert stats["total_docs_committed"] == 4
    out = ParquetBucketSink(out_dir).read_spans(spark)
    assert out.select("doc_id", "offset").distinct().count() == out.count()
    # legacy rows surface with NULL run_id; new rows carry r2
    assert out.filter(F.col("run_id").isNull()).count() > 0
    assert out.filter(F.col("run_id") == "r2").count() > 0


def test_noop_rerun(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    run_with_resume(spark, corpus_df(spark, 3, partitions=2), out_dir, uuid.uuid4().hex)
    before = spark.read.parquet(f"{out_dir}/spans").count()
    run_with_resume(spark, corpus_df(spark, 3, partitions=2), out_dir, uuid.uuid4().hex)
    after = spark.read.parquet(f"{out_dir}/spans").count()
    assert before == after


def _readback_lineage(spark, out_dir):
    """The manifest recomputed from the committed spans: per (run, bucket)
    distinct docs and span rows of every run that has a run_id."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.plans.sinks import ParquetBucketSink

    return sorted(
        tuple(r)
        for r in ParquetBucketSink(out_dir).read_spans(spark)
        .filter(F.col("run_id").isNotNull())
        .groupBy("run_id", "bucket")
        .agg(F.countDistinct("doc_id"), F.count(F.lit(1)))
        .collect()
    )


def test_manifest_equals_readback_lineage(spark, tmp_path):
    """Manifest rows come from the write itself (an Observation), not a
    read-back; over a legacy pre-run_id directory plus two resumed runs
    they equal the lineage recomputed from the committed spans, and each
    run's totals equal a full count of the dataset."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.plans.pipeline import extract_spans_df
    from pdf_craft_spark.plans.sinks import ParquetBucketSink, bucket_expr

    out_dir = str(tmp_path / "out")
    legacy = extract_spans_df(corpus_df(spark, 3, partitions=2)).withColumn(
        "bucket", bucket_expr(16)
    )
    legacy.write.mode("append").partitionBy("bucket").parquet(f"{out_dir}/spans")

    for run_id, n in (("r1", 8), ("r2", 14)):
        stats = run_with_resume(spark, corpus_df(spark, n, partitions=2), out_dir, run_id)
        out = ParquetBucketSink(out_dir).read_spans(spark)
        assert stats["total_docs_committed"] == out.select("doc_id").distinct().count() == n
        assert stats["total_spans_committed"] == out.count()

    manifest = ParquetBucketSink(out_dir).read_manifest(spark)
    got = sorted(
        tuple(r)
        for r in manifest.select("run_id", "bucket", "n_docs", "n_spans").collect()
    )
    assert got == _readback_lineage(spark, out_dir)
    assert {r[0] for r in got} == {"r1", "r2"}
    assert manifest.filter(F.col("status") != "committed").count() == 0


class _CountingSink:
    """A ParquetBucketSink that counts calls of each operation."""

    def __init__(self, out_dir):
        from pdf_craft_spark.plans.sinks import ParquetBucketSink

        self._sink = ParquetBucketSink(out_dir)
        self.calls: dict[str, int] = {}

    def __getattr__(self, name):
        method = getattr(self._sink, name)

        def counted(*args, **kwargs):
            self.calls[name] = self.calls.get(name, 0) + 1
            return method(*args, **kwargs)

        return counted


def test_first_run_never_reads_back(spark, tmp_path):
    """A first run reads nothing from the sink, yet returns exact totals;
    a resume reads the committed spans once, for the previous totals."""
    out_dir = str(tmp_path / "out")
    first = _CountingSink(out_dir)
    stats = run_with_resume(spark, corpus_df(spark, 6, partitions=2), out_dir, "r1", sink=first)
    assert "read_spans" not in first.calls
    assert first.calls == {"committed_doc_ids": 1, "append_spans": 1, "append_manifest": 1}
    out = spark.read.parquet(f"{out_dir}/spans")
    assert stats["total_docs_committed"] == out.select("doc_id").distinct().count() == 6
    assert stats["total_spans_committed"] == out.count()

    resume = _CountingSink(out_dir)
    stats = run_with_resume(spark, corpus_df(spark, 6, partitions=2), out_dir, "r2", sink=resume)
    assert resume.calls["read_spans"] == 1
    assert "append_manifest" not in resume.calls  # nothing new was committed
    assert stats["total_docs_committed"] == 6
    assert stats["total_spans_committed"] == out.count()


def test_committed_doc_ids_first_run_and_read_failures(spark, tmp_path):
    """A missing dataset directory means "first run" (None); a directory
    that exists but cannot be read must raise, never look like a first
    run (that would re-append every committed document)."""
    import pytest

    from pdf_craft_spark.plans.sinks import ParquetBucketSink

    sink = ParquetBucketSink(str(tmp_path / "out"))
    assert sink.committed_doc_ids(spark) is None
    spans = tmp_path / "out" / "spans"
    spans.mkdir(parents=True)
    (spans / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        sink.committed_doc_ids(spark)
