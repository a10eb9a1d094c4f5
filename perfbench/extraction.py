"""Extraction-side helpers: the Spark-free reference, output hashing, the
sink proxy and the layer probes of a traced run."""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import pyarrow.dataset as pads

from harness import timed
from tracing import span

PREFIX_REPS = 3  # timed runs of each pipeline prefix job


def span_hash(rows) -> str:
    """sha256 of a document's ordered (kind, text, media_ref, offset) spans."""
    h = hashlib.sha256()
    for kind, text, media_ref, offset in sorted(rows, key=lambda r: r[3]):
        h.update(repr((kind, text, media_ref, int(offset))).encode())
    return h.hexdigest()


KERNEL_PHASES = {
    # operators.document global -> kernel phase
    "prepare_pages": "kernel.prepare_pages",
    "find_toc_pages": "kernel.find_toc_pages",
    "analyse_toc_levels": "kernel.toc_levels",
    "analyse_title_levels": "kernel.toc_levels",
    "structure_toc": "kernel.toc_levels",
    "joint_document_stream": "kernel.joint_document_stream",
    "extract_page_references": "kernel.footnotes",
    "replace_marks_in_block": "kernel.footnotes",
    "join_adjacent_texts": "kernel.footnotes",
    "normalize_punctuation_in_chapter": "kernel.punctuation",
    "analyse_chapter_internal_levels": "kernel.chapter_levels",
    "render_document": "kernel.render_document",
}


class Reference:
    """The in-process kernel over the generated books, one call per doc —
    the same ``parse_raw_spans`` + ``extract_document`` the Spark plan
    wraps, with no Spark in between.  With a tracer, the kernel phases are
    timed spans and the EPUB records are built as well."""

    def __init__(self, docs, tracer=None):
        from pdf_craft_spark import corpus
        from pdf_craft_spark.operators import document, epub_records

        if tracer is not None:
            for attr, name in KERNEL_PHASES.items():
                tracer.wrap(document, attr, name)
            tracer.wrap(epub_records, "document_epub_records", "kernel.epub_records")
            tracer.wrap(epub_records, "collect_toc", "kernel.epub_records")
        self.spans: dict[str, str] = {}
        self.pages = 0
        t0 = time.perf_counter()
        try:
            for doc_id, rows in docs:
                with span(tracer, "kernel.parse_raw_spans"):
                    pages = corpus.parse_raw_spans(rows)
                with span(tracer, "kernel.extract_document"):
                    _, out = document.extract_document(pages)
                self.pages += sum(1 for r in rows if r[0] in ("page", "page_error"))
                self.spans[doc_id] = span_hash(
                    (s.kind, s.text, s.media_ref, s.offset) for s in out
                )
            self.seconds = time.perf_counter() - t0
            if tracer is not None:
                for _, rows in docs:
                    document.extract_epub_records(corpus.parse_raw_spans(rows))
        finally:
            if tracer is not None:
                tracer.restore()


def read_rows(path: str, columns: list[str]):
    """Every row of a parquet dataset (hive-partitioned or not) as a
    pandas frame, read without Spark."""
    return pads.dataset(path, partitioning="hive").to_table(columns=columns).to_pandas()


def committed_hashes(spans_dir: str) -> tuple[dict[str, str], int]:
    """({doc_id: span hash}, duplicate (doc_id, offset) count) of a
    committed spans dataset."""
    df = read_rows(spans_dir, ["doc_id", "kind", "text", "media_ref", "offset"])
    dups = int(df.duplicated(["doc_id", "offset"]).sum())
    df = df.sort_values(["doc_id", "offset"])
    out: dict[str, str] = {}
    for doc_id, g in df.groupby("doc_id", sort=False):
        out[doc_id] = span_hash(
            zip(g["kind"], g["text"].where(g["text"].notna(), None),
                g["media_ref"].where(g["media_ref"].notna(), None), g["offset"])
        )
    return out, dups


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


class SinkProxy:
    """A ParquetBucketSink whose four operations are traced spans; passed to
    ``run_with_resume(..., sink=)``."""

    def __init__(self, sink, tracer):
        self._sink, self._tracer = sink, tracer

    def committed_doc_ids(self, spark):
        with self._tracer.span("sink.committed_doc_ids"):
            return self._sink.committed_doc_ids(spark)

    def append_spans(self, flat):
        with self._tracer.span("sink.append_spans"):
            return self._sink.append_spans(flat)

    def read_spans(self, spark):
        with self._tracer.span("sink.read_spans"):
            return self._sink.read_spans(spark)

    def append_manifest(self, lineage):
        with self._tracer.span("sink.append_manifest"):
            return self._sink.append_manifest(lineage)


def pipeline_prefixes(spark, contract_path: str) -> dict[str, float]:
    """Prefix jobs into a noop sink: scan, + explode, + stage 1, + kernel.
    One untimed round warms the session (Python workers, JIT); then every
    prefix runs PREFIX_REPS times.  A layer's self time is the median of its
    prefix minus the median of the one before, negative when the layer
    costs less than the noise between the two."""
    from pdf_craft_spark.plans import pipeline

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    docs = spark.read.parquet(contract_path)
    flat = pipeline.explode_spans(docs)
    prep = pipeline.prepare_stage1(flat)
    stages = [
        ("scan", docs),
        ("explode", flat),
        ("stage1", prep),
        ("kernel", pipeline.extract_spans_df(docs)),
    ]
    secs: dict[str, list[float]] = {name: [] for name, _ in stages}
    for rep in range(PREFIX_REPS + 1):
        for name, df in stages:
            _, t = timed(noop, df)
            if rep:
                secs[name].append(t)
    out: dict[str, float] = {}
    before = 0.0
    for name, _ in stages:
        prefix = statistics.median(secs[name])
        out[f"pipeline.{name}_s"] = prefix - before
        before = prefix
    spans_in = flat.count()
    spans_prep = prep.count()
    out["pipeline.scan_partitions"] = docs.rdd.getNumPartitions()
    out["pipeline.spans_in"] = spans_in
    out["pipeline.f3_dropped"] = spans_in - spans_prep
    out["pipeline.spans_out"] = pipeline.extract_spans_df(docs).count()
    return out


def render_probe(spark, contract_path: str, out_dir: str) -> dict[str, float]:
    """Markdown and EPUB-record sinks over the contract table, appended as
    parquet."""
    from pdf_craft_spark.plans.pipeline import extract_epub_records_df, extract_markdown_df

    docs = spark.read.parquet(contract_path)
    _, md_s = timed(
        lambda: extract_markdown_df(docs).write.mode("append").parquet(
            os.path.join(out_dir, "markdown"))
    )
    _, epub_s = timed(
        lambda: extract_epub_records_df(docs).write.mode("append").parquet(
            os.path.join(out_dir, "epub"))
    )
    return {"render.markdown_s": md_s, "render.epub_s": epub_s}
