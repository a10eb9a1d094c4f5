"""The distributed plan must equal the single-process kernel span-for-span
(kind, text, media_ref, order) — the north-rule invariant — for every
sink, whatever the span order inside a contract row."""

from __future__ import annotations

from pdf_craft_spark.corpus import generate_document, pages_to_spans, parse_raw_spans
from pdf_craft_spark.operators.document import extract_document
from pdf_craft_spark.plans.pipeline import (
    corpus_df,
    doc_metrics,
    extract_spans_df,
    to_nested_output,
)

N_DOCS = 12
SEED = 42


def _local_truth(doc_id: int) -> list[tuple]:
    pages = parse_raw_spans(pages_to_spans(generate_document(doc_id, SEED)))
    _, spans = extract_document(pages)
    return [(s.kind, s.text, s.media_ref, s.offset) for s in spans]


def test_spark_pipeline_matches_kernel(spark):
    docs = corpus_df(spark, N_DOCS, SEED, partitions=4)
    flat = extract_spans_df(docs)
    rows = flat.collect()
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == N_DOCS
    for doc_id, doc_rows in by_doc.items():
        got = [
            (r.kind, r.text, r.media_ref, r.offset)
            for r in sorted(doc_rows, key=lambda r: r.offset)
        ]
        assert got == _local_truth(int(doc_id)), f"doc {doc_id} span mismatch"


def test_nested_output_order(spark):
    docs = corpus_df(spark, 4, SEED, partitions=2)
    nested = to_nested_output(extract_spans_df(docs)).collect()
    assert len(nested) == 4
    for row in nested:
        offsets = [s.offset for s in row.spans]
        assert offsets == sorted(offsets)
        assert offsets[0] == 0


def test_doc_metrics(spark):
    docs = corpus_df(spark, 4, SEED, partitions=2)
    m = {r.doc_id: r for r in doc_metrics(extract_spans_df(docs)).collect()}
    assert len(m) == 4
    for doc_id, row in m.items():
        assert row.n_spans == len(_local_truth(int(doc_id)))
        assert row.n_chapters >= 1


def test_markdown_sink_matches_kernel(spark):
    from pdf_craft_spark.plans.pipeline import extract_markdown_df

    docs = corpus_df(spark, 6, SEED, partitions=2)
    got = {r.doc_id: r.markdown for r in extract_markdown_df(docs).collect()}
    assert len(got) == 6
    for doc_id in got:
        pages = parse_raw_spans(pages_to_spans(generate_document(int(doc_id), SEED)))
        md, _ = extract_document(pages)
        assert got[doc_id] == md, f"doc {doc_id} markdown mismatch"


def test_three_sinks_match_kernel_on_40_docs(spark):
    """Live guard over 40 documents (including the adversarial long, CJK,
    HTML and PII books, ids 24-27): every sink's Spark output equals the
    in-process kernel document for document."""
    from pdf_craft_spark.operators.document import extract_epub_records
    from pdf_craft_spark.plans.pipeline import (
        extract_epub_records_df,
        extract_markdown_df,
    )

    n = 40
    docs = corpus_df(spark, n, SEED, partitions=4)
    spans: dict[str, list] = {}
    for r in extract_spans_df(docs).collect():
        spans.setdefault(r.doc_id, []).append(
            (r.offset, r.chapter_id, r.kind, r.text, r.media_ref)
        )
    markdown = {
        r.doc_id: (r.markdown, r.n_spans) for r in extract_markdown_df(docs).collect()
    }
    records: dict[str, list] = {}
    for r in extract_epub_records_df(docs).collect():
        records.setdefault(r.doc_id, []).append(tuple(r)[1:])
    tocs: dict[str, list] = {}
    for r in extract_epub_records_df(docs, which="toc").collect():
        tocs.setdefault(r.doc_id, []).append(tuple(r)[1:])

    assert len(spans) == len(markdown) == len(records) == n
    for doc_id in map(str, range(n)):
        pages = parse_raw_spans(pages_to_spans(generate_document(int(doc_id), SEED)))
        md, out = extract_document(pages)
        want = [(s.offset, s.chapter_id, s.kind, s.text, s.media_ref) for s in out]
        assert sorted(spans[doc_id]) == want, f"doc {doc_id} spans"
        assert markdown[doc_id] == (md, len(out)), f"doc {doc_id} markdown"
        rec_rows, toc_rows = extract_epub_records(pages)
        assert sorted(records[doc_id], key=repr) == sorted(
            map(tuple, rec_rows), key=repr
        ), f"doc {doc_id} epub records"
        assert sorted(tocs.get(doc_id, []), key=repr) == sorted(
            ((t.toc_id, t.parent_id, t.pos, t.title, t.has_chapter) for t in toc_rows),
            key=repr,
        ), f"doc {doc_id} epub toc"


def test_duplicate_doc_rows_fail_loudly_in_kernel(spark):
    """The zero-shuffle plan's precondition is one contract row per
    doc_id.  Duplicate rows co-located in one partition must raise a
    contract-violation error from the kernel, never emit a silently
    doubled document."""
    import pytest

    docs = corpus_df(spark, 4, SEED, partitions=2)
    dup = docs.unionAll(docs.limit(1)).repartition(1)  # dup rows co-located
    with pytest.raises(Exception, match="contract violation"):
        extract_spans_df(dup).count()


def test_duplicate_doc_split_across_batches_fails_loudly(spark):
    """The per-task duplicate guard spans Arrow batches: with one row per
    batch the two copies of a document never share a batch."""
    import pytest

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        docs = corpus_df(spark, 4, SEED, partitions=2)
        dup = docs.unionAll(docs.limit(1)).repartition(1)
        with pytest.raises(Exception, match="contract violation"):
            extract_spans_df(dup).count()
    finally:
        spark.conf.set(key, old)


def test_span_order_inside_a_row_does_not_matter(spark):
    """Contract rows whose spans arrays are reversed or shuffled give the
    same output as the offset-sorted rows, on every sink."""
    import random

    from pdf_craft_spark.plans.pipeline import (
        extract_epub_records_df,
        extract_markdown_df,
    )
    from pdf_craft_spark.schemas import INTERLEAVED_DOC_SCHEMA

    rows = [
        (str(d), pages_to_spans(generate_document(d, SEED))) for d in range(4)
    ]
    rng = random.Random(7)

    def scrambled(spans, i):
        spans = list(spans)
        if i % 2:
            spans.reverse()
        else:
            rng.shuffle(spans)
        return spans

    sorted_docs = spark.createDataFrame(rows, INTERLEAVED_DOC_SCHEMA)
    mixed_docs = spark.createDataFrame(
        [(d, scrambled(s, i)) for i, (d, s) in enumerate(rows)], INTERLEAVED_DOC_SCHEMA
    )
    for row in mixed_docs.collect():  # really out of order
        offsets = [s.offset for s in row.spans]
        assert offsets != sorted(offsets)
    sinks = [
        extract_spans_df,
        extract_markdown_df,
        extract_epub_records_df,
        lambda docs: extract_epub_records_df(docs, which="toc"),
    ]
    for sink in sinks:
        want, got = sink(sorted_docs), sink(mixed_docs)
        assert want.count() > 0
        assert want.exceptAll(got).count() == 0
        assert got.exceptAll(want).count() == 0


def test_assert_unique_docs_catches_cross_partition_duplicates(spark):
    """Cross-partition duplicates are invisible to any single kernel task;
    the opt-in table-level assertion catches them before the kernel runs
    (and is a no-op on a clean table)."""
    import pytest

    docs = corpus_df(spark, 4, SEED, partitions=2)
    # clean table: the assertion passes and the plan still runs
    assert extract_spans_df(docs, assert_unique_docs=True).count() > 0
    dup = docs.unionAll(docs.limit(1))
    with pytest.raises(ValueError, match="contract violation"):
        extract_spans_df(dup, assert_unique_docs=True)


def test_heavy_book_gets_its_own_partition(spark):
    """An under-partitioned input is rebalanced by cost: a book holding
    more than total/cores of the spans sits alone in partition 0 (its
    task is scheduled first), the rest hash-spread over the other
    partitions, and the output still equals the in-process kernel.  The
    heavy book's doc_id carries a quote: doc ids go into the plan as
    Column literals, never as SQL text."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.plans.pipeline import _ensure_parallelism
    from pdf_craft_spark.schemas import INTERLEAVED_DOC_SCHEMA

    cores = spark.sparkContext.defaultParallelism
    heavy = "it's 24"  # corpus doc 24 is the 520-page adversarial book
    ids = {d: heavy if d == 24 else str(d) for d in range(16, 32)}
    books = {ids[d]: pages_to_spans(generate_document(d, SEED)) for d in ids}
    assert len(books[heavy]) * cores > sum(map(len, books.values()))
    docs = spark.createDataFrame(list(books.items()), INTERLEAVED_DOC_SCHEMA).coalesce(1)

    placed = _ensure_parallelism(docs).select(
        "doc_id",
        F.spark_partition_id().alias("pid"),
        (F.pmod(F.hash("doc_id"), F.lit(cores - 1)) + 1).alias("spread"),
    ).collect()
    assert len(placed) == len(books)
    assert [r.doc_id for r in placed if r.pid == 0] == [heavy]
    assert all(r.pid == r.spread for r in placed if r.doc_id != heavy)

    got: dict[str, list] = {}
    for r in extract_spans_df(docs).collect():
        got.setdefault(r.doc_id, []).append((r.offset, r.chapter_id, r.kind, r.text, r.media_ref))
    assert set(got) == set(books)
    for doc_id, spans in books.items():
        _, out = extract_document(parse_raw_spans(spans))
        want = [(s.offset, s.chapter_id, s.kind, s.text, s.media_ref) for s in out]
        assert sorted(got[doc_id]) == want, f"doc {doc_id!r} spans"


def test_rebalance_without_heavy_books_is_the_hash_spread(spark):
    """With no heavy book the rebalance is today's repartition(cores,
    doc_id): each document lands in partition pmod(hash(doc_id), cores)."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.plans.pipeline import _ensure_parallelism

    cores = spark.sparkContext.defaultParallelism
    docs = corpus_df(spark, 8, SEED, partitions=1)  # no book above total/cores
    placed = _ensure_parallelism(docs).select(
        F.spark_partition_id().alias("pid"),
        F.pmod(F.hash("doc_id"), F.lit(cores)).alias("spread"),
    ).collect()
    assert len(placed) == 8
    assert all(r.pid == r.spread for r in placed)
