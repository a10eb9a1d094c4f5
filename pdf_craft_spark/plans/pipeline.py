"""The distributed extraction plan.

Shape: one fully NARROW stage, ZERO shuffles, one Python boundary.

  stage 0  corpus scan of the nested (doc_id, spans) contract rows
           (Iceberg/parquet; here also distributed generation)
  stage 1  the per-doc kernel (operators/document.py) over whole document
           rows via ONE mapInArrow wrapper, _per_doc, shared by all three
           sinks (spans, markdown, EPUB records/TOC).  The contract table
           holds one row per document, so each row IS a complete book: no
           explode, no partition sort, no regrouping.  The kernel itself
           runs the text prep — F1 whitespace normalize, F3 degenerate-OCR
           filter, F4 title '#'-strip — and restores offset order
           (parse_raw_spans).  (The former repartition(doc_id) exchange
           was measured pure overhead: 5.7-5.8 s → 4.6-4.9 s at
           local[32]/3,200 docs, outputs value-identical.)
  stage 2  output assembly: flat span rows for downstream relational use,
           or re-nested arrays via array_sort(collect_list(struct)) for
           the Iceberg-style sink; per-doc metrics aggregate alongside.

explode_spans + prepare_stage1 keep the JVM form of F1/F3/F4 (Catalyst
regexp_replace/trim, an rlike backreference filter) for the
pipeline_stage1_prep query and for prefix-timing probes; extraction does
not run them.

Skew note (100 TB): documents are independent, so the only skew unit is
one long book (heavy-tailed page counts).  With the narrow plan the unit
of work is the scan split and no bytes move at all.  A book cannot be
split across executors without breaking W2's cross-page stitching
(sequential by construction in the reference, jointer.py:42-96), so a
job can finish no sooner than max(total/cores, largest book).  Where an
input has fewer splits than cores (_ensure_parallelism), placement aims
at that bound: each book above total/cores gets its own partition,
scheduled first, and the rest hash-spread over the remaining ones.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from pdf_craft_spark.corpus import parse_raw_spans
from pdf_craft_spark.operators.document import extract_document, extract_epub_records
from pdf_craft_spark.schemas import INTERLEAVED_DOC_SCHEMA, OUT_SPAN_SCHEMA
from pdf_craft_spark.shipping import ensure_package_shipped

# F3 as Java regex backreferences ((?s) so '.' spans newlines): a char
# n-gram (n in [2,5]) repeated >=16x back-to-back, or (n in [6,20]) >=8x —
# one combined scan per span (exactly has_repetitive_ngrams' two bands,
# textutil.py).
#
# Prefilter note (measured 2026-08-16, 250k spans / 146k past the length
# guard): a sound bounded-backreference prefilter
# ('(.)(.{0,4})(?:\1\2){3}|(.)(.{5,19})(?:\3\4){2}', 16% hit rate) made
# the stage SLOWER (0.98s vs 0.86s vs 0.18s regex-free) — both regexes
# fail fast per position, so the prefilter only adds a second scan.  The
# length<32 guard below is the effective prefilter (skips ~40% of spans).
#
# Third lever, measured and REJECTED (2026-08-17, 782k spans / 472k past
# the guard at sf0.1): short-circuiting the full scan behind a cheap
# single-char-run guard ('(?s)(.)\1{31}', a strict subset of band 1, so
# semantics-preserving as `cheap OR full`) — the guard hit ZERO spans
# (this corpus's degenerate class is 2-5-char-gram repeats, not 32+
# same-char runs) and the extra scan cost 12% (1.548s -> 1.734s,
# value-equal outputs).  The two-band regex IS the minimal scan here.
_REPETITION = r"(?s)(.{2,5})\1{15}|(?s)(.{6,20})\2{7}"


def corpus_df(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: doc ids fan out across partitions,
    each task generates its books locally (no driver-side data)."""
    ensure_package_shipped(spark)
    ids = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_craft_spark.corpus import generate_document, pages_to_spans

        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                spans = [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in pages_to_spans(generate_document(int(doc_id), seed))
                ]
                rows.append({"doc_id": str(int(doc_id)), "spans": spans})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return ids.mapInPandas(gen, schema=INTERLEAVED_DOC_SCHEMA)


def explode_spans(docs: DataFrame) -> DataFrame:
    """Nested contract shape → flat span rows.  Flat columnar spans shuffle
    and Arrow-transfer far better than arrays-of-structs (no per-row dict
    materialization on the Python side)."""
    return docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def prepare_stage1(flat: DataFrame) -> DataFrame:
    """F1 → F3 → F4 on flat span rows, in the reference's application
    order (page_extractor.py:105-123 then jointer.py:181-183) — all
    Catalyst scalar expressions inside whole-stage codegen, narrow.  The
    JVM twin of the kernel's own prep (prepare_pages); extraction does not
    use it.

    Parity footnote: the Python kernel's F1 also strips lone surrogates
    (textutil.py remove_surrogates); this JVM stage does not, which is
    unreachable here — lone surrogates cannot survive into a JVM string
    column: pyarrow/parquet ingest rejects them and the pickle
    createDataFrame path replaces them with U+FFFD, and on post-boundary
    values both surfaces agree (proved by fuzz in
    tests/test_surrogate_boundary.py, which pushes surrogate-bearing
    strings through the boundary and compares this stage against
    normalize_text)."""
    title_kinds = ("title", "sub_title", "fn_title", "fn_sub_title")
    normalized = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    flat = flat.withColumn("text", normalized)
    # guard: a 2-char gram x16 needs >=32 chars, so shorter spans skip the
    # (expensive) backreference regex entirely
    flat = flat.filter(
        (F.col("kind") == "page")
        | (F.length("text") < 32)
        | ~F.col("text").rlike(_REPETITION)
    )
    return flat.withColumn(
        "text",
        F.when(
            F.col("kind").isin(*title_kinds),
            F.regexp_replace(F.col("text"), r"^#+\s+", ""),
        ).otherwise(F.col("text")),
    )


def _check_unique_docs(docs: DataFrame) -> None:
    """Opt-in table-level contract assertion: exactly one row per doc_id.

    The zero-shuffle plan relies on this invariant (module docstring); a
    duplicate row in ANOTHER partition produces two complete documents
    that no single kernel task can detect (the per-task guard in
    _per_doc catches the same-task case for free).  This check is one
    cheap aggregation job (narrow scan + partial count, no wide rows
    move), but it IS an extra job, so it is off by default and enabled
    per call (assert_unique_docs=True) in tests and backfill runs over
    uncurated tables."""
    dup = (
        docs.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"contract violation: doc_id {dup[0]['doc_id']!r} appears in "
            f"{dup[0]['n']} rows — the contract table must hold exactly one "
            "nested row per document"
        )


def _heavy_books(docs: DataFrame, cores: int) -> list[str]:
    """doc_ids of the books costing more than total/cores, largest first.

    One probe job: the cost of a book is ``size(spans)``; the total rides
    along as an Observation on the same scan, and the take returns at
    most cores-1 rows (no more than cores-1 books can each exceed
    total/cores)."""
    obs = Observation()
    sizes = docs.select("doc_id", F.size("spans").alias("n"))
    top = (
        sizes.observe(obs, F.sum("n").alias("total"))
        .orderBy(F.desc("n"))
        .limit(cores - 1)
        .collect()
    )
    total = obs.get["total"] or 0
    return [r.doc_id for r in top if r.n and r.n * cores > total]


def _ensure_parallelism(docs: DataFrame) -> DataFrame:
    """Rebalance ONLY when the source has fewer partitions than cores.

    Then every heavy book (_heavy_books) gets a partition of its own,
    numbered first so its task is scheduled first, and the other books
    hash-spread over the remaining partitions: one repartitionById with
    partition id ``pmod(hash(doc_id), cores - h) + h`` for h heavy books
    (with h = 0 exactly repartition(cores, "doc_id")).  The rebalance
    moves whole nested rows (one row per document), so document
    atomicity — the zero-shuffle plan's precondition — is preserved by
    construction.  A 100 TB table has orders of magnitude more splits
    than executors, so at scale this branch never fires and extraction
    stays fully narrow."""
    cores = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= cores:
        return docs
    heavy = _heavy_books(docs, cores)
    pid = F.pmod(F.hash("doc_id"), F.lit(cores - len(heavy))) + len(heavy)
    for i, doc_id in enumerate(heavy):
        # doc_id is data: a Column literal, never spliced into SQL text
        pid = F.when(F.col("doc_id") == F.lit(doc_id), i).otherwise(pid)
    return docs.repartitionById(cores, pid)


def _per_doc(
    docs: DataFrame,
    fn: Callable[[str, list], list[tuple]],
    schema: T.StructType | str,
    assert_unique_docs: bool = False,
) -> DataFrame:
    """The one Python kernel boundary: ``fn(doc_id, pages)`` over every
    nested contract row via mapInArrow, output rows typed by ``schema``.

    Each Arrow batch's ``spans`` list column is read once: the list
    offsets bound every document's slice of the four struct fields, and
    parse_raw_spans restores offset order, so no explode, sort or
    regrouping runs in between.  Each document's output is emitted as its
    own Arrow batch, so peak Python memory is bounded by the largest book,
    not by the input batch.  A document with no spans emits no row.

    Contract guard (fail loud, not corrupt): a doc_id seen twice by one
    task raises instead of emitting a doubled document; duplicates in
    different tasks need the table-level assert_unique_docs check."""
    ensure_package_shipped(docs.sparkSession)
    if assert_unique_docs:
        _check_unique_docs(docs)
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    out_schema = to_arrow_schema(schema)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        seen: set[str] = set()
        for batch in batches:
            spans = batch.column("spans")
            cols = [spans.values.field(n) for n in ("kind", "text", "media_ref", "offset")]
            bounds = spans.offsets.to_pylist()
            for i, doc_id in enumerate(batch.column("doc_id").to_pylist()):
                if doc_id in seen:
                    raise ValueError(
                        f"contract violation: doc_id {doc_id!r} appears twice in "
                        "one task — the contract table must hold exactly one "
                        "row per doc_id"
                    )
                seen.add(doc_id)
                lo, hi = bounds[i], bounds[i + 1]
                if lo == hi:
                    continue
                doc_rows = list(zip(*(c[lo:hi].to_pylist() for c in cols)))
                out = fn(doc_id, parse_raw_spans(doc_rows))
                if out:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c, type=f.type) for c, f in zip(zip(*out), out_schema)],
                        schema=out_schema,
                    )

    return _ensure_parallelism(docs).select("doc_id", "spans").mapInArrow(kernel, schema)


def extract_spans_df(
    docs: DataFrame, boilerplate: bool = False, assert_unique_docs: bool = False
) -> DataFrame:
    """Full extraction: nested contract table in, flat output spans out
    (doc_id, chapter_id, kind, text, media_ref, offset)."""

    def spans(doc_id: str, pages: list) -> list[tuple]:
        _, out = extract_document(pages, boilerplate_strip=boilerplate)
        return [(doc_id, s.chapter_id, s.kind, s.text, s.media_ref, s.offset) for s in out]

    return _per_doc(docs, spans, OUT_SPAN_SCHEMA, assert_unique_docs)


def to_nested_output(flat_spans: DataFrame) -> DataFrame:
    """Stage 2: re-nest to the hinted (doc_id, spans) output shape, span
    order restored JVM-side by array_sort on the leading offset field."""
    return (
        flat_spans.groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(offset, kind, text, media_ref))), "
                "x -> named_struct('kind', x.kind, 'text', x.text, "
                "'media_ref', x.media_ref, 'offset', x.offset))"
            ).alias("spans")
        )
    )


MARKDOWN_SCHEMA = "doc_id string, markdown string, n_spans int"


def extract_markdown_df(docs: DataFrame, assert_unique_docs: bool = False) -> DataFrame:
    """S8: the markdown-file sink as a DataFrame — one rendered markdown
    string per document (same kernel, string output instead of spans)."""

    def markdown(doc_id: str, pages: list) -> list[tuple]:
        md, out = extract_document(pages)
        return [(doc_id, md, len(out))]

    return _per_doc(docs, markdown, MARKDOWN_SCHEMA, assert_unique_docs)


EPUB_RECORD_SCHEMA = (
    "doc_id string, chapter_id int, seq int, record string, level int, "
    "text string, latex string, media_ref string, html string, "
    "title string, caption string, footnote_id int"
)
EPUB_TOC_SCHEMA = (
    "doc_id string, toc_id int, parent_id int, pos int, title string, "
    "has_chapter boolean"
)


def extract_epub_records_df(
    docs: DataFrame, which: str = "records", assert_unique_docs: bool = False
) -> DataFrame:
    """S9: the EPUB record sink as a DataFrame — flat
    TextBlock/Formula/Image/Table/Footnote rows per document
    (``which='records'``) or the cleaned TOC tree rows (``which='toc'``);
    same zero-shuffle plan shape as the other sinks."""

    def epub(doc_id: str, pages: list) -> list[tuple]:
        records, tocs = extract_epub_records(pages)
        if which == "records":
            return [(doc_id, *r) for r in records]
        return [(doc_id, t.toc_id, t.parent_id, t.pos, t.title, t.has_chapter) for t in tocs]

    schema = EPUB_RECORD_SCHEMA if which == "records" else EPUB_TOC_SCHEMA
    return _per_doc(docs, epub, schema, assert_unique_docs)


def doc_metrics(flat_spans: DataFrame) -> DataFrame:
    """A9: per-doc extraction metrics (spans/doc, chapters/doc, kind mix)."""
    return (
        flat_spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.countDistinct("chapter_id").alias("n_chapters"),
            F.sum(F.when(F.col("kind") == "footnote", 1).otherwise(0)).alias("n_footnotes"),
            F.sum(F.when(F.col("kind").isin("image", "table", "equation"), 1).otherwise(0)).alias(
                "n_assets"
            ),
            F.sum(F.length("text")).alias("n_chars"),
        )
    )
