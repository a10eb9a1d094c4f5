"""Seeded input generators for the workloads.

Everything here is a pure function of the seed: the same seed writes the
same corpus and the same tables.  The program under
test only ever sees what these functions write.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_craft_spark.corpus import generate_document, page_count, pages_to_spans

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), False),
    ]
)
CONTRACT_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), False), pa.field("spans", pa.list_(SPAN_TYPE), False)]
)

# Page bands of the heavy-tailed corpus's size classes.  The tail band is
# narrow so every seed has the same critical path (one ~2,000-page book
# per tail slot); the content of every book still varies with the seed.
TAIL_BAND = (1950, 2050)
MID_BAND = (40, 120)
SMALL_BAND = (4, 14)
FIRST_DOC_ID = 1000  # above the generator's fixed adversarial ids


def _book(doc_id: int, seed: int) -> tuple[str, list[tuple]]:
    return str(doc_id), pages_to_spans(generate_document(doc_id, seed))


def backfill_corpus(seed: int, n_books: int) -> list[tuple[str, list[tuple]]]:
    """Heavy-tailed corpus: 1% tail books, 4% mid-size books, the rest small.

    Doc ids are drawn in id order by size class (``page_count`` is cheap),
    the small and mid books are shuffled by the seed, and tail book ``i``
    sits at the fixed fraction (4i + 1) / (4 * n_tail) of the table (1/4
    with one tail book), so its file is the same for every seed."""
    n_tail = max(1, n_books // 100)
    n_mid = max(1, n_books * 4 // 100)
    quota = {"tail": n_tail, "mid": n_mid, "small": n_books - n_tail - n_mid}
    picked: dict[str, list[int]] = {k: [] for k in quota}
    doc_id = FIRST_DOC_ID
    while any(len(picked[k]) < quota[k] for k in quota):
        n = page_count(doc_id, seed)
        cls = (
            "tail" if TAIL_BAND[0] <= n <= TAIL_BAND[1]
            else "mid" if MID_BAND[0] <= n <= MID_BAND[1]
            else "small" if SMALL_BAND[0] <= n <= SMALL_BAND[1]
            else None
        )
        if cls is not None and len(picked[cls]) < quota[cls]:
            picked[cls].append(doc_id)
        doc_id += 1
    rest = picked["small"] + picked["mid"]
    random.Random(seed).shuffle(rest)
    for i, tail_id in enumerate(picked["tail"]):
        rest.insert((4 * i + 1) * n_books // (4 * n_tail), tail_id)
    return [_book(d, seed) for d in rest]


def corpus_shape(docs: list[tuple[str, list[tuple]]]) -> dict[str, float]:
    pages = sorted(
        (sum(1 for r in spans if r[0] in ("page", "page_error")) for _, spans in docs),
        reverse=True,
    )
    total = sum(pages)
    top = pages[: max(1, len(pages) // 100)]
    return {
        "docs": len(pages),
        "pages": total,
        "max_book_pages": pages[0] if pages else 0,
        "top1pct_page_share": sum(top) / total if total else 0.0,
    }


def write_contract(path: str, docs: list[tuple[str, list[tuple]]], n_files: int) -> None:
    """Write the (doc_id, spans) contract table as ``n_files`` parquet files
    holding contiguous runs of the docs, in order."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(docs) // n_files)
    for i in range(n_files):
        chunk = docs[i * per : (i + 1) * per]
        if not chunk:
            continue
        table = pa.table(
            {
                "doc_id": [d for d, _ in chunk],
                "spans": [
                    [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans]
                    for _, spans in chunk
                ],
            },
            schema=CONTRACT_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


# --- the star-schema tables the query registry reads ------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "nut")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def query_tables(seed: int, out_dir: str, scale: float) -> None:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings as single parquet files, with the
    column types and value domains of the TPC-H-style test tables the
    registry was written against.  ``scale`` 0.01 gives 60k lineitems."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    put("region", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    put("customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    put("orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 19, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    gaps = rng.exponential(259.0, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    put("events", {
        "event_id": i64(range(n_events)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(10, n_events // 66), n_events)),
        "event_type": [_EVENTS[e] for e in rng.integers(0, 5, n_events)],
        "value": _cents(rng, 0.01, 25, n_events) * rng.choice([1, 1, 1, 20], n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.01:  # exact re-posts for the dedup family
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": [_LANGS[x] for x in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(t) for t in texts]),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": i64(range(n_vecs)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs)),
    })
