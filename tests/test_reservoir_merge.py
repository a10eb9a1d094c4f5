"""The reservoir sample's mergeability claim: top-k by hash priority is
partitioning-invariant (per-shard top-ks reduce to the same global k),
and append-stable (adding new docs can only displace, never reshuffle,
survivors' relative order)."""

from __future__ import annotations

from pdf_craft_spark.queries.traindata import reservoir_sample_docs

SF = "/root/testdata/sf0.001"


def test_partitioning_invariance(spark):
    base = reservoir_sample_docs(spark, SF).collect()

    import pdf_craft_spark.queries.traindata as td

    orig = td.load_table
    try:
        td.load_table = lambda s, d, name: orig(s, d, name).repartition(13)
        repart = reservoir_sample_docs(spark, SF).collect()
    finally:
        td.load_table = orig
    assert base == repart


def test_append_stability(spark):
    """Dropping docs (simulating the pre-append corpus) keeps the
    surviving sample rows in the same relative order with the same
    priorities — the reservoir only ever displaces from the tail."""
    full = reservoir_sample_docs(spark, SF).collect()

    import pdf_craft_spark.queries.traindata as td

    orig = td.load_table
    try:
        td.load_table = lambda s, d, name: orig(s, d, name).filter("doc_id % 7 != 0")
        subset = reservoir_sample_docs(spark, SF).collect()
    finally:
        td.load_table = orig
    kept = [r.doc_id for r in full if r.doc_id % 7 != 0]
    assert [r.doc_id for r in subset[: len(kept)]] == kept
