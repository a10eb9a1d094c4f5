"""The registry's two shared seams: table reads and the media artifact.

Every seeded-table read under queries/ goes through
``sources.load_table``, so the table layout (``{sf_dir}/{name}.parquet``
today, an Iceberg scan at cluster scale) is known in one module.  The
synth-media table is a ``session_artifact``: built once per session, its
checkpoint blocks protected from sweep-harness unpersists."""

from __future__ import annotations

import ast
import glob
import os
import shutil

from pdf_craft_spark.sources import load_table, table_path
from tests.test_oracle_parity import SF_DIR as SF

QUERIES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pdf_craft_spark",
    "queries",
)


def _strings(node: ast.AST) -> list[str]:
    return [
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]


def _mentions_sf_dir(node: ast.AST) -> bool:
    return any(isinstance(n, ast.Name) and n.id == "sf_dir" for n in ast.walk(node))


def _sf_dir_table_paths(src: str) -> list[int]:
    """Line numbers where a path join or f-string combines ``sf_dir`` with
    a ``.parquet`` name."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr != "join":
                continue
            parts = node.args
        elif isinstance(node, ast.JoinedStr):
            parts = node.values
        else:
            continue
        if any(_mentions_sf_dir(p) for p in parts) and any(
            ".parquet" in s for p in parts for s in _strings(p)
        ):
            hits.append(node.lineno)
    return hits


def test_detector_flags_both_spellings():
    assert _sf_dir_table_paths('os.path.join(sf_dir, "lineitem.parquet")') == [1]
    assert _sf_dir_table_paths('f"{sf_dir}/{name}.parquet"') == [1]
    assert _sf_dir_table_paths('os.path.join(_GOLDEN_DIR, "spans.parquet")') == []


def test_queries_read_tables_only_through_load_table():
    offenders = []
    for path in sorted(glob.glob(os.path.join(QUERIES_DIR, "*.py"))):
        with open(path) as f:
            for line in _sf_dir_table_paths(f.read()):
                offenders.append(f"{os.path.basename(path)}:{line}")
    assert not offenders, offenders


def test_media_is_one_protected_session_artifact(spark, tmp_path, monkeypatch):
    from pdf_craft_spark.queries import dedup, multimodalq

    # a directory no other test has built media for, so this call builds
    sf_dir = str(tmp_path)
    shutil.copy(table_path(SF, "documents"), table_path(sf_dir, "documents"))
    builds = []
    synth = multimodalq.synth_media_table

    def counting_synth(docs):
        builds.append(1)
        return synth(docs)

    monkeypatch.setattr(multimodalq, "synth_media_table", counting_synth)

    jsc = spark.sparkContext._jsc
    before = {int(k) for k in jsc.getPersistentRDDs().keySet()}
    media = multimodalq._media(spark, sf_dir)
    added = {int(k) for k in jsc.getPersistentRDDs().keySet()} - before

    assert multimodalq._media(spark, sf_dir) is media
    assert builds == [1]
    assert added and added <= dedup.PROTECTED_RDD_IDS
    assert media.count() == load_table(spark, sf_dir, "documents").count()
