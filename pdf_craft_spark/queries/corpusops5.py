"""Batch 5: binary sign-hash ANN — the 1-bit-per-dimension embedding
code (64 dims → two 32-bit words), Hamming-distance candidate
generation, and exact-cosine rerank.

Completes the quantization ladder next to SQ8 (similarity.sim_sq8_topk,
8 bits/dim) and PQ (pq_topk, sub-vector codebooks): sign codes are the
cheapest possible index — 64 bits per vector, XOR+popcount distance —
and the standard first-stage filter when the corpus outgrows even the
int8 index.  All house conventions from similarity.py apply: the code
table is materialized (the stored index; prod twin = a written table),
the query side is the broadcast N_QUERIES rows, scoring is corpus-linear
(never quadratic), and the final cosine reuses the exact fold-dot-product
recipe, so the oracle is bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.similarity import (
    _DOT,
    _DOT_DUCK,
    DIM,
    N_QUERIES,
    TOP_K,
)
from pdf_craft_spark.sources import load_table

QUERIES: dict = {}
ORACLES: dict = {}

# Hamming candidates per query before exact rerank.  Measured recall@5 on
# the isotropic sf0.01 corpus (1,000 unit vectors): cand 32 → 0.64,
# 64 → 0.72, 100 → 0.84, 150 → 0.94 — the familiar structure-less-data
# frontier (ann_frontier in BENCH.md): 1-bit codes rank by angle octant
# only, so isotropic data needs a ~10% candidate fraction for 0.84.
# Default 100; ties at the boundary break by neighbor_id so both engines
# cut identically.
BIN_CAND = 100

# DuckDB raises on 1 << 63 (sign bit), so the 64 sign bits are packed as
# TWO 32-bit words — shifts stay in [0, 31] on both engines.
_CODE_SPARK = (
    "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
    "CASE WHEN element_at(embedding, i + {off} + 1) > 0.0 "
    "THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
)
_CODE_DUCK = (
    "list_reduce(list_transform(range(0, 32), i -> "
    "CASE WHEN embedding[i + {off} + 1] > 0.0 "
    "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END), "
    "(acc, v) -> acc + v)"
)


def sim_binary_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    codes = emb.selectExpr(
        "vec_id",
        f"({_CODE_SPARK.format(off=0)}) AS c_lo",
        f"({_CODE_SPARK.format(off=32)}) AS c_hi",
    ).localCheckpoint(eager=True)  # the stored 64-bit sign index
    q = codes.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "c_lo AS q_lo", "c_hi AS q_hi"
    )
    scored = (
        F.broadcast(q)
        .crossJoin(codes.selectExpr("vec_id AS neighbor_id", "c_lo", "c_hi"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            "CAST(bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi) AS INT)"
            " AS hamming",
        )
    )
    wc = W.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    cand = scored.withColumn("crk", F.row_number().over(wc)).filter(
        F.col("crk") <= BIN_CAND
    )
    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("nq"),
    )
    ce = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("nc"),
    )
    rer = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(
                F.expr(_DOT.format(a="qe", b="ce"))
                / F.sqrt(F.col("nq") * F.col("nc")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "hamming", "cos_sim")
        .orderBy("query_id", "rank")
    )


SIM_BINARY_HASH_TOPK_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         {_CODE_DUCK.format(off=0)} AS c_lo,
         {_CODE_DUCK.format(off=32)} AS c_hi
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, c_lo AS q_lo, c_hi AS q_hi
  FROM codes WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q_lo, c.c_lo)) + bit_count(xor(q_hi, c.c_hi)) AS INT)
           AS hamming
  FROM q CROSS JOIN codes c WHERE query_id <> c.vec_id
), cand AS (
  SELECT query_id, neighbor_id, hamming
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY hamming ASC, neighbor_id ASC) AS crk
        FROM scored)
  WHERE crk <= {BIN_CAND}
), rer AS (
  SELECT cand.query_id, cand.neighbor_id, cand.hamming,
         round({_DOT_DUCK.format(a="qe.embedding", b="ce.embedding", n=DIM)}
               / sqrt({_DOT_DUCK.format(a="qe.embedding", b="qe.embedding", n=DIM)}
                      * {_DOT_DUCK.format(a="ce.embedding", b="ce.embedding", n=DIM)}),
               6) AS cos_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, rank, neighbor_id, hamming, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM rer
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""

QUERIES["sim_binary_hash_topk"] = sim_binary_hash_topk
ORACLES["sim_binary_hash_topk"] = SIM_BINARY_HASH_TOPK_SQL
