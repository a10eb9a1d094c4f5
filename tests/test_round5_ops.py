"""Edge-property tests for the round-5 time-series/sketch/sampling ops
(oracle parity is covered by test_oracle_parity; these pin the claims the
parity rows can't see)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from pdf_craft_spark.queries import sketches
from pdf_craft_spark.queries.timeseries import range_join_click_attribution

SF_DIR = "/root/testdata/sf0.001"


# --- HLL: accuracy tracks the theoretical bound across cardinalities --------
# The sketch recipe is engine-identical (oracle-proved), so accuracy can be
# checked in DuckDB alone — fast, no Spark session needed per case.
@pytest.mark.parametrize("n", [1_000, 5_000, 20_000, 100_000])
def test_hll_error_within_theoretical_bound(n):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT 'X' AS l_returnflag, "
        f"range AS l_orderkey FROM range({n})"
    )
    est, exact, err = con.execute(
        sketches.HLL_DISTINCT_ORDERS_SQL.replace("ORDER BY l_returnflag", "")
    ).fetchone()[4:7]
    assert exact == n
    # raw-HLL stderr is 1.04/sqrt(m) ~ 6.5% at m=256; allow 4 sigma
    assert abs(est - n) / n < 4 * 1.04 / (sketches._M ** 0.5), (n, est)


def test_hll_registers_merge_as_max():
    """Sketching two disjoint halves and max-merging the registers must
    reproduce the whole corpus's registers exactly — the property that
    makes the sketch shardable and unionable at scale."""
    con = duckdb.connect()
    pre = sketches.HLL_DISTINCT_ORDERS_SQL.split("), agg AS")[0] + ")"
    regs = """
    SELECT bucket, max(rho) AS mreg FROM r GROUP BY 1
    """
    def registers(src: str) -> dict:
        con.execute(
            f"CREATE OR REPLACE VIEW lineitem AS SELECT 'X' AS l_returnflag, "
            f"range AS l_orderkey FROM range(10000) WHERE {src}"
        )
        return dict(con.execute(pre + regs).fetchall())

    whole = registers("TRUE")
    lo = registers("range < 5000")
    hi = registers("range >= 5000")
    merged: dict = {}
    for part in (lo, hi):
        for b, m in part.items():
            merged[b] = max(merged.get(b, 0), m)
    assert merged == whole


# --- range join: the NTZ precondition is enforced, not assumed --------------
def test_range_join_rejects_ltz_timestamps(spark, tmp_path):
    docs = spark.range(4).select(
        F.col("id").alias("event_id"),
        F.lit("2024-01-05 12:00:00").cast("timestamp").alias("ts"),  # LTZ
        F.col("id").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    p = str(tmp_path / "ltz")
    docs.write.parquet(p + "/events.parquet")
    with pytest.raises(TypeError, match="TIMESTAMP_NTZ"):
        range_join_click_attribution(spark, p)


# --- mixture sampling: stable under repartition ------------------------------
def test_mixture_sample_is_repartition_invariant(spark):
    from pdf_craft_spark.queries.traindata import sample_mixture_by_lang

    a = sample_mixture_by_lang(spark, SF_DIR).collect()
    # content-hash selection must not depend on physical layout
    import pdf_craft_spark.queries.traindata as td

    shuffled = td.load_table(spark, SF_DIR, "documents").repartition(7)
    orig = td.load_table
    td.load_table = lambda s, d, name: shuffled
    try:
        b = sample_mixture_by_lang(spark, SF_DIR).collect()
    finally:
        td.load_table = orig
    assert a == b


# --- histogram quantile sketch: estimate within one bin width ---------------
@pytest.mark.parametrize("dist", ["uniform", "lognormal-ish", "bimodal"])
def test_quantile_sketch_error_bounded_by_bin_width(dist):
    con = duckdb.connect()
    gen = {
        "uniform": "CAST(range AS DOUBLE)",
        # deterministic skewed tail via squared uniform
        "lognormal-ish": "CAST((range * range) / 10000.0 AS DOUBLE)",
        "bimodal": "CAST(CASE WHEN range % 2 = 0 THEN range * 0.1 ELSE 5000 + range * 0.1 END AS DOUBLE)",
    }[dist]
    con.execute(
        f"CREATE VIEW lineitem AS SELECT 'X' AS l_returnflag, {gen} AS "
        f"l_extendedprice FROM range(10000)"
    )
    rows = con.execute(sketches.QUANTILE_SKETCH_PRICES_SQL).fetchall()
    assert len(rows) == 3
    lo, hi = con.execute(
        "SELECT min(l_extendedprice), max(l_extendedprice) FROM lineitem"
    ).fetchone()
    bin_w = (hi - lo) / sketches._NB
    for flag, q, n, target, est in rows:
        true = con.execute(
            f"SELECT quantile_disc(l_extendedprice, {q}) FROM lineitem"
        ).fetchone()[0]
        true = float(true)
        assert abs(est - true) <= bin_w + 1e-9, (dist, q, est, true, bin_w)


# --- Bloom: no false negatives, ever ----------------------------------------
def test_bloom_has_no_false_negatives():
    """Every probe whose hash IS in the train split must bloom-hit:
    n_true_members must equal the directly-counted member probes (a miss
    would make it smaller)."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    row = con.execute(sketches.BLOOM_MEMBERSHIP_PROBE_SQL).fetchone()
    n_test, n_hits, n_true, n_fp, n_bits = row
    direct = con.execute(f"""
        WITH base AS (
          SELECT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ch,
                 CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 4)) AS BIGINT) % 100 AS pct
          FROM documents
        )
        SELECT count(*) FROM (
          SELECT ch FROM base WHERE pct >= {sketches._BLOOM_SPLIT}
          UNION ALL SELECT ch FROM base WHERE pct < 5
        ) p WHERE EXISTS (SELECT 1 FROM base t WHERE t.pct < {sketches._BLOOM_SPLIT} AND t.ch = p.ch)
    """).fetchone()[0]
    assert n_true == direct and direct > 0, (n_true, direct)
    assert n_hits >= n_true and n_fp == n_hits - n_true


def test_quantile_sketch_constant_input_collapses_to_value(spark, tmp_path):
    """All-equal values (mx == mn): the nullif guard routes BOTH engines
    through the same NULL -> least path, binning at NB-1 with est == the
    constant, instead of Spark NaN->bin0 vs DuckDB NULL->bin127."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT 'X' AS l_returnflag, "
        "CAST(42.5 AS DOUBLE) AS l_extendedprice FROM range(100)"
    )
    duck_rows = con.execute(sketches.QUANTILE_SKETCH_PRICES_SQL).fetchall()
    assert len(duck_rows) == 3
    for flag, q, n, target, est in duck_rows:
        assert est == 42.5, (q, est)

    sf = str(tmp_path)
    spark.range(100).selectExpr(
        "'X' AS l_returnflag", "CAST(42.5 AS DOUBLE) AS l_extendedprice"
    ).write.parquet(sf + "/lineitem.parquet")
    spark_rows = [
        tuple(r)
        for r in sketches.quantile_sketch_prices(spark, sf).collect()
    ]
    assert spark_rows == duck_rows


def test_sq8_recall_vs_exact_inner_product():
    """SQ8 quantization quality gate (DuckDB-only, fast): top-5 by the
    int8-quantized inner product must recover >= 0.9 of the exact
    inner-product top-5 — measured 0.98 on the sf0.01 corpus.  A recall
    collapse here means the quantizer (scale choice / rounding) broke,
    independently of cross-engine parity."""
    import duckdb

    from pdf_craft_spark.queries.similarity import (
        DIM,
        N_QUERIES,
        SIM_SQ8_TOPK_SQL,
        TOP_K,
        _DOT_DUCK,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    exact = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
    s AS (SELECT query_id, neighbor_id,
                 {_DOT_DUCK.format(a="qe", b="ce", n=DIM)} AS ip
          FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, neighbor_id) rk FROM s
    ) WHERE rk <= {TOP_K}
    """
    ex = set(map(tuple, con.execute(exact).fetchall()))
    sq = set(
        map(
            tuple,
            con.execute(
                f"SELECT query_id, neighbor_id FROM ({SIM_SQ8_TOPK_SQL})"
            ).fetchall(),
        )
    )
    assert len(ex) == N_QUERIES * TOP_K
    assert len(ex & sq) / len(ex) >= 0.9


def test_anomaly_zero_fill_and_integer_z_test():
    """DuckDB-only semantics pin for anomaly_hourly_events: (a) hours
    with no events appear zero-filled (dropping them would bias the mean
    exactly when traffic dies — the case the detector exists for); (b)
    the all-integer test (n*c - s)^2 > 9*(n*s2 - s^2) flags exactly the
    hours the float z-score |c-mean| > 3*stddev_pop flags."""
    import duckdb

    from pdf_craft_spark.queries.timeseries import ANOMALY_HOURLY_EVENTS_SQL

    con = duckdb.connect()
    # 10 quiet hours of 2 events + one 40-event spike + one EMPTY hour gap
    # (the window must be wide enough that the spike's own contribution to
    # the population stddev doesn't mask it: here 3*sd ~= 31.7 < |40-5|)
    rows = []
    eid = 0
    for h in range(12):
        if h == 3:
            continue  # hour 3 empty — must still appear zero-filled
        for i in range(40 if h == 2 else 2):
            rows.append(f"({eid}, TIMESTAMP '2024-01-01 {h:02d}:10:00', 'click')")
            eid += 1
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") v(event_id, ts, event_type)"
    )
    got = con.execute(ANOMALY_HOURLY_EVENTS_SQL).fetchall()
    by_hour = {r[1]: (r[2], r[3]) for r in got}
    assert len(got) == 12  # complete scaffold incl. the empty hour
    assert by_hour["2024-01-01 03:00"] == (0, False)  # zero-filled
    # float reference: mean/stddev_pop over the same 6 zero-filled counts
    import statistics

    counts = [c for c, _ in (by_hour[h] for h in sorted(by_hour))]
    mu = statistics.mean(counts)
    sd = statistics.pstdev(counts)
    for h in sorted(by_hour):
        c, flag = by_hour[h]
        assert flag == (abs(c - mu) > 3 * sd), (h, c, mu, sd)
    assert by_hour["2024-01-01 02:00"][1] is True  # the spike is caught


def test_cms_overcount_invariant_and_shard_merge():
    """DuckDB-only CMS properties over ALL keys (not just the top-10):
    (a) est >= exact for every key — Count-Min can only collide upward;
    (b) bucket-wise ADD is the merge operator: sketches of two disjoint
    shards sum to the whole stream's sketch exactly."""
    import duckdb

    from pdf_craft_spark.queries.sketches import _CMS_D, _cms_bucket

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/orders.parquet')"
    )
    buckets = " ".join(
        f"WHEN {r} THEN {_cms_bucket('duck', r)}" for r in range(_CMS_D)
    )
    hashed = f"""
    SELECT o_custkey, o_orderkey, u.r, CASE u.r {buckets} END AS bucket
    FROM orders CROSS JOIN unnest([0, 1, 2, 3]) u(r)
    """
    # (a) full-domain overcount invariant
    bad = con.execute(f"""
    WITH h AS ({hashed}),
    sketch AS (SELECT r, bucket, count(*) AS cnt FROM h GROUP BY r, bucket),
    exact AS (SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey),
    probes AS (SELECT DISTINCT o_custkey, r, bucket FROM h),
    est AS (SELECT p.o_custkey, min(s.cnt) AS e
            FROM probes p JOIN sketch s USING (r, bucket) GROUP BY p.o_custkey)
    SELECT count(*) FROM exact JOIN est USING (o_custkey) WHERE e < c
    """).fetchone()[0]
    assert bad == 0
    # (b) shard merge: even/odd orderkey shards sum to the whole sketch
    diff = con.execute(f"""
    WITH h AS ({hashed}),
    whole AS (SELECT r, bucket, count(*) AS cnt FROM h GROUP BY r, bucket),
    sh AS (SELECT r, bucket, o_orderkey % 2 AS shard, count(*) AS cnt
           FROM h GROUP BY r, bucket, shard),
    merged AS (SELECT r, bucket, sum(cnt) AS cnt FROM sh GROUP BY r, bucket)
    SELECT count(*) FROM whole w FULL JOIN merged m USING (r, bucket)
    WHERE w.cnt IS DISTINCT FROM m.cnt
    """).fetchone()[0]
    assert diff == 0


def test_triangle_stats_on_known_graph():
    """Swap the pairs CTE for K4 + a pendant edge and check every number:
    K4's inner nodes have 3 wedges / 3 triangles (clustering 1.0), the
    node carrying the pendant has 6 wedges / 3 triangles (0.5), the
    pendant leaf has none.  Also pins that the oriented edge-join counts
    each triangle exactly once per member node."""
    import duckdb

    from pdf_craft_spark.queries.graphq import GRAPH_TRIANGLE_STATS_SQL

    head, tail = GRAPH_TRIANGLE_STATS_SQL.split("), nodes AS (", 1)
    sql = (
        "WITH pairs AS (SELECT * FROM (VALUES (1, 2), (1, 3), (1, 4), "
        "(2, 3), (2, 4), (3, 4), (4, 5)) v(doc_a, doc_b)), nodes AS ("
        + tail
    )
    got = {r[0]: r[1:] for r in duckdb.connect().execute(sql).fetchall()}
    assert got[1] == (3, 3, 3, 1_000_000)
    assert got[2] == (3, 3, 3, 1_000_000)
    assert got[3] == (3, 3, 3, 1_000_000)
    assert got[4] == (4, 6, 3, 500_000)
    assert got[5] == (1, 0, 0, 0)


def test_label_propagation_on_known_graph():
    """Swap the pairs CTE for two cliques bridged by one edge: K3
    {1,2,3} and K3 {4,5,6} joined by (3,4).  After round 1 every node
    holds its neighborhood min; round 2's frequency argmax keeps the two
    communities labeled 1 and 4 — the bridge must NOT merge them under
    the most-frequent/smallest-tie rule.  Checks sizes and the exact
    final labeling."""
    import duckdb

    from pdf_craft_spark.queries.graphq import GRAPH_LABEL_PROPAGATION_SQL

    head, tail = GRAPH_LABEL_PROPAGATION_SQL.split("), edges AS (", 1)
    sql = (
        "WITH pairs AS (SELECT * FROM (VALUES (1, 2), (1, 3), (2, 3), "
        "(4, 5), (4, 6), (5, 6), (3, 4)) v(doc_a, doc_b)), edges AS ("
        + tail
    )
    got = {r[0]: (r[1], r[2]) for r in duckdb.connect().execute(sql).fetchall()}
    # hand-traced for the deterministic rule: round 1 maps each node to
    # its neighborhood min (1->2, 2->1, 3->1, 4->3, 5->4, 6->4); round
    # 2's frequency argmax settles the first clique on label 1 while the
    # second clique — still mid-oscillation after 2 sync rounds — lands
    # on {4: label 4 (freq 2), 5: 3, 6: 3}.  The exact values pin BOTH
    # the tie rule (min label at equal frequency) and the fixed
    # synchronous round count; the bridge never merges the cliques.
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 1), 5: (3, 2), 6: (3, 2),
    }, got


def test_pq_rerank_recall_vs_exact_cosine():
    """PQ quality gate (DuckDB-only, fast): the ADC-shortlist + exact
    rerank top-5 must recover >= 0.9 of the exact cosine top-5 — measured
    0.92 on the sf0.01 corpus (the ADC code alone measures 0.22 there:
    isotropic data is incompressible, which is exactly why the rerank
    stage exists).  A drop means the codebook fit or the LUT/shortlist
    dataflow broke, independently of cross-engine parity."""
    import duckdb

    from pdf_craft_spark.queries.similarity import (
        SIM_COSINE_TOPK_SQL,
        _pq_duck_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    gt = set(
        map(
            tuple,
            con.execute(
                f"SELECT query_id, neighbor_id FROM ({SIM_COSINE_TOPK_SQL})"
            ).fetchall(),
        )
    )
    got = set(
        map(
            tuple,
            con.execute(
                "SELECT query_id, neighbor_id FROM ("
                + _pq_duck_sql("/root/testdata/sf0.01")
                + ")"
            ).fetchall(),
        )
    )
    assert len(gt & got) / len(gt) >= 0.9


def test_ivfpq_rerank_recall_vs_exact_cosine():
    """Composed IVF-PQ quality gate (DuckDB-only): routing loss (IVF) and
    code-ranking loss (PQ) compound, so the deeper IVFPQ_SHORTLIST=150
    exists precisely to recover the IVF routing ceiling — measured 0.92
    at sf0.01 (0.86 at the flat-PQ shortlist of 100)."""
    import duckdb

    from pdf_craft_spark.queries.similarity import (
        SIM_COSINE_TOPK_SQL,
        _ivfpq_duck_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    )
    gt = set(
        map(
            tuple,
            con.execute(
                f"SELECT query_id, neighbor_id FROM ({SIM_COSINE_TOPK_SQL})"
            ).fetchall(),
        )
    )
    got = set(
        map(
            tuple,
            con.execute(
                "SELECT query_id, neighbor_id FROM ("
                + _ivfpq_duck_sql("/root/testdata/sf0.01")
                + ")"
            ).fetchall(),
        )
    )
    assert len(gt & got) / len(gt) >= 0.9
