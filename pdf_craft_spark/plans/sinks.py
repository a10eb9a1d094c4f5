"""Table-format sink seam for the checkpointed extraction output (S4/S7/S10).

The resume/lineage logic in plans/checkpoint.py talks to THIS interface
only; the storage format is a plugin.  Two implementations:

- ParquetBucketSink — what runs in this sandbox: bucket-partitioned
  parquet datasets with Spark's _SUCCESS/staging atomicity.
- IcebergSink — the production mapping, code-shaped: the same four
  operations expressed against Spark's DataSourceV2 ``writeTo`` API.  It
  needs the iceberg-spark-runtime jar + a configured catalog (neither is
  in this image — re-checked each round, last 2026-08-18 round 5
  session 11: no iceberg jar anywhere on the filesystem and no network
  to fetch one; the class raises a clear error without them and its
  test is import-gated), but
  every method body is the real call so "use Iceberg at prod" is a
  config change, not a rewrite.

Contract (what checkpoint.py relies on):
- ``append_spans`` is atomic-or-absent per call: a crashed run must never
  leave half a document visible (parquet: staging dir rename + _SUCCESS;
  Iceberg: snapshot commit).  It returns ``{bucket: (n_docs, n_spans)}``
  for the rows it wrote (buckets with no rows absent), counted by an
  Observation on the write itself — no read-back.  ``n_docs`` counts
  offset-0 rows: output spans number each document from 0
  (operators/render.py), so under the one-row-per-doc contract that
  equals ``count(DISTINCT doc_id)``.
- ``committed_doc_ids`` reflects only fully committed appends (parquet:
  files under the dataset root; Iceberg: the current snapshot).
- ``append_manifest`` records per-run, per-bucket lineage rows; it lands
  AFTER the spans commit, so a manifest row implies its data is queryable.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def bucket_expr(n_buckets: int):
    """Engine-agnostic bucket id: pmod(int(md5(doc_id)[:6] base 16), n).

    Content-derived and reproducible in ANY engine (DuckDB recomputes it
    as ``CAST('0x' || substr(md5(doc_id),1,6) AS BIGINT) % n``), which
    makes the per-bucket lineage manifest externally value-checkable —
    the driver's `lineage_manifest` oracle row depends on this.  At prod
    on Iceberg the native ``bucket(n, doc_id)`` transform (Murmur3) is
    the drop-in equivalent: swapping hash functions only changes physical
    placement, never resume semantics (resume anti-joins on doc_id, not
    bucket)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id")), 1, 6), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def _bucketed(flat: DataFrame, n_buckets: int) -> tuple[DataFrame, Observation]:
    """``flat`` plus its bucket column, carrying an Observation of the
    per-bucket doc and span counts for _bucket_counts: two metrics, one
    array expression each, so the driver builds two Columns, not
    2 x n_buckets.  Both sinks write this same explicit bucket column,
    which keeps the manifest's per-bucket lineage sink-agnostic."""

    def per_bucket(cond: str) -> Column:
        return F.expr(
            "array(" + ", ".join(f"count_if(bucket = {b}{cond})" for b in range(n_buckets)) + ")"
        )

    obs = Observation()
    flat = flat.withColumn("bucket", bucket_expr(n_buckets)).observe(
        obs, per_bucket(" AND `offset` = 0").alias("docs"), per_bucket("").alias("spans")
    )
    return flat, obs


def _bucket_counts(obs: Observation) -> dict[int, tuple[int, int]]:
    m = obs.get
    return {b: (d, s) for b, (d, s) in enumerate(zip(m["docs"], m["spans"])) if s}


class ParquetBucketSink:
    """Bucket-partitioned parquet with job-commit atomicity.

    Iceberg mapping per method in the docstrings; the bucket column
    (``bucket_expr``) plays the role of Iceberg's ``bucket(n, doc_id)``
    partition transform, so the layout carries over 1:1.
    """

    def __init__(self, out_dir: str, n_buckets: int = 16):
        self.out_dir = out_dir
        self.n_buckets = n_buckets

    # -- paths -----------------------------------------------------------
    def _spans_path(self) -> str:
        return os.path.join(self.out_dir, "spans")

    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, "manifest")

    # -- interface ---------------------------------------------------------
    def committed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        """Doc ids already durable, or None on first run.

        Only a missing dataset directory (Hadoop ``FileSystem.exists``)
        means "first run" — any read failure (storage hiccup, permissions,
        corrupt footer) must PROPAGATE:
        treating it as first-run would skip the left-anti join and append
        duplicates of everything already committed.

        Iceberg: ``SELECT DISTINCT doc_id FROM cat.db.spans`` — snapshot
        isolation makes 'committed' exact instead of directory-listing
        approximate; no None case (an empty table is just empty)."""
        path = spark._jvm.org.apache.hadoop.fs.Path(self._spans_path())
        if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
            return None  # first run: nothing committed yet
        return spark.read.parquet(self._spans_path()).select("doc_id").distinct()

    def append_spans(self, flat: DataFrame) -> dict[int, tuple[int, int]]:
        """Append span rows bucket-partitioned; Spark's commit protocol
        (task staging + job-level rename + _SUCCESS) gives append-or-absent.
        Returns the written rows' ``{bucket: (n_docs, n_spans)}``.

        Iceberg: ``flat.writeTo('cat.db.spans').append()`` — one atomic
        snapshot; concurrent runs serialize via optimistic retry.  Resume
        never rewrites rows, so plain append (not MERGE) is the right op;
        if dedup-on-write were ever needed:
        ``MERGE INTO spans t USING delta s ON t.doc_id = s.doc_id AND
        t.offset = s.offset WHEN NOT MATCHED THEN INSERT *``."""
        flat, obs = _bucketed(flat, self.n_buckets)
        flat.write.mode("append").partitionBy("bucket").parquet(self._spans_path())
        return _bucket_counts(obs)

    def read_spans(self, spark: SparkSession) -> DataFrame:
        """Full committed dataset.  mergeSchema: output dirs written before
        a column existed (e.g. run_id) must union footers, not sample one.

        Iceberg: ``spark.table('cat.db.spans')`` — schema evolution is
        tracked in table metadata, so the mergeSchema workaround drops out."""
        return (
            spark.read.option("mergeSchema", "true").parquet(self._spans_path())
        )

    def append_manifest(self, lineage: DataFrame) -> None:
        """Per-run per-bucket lineage rows (run_id, bucket, n_docs,
        n_spans, wall_sec, status).

        Iceberg: append to a ``spans_manifest`` table; half the row's
        content (files/rows per snapshot) also exists natively in
        ``cat.db.spans.snapshots`` / ``.manifests`` metadata tables — the
        explicit table keeps engine-agnostic metrics (wall_sec, status)."""
        lineage.write.mode("append").parquet(self._manifest_path())

    def read_manifest(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._manifest_path())


class IcebergSink:
    """The same four operations against a real Iceberg catalog table.

    Requires ``iceberg-spark-runtime`` on the classpath and a catalog in
    the session conf, e.g.::

        spark.sql.catalog.cat = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.cat.type = hadoop
        spark.sql.catalog.cat.warehouse = /path/wh

    Not runnable in this sandbox (no jars baked in, no network to fetch
    them) — constructor probes the catalog and fails with instructions.
    """

    def __init__(self, spark: SparkSession, table: str, n_buckets: int = 16):
        self.table = table
        self.manifest_table = table + "_manifest"
        self.n_buckets = n_buckets
        try:
            spark.sql(f"SELECT 1 FROM {table} LIMIT 0")
            self._exists = True
        except Exception as exc:
            if "TABLE_OR_VIEW_NOT_FOUND" in str(exc):
                self._exists = False  # catalog works, table doesn't exist yet
            else:
                raise RuntimeError(
                    "Iceberg catalog unavailable: add iceberg-spark-runtime "
                    "to spark.jars and configure spark.sql.catalog.<name>"
                ) from exc

    def committed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        if not self._exists:
            return None
        return spark.table(self.table).select("doc_id").distinct()

    def append_spans(self, flat: DataFrame) -> dict[int, tuple[int, int]]:
        # the table is physically partitioned by the explicit bucket column
        flat, obs = _bucketed(flat, self.n_buckets)
        if self._exists:
            flat.writeTo(self.table).append()  # one atomic snapshot
            return _bucket_counts(obs)
        # the cached _exists probe can be stale (table created concurrently
        # or externally after the constructor ran): treat ALREADY_EXISTS
        # from create() as "someone else won the race" and retry as an
        # append — symmetric with append_manifest's race handling
        try:
            flat.writeTo(self.table).partitionedBy(F.col("bucket")).create()
        except Exception as exc:
            if "ALREADY_EXISTS" not in str(exc):
                raise
            flat.writeTo(self.table).append()
        self._exists = True
        return _bucket_counts(obs)

    def read_spans(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.table)

    def append_manifest(self, lineage: DataFrame) -> None:
        # only a MISSING table falls back to create(); any other append
        # failure (commit conflict, schema drift) must propagate rather
        # than be masked by a confusing TABLE_ALREADY_EXISTS from create()
        try:
            lineage.writeTo(self.manifest_table).append()
        except Exception as exc:
            if "TABLE_OR_VIEW_NOT_FOUND" not in str(exc):
                raise
            lineage.writeTo(self.manifest_table).create()

    def read_manifest(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.manifest_table)
