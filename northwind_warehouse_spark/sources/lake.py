"""Lake storage: readers and partitioned writers.

The reference materializes every model as a Snowflake table
(reference: dbt_project.yml `+materialized: table`); the Spark-first
equivalent is parquet (or any columnar lake format) with explicit
partition columns so downstream scans prune:

- facts partition by a date-derived column (order_year) → time-range
  queries touch only matching directories at 100 TB;
- dims stay unpartitioned single-digit-GB tables that broadcast.

Writers go through a staging-temp + atomic-ish rename-free overwrite
(Spark's own committer); readers re-apply schemas so drift is caught at
the boundary, mirroring dbt's `on_schema_change: sync_all_columns`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_table(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: str, header: bool = True) -> DataFrame:
    """Schema-enforced CSV ingestion (no inference jobs at scale)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """ORC interchange (Hive-ecosystem consumers); same partition-pruning
    contract as the parquet writer."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def compact_table(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int = 1_000_000,
) -> dict:
    """Small-files compaction: rewrite a (possibly partitioned) parquet
    table so each partition holds few right-sized files.

    Streaming ingest and fine-grained incremental merges leave lakes
    littered with KB-scale files; at 100 TB the resulting footer/open
    overhead dominates scan time. The rewrite is one shuffle
    (repartition on the partition columns so each partition is written
    by one task), bounded per-file row counts via maxRecordsPerFile, and
    an atomic directory swap so readers never see a half-compacted
    table. Returns before/after file counts.

    (Parity note: table-format engines do this as OPTIMIZE/rewrite; this
    is the plain-parquet-lake equivalent, reference-free.)
    """
    import os
    import shutil

    def _count_files(p: str) -> int:
        n = 0
        for root, _dirs, files in os.walk(p):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before = _count_files(path)
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    writer = (
        (df.repartition(*[F.col(c) for c in partition_by]) if partition_by else df.coalesce(1))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", str(max_records_per_file))
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    old = path.rstrip("/") + "__old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": _count_files(path)}


def read_table_evolved(spark: SparkSession, path: str, defaults: dict | None = None) -> DataFrame:
    """Schema-evolution-tolerant read: merge schemas across files written
    at different schema versions, then fill columns absent in old files
    with defaults. The lake analog of ALTER TABLE ADD COLUMN DEFAULT —
    old files are never rewritten; the default materializes at read
    time (a metadata-only migration, which is the only affordable kind
    at 100 TB)."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for col, default in (defaults or {}).items():
        df = df.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return df


def forget_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys: list,
    partition_col: str,
) -> dict:
    """Compliance delete (GDPR/right-to-be-forgotten): remove every row
    whose ``key_col`` is in ``keys``, rewriting ONLY the partitions that
    contain them.

    The partition discovery is a pushdown-able filter + distinct over
    the partition column (reads just the affected column, prunes via
    row-group stats); untouched partition directories are never opened
    for write — on a 100 TB lake a single-user delete rewrites a few
    files, not the table. Each rewrite lands via atomic directory swap.
    Returns the partitions rewritten."""
    import shutil

    df = spark.read.parquet(path)
    affected = sorted(
        r[0]
        for r in df.filter(F.col(key_col).isin(keys)).select(partition_col).distinct().collect()
    )
    for v in affected:
        part_dir = f"{path}/{partition_col}={v}"
        kept = spark.read.parquet(part_dir).filter(~F.col(key_col).isin(keys))
        tmp = part_dir + "__rewriting"
        kept.write.mode("overwrite").parquet(tmp)
        old = part_dir + "__old"
        shutil.move(part_dir, old)
        shutil.move(tmp, part_dir)
        shutil.rmtree(old)
    return {"partitions_rewritten": len(affected), "partition_values": affected}


def cluster_table(
    spark: SparkSession,
    path: str,
    cluster_by: tuple[str, ...],
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int = 1_000_000,
) -> dict:
    """Cluster-sort a parquet table on ``cluster_by`` so row-group
    min/max statistics become selective (the plain-lake analog of
    OPTIMIZE ... ZORDER for the single-key case).

    A lake table written in ingest order has every row group spanning
    the full key domain, so a point/range predicate on the key reads
    every row group despite parquet's stats. Range-repartitioning on the
    cluster keys + sortWithinPartitions gives globally disjoint,
    per-row-group-narrow key ranges: a key predicate then prunes to
    O(selectivity) row groups via footer stats alone — at 100 TB the
    difference between scanning a file and scanning the table. One
    shuffle (the range exchange); atomic directory swap as in
    ``compact_table``. Returns per-file key-span audit info.
    """
    import shutil

    df = spark.read.parquet(path)
    cols = [F.col(c) for c in cluster_by]
    clustered = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    tmp = path.rstrip("/") + "__clustering"
    writer = clustered.write.mode("overwrite").option(
        "maxRecordsPerFile", str(max_records_per_file)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    old = path.rstrip("/") + "__old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return file_key_spans(path, cluster_by[0])


def file_key_spans(path: str, key: str) -> dict:
    """Audit helper: per parquet file, the (min, max) span of ``key``
    from footer statistics only (no data read) — the evidence that a
    clustered table actually prunes."""
    import os

    import pyarrow.parquet as pq

    spans = {}
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            fpath = os.path.join(root, fname)
            meta = pq.ParquetFile(fpath).metadata
            lo, hi = None, None
            for rg in range(meta.num_row_groups):
                rgm = meta.row_group(rg)
                for ci in range(rgm.num_columns):
                    col = rgm.column(ci)
                    if col.path_in_schema == key and col.statistics is not None:
                        s = col.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            spans[os.path.relpath(fpath, path)] = (lo, hi)
    return {"files": len(spans), "spans": spans}
