"""Lake storage: readers and partitioned writers.

The reference materializes every model as a Snowflake table
(reference: dbt_project.yml `+materialized: table`); the Spark-first
equivalent is parquet (or any columnar lake format) with explicit
partition columns so downstream scans prune:

- facts partition by a date-derived column (order_year) → time-range
  queries touch only matching directories at 100 TB;
- dims stay unpartitioned single-digit-GB tables that broadcast.

``write_table`` is a plain Spark overwrite; ``compact_table``,
``cluster_table`` and ``forget_keys`` commit a new version of a
``VersionedTable`` on its put-if-absent log (a race with another writer
raises ``FileExistsError``). The first two rewrite the whole table;
``forget_keys`` rewrites only the partitions holding a forgotten key
and carries the others forward as hard links, the commit the warehouse
pipeline's batches make too. ``read_table_evolved`` fills columns that
old files lack, mirroring dbt's `on_schema_change: sync_all_columns`.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northwind_warehouse_spark.sources.versioned import VersionedTable


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


def _latest(vt: VersionedTable) -> tuple[dict, DataFrame, datetime | None]:
    """``vt``'s latest entry, its rows and its watermark."""
    entry = vt.latest()
    df = vt.read(entry and entry["version"])  # an empty table raises here
    wm = entry["watermark"]
    return entry, df, datetime.fromisoformat(wm) if wm else None


def _rewrite(vt: VersionedTable, fill) -> None:
    """Commit the version after ``vt``'s latest, written by ``fill(path,
    rows, entry)`` from that version; its schema and watermark carry over."""
    entry, df, wm = _latest(vt)
    vt.commit(entry["version"], lambda path: fill(path, df, entry), df.schema, wm)


def _count_files(p: str) -> int:
    return sum(n.endswith(".parquet") for _root, _dirs, files in os.walk(p) for n in files)


def compact_table(vt: VersionedTable, partition_by: tuple[str, ...] = (),
                  max_records_per_file: int = 1_000_000) -> dict:
    """Small-files compaction: rewrite the latest version of a (possibly
    partitioned) table so each partition holds few right-sized files.

    Streaming ingest and fine-grained incremental merges leave lakes
    littered with KB-scale files; at 100 TB the resulting footer/open
    overhead dominates scan time. The rewrite is one shuffle
    (repartition on the partition columns so each partition is written
    by one task), bounded per-file row counts via maxRecordsPerFile, and
    one commit of a new version, so readers never see a half-compacted
    table (the OPTIMIZE of table formats). Returns before/after file
    counts.
    """
    stats = {}

    def fill(path: str, df: DataFrame, entry: dict) -> None:
        compacted = df.repartition(*[F.col(c) for c in partition_by]) if partition_by else df.coalesce(1)
        (compacted.write.option("maxRecordsPerFile", str(max_records_per_file))
         .partitionBy(*partition_by).parquet(path))
        stats.update(files_before=_count_files(entry["path"]), files_after=_count_files(path))

    _rewrite(vt, fill)
    return stats


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


def forget_keys(vt: VersionedTable, key_col: str, keys: list, partition_col: str) -> dict:
    """Compliance delete (GDPR/right-to-be-forgotten): commit a version
    of the table without any row whose ``key_col`` is in ``keys``,
    rewriting ONLY the partitions that contain them.

    The partition discovery is a pushdown-able filter + distinct over
    the partition column (reads just the affected column, prunes via
    row-group stats); the new version is a carry-forward commit
    (``VersionedTable.write(replace=...)``) that hard-links the files of
    every untouched partition — on a 100 TB lake a single-user delete
    rewrites a few files, not the table. Returns the partitions
    rewritten (none when no row matches: the version then only
    hard-links)."""
    entry, df, wm = _latest(vt)
    doomed = F.col(key_col).isin(keys)
    affected = sorted(r[0] for r in df.filter(doomed).select(partition_col).distinct().collect())
    vt.write(df.filter(F.col(partition_col).isin(affected) & ~doomed), partition_by=(partition_col,),
             watermark=wm, base=entry["version"], replace=affected)
    return {"partitions_rewritten": len(affected), "partition_values": [str(v) for v in affected]}


def cluster_table(vt: VersionedTable, cluster_by: tuple[str, ...],
                  partition_by: tuple[str, ...] = (), max_records_per_file: int = 1_000_000) -> dict:
    """Cluster-sort the latest version of a table on ``cluster_by`` so
    row-group min/max statistics become selective (the plain-lake analog
    of OPTIMIZE ... ZORDER for the single-key case).

    A lake table written in ingest order has every row group spanning
    the full key domain, so a point/range predicate on the key reads
    every row group despite parquet's stats. Range-repartitioning on the
    cluster keys + sortWithinPartitions gives globally disjoint,
    per-row-group-narrow key ranges: a key predicate then prunes to
    O(selectivity) row groups via footer stats alone — at 100 TB the
    difference between scanning a file and scanning the table. One
    shuffle (the range exchange), one commit of a new version as in
    ``compact_table``. Returns per-file key-span audit info.
    """
    cols, audit = [F.col(c) for c in cluster_by], {}

    def fill(path: str, df: DataFrame, entry: dict) -> None:
        (df.repartitionByRange(*cols).sortWithinPartitions(*cols)
         .write.option("maxRecordsPerFile", str(max_records_per_file))
         .partitionBy(*partition_by).parquet(path))
        audit.update(file_key_spans(path, cluster_by[0]))

    _rewrite(vt, fill)
    return audit


def file_key_spans(path: str, key: str) -> dict:
    """Audit helper: per parquet file, the (min, max) span of ``key``
    from footer statistics only (no data read) — the evidence that a
    clustered table actually prunes."""
    import pyarrow.parquet as pq

    spans = {}
    for root, _dirs, files in os.walk(path):
        for fpath in (os.path.join(root, f) for f in files if f.endswith(".parquet")):
            meta = pq.read_metadata(fpath)
            stats = [c.statistics for rg in map(meta.row_group, range(meta.num_row_groups))
                     for c in map(rg.column, range(rg.num_columns))
                     if c.path_in_schema == key and c.statistics is not None]
            spans[os.path.relpath(fpath, path)] = (
                min((s.min for s in stats), default=None), max((s.max for s in stats), default=None))
    return {"files": len(spans), "spans": spans}
