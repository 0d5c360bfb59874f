"""Scan-parallelism repair for under-split inputs (guide §2.5 "input
skew: one huge unsplittable file").

A parquet scan parallelizes at ROW-GROUP granularity: Spark slices the
byte range by ``spark.sql.files.maxPartitionBytes``, but a row group is
decoded whole by the one task whose slice contains its midpoint. The
driver testdata writes each table as a single file with a SINGLE row
group, so every scan — and with it ALL map-side work upstream of the
first Exchange (partial aggregation, broadcast-join probes, fingerprint
hashing, explodes) — runs on ONE core regardless of ``local[N]``.
Queries whose plans have no Exchange at all (pure broadcast-join
pipelines like fact_lineitem) are then single-threaded end to end.

``spread_scan`` repairs this with a round-robin repartition to the
session's default parallelism, CONDITIONALLY: only when the file's own
split capacity (total row groups across part files, from parquet FOOTER
metadata — zero jobs, cached) cannot feed at least half the cores AND
the table is big enough for the extra exchange to pay for itself. On a
real warehouse layout (thousands of row groups at 100 TB) the condition
is false and this is an identity — no extra Exchange, no plan change;
the knob never needs cluster-specific tuning because both inputs
(row groups, cores) are read from the environment at call time.

Scale-honesty: the repartition width follows
``sparkContext.defaultParallelism``, so the driver's lower-core bench
runs measure the same plan at their own width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from northwind_warehouse_spark.catalog import _footer, table_rows

# Below this row count the single-task map work is too small for an
# extra exchange to pay for itself (measured: the win on 600k-row
# lineitem is ~4x, on 5k-row documents the explode still pays, but a
# sub-10k-row SCAN with cheap map work just adds a shuffle barrier).
MIN_SPREAD_ROWS = 50_000


def scan_splits(path: str) -> int:
    """Total parquet row groups under ``path`` (file or directory of
    part files) — the scan's real parallelism capacity — from the footer
    read ``catalog.table_rows`` caches (no Spark job, one read per file
    and (mtime_ns, size), so in-process rewrites invalidate naturally)."""
    return max(_footer(path)[1], 1)


def spread_scan(
    df: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    table: str,
    *by: str,
    min_rows: int = MIN_SPREAD_ROWS,
) -> DataFrame:
    """Repartition ``df`` (a fresh ``catalog.load`` of ``table``) to the
    session's default parallelism IFF the underlying file cannot split
    to at least half the cores on its own and the table has at least
    ``min_rows`` rows. Identity otherwise.

    ``by`` columns make it a HASH repartition on a (near-)unique key —
    measured strictly better than keyless round-robin because a keyless
    ``repartition(n)`` first pays a local sort of its input on the very
    task whose serialism we are repairing (sortBeforeRepartition,
    on-by-default for retry determinism; guide §2.5): fact_lineitem A/B
    warm med 2.14s base / 2.09s round-robin / 1.58s hash-by-key. Hash on
    real key columns is retry-deterministic for free. Callers pass the
    table's unique id (600k distinct over 32 partitions spreads to ±1%);
    never a low-cardinality column.

    Use at the BIG-side scan of queries whose expensive work sits
    upstream of the first Exchange (after the r13 broadcast-gate fixes,
    pure BHJ pipelines like fact_lineitem have NO exchange at all and
    were single-threaded end to end on single-row-group inputs);
    pointless (and mildly costly) where the first operation is a wide
    shuffle anyway."""
    try:
        rows = table_rows(sf_dir, table)
        path = f"{sf_dir.rstrip('/')}/{table}.parquet"
        splits = scan_splits(path)
    except OSError:
        return df
    cores = spark.sparkContext.defaultParallelism
    if rows < min_rows or splits * 2 >= cores:
        return df
    if by:
        return df.repartition(cores, *by)
    return df.repartition(cores)
