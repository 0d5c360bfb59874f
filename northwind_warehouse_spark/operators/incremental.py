"""Audit-control / high-watermark incremental processing.

Re-expresses the reference's audit machinery
(reference: macros/audit_management/{generate_audit_table,initialized_audit,
updating_audit,get_audit_info}.sql) over the lake's own commits: an
entity's high watermark is the ``watermark`` of its latest
``VersionedTable`` log entry, committed put-if-absent together with the
data it describes, so data and watermark can never disagree and reading
the audit state starts no Spark job. The high-watermark predicate is a plain
timestamp filter, so it pushes down to the parquet scan (min/max
row-group stats skip old files entirely — this is the whole point at
100 TB). ``scd2_fold_commit`` is the one step that applies a change
slice to an SCD2 dimension and commits it with its watermark; a fold
that loses its version id to a concurrent writer re-folds on the
winner's version.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream, scd2_merge
from northwind_warehouse_spark.sources.versioned import VersionedTable, naive_utc

EPOCH_LOW = datetime(1900, 1, 1)


@dataclass
class AuditEntry:
    entity: str
    hwm_date: datetime
    is_processed: bool
    is_initialized: bool
    last_processed_date: datetime


class AuditControl:
    """Read-only audit view of the latest entry in ``<lake>/<entity>/_log/``,
    where ``<lake>`` is the directory holding ``path``'s ``_audit/``. Dates
    are naive UTC."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.lake = os.path.dirname(os.path.dirname(path.rstrip("/")))

    # kept only so perfbench's tracer still resolves it by name
    def initialize(self, entity: str, driver_table: str, business_key: str) -> None:
        """No-op: an entity with no commit already reads as 1900-01-01."""

    def get(self, entity: str) -> AuditEntry:
        """The watermark and commit time of the entity's latest version."""
        entry = VersionedTable(self.spark, self.lake, entity).latest()
        hwm = _committed_watermark(entry)
        if hwm is None:
            return AuditEntry(entity, EPOCH_LOW, False, entry is not None, EPOCH_LOW)
        return AuditEntry(entity, hwm, True, True,
                          naive_utc(datetime.fromisoformat(entry["committed_at"])))

    # kept only so perfbench's tracer still resolves it by name
    def update(self, entity: str, hwm_date: datetime, processed_at: datetime | None = None) -> None:
        raise NotImplementedError(
            "the watermark commits with its data: pass watermark= to VersionedTable.write")


def _committed_watermark(entry: dict | None) -> datetime | None:
    """The ``watermark`` of a log entry (naive UTC), or None when there
    is no entry or it records none."""
    wm = entry and entry["watermark"]
    return datetime.fromisoformat(wm) if wm else None


def high_watermark_filter(df: DataFrame, ts_col: str, hwm: str | datetime) -> DataFrame:
    """Rows strictly after the watermark — a pushdown-able predicate."""
    return df.filter(F.col(ts_col) > F.lit(hwm))


def scd2_fold_commit(vt: VersionedTable, changes: DataFrame, spec: dict) -> int | None:
    """Fold the change rows after ``vt``'s committed watermark into its
    SCD2 dimension (``spec``: the keyword arguments of ``scd2_merge``)
    and commit it with the newest change ``ts`` as its watermark in one
    log entry; returns the new version id. The dim is partitioned by
    ``is_active``: a fold reads and rewrites only the active slice, and
    the closed history carries forward as links, with the versions this
    fold closed added beside it (a dim committed unpartitioned is
    rewritten whole once). The slice's ``max(ts)`` is also its
    emptiness check: a slice with nothing after the watermark commits
    nothing. When its ``min(ts)`` is after the watermark too, the slice
    is folded unfiltered, so a steady batch's plan holds no watermark
    literal and reuses the generated code of the batch before it. A
    fold that loses its version id re-folds the rows after the winner's
    watermark on the winner's dimension."""
    ts = spec["ts_col"]
    changes = changes.select(*spec["key_cols"], ts, *spec["attr_cols"], *spec.get("tiebreak_cols", ()))
    # any non-empty slice after a watermark holds the overall newest ts
    oldest, newest = changes.agg(F.min(ts), F.max(ts)).collect()[0]

    def fold(dim: DataFrame | None, entry: dict | None) -> DataFrame | tuple | None:
        hwm = _committed_watermark(entry)
        if newest is None or (hwm is not None and naive_utc(newest) <= hwm):
            return None
        if hwm is None or naive_utc(oldest) > hwm:
            rows = changes.filter(F.col(ts).isNotNull())
        else:
            rows = high_watermark_filter(changes, ts, hwm)
        if dim is None:
            return scd2_from_change_stream(rows, **spec)
        if not os.path.isdir(os.path.join(entry["path"], "is_active=Y")):  # an unpartitioned dim
            return scd2_merge(dim, rows, **spec)
        return scd2_merge(dim.filter(F.col("is_active") == "Y"), rows, **spec), ["Y"]

    return vt.update(fold, partition_by=("is_active",), watermark=newest)


def incremental_merge_by_key(
    existing: DataFrame, incoming: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Upsert semantics of the reference's dbt incremental materialization
    (unique_key merge): incoming rows replace existing rows with the same
    business key. Expressed as anti-join + union; the anti-join needs no
    distinct keys, so a small ``incoming`` is broadcast with no shuffle.
    """
    return existing.join(incoming.select(*key_cols), on=key_cols, how="left_anti").unionByName(incoming)


def processing_date_range(
    audit: "AuditControl", entity: str, target_date: datetime
) -> dict:
    """The reference's get_processing_date_range macro: derive the
    incremental window for an entity from its audit state
    (reference: macros/get_processing_date_range.sql).

    Returns start/end dates, the current HWM, and whether processing is
    needed — the driver loop feeds this straight into
    high_watermark_filter."""
    entry = audit.get(entity)
    start = entry.last_processed_date if entry.last_processed_date > EPOCH_LOW else target_date
    needs = start <= target_date
    return {
        "start_date": start,
        "end_date": target_date,
        "hwm_date": entry.hwm_date,
        "is_processed": entry.is_processed,
        "needs_processing": needs,
        "total_days": (target_date - start).days + 1 if needs else 0,
    }
