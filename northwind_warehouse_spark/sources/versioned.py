"""Versioned lake tables — time travel for reproducible pipelines.

The reference's intermediate models query Snowflake time travel
(``AT (TIMESTAMP => ...)``, reference: models/intermediate/
stg_dim_customer.sql:72) to reprocess historical states. The lake-native
equivalent: every write creates an immutable version directory plus a
manifest entry; reads resolve a version id or an as-of timestamp to its
directory. This also gives training jobs snapshot isolation — a run
pinned to version N sees identical bytes forever, regardless of later
writes.

Layout:
    <root>/<table>/_manifest.json   # [{version, committed_at, path, watermark}]
    <root>/<table>/v=<n>/ ... parquet ...

A manifest entry is the only commit point of a version: its data
directory and its source ``watermark`` (the newest source timestamp the
version has absorbed, naive UTC ISO, or null) land in the same atomic
``os.replace`` of the manifest — the ``txn`` action of Delta Lake's log.

Write amplification is per-version (full snapshots, like the reference's
materialized tables) — incremental formats (Delta/Iceberg) swap in
cleanly, the read API is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession


def _aware_utc(ts: datetime) -> datetime:
    """``ts`` as an aware datetime; a naive one is read as UTC."""
    return ts.replace(tzinfo=timezone.utc) if ts.tzinfo is None else ts


def naive_utc(ts: datetime) -> datetime:
    """``ts`` as a naive UTC datetime; a naive one is already UTC."""
    return _aware_utc(ts).astimezone(timezone.utc).replace(tzinfo=None)


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str, table: str):
        self.spark = spark
        self.dir = os.path.join(root, table)
        self.manifest_path = os.path.join(self.dir, "_manifest.json")

    # -- manifest ----------------------------------------------------------

    def _manifest(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return json.load(f)

    def versions(self) -> list[dict]:
        return self._manifest()

    # -- write -------------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        committed_at: datetime | None = None,
        partition_by: tuple[str, ...] = (),
        watermark: datetime | None = None,
    ) -> int:
        """Commit a new immutable version, with the source ``watermark``
        it has absorbed; returns its id."""
        manifest = self._manifest()
        version = (manifest[-1]["version"] + 1) if manifest else 0
        path = os.path.join(self.dir, f"v={version}")
        # no entry references v=<version>: it can only be left by a commit
        # that crashed before its manifest swap
        shutil.rmtree(path, ignore_errors=True)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        manifest.append({
            "version": version,
            "committed_at": _aware_utc(committed_at or datetime.now(timezone.utc)).isoformat(),
            "path": path,
            "watermark": naive_utc(watermark).isoformat() if watermark else None,
        })
        os.makedirs(self.dir, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)  # atomic manifest swap
        return version

    # -- read --------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Latest version, or a pinned version id."""
        manifest = self._manifest()
        if not manifest:
            raise FileNotFoundError(f"no versions in {self.dir}")
        if version is None:
            entry = manifest[-1]
        else:
            matches = [m for m in manifest if m["version"] == version]
            if not matches:
                raise KeyError(f"version {version} not found in {self.dir}")
            entry = matches[0]
        return self.spark.read.parquet(entry["path"])

    def vacuum(self, keep_last: int = 1, older_than: datetime | None = None) -> list[int]:
        """Retention cleanup: drop version directories beyond the newest
        ``keep_last`` (and, if ``older_than`` is given, only those also
        committed strictly before it). The latest version is never
        deleted. Returns the dropped version ids.

        Mirrors Delta/Iceberg VACUUM / expire_snapshots: storage for a
        full-snapshot versioned table grows linearly with commits, so at
        warehouse scale retention is not optional. The manifest is
        rewritten atomically BEFORE directories are removed — a crash
        between the two leaves unreferenced files (harmless, re-vacuumable),
        never a manifest pointing at deleted data."""
        manifest = self._manifest()
        keep_last = max(1, keep_last)
        cutoff = manifest[:-keep_last] if keep_last < len(manifest) else []
        if older_than is not None:
            cutoff = [m for m in cutoff
                      if datetime.fromisoformat(m["committed_at"]) < _aware_utc(older_than)]
        if not cutoff:
            return []
        dropped = {m["version"] for m in cutoff}
        kept = [m for m in manifest if m["version"] not in dropped]
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(kept, f, indent=2)
        os.replace(tmp, self.manifest_path)
        for m in cutoff:
            shutil.rmtree(m["path"], ignore_errors=True)
        return sorted(dropped)

    def read_asof(self, ts: datetime) -> DataFrame:
        """The newest version committed at or before ``ts`` — the
        ``AT (TIMESTAMP => ...)`` semantics of the reference."""
        eligible = [
            m for m in self._manifest()
            if datetime.fromisoformat(m["committed_at"]) <= _aware_utc(ts)
        ]
        if not eligible:
            raise KeyError(f"no version of {self.dir} existed at {ts.isoformat()}")
        return self.spark.read.parquet(eligible[-1]["path"])


def table_diff(old: DataFrame, new: DataFrame, key_cols: list[str]) -> DataFrame:
    """Snapshot diff between two table versions: one row per changed key
    with change_type ∈ {inserted, deleted, updated}.

    The data-reconciliation primitive for versioned lakes (audit a
    pipeline rerun, review what a backfill touched before promoting it).
    Implemented as a single full-outer join on the business key with
    md5-row-hash comparison for update detection — two shuffles, no
    driver-side row handling, linear at any table size."""
    from pyspark.sql import functions as F

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        non_key = [c for c in df.columns if c not in key_cols]
        return df.select(
            *key_cols,
            F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(non_key)])).alias(f"_h_{alias}"),
        )

    o = hashed(old, "old")
    n = hashed(new, "new")
    joined = o.join(n, key_cols, "full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("_h_old").isNull(), F.lit("inserted"))
        .when(F.col("_h_new").isNull(), F.lit("deleted"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("updated"))
        .alias("change_type"),
    ).filter(F.col("change_type").isNotNull())
