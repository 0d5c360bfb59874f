"""Versioned lake tables — time travel for reproducible pipelines.

The reference's intermediate models query Snowflake time travel
(``AT (TIMESTAMP => ...)``, reference: models/intermediate/
stg_dim_customer.sql:72) to reprocess historical states. Here every
write commits an immutable version; reads resolve a version id or an
as-of timestamp to it, so a run pinned to version N sees identical bytes
forever, regardless of later writes.

Layout:
    <root>/<table>/_log/<n>.json          # {version, committed_at, path, watermark, schema, identity}
    <root>/<table>/v=<n>/<writer>/ ... parquet ...

An entry's ``path`` is relative to ``<root>/<table>``, so a lake moved
to another directory still reads.

Version ``n`` commits by creating ``_log/<n>.json`` put-if-absent, as
Delta Lake names each log record by its version: the writer fills a data
directory of its own under ``v=<n>/``, writes the entry there and
hard-links it into the log. ``os.link`` fails when the name exists, so
one writer wins each ``n``; a loser removes its directory, and
``update`` rebuilds on the winner's version. The entry is the only
commit point: the data and its source ``watermark`` (the newest source
timestamp absorbed, naive UTC ISO, or null) land together or not at
all. Reads pass Spark the entry's ``schema``, so they infer nothing.

Every version's directory holds the whole table, so a version reads,
time-travels and vacuums alone. A write that replaces only some
partitions of its base commits carry-forward (``write(replace=...)``):
Spark writes the replaced partitions, and every other data file of the
base is hard-linked into the new directory, as Delta Lake rewrites
only the files a commit touches. A link costs no bytes, and a linked
file outlives the version it came from, so ``vacuum`` deletes
directories as before.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from contextlib import suppress
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# vacuum spares an unreferenced data directory younger than this: a writer may be filling it
ORPHAN_AGE_S = 3600.0
# characters Spark escapes in a partition directory name (ExternalCatalogUtils.escapePathName)
_ESCAPED = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(1, 32)}


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
        self.log = os.path.join(self.dir, "_log")

    # -- log ---------------------------------------------------------------

    def _ids(self) -> list[int]:
        return sorted(int(os.path.basename(p)[:-5]) for p in glob.glob(os.path.join(self.log, "*.json")))

    def _entry(self, version: int) -> dict:
        """Log entry ``version``, its ``path`` resolved against the table
        directory (an absolute one, as older entries hold, stays as is)."""
        with open(os.path.join(self.log, f"{version}.json")) as f:
            entry = json.load(f)
        entry["path"] = os.path.join(self.dir, entry["path"])
        return entry

    def versions(self) -> list[dict]:
        return [self._entry(v) for v in self._ids()]

    def latest(self) -> dict | None:
        ids = self._ids()
        return self._entry(ids[-1]) if ids else None

    # -- write -------------------------------------------------------------

    def commit(self, base: int, fill: Callable[[str], None], schema: StructType,
               watermark: datetime | None = None, committed_at: datetime | None = None,
               identity: str | None = None) -> int:
        """Commit version ``base + 1``, its data written by ``fill(path)`` to
        a directory of this writer's own; ``identity`` names what the data
        was built from (``index_store`` records its artifact's source).
        If another writer holds that version or ``vacuum`` dropped
        ``base`` (``fill`` may find that too), removes the directory and
        raises FileExistsError."""
        version = base + 1
        rel = os.path.join(f"v={version}", uuid.uuid4().hex)
        path = os.path.join(self.dir, rel)
        staged = os.path.join(path, "_entry.json")  # Spark skips "_" names
        try:
            fill(path)
            with open(staged, "w") as f:
                json.dump({"version": version, "path": rel, "schema": schema.jsonValue(),
                           "committed_at": _aware_utc(committed_at or datetime.now(timezone.utc)).isoformat(),
                           "watermark": naive_utc(watermark).isoformat() if watermark else None,
                           "identity": identity}, f)
            os.makedirs(self.log, exist_ok=True)
            if base >= 0 and not os.path.exists(os.path.join(self.log, f"{base}.json")):
                raise FileExistsError(f"{self.dir}: version {base} and so {version} were vacuumed")
            os.link(staged, os.path.join(self.log, f"{version}.json"))
        except FileExistsError:
            shutil.rmtree(path, ignore_errors=True)
            raise
        os.unlink(staged)
        return version

    def write(self, df: DataFrame, committed_at: datetime | None = None,
              partition_by: tuple[str, ...] = (), watermark: datetime | None = None,
              base: int | None = None, replace: list | None = None) -> int:
        """Commit ``df`` as a new immutable version, with the source
        ``watermark`` it has absorbed; returns its id. ``base`` is the
        version ``df`` was built from (-1: none); if another writer has
        committed after it, raises ``FileExistsError``. Without ``base``,
        ``df`` follows whichever version is latest.

        ``replace`` (values of ``partition_by[0]``, rendered with
        ``str`` as Spark names their directories) makes the commit
        carry ``base`` forward: ``df`` holds the new rows of those
        partitions, plus any rows it adds to other partitions, and
        every data file of ``base`` (required) outside them is hard-linked
        into the new version."""
        if replace is not None:
            if base is None or base < 0:
                raise ValueError("a carry-forward write needs the version it carries forward")
            skip = [f"{partition_by[0]}={v}" for v in replace]
            escaped = [d for v, d in zip(replace, skip)
                       if v is None or str(v) == "" or _ESCAPED & set(str(v))]
            if escaped:
                raise ValueError(f"partitions {escaped} are not all directories of version {base}: "
                                 "Spark escapes their values in directory names")

        def fill(path: str) -> None:
            df.write.mode("errorifexists").partitionBy(*partition_by).parquet(path)
            if replace is not None:
                try:
                    _link_partitions(self._entry(base)["path"], skip, path)
                except FileNotFoundError:  # a newer version superseded base, and vacuum dropped it
                    raise FileExistsError(f"{self.dir}: version {base} was vacuumed") from None

        while True:
            try:
                return self.commit((self._ids() or [-1])[-1] if base is None else base,
                                   fill, df.schema, watermark, committed_at)
            except FileExistsError:
                if base is not None:
                    raise

    def update(self, build: Callable[[DataFrame | None, dict | None], DataFrame | tuple | None],
               partition_by: tuple[str, ...] = (), watermark: datetime | None = None) -> int | None:
        """Read-modify-commit: ``build(latest, entry)`` maps the latest
        version and its entry (None, None for an empty table) to the next
        version, to a ``(rows, values)`` pair that replaces the partitions
        ``values`` of ``partition_by[0]`` with ``rows`` and carries the
        rest forward (see ``write``), or to None to commit nothing.
        Returns the committed id. A writer that loses the id rebuilds on
        the winner's version."""
        while True:
            entry = self.latest()
            out = build(self._read(entry) if entry else None, entry)
            if out is None:
                return None
            df, replace = out if isinstance(out, tuple) else (out, None)
            with suppress(FileExistsError):
                return self.write(df, partition_by=partition_by, watermark=watermark,
                                  base=entry["version"] if entry else -1,
                                  replace=replace if entry else None)

    # -- read --------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Latest version, or a pinned version id."""
        ids = self._ids()
        if not ids:
            raise FileNotFoundError(f"no versions in {self.dir}")
        if version is not None and version not in ids:
            raise KeyError(f"version {version} not found in {self.dir}")
        return self._read(self._entry(ids[-1] if version is None else version))

    def _read(self, entry: dict) -> DataFrame:
        schema = StructType.fromJson(entry["schema"])
        # Spark puts partition columns last; the entry's order stays the table's
        return self.spark.read.schema(schema).parquet(entry["path"]).select(*schema.fieldNames())

    def vacuum(self, keep_last: int = 1, older_than: datetime | None = None) -> list[int]:
        """Retention cleanup: drop the versions beyond the newest
        ``keep_last`` (and, if ``older_than`` is given, only those also
        superseded strictly before it). The latest version is never
        dropped. Returns the dropped version ids.

        Mirrors Delta/Iceberg VACUUM / expire_snapshots. A version ages
        from its successor's ``committed_at``, the moment it stopped
        being the latest (Delta's remove timestamp): a reader that
        resolved it as the latest just before then keeps its files for
        the whole ``older_than`` grace. Each entry goes BEFORE its data,
        so a crash leaves unreferenced files, never an entry pointing at
        deleted data. Data directories no entry references (a crashed or
        losing writer's) go once they are ``ORPHAN_AGE_S`` old."""
        versions = self.versions()
        dropped = [m for m, successor in zip(versions[:-max(1, keep_last)], versions[1:])
                   if older_than is None
                   or datetime.fromisoformat(successor["committed_at"]) < _aware_utc(older_than)]
        for m in dropped:
            os.unlink(os.path.join(self.log, f"{m['version']}.json"))
            shutil.rmtree(m["path"], ignore_errors=True)
        # writer directories are uuid-named: the name alone identifies one
        live = {os.path.basename(m["path"]) for m in versions if m not in dropped}
        for d in glob.glob(os.path.join(self.dir, "v=*", "*")):
            if os.path.basename(d) not in live and os.path.getmtime(d) < time.time() - ORPHAN_AGE_S:
                shutil.rmtree(d, ignore_errors=True)
        for d in glob.glob(os.path.join(self.dir, "v=*")):
            with suppress(OSError):  # only an empty one goes
                os.rmdir(d)
        return [m["version"] for m in dropped]

    def read_asof(self, ts: datetime) -> DataFrame:
        """The newest version committed at or before ``ts`` — the
        ``AT (TIMESTAMP => ...)`` semantics of the reference."""
        eligible = [m for m in self.versions()
                    if datetime.fromisoformat(m["committed_at"]) <= _aware_utc(ts)]
        if not eligible:
            raise KeyError(f"no version of {self.dir} existed at {ts.isoformat()}")
        return self._read(eligible[-1])


def _link_partitions(base: str, skip: list[str], path: str) -> None:
    """Hard-link every data file of the partitioned version directory
    ``base`` into ``path``, except those under the top-level partition
    directories named in ``skip``."""
    for root, _dirs, files in os.walk(base):
        rel = os.path.relpath(root, base)
        if rel == "." and any(not f.startswith(("_", ".")) for f in files):
            raise ValueError(f"{base} is not partitioned: nothing of it can carry forward")
        if rel == "." or rel.split(os.sep)[0] in skip:
            continue
        os.makedirs(os.path.join(path, rel), exist_ok=True)
        for f in files:
            if not f.startswith(("_", ".")):  # Spark's rule: not data
                os.link(os.path.join(root, f), os.path.join(path, rel, f))


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
