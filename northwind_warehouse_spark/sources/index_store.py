"""Cross-session index artifacts on the versioned-table log — build
once per corpus version, adopt everywhere.

An ANN index (coarse codebook, PQ codebook, encoded vector table) is an
artifact of a corpus version, not of a Spark session: persisting it
means no later session re-scans the corpus to recreate it. Each stored
artifact is a ``VersionedTable`` under its root, one table per artifact
key (the corpus path plus the parameters that select the artifact), so
publishing, compaction and retention are commits on one put-if-absent
log, as Delta Lake keeps one log per table:

    <root>/<md5(key)>/_log/<n>.json      # {version, path, schema, committed_at, identity, ...}
    <root>/<md5(key)>/v=<n>/<writer>/    # the artifact's files

- **Identity.** An entry's ``identity`` hashes the corpus file identity
  (path, mtime, size — the ``catalog.table_rows`` convention) plus the
  artifact's format parameters. Builders are deterministic, so a stored
  artifact is value-identical to a rebuild, and adopting it is
  observationally equal to retraining.
- **Publish.** :func:`publish` serves the latest version when it holds
  the wanted identity, and otherwise builds once and commits the next
  version. Two sessions building one identity race for one version id:
  the loser's directory is removed and it serves the winner's version.
  A new corpus identity is a new version that supersedes the old one. A
  build that raises (the IVF-PQ recall gate) commits nothing.
- **Adopt, never rebuild.** :func:`ensure_bucketed_table` registers the
  latest version of a bucketed artifact in a session's catalog with a
  ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` DDL: zero data jobs.
  The bucket ids come from the file names ``write_bucketed`` produced,
  so co-located reads stay shuffle-free across sessions. The catalog
  name carries the version's writer directory, so a session notices a
  newer version and never serves a table of another root.
- **Compaction.** :func:`compact_bucketed_table` commits the next
  version of the same identity, written bucket-locally from the latest,
  unless every (generation, bucket) of the latest holds one file.
- **Generations.** Streaming maintenance appends rows to the latest
  version under the frozen quantizer, into a ``gen=<N>`` partition;
  :func:`generation` is the highest one. Generation 0 stays exactly
  what a rebuild of the corpus file produces, and maintained readers
  opt into the higher generations.
- **Retention.** Superseded versions go only through
  ``VersionedTable.vacuum(older_than=...)``, which ages a version from
  the commit that superseded it, so a reader that resolved it as the
  latest keeps its files for the whole grace. Nothing here vacuums.

Reference parity: the reference warehouse materializes models as
persistent tables that survive runs and rebuilds incrementally
(models/dwh/fact_order.sql is ``materialized='incremental'`` precisely
so nothing re-scans from scratch); this module is that discipline
applied to index state.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter
from collections.abc import Callable
from contextlib import suppress
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from northwind_warehouse_spark.sources.bucketing import write_bucketed
from northwind_warehouse_spark.sources.lake import _count_files
from northwind_warehouse_spark.sources.versioned import VersionedTable


def table(spark: SparkSession | None, root: str, key: str) -> VersionedTable:
    """The versioned table that holds artifact ``key`` under ``root``."""
    return VersionedTable(spark, root, hashlib.md5(key.encode()).hexdigest()[:16])


def publish(
    vt: VersionedTable,
    identity: str,
    build: Callable[[], DataFrame],
    write: Callable[[DataFrame, str], None] = lambda df, path: df.write.parquet(path),
) -> dict:
    """The latest entry of ``vt`` if it holds ``identity``; otherwise
    the entry of the next version, built once by ``build()`` and written
    by ``write(df, path)``. A writer that loses the version id to
    another writer serves the winner's version when it holds the same
    identity. The build's cache is released once written."""
    df = None
    try:
        while True:
            entry = vt.latest()
            if entry is not None and entry["identity"] == identity:
                return entry
            if df is None:
                df = build()
            with suppress(FileExistsError):
                version = vt.commit(entry["version"] if entry else -1,
                                    lambda path: write(df, path), df.schema, identity=identity)
                return vt._entry(version)
    finally:
        if df is not None:
            df.unpersist()


# Spark's bucketed file names end in _<bucket id>, before any extension
_BUCKET_FILE = re.compile(r".*_(\d+)(?:\..*)?$")


def _files_per_bucket(path: str) -> Counter:
    """Data files per (partition directory, bucket id) under ``path``."""
    return Counter((os.path.relpath(root, path), int(m.group(1)))
                   for root, _dirs, files in os.walk(path) for f in files
                   if not f.startswith(("_", ".")) and (m := _BUCKET_FILE.match(f)))


def generation(entry: dict) -> int:
    """The highest ``gen=<N>`` partition of a version: 0 until streaming
    maintenance appends a generation."""
    return max((int(d[4:]) for d in os.listdir(entry["path"]) if d.startswith("gen=")), default=0)


@dataclass(frozen=True)
class BucketSpec:
    """The catalog layout of a bucketed, partitioned artifact."""

    schema_ddl: str
    bucket_cols: tuple[str, ...]
    sort_cols: tuple[str, ...]
    n_buckets: int
    partition_col: str

    def write(self, spark: SparkSession, df: DataFrame, path: str) -> None:
        """Write ``df`` bucketed to ``path`` through a throwaway external
        table (bucketing is a ``saveAsTable`` feature); dropping the
        binding keeps the files."""
        build_tbl = f"nws_index_build_{os.path.basename(path)}"
        write_bucketed(
            df, build_tbl, self.bucket_cols, n_buckets=self.n_buckets,
            sort_cols=self.sort_cols, path=path, partition_cols=[self.partition_col],
        )
        spark.sql(f"DROP TABLE {build_tbl}")

    def serve(self, spark: SparkSession, table_prefix: str, entry: dict) -> str:
        """Register version ``entry`` as catalog table ``<table_prefix><writer
        dir>`` unless this session has it already; returns the name."""
        name = table_prefix + os.path.basename(entry["path"])
        if not spark.catalog.tableExists(name):
            spark.sql(
                f"CREATE TABLE {name} ({self.schema_ddl}) USING PARQUET "
                f"PARTITIONED BY ({self.partition_col}) "
                f"CLUSTERED BY ({', '.join(self.bucket_cols)}) "
                f"SORTED BY ({', '.join(self.sort_cols)}) INTO {self.n_buckets} BUCKETS "
                f"LOCATION '{entry['path']}'"
            )
            # register existing partition directories — metadata-only
            spark.sql(f"MSCK REPAIR TABLE {name}")
        return name


def ensure_bucketed_table(
    spark: SparkSession,
    table_prefix: str,
    vt: VersionedTable,
    identity: str,
    build_df: Callable[[], DataFrame],
    spec: BucketSpec,
) -> tuple[DataFrame, str]:
    """Serve the latest version of ``vt`` holding ``identity`` as a
    bucketed catalog table, building and committing it first if no
    session has. Returns ``(df, table name)``.

    Cheapest first: the version is in this session's catalog (zero
    work); it is on disk (adopt with the DDL: zero data jobs, plus one
    MSCK REPAIR metadata job); nothing holds
    the identity (``build_df()`` once, commit, adopt). A superseded
    version's catalog table is dropped; its files stay for vacuum."""
    before = vt.latest()
    entry = publish(vt, identity, build_df, lambda df, path: spec.write(spark, df, path))
    if before is not None and before["path"] != entry["path"]:
        spark.sql(f"DROP TABLE IF EXISTS {table_prefix}{os.path.basename(before['path'])}")
    name = spec.serve(spark, table_prefix, entry)
    return spark.table(name), name


def compact_bucketed_table(
    spark: SparkSession, table_prefix: str, vt: VersionedTable, spec: BucketSpec,
) -> dict:
    """Per-bucket small-files compaction for a stored bucketed index —
    the OPTIMIZE step of the maintenance story: every streaming append
    (ivf_pq_index_maintain_stream) adds one file per (micro-batch,
    bucket), and the footer/open overhead of many KB-scale bucket files
    comes to dominate the serving scan.

    The rewrite is BUCKET-LOCAL — zero Exchange: the bucketed scan is
    FORCED (autoBucketedScan normally disables it for plain scans
    because no join/agg consumes the distribution — exactly backwards
    here, where the distribution IS the point: with it disabled the
    read degrades to one task per small file and the writer faithfully
    reproduces the fragmentation), so each task receives exactly one
    bucket's file group and the writer emits ONE file per non-empty
    (partition, bucket), sorted by ``spec.sort_cols``.

    The rewrite commits the next version of the same identity, so a
    crash leaves either the old version served (the new files are an
    unreferenced writer directory ``vacuum`` collects) or the new one;
    a reader of the old version keeps its files until ``vacuum``'s
    grace has passed. Raises ``FileExistsError`` if another writer
    commits first. When no (generation, bucket) of the latest version
    holds more than one file, there is nothing to compact and nothing
    commits. Returns before/after file counts and the old/new catalog
    table names (the same name when nothing committed)."""
    entry = vt.latest()
    if entry is None:
        raise KeyError(f"compact_bucketed_table: {vt.dir} holds no version")
    old = spec.serve(spark, table_prefix, entry)
    if max(_files_per_bucket(entry["path"]).values(), default=0) <= 1:
        n = _count_files(entry["path"])
        return {"files_before": n, "files_after": n, "old_table": old, "new_table": old}
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

    def fill(path: str) -> None:
        prev = spark.conf.get(conf, "true")
        spark.conf.set(conf, "false")
        try:
            spec.write(spark, spark.table(old), path)
        finally:
            spark.conf.set(conf, prev)

    version = vt.commit(entry["version"], fill, StructType.fromJson(entry["schema"]),
                        identity=entry["identity"])
    new = vt._entry(version)
    spark.sql(f"DROP TABLE {old}")
    return {
        "files_before": _count_files(entry["path"]),
        "files_after": _count_files(new["path"]),
        "old_table": old,
        "new_table": spec.serve(spark, table_prefix, new),
    }
