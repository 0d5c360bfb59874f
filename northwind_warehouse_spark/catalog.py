"""Table loaders for a scale-factor directory of parquet files.

Mirrors the reference's ``models/source.yml`` source registry
(reference: models/source.yml) — one named loader per raw table, reading
the driver-generated testdata layout ``{sf_dir}/{table}.parquet``.

Loaders return plain DataFrames so Catalyst sees the parquet scan
directly: filters and column pruning push all the way down.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_PINNED_SESSIONS: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def _pin_session_confs(spark: SparkSession) -> None:
    """Pin the confs a vanilla (driver-built) session needs, once per
    session: nanos-as-long parquet reads and UTC timestamp semantics so
    results don't depend on the host JVM's default zone. Cached in a
    WeakSet — repeated load() calls cost zero py4j round-trips."""
    global _PINNED_SESSIONS
    if _PINNED_SESSIONS is None:
        import weakref

        _PINNED_SESSIONS = weakref.WeakSet()
    if spark not in _PINNED_SESSIONS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _PINNED_SESSIONS.add(spark)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; expected one of {TABLES}")
    _pin_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{table}.parquet")
    if table == "events":
        # ts is TIMESTAMP(NANOS) in the file. How it surfaces depends on
        # session confs we may not control (the driver builds its own
        # session): long nanos when nanosAsLong was set at builder time,
        # TIMESTAMP_NTZ under Spark 4's default native-nanos inference, or
        # TIMESTAMP when inferTimestampNTZ is off. Normalize every case to
        # a session-tz (UTC-pinned) microsecond TIMESTAMP so downstream
        # epoch-µs arithmetic matches DuckDB's ns→datetime truncation.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # wall clock is UTC by construction; session tz is pinned UTC
            # above, so the cast reinterprets the same instant
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_ROW_COUNTS: dict[tuple[str, int, int], int] = {}


def table_rows(sf_dir: str, table: str) -> int:
    """Exact row count of ``{sf_dir}/{table}.parquet`` from parquet
    FOOTER metadata — zero Spark jobs, cached for the process lifetime
    (round-6 verdict #5: occupancy-scaled policies were paying one
    driver-side ``df.count()`` job per query invocation).

    The cache key is (path, mtime_ns, size): a table rewritten
    in-process (e.g. a scale-smoke dir rebuilt with mode=overwrite)
    invalidates its entry automatically, so corpus-size-derived
    parameters (IVF centroid counts, adaptive sample ppm) can never
    silently desync from the oracle's ``count(*)`` on the new file.

    The footer count is exactly what both engines see: Spark's
    metadata-only count and DuckDB's ``count(*)`` read the same file.
    Handles both single files and Spark-written directories of part
    files (the scale-smoke layout; directory mtime changes when part
    files are replaced)."""
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; expected one of {TABLES}")
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _ROW_COUNTS:
        import pyarrow.dataset as ds

        _ROW_COUNTS[key] = ds.dataset(path, format="parquet").count_rows()
    return _ROW_COUNTS[key]


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> list[str]:
    """Register every raw table as a temp view so users query the
    warehouse in plain Spark SQL — the access mode dbt users already
    live in (the reference is SQL-first; parity includes the interface,
    not just the operators).

    Views are zero-copy: each is the ``load``-conformed DataFrame (nanos
    conversion, UTC pin), so ``spark.sql("SELECT ... FROM lineitem")``
    sees exactly what the Python plans see and Catalyst still pushes
    filters/pruning into the parquet scan through the view. Returns the
    registered names (``{table}{suffix}``)."""
    names = []
    for t in TABLES:
        name = f"{t}{suffix}"
        load(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names
