"""Table loaders for a scale-factor directory of parquet files.

Mirrors the reference's ``models/source.yml`` source registry
(reference: models/source.yml) — one named loader per raw table, reading
the driver-generated testdata layout ``{sf_dir}/{table}.parquet``.

Loaders return plain DataFrames so Catalyst sees the parquet scan
directly: filters and column pruning push all the way down.
"""

from __future__ import annotations

import os
import weakref

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


# Spark's inferred schema per session, keyed by a file's footer schema
# plus the session confs that steer parquet schema conversion
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def _session_schemas(spark: SparkSession) -> dict:
    """The session's schema memo. Its first call pins the confs a
    vanilla (driver-built) session needs: nanos-as-long parquet reads
    and UTC timestamp semantics so results don't depend on the host
    JVM's default zone."""
    memo = _SCHEMAS.get(spark)
    if memo is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        memo = _SCHEMAS[spark] = {}
    return memo


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job
    once the session has seen the file's footer schema under the same
    inference confs: the schema Spark inferred then is passed back to
    it. A footer never seen before infers, once."""
    memo = _session_schemas(spark)
    layout = _footer(path)[2]
    if layout is None:
        return spark.read.parquet(path)
    key = (layout, *(spark.conf.get(c) for c in _INFER_CONFS))
    if key not in memo:
        df = spark.read.parquet(path)
        memo[key] = df.schema
        return df
    return spark.read.schema(memo[key]).parquet(path)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; expected one of {TABLES}")
    df = read_parquet(spark, f"{sf_dir.rstrip('/')}/{table}.parquet")
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
            # wall clock is UTC by construction; read_parquet pinned the
            # session tz to UTC, so the cast reinterprets the same instant
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_FOOTERS: dict[tuple[str, int, int], tuple[int, int, tuple | None]] = {}
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer(path: str) -> tuple[int, int, tuple | None]:
    """(rows, row groups, layout) of the parquet file, or directory of
    part files, at ``path``, read from the parquet footers with no Spark
    job and cached for the process lifetime under (path, mtime_ns, size).
    ``layout`` is what Spark infers a schema from: the parquet schema
    and the Spark schema a Spark writer stored; it is None when the part
    files disagree or sit in partition subdirectories, whose schema
    depends on more than the footers."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _FOOTERS:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            # Spark's file listing rule: names starting with _ or . are not data
            files = [os.path.join(root, n) for root, _, names in os.walk(path)
                     for n in names if not n.startswith(("_", "."))]
            flat = all(os.path.dirname(f) == path for f in files)
        else:
            files, flat = [path], True
        metas = [pq.read_metadata(f) for f in files]
        # the schema's text after its first line, which is the object's address
        layouts = {(str(m.schema).partition("\n")[2], (m.metadata or {}).get(_SPARK_SCHEMA))
                   for m in metas}
        _FOOTERS[key] = (sum(m.num_rows for m in metas), sum(m.num_row_groups for m in metas),
                         layouts.pop() if flat and len(layouts) == 1 else None)
    return _FOOTERS[key]


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
    return _footer(f"{sf_dir.rstrip('/')}/{table}.parquet")[0]


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
