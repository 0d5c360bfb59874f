"""Time-travel reads over versioned lake tables (Snowflake AT parity)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _utc(y, mo, d, h=0):
    return datetime(y, mo, d, h, tzinfo=timezone.utc)


def test_versioned_write_read_asof(spark, tmp_path):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path), "customers")
    c = load(spark, SF_SMOKE, "customer")

    v0 = t.write(c.filter(F.col("c_custkey") < 50), committed_at=_utc(2024, 1, 1))
    v1 = t.write(c.filter(F.col("c_custkey") < 100), committed_at=_utc(2024, 2, 1))
    v2 = t.write(c, committed_at=_utc(2024, 3, 1))
    assert (v0, v1, v2) == (0, 1, 2)

    assert t.read().count() == c.count()              # latest
    assert t.read(version=0).count() == 50            # pinned
    assert t.read_asof(_utc(2024, 2, 15)).count() == 100   # between v1 and v2
    assert t.read_asof(_utc(2024, 1, 1)).count() == 50     # exactly at v0

    with pytest.raises(KeyError):
        t.read_asof(_utc(2023, 12, 31))               # before first commit
    with pytest.raises(KeyError):
        t.read(version=99)

    # immutability: a later write must not change a pinned read
    before = sorted(r.c_custkey for r in t.read(version=0).collect())
    t.write(c.limit(1), committed_at=_utc(2024, 4, 1))
    after = sorted(r.c_custkey for r in t.read(version=0).collect())
    assert before == after


def test_table_diff_classifies_changes(spark):
    from northwind_warehouse_spark.sources.versioned import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, name string, v long"
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 99), (4, "d", 40)], "k long, name string, v long"
    )
    got = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "deleted", 3: "updated", 4: "inserted"}


def test_vacuum_retention(spark, tmp_path):
    import os

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    c = load(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    t = VersionedTable(spark, str(tmp_path), "cust")
    for i, day in enumerate((1, 2, 3, 4)):
        t.write(c.limit(10 + i), committed_at=_utc(2024, 3, day))

    # keep_last bounds retention; latest always survives
    dropped = t.vacuum(keep_last=2)
    assert dropped == [0, 1]
    assert [m["version"] for m in t.versions()] == [2, 3]
    assert not os.path.exists(os.path.join(str(tmp_path), "cust", "v=0"))
    assert t.read(version=3).count() == 13
    with pytest.raises(KeyError):
        t.read(version=0)

    # older_than further narrows: nothing before the cutoff -> no-op
    assert t.vacuum(keep_last=1, older_than=_utc(2024, 3, 3)) == []
    assert [m["version"] for m in t.versions()] == [2, 3]

    # keep_last=0 is clamped: the newest version can never be vacuumed
    assert t.vacuum(keep_last=0) == [2]
    assert [m["version"] for m in t.versions()] == [3]


def test_entry_without_schema_reads_by_inference(spark, tmp_path):
    """A manifest entry in the format that predates the ``schema`` field
    still reads, latest, pinned and as-of, by schema inference."""
    import json

    from northwind_warehouse_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path), "t")
    df = spark.range(4).select("id", (F.col("id") % 2).cast("int").alias("part"))
    t.write(df, committed_at=_utc(2024, 1, 1), partition_by=("part",))
    t.write(df.filter("id < 3"), committed_at=_utc(2024, 2, 1), partition_by=("part",))
    schema = t.read().schema
    with open(t.manifest_path) as f:
        manifest = json.load(f)
    for entry in manifest:
        del entry["schema"]
    with open(t.manifest_path, "w") as f:
        json.dump(manifest, f)

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    assert t.read().schema == schema
    assert rows(t.read()) == [(0, 0), (1, 1), (2, 0)]
    assert rows(t.read(version=0)) == rows(t.read_asof(_utc(2024, 1, 15))) == [
        (0, 0), (1, 1), (2, 0), (3, 1)]


def test_crashed_commit_does_not_wedge_the_table(spark, tmp_path, monkeypatch):
    """A commit that dies after writing its ``v=<n>`` directory but before
    the manifest swap leaves that directory unreferenced. The next write
    must reuse the id and commit, not fail on the leftover forever."""
    import os

    from northwind_warehouse_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path), "t")
    assert t.write(spark.range(3), watermark=datetime(2024, 1, 1)) == 0

    def crash(*args, **kwargs):
        raise OSError("crash before the manifest swap")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            t.write(spark.range(5), watermark=datetime(2024, 1, 2))
    assert os.path.isdir(os.path.join(str(tmp_path), "t", "v=1"))
    assert [(v["version"], v["watermark"]) for v in t.versions()] == [(0, "2024-01-01T00:00:00")]
    assert t.read().count() == 3

    for n in (7, 9):  # every retry commits, not only the first
        v = t.write(spark.range(n), watermark=datetime(2024, 1, 3))
        assert t.read().count() == n and t.versions()[-1]["version"] == v
    assert [v["version"] for v in t.versions()] == [0, 1, 2]
