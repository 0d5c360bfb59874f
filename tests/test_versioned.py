"""Time-travel reads over versioned lake tables (Snowflake AT parity)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

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


def test_vacuum_ages_a_version_from_when_it_was_superseded(spark, tmp_path):
    """``older_than`` ages a version by its successor's commit, the
    moment it stopped being the latest. A version committed two hours
    ago and superseded just now may have a reader that resolved it as
    the latest a moment ago, so a one-hour grace keeps it."""
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    now = datetime.now(timezone.utc)
    t = VersionedTable(spark, str(tmp_path), "t")
    t.write(spark.range(3), committed_at=now - timedelta(hours=2))
    t.write(spark.range(5), committed_at=now)
    assert t.vacuum(keep_last=1, older_than=now - timedelta(hours=1)) == []
    assert t.read(version=0).count() == 3
    assert t.vacuum(keep_last=1, older_than=now + timedelta(seconds=1)) == [0]


def test_moved_lake_reads_and_vacuums(spark, tmp_path):
    """A lake moved to another directory keeps every version readable:
    entries locate their data relative to the table, and an entry from
    before that, holding an absolute path, still reads."""
    import json
    import os

    from northwind_warehouse_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "a"), "t")
    t.write(spark.range(3), committed_at=_utc(2024, 1, 1))
    t.write(spark.range(5), committed_at=_utc(2024, 2, 1))
    os.rename(tmp_path / "a", tmp_path / "b")

    t = VersionedTable(spark, str(tmp_path / "b"), "t")
    assert [v["version"] for v in t.versions()] == [0, 1]
    assert t.read().count() == 5
    assert t.read_asof(_utc(2024, 1, 15)).count() == 3
    old = t.versions()[0]["path"]
    assert t.vacuum() == [0] and not os.path.exists(old)
    assert t.read().count() == 5

    log = tmp_path / "b" / "t" / "_log" / "1.json"
    entry = json.loads(log.read_text())
    log.write_text(json.dumps({**entry, "path": str(tmp_path / "b" / "t" / entry["path"])}))
    assert t.read().count() == 5


def test_crashed_commit_does_not_wedge_the_table(spark, tmp_path, monkeypatch):
    """A commit that dies at the log link, after writing its data, leaves
    that data unreferenced and the table as it was. The next write takes
    the same id and commits, and so does every write after it."""
    import os

    from northwind_warehouse_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path), "t")
    assert t.write(spark.range(3), watermark=datetime(2024, 1, 1)) == 0

    def crash(*args, **kwargs):
        raise OSError("crash at the log link")

    with monkeypatch.context() as m:
        m.setattr(os, "link", crash)
        with pytest.raises(OSError):
            t.write(spark.range(5), watermark=datetime(2024, 1, 2))
    assert len(os.listdir(os.path.join(str(tmp_path), "t", "v=1"))) == 1
    assert [(v["version"], v["watermark"]) for v in t.versions()] == [(0, "2024-01-01T00:00:00")]
    assert t.read().count() == 3

    for n in (7, 9):  # every retry commits, not only the first
        v = t.write(spark.range(n), watermark=datetime(2024, 1, 3))
        assert t.read().count() == n and t.versions()[-1]["version"] == v
    assert [v["version"] for v in t.versions()] == [0, 1, 2]


def test_vacuum_removes_unreferenced_data_once_old(spark, tmp_path, monkeypatch):
    """A crashed writer's data directory stays while it is younger than
    ``ORPHAN_AGE_S``, since a live writer may still be filling it, and
    goes once it is older; committed data stays however old it is."""
    import glob
    import os
    import time

    from northwind_warehouse_spark.sources import versioned

    t = versioned.VersionedTable(spark, str(tmp_path), "t")
    t.write(spark.range(3))
    with monkeypatch.context() as m:
        m.setattr(os, "link", lambda *a: (_ for _ in ()).throw(OSError("crash")))
        with pytest.raises(OSError):
            t.write(spark.range(5))
    [orphan] = glob.glob(str(tmp_path / "t" / "v=1" / "*"))
    assert t.vacuum() == [] and os.path.isdir(orphan)

    old = time.time() - versioned.ORPHAN_AGE_S - 1
    for d in (orphan, t.latest()["path"]):
        os.utime(d, (old, old))
    assert t.vacuum() == []
    assert not os.path.exists(os.path.dirname(orphan))
    assert t.read().count() == 3


def test_writer_whose_base_was_vacuumed_rebuilds_on_the_latest(spark, tmp_path):
    """While a read-modify-write builds on version 0, two writers commit
    versions 1 and 2 and a vacuum drops 0 and 1. The builder must not
    re-create the dropped id 1 below the latest, which would lose its
    commit: it rebuilds on version 2 and commits 3."""
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path), "t")
    t.write(spark.range(1))
    bases = []

    def build(prev, entry):
        bases.append(entry["version"])
        if len(bases) == 1:
            t.write(spark.range(2))
            t.write(spark.range(3))
            t.vacuum(keep_last=1)
        return spark.range(100, 101)

    assert t.update(build) == 3
    assert bases == [0, 2] and [v["version"] for v in t.versions()] == [2, 3]


def _crash_at_step(monkeypatch, root, k):
    """Make the ``k``-th filesystem step under ``root`` raise: a Spark data
    write, an entry write, a directory creation, a link, an unlink, a
    directory removal. Returns the list the steps taken are named in."""
    import builtins
    import json
    import os
    import shutil

    from pyspark.sql import DataFrameWriter

    steps = []

    def crashing(owner, name):
        real = getattr(owner, name)

        def step(*args, **kwargs):
            if any(str(getattr(a, "name", a)).startswith(root) for a in args):
                steps.append(name)
                if len(steps) == k:
                    raise OSError(f"crash at step {k}: {name}")
            return real(*args, **kwargs)
        monkeypatch.setattr(owner, name, step)

    for owner, name in ((DataFrameWriter, "parquet"), (json, "dump"), (os, "makedirs"),
                        (os, "link"), (os, "unlink"), (os, "rmdir"), (shutil, "rmtree"),
                        (builtins, "open")):
        crashing(owner, name)
    return steps


def _state(t):
    return ([v["version"] for v in t.versions()],
            sorted(r.id for r in t.read().collect()) if t.versions() else None)


@pytest.mark.parametrize("op", ["first write", "write", "vacuum", "carry forward"])
def test_crash_at_each_step_leaves_state_before_or_after(spark, tmp_path, monkeypatch, op):
    """A crash at any filesystem step of a write, a vacuum or a
    carry-forward write (every hard link of the base's files included)
    leaves every listed version readable, and the table equal to its
    state before or after the operation; the operation then runs to
    completion."""
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    def parts(n):
        return spark.range(n).withColumn("p", F.col("id") % 3)

    def setup(root):
        t = VersionedTable(spark, root, "t")
        for n in range({"first write": 0, "write": 2, "vacuum": 2, "carry forward": 2}[op]):
            if op == "carry forward":
                t.write(parts(n + 5), partition_by=("p",))
            else:
                t.write(spark.range(n + 1))
        return t

    def run(t):
        if op == "vacuum":
            t.vacuum(keep_last=1)
        elif op == "carry forward":
            t.write(parts(10).filter(F.col("p") == 1), partition_by=("p",),
                    base=t.latest()["version"], replace=[1])
        else:
            t.write(spark.range(10))

    clean = setup(str(tmp_path / "clean"))
    before = _state(clean)
    run(clean)
    after = _state(clean)
    for k in range(1, 100):
        root = str(tmp_path / f"crash{k}")
        t = setup(root)
        with monkeypatch.context() as m:
            steps = _crash_at_step(m, root, k)
            try:
                run(t)
            except OSError:
                pass
        assert _state(t) in (before, after), (k, steps)
        for v in t.versions():
            t.read(version=v["version"]).collect()
        run(t)
        assert _state(t)[1] == after[1] and (op != "vacuum" or _state(t) == after)
        if len(steps) < k:  # the operation ran with no step left to crash
            break
    assert k > 3
    assert op != "carry forward" or steps.count("link") >= 3  # base files and the entry


def _race(n_writers, rounds, commit):
    """Run ``commit(writer, round)`` from ``n_writers`` threads at once,
    ``rounds`` times each, with the interpreter switching threads often;
    the returned ids in one flat list."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(n_writers) as pool:
            futures = [pool.submit(lambda w: [commit(w, r) for r in range(rounds)], w)
                       for w in range(n_writers)]
            return [v for f in futures for v in f.result(timeout=600)]
    finally:
        sys.setswitchinterval(interval)


def test_concurrent_read_modify_writes_commit_once_each(spark, tmp_path):
    """4 threads × 3 read-modify-write commits on one table: none raises,
    each returned id is one committed entry, and the latest version holds
    every writer's contribution, so no commit was lost."""
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path), "t")

    def commit(w, r):
        mine = spark.range(1).select(F.lit(w * 3 + r).alias("c"))
        return t.update(lambda prev, _: mine if prev is None else prev.unionByName(mine))

    ids = _race(4, 3, commit)
    assert sorted(ids) == [m["version"] for m in t.versions()] == list(range(12))
    assert sorted(r.c for r in t.read().collect()) == list(range(12))


def test_concurrent_blind_writes_commit_once_each(spark, tmp_path):
    """More writers than cores, 2 plain writes each, on one table: every
    write commits its own version and returns its id."""
    import os

    from northwind_warehouse_spark.sources.versioned import VersionedTable

    n = min(os.cpu_count() or 4, 8) + 2
    t = VersionedTable(spark, str(tmp_path), "t")
    ids = _race(n, 2, lambda w, r: t.write(spark.range(w * 2 + r + 1)))
    assert sorted(ids) == [m["version"] for m in t.versions()] == list(range(2 * n))
    assert sorted(t.read(version=v).count() for v in ids) == list(range(1, 2 * n + 1))
