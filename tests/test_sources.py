"""Schema-enforced CSV/JSON ingestion round-trips."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_csv_roundtrip(spark, tmp_path):
    from northwind_warehouse_spark.sources.lake import read_csv

    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,alpha,1.5\n2,beta,2.25\n")
    df = read_csv(spark, str(p), "id bigint, name string, score double")
    rows = sorted((r.id, r.name, r.score) for r in df.collect())
    assert rows == [(1, "alpha", 1.5), (2, "beta", 2.25)]
    assert [f.dataType.simpleString() for f in df.schema] == ["bigint", "string", "double"]


def test_json_roundtrip(spark, tmp_path):
    from northwind_warehouse_spark.sources.lake import read_json

    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "tags": ["a", "b"]}\n{"id": 2, "tags": []}\n')
    df = read_json(spark, str(p), "id bigint, tags array<string>")
    rows = sorted((r.id, tuple(r.tags)) for r in df.collect())
    assert rows == [(1, ("a", "b")), (2, ())]


def test_write_partitioned_prunes(spark, tmp_path):
    """Partition filter must prune directories at the source level."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.sources.lake import read_table, write_table
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    o = load(spark, SF_SMOKE, "orders").withColumn("order_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_part")
    write_table(o, path, partition_by=("order_year",))
    back = read_table(spark, path).filter(F.col("order_year") == 1997)
    plan = back._sc._jvm.PythonSQLUtils.explainString(back._jdf.queryExecution(), "formatted")
    assert back.count() == o.filter(F.col("order_year") == 1997).count()
    assert "PartitionFilters: [isnotnull(order_year" in plan


def test_orc_roundtrip_partitioned(spark, tmp_path):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.sources.lake import read_orc, write_orc
    from pyspark.sql import functions as F

    o = load(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_orc(o, str(tmp_path / "orders_orc"), partition_by=("order_year",))
    back = read_orc(spark, str(tmp_path / "orders_orc"))
    assert back.count() == o.count()
    want = {r.o_orderkey for r in o.select("o_orderkey").collect()}
    got = {r.o_orderkey for r in back.select("o_orderkey").collect()}
    assert got == want


def test_compact_table_reduces_files_preserves_data(spark, tmp_path):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.sources.lake import compact_table
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "frag_events")
    e = load(spark, SF_SMOKE, "events").withColumn("event_date", F.col("ts").cast("date"))
    # simulate streaming ingest fragmentation: many tiny files per partition
    e.repartition(40).write.partitionBy("event_date").parquet(path)
    before = spark.read.parquet(path)
    n_rows = before.count()
    checksum = before.agg(F.sum(F.crc32(F.col("event_id").cast("string")))).collect()[0][0]

    stats = compact_table(spark, path, partition_by=("event_date",))
    assert stats["files_after"] < stats["files_before"]

    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum(F.crc32(F.col("event_id").cast("string")))).collect()[0][0] == checksum
    # partition layout intact → pruning still applies
    import os
    assert any(d.startswith("event_date=") for d in os.listdir(path))


def test_read_table_evolved_fills_defaults(spark, tmp_path):
    from northwind_warehouse_spark.sources.lake import read_table_evolved

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", "en")], "id long, name string, lang string"
    ).write.mode("append").parquet(path)
    got = {r.id: (r.name, r.lang) for r in read_table_evolved(spark, path, {"lang": "und"}).collect()}
    assert got == {1: ("a", "und"), 2: ("b", "en")}


def test_processing_date_range_macro_parity(spark, tmp_path):
    from datetime import datetime

    from northwind_warehouse_spark.operators.incremental import (
        AuditControl, processing_date_range,
    )
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    audit = AuditControl(spark, str(tmp_path / "_audit" / "audit_control"))
    target = datetime(2024, 1, 10)
    rng = processing_date_range(audit, "dim_users", target)
    assert rng["needs_processing"] and rng["start_date"] == target and rng["total_days"] == 1

    VersionedTable(spark, str(tmp_path), "dim_users").write(
        spark.range(1), watermark=datetime(2024, 1, 8), committed_at=datetime(2024, 1, 8))
    rng = processing_date_range(audit, "dim_users", target)
    assert rng["start_date"] == datetime(2024, 1, 8) and rng["total_days"] == 3
    assert rng["hwm_date"] == datetime(2024, 1, 8) and rng["is_processed"]


def test_forget_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """GDPR delete: target user vanishes, untouched partitions' files are
    byte-identical (never rewritten), total counts reconcile."""
    import os

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.sources.lake import forget_keys
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "events_lake")
    e = load(spark, SF_SMOKE, "events").withColumn("event_date", F.col("ts").cast("date"))
    e.write.partitionBy("event_date").parquet(path)

    victim = e.select("user_id").first().user_id
    victim_days = {
        str(r.event_date) for r in e.filter(F.col("user_id") == victim).select("event_date").distinct().collect()
    }
    n_total = e.count()
    n_victim = e.filter(F.col("user_id") == victim).count()

    def file_state(skip_days):
        out = {}
        for root, _dirs, files in os.walk(path):
            day = os.path.basename(root).removeprefix("event_date=")
            if day in skip_days:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = file_state(victim_days)
    stats = forget_keys(spark, path, "user_id", [victim], "event_date")
    assert set(stats["partition_values"]) == {str(d) for d in victim_days} or stats["partitions_rewritten"] == len(victim_days)

    after = spark.read.parquet(path)
    assert after.filter(F.col("user_id") == victim).count() == 0
    assert after.count() == n_total - n_victim
    assert file_state(victim_days) == before  # untouched partitions untouched


def test_cluster_table_disjoint_file_key_ranges(spark, tmp_path):
    """cluster_table must leave files with narrow, pairwise-disjoint key
    spans (footer stats only) while preserving the data — the property
    that makes row-group pruning effective at scale."""
    from northwind_warehouse_spark.sources.lake import cluster_table, file_key_spans

    path = str(tmp_path / "tbl")
    df = spark.range(0, 10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"),  # ingest order != key order
        F.col("id").alias("payload"),
    )
    df.repartition(8).write.parquet(path)

    before = file_key_spans(path, "k")
    # unclustered: every file spans ~the full key domain
    assert all(hi - lo > 9_000 for lo, hi in before["spans"].values())

    expected = sorted(r["payload"] for r in spark.read.parquet(path).collect())
    audit = cluster_table(spark, path, cluster_by=("k",), max_records_per_file=2_000)

    spans = sorted(audit["spans"].values())
    assert audit["files"] >= 4
    # narrow per-file spans…
    assert all(hi - lo <= 3_000 for lo, hi in spans)
    # …and pairwise disjoint (globally range-partitioned)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    # data preserved
    got = sorted(r["payload"] for r in spark.read.parquet(path).collect())
    assert got == expected


def test_register_views_enables_plain_sql(spark):
    """The SQL-first interface: registered views answer plain Spark SQL
    with the same conformed semantics as catalog.load (events nanos→µs
    conversion included), and scans through views still prune."""
    from tests.conftest import SF_SMOKE

    from northwind_warehouse_spark.catalog import load, register_views

    names = register_views(spark, SF_SMOKE)
    assert "lineitem" in names and "events" in names

    got = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    ).collect()
    want = load(spark, SF_SMOKE, "lineitem").groupBy("l_returnflag").count().collect()
    assert {(r[0], r[1]) for r in got} == {(r[0], r[1]) for r in want}

    # events view carries the conformed µs timestamp type
    ts_type = dict(spark.sql("SELECT ts FROM events").dtypes)["ts"]
    assert ts_type == "timestamp"


def test_nanos_timestamp_with_submicro_residue_floors(spark, tmp_path):
    """catalog.load's timestamp normalization, branch by branch
    (ADVICE r3 fixture):

    1. TIMESTAMP(NANOS) with sub-µs residue (…999 ns) under the
       nanosAsLong long read must FLOOR to the microsecond (div 1000),
       matching DuckDB's ns→µs truncation — never round.
    2. Without nanosAsLong, this Spark build REJECTS nanos parquet
       (PARQUET_TYPE_ILLEGAL). If a Spark upgrade starts inferring a
       native type here instead, this assertion fires → re-verify the
       upgrade floors rather than rounds before trusting it.
    3. The TIMESTAMP_NTZ branch (what a vanilla session sees for the
       actual µs-NTZ events files) must preserve the exact microsecond
       through the UTC-pinned cast."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from northwind_warehouse_spark.catalog import load

    ns = 1704067200_123456999  # 2024-01-01T00:00:00.123456999Z
    want_us = 1704067200_123456  # floored, NOT rounded to ...457

    def events_table(ts_arr):
        return pa.table({
            "event_id": pa.array([1], pa.int64()),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "ts": ts_arr,
            "value": pa.array([1.0], pa.float64()),
        })

    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        events_table(pa.array([ns], pa.timestamp("ns"))), str(nanos_dir / "events.parquet")
    )

    # branch 1: nanosAsLong (pinned by catalog.load) → long div 1000 floors
    got = load(spark, str(nanos_dir), "events").select(F.unix_micros("ts").alias("us")).collect()
    assert [r.us for r in got] == [want_us]

    # cross-engine: DuckDB truncates ns→µs the same way — the exact
    # contract the driver's epoch-µs hash depends on
    import duckdb

    duck = duckdb.sql(
        f"SELECT epoch_us(ts) FROM '{nanos_dir}/events.parquet'"
    ).fetchall()
    assert duck == [(want_us,)]

    # branch 2: without nanosAsLong this build rejects nanos — a future
    # Spark that infers a native type instead needs a floor re-check
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(str(nanos_dir / "events.parquet")).collect()

        # branch 3: µs TIMESTAMP_NTZ (the real testdata shape) loads exact
        ntz_dir = tmp_path / "ntz"
        ntz_dir.mkdir()
        pq.write_table(
            events_table(pa.array([want_us], pa.timestamp("us"))),
            str(ntz_dir / "events.parquet"),
        )
        from pyspark.sql.types import TimestampNTZType

        raw = spark.read.parquet(str(ntz_dir / "events.parquet"))
        assert isinstance(raw.schema["ts"].dataType, TimestampNTZType)
        got3 = load(spark, str(ntz_dir), "events").select(F.unix_micros("ts").alias("us")).collect()
        assert [r.us for r in got3] == [want_us]
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def test_table_rows_matches_spark_count_and_caches(spark):
    """catalog.table_rows reads the parquet FOOTER (zero Spark jobs) and
    must equal Spark's count at every SF; repeated calls hit the cache
    (round-6 verdict #5: one count per file identity per process, not
    one per query invocation; round-8: the key is (path, mtime, size)
    so an in-process rewrite invalidates the entry). Also covers the
    directory-of-part-files layout scale_smoke writes."""
    import os

    from northwind_warehouse_spark.catalog import _ROW_COUNTS, load, table_rows

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for t in ("embeddings", "orders"):
            assert table_rows(sf, t) == load(spark, sf, t).count()
            path = f"{sf}/{t}.parquet"
            st = os.stat(path)
            assert (path, st.st_mtime_ns, st.st_size) in _ROW_COUNTS

    # directory layout + rewrite invalidation: a table rewritten
    # in-process must be re-counted (stale counts fed occupancy-scaled
    # parameters before round 8)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        o = load(spark, "/root/testdata/sf0.001", "orders")
        o.repartition(2).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        assert table_rows(d, "orders") == 1500
        o.limit(100).repartition(1).write.mode("overwrite").parquet(
            f"{d}/orders.parquet"
        )
        assert table_rows(d, "orders") == 100

    import pytest

    with pytest.raises(KeyError):
        table_rows("/root/testdata/sf0.001", "not_a_table")


def test_scale_replicator_keeps_pair_growth_linear(spark, tmp_path, monkeypatch):
    """Round 13 (r12 verdict #1): the scale replicator must produce
    part-pair growth EXACTLY linear in the factor — the former
    verbatim-basket scheme (l_orderkey shifted, part catalog fixed)
    multiplied every base pair's count by the factor, so min-support
    prunes stopped pruning and pair-grain SCALING rows measured
    duplicate explosion (335x post-prune pairs at 10x). The adopted
    model replicates the part dim with the same span as lineitem's
    l_partkey shift: copies are disjoint in part space, so post-prune
    (co >= 2) pairs are exactly factor x base, and the FK span of
    every lineitem matches its copy's part slice."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import scale_smoke as S

    base = tmp_path / "base"
    base.mkdir()
    # baskets: o1 {1,2}, o2 {1,2}, o3 {1,3}, o4 {2,3} -> only (1,2)
    # reaches co >= 2 -> exactly 1 post-prune pair per copy
    rows = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 2), (4, 3)]
    spark.createDataFrame(rows, "l_orderkey BIGINT, l_partkey BIGINT").write.parquet(
        str(base / "lineitem.parquet")
    )
    spark.createDataFrame([(i,) for i in (1, 2, 3)], "p_partkey BIGINT").write.parquet(
        str(base / "part.parquet")
    )
    monkeypatch.setattr(S, "BASE_SF", str(base))
    out = tmp_path / "x3"
    S.replicate_lineitem(spark, 3, str(out))
    S.replicate_part(spark, 3, str(out))

    li = spark.read.parquet(str(out / "lineitem.parquet"))
    pt = spark.read.parquet(str(out / "part.parquet"))
    assert pt.count() == 9
    # disjoint part slices, FK span matches the order span copy-by-copy
    assert li.filter(
        (F.col("l_orderkey") / 10_000_000).cast("int")
        != (F.col("l_partkey") / 10_000_000).cast("int")
    ).count() == 0
    assert (
        li.join(pt, li.l_partkey == pt.p_partkey, "left_anti").count() == 0
    ), "replicated lineitem must keep FK integrity against the replicated part dim"

    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pruned = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    assert pruned.count() == 3  # exactly factor x the base's 1 pair
