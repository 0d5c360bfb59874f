"""End-to-end incremental pipeline: incremental run ≡ one-shot rebuild."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, sf_dir_with

SPLIT_TS = "2024-01-15 00:00:00"


def _dim_rows(df):
    return sorted(
        (r.user_id, r.version_no, str(r.effective_date), str(r.expiry_date), r.is_active, r.row_hash)
        for r in df.collect()
    )


def test_incremental_scd2_equals_full_rebuild(spark, tmp_path):
    """Build the dim from the first half of events, merge the second half
    incrementally, and compare against a single full build."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.functions.hashing import num_str, surrogate_key
    from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream, scd2_merge

    e = load(spark, SF_SMOKE, "events").select("event_id", "user_id", "ts", "event_type", "value")
    first = e.filter(F.col("ts") <= SPLIT_TS)
    second = e.filter(F.col("ts") > SPLIT_TS)
    kwargs = dict(
        key_cols=["user_id"], ts_col="ts",
        hash_col=surrogate_key("event_type", num_str("value")),
        attr_cols=["event_type", "value"], tiebreak_cols=["event_id"], sk_name="user_sk",
    )
    full = scd2_from_change_stream(e, **kwargs)
    incremental = scd2_merge(scd2_from_change_stream(first, **kwargs), second, **kwargs)
    assert _dim_rows(incremental) == _dim_rows(full)


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    """Quality gate → dedup → chunk → split, partitioned by split."""
    import os

    from northwind_warehouse_spark.plans.llm import quality_filter
    from northwind_warehouse_spark.plans.pipeline import CorpusPipeline

    p = CorpusPipeline(spark, str(tmp_path / "corpus"))
    out = p.run(SF_SMOKE)

    n_kept_docs = quality_filter(spark, SF_SMOKE).count()
    assert out.select("doc_id").distinct().count() <= n_kept_docs
    assert out.count() > n_kept_docs  # chunking multiplies rows

    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val"}
    dirs = os.listdir(str(tmp_path / "corpus" / CorpusPipeline.CHUNKS))
    assert "split=train" in dirs and "split=val" in dirs

    # every chunk is ≤ 20 tokens and non-empty
    bad = out.filter(
        (F.size(F.split("chunk_text", " ")) > 20) | (F.length("chunk_text") == 0)
    ).count()
    assert bad == 0


def _fact_rows(df):
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _max_event_ts(spark, sf_dir):
    from northwind_warehouse_spark.catalog import load

    return load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]


def test_pipeline_runs_and_is_idempotent(spark, tmp_path):
    """Two runs over the same input commit one fact version each and
    change nothing. sf0.001 has a real customer 0, whose SK equals the
    dummy SK: its orders re-resolve to identical rows, not a repair."""
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(SF_SMOKE)

    dim1 = _dim_rows(p.table(p.DIM_USERS))
    fact1 = _fact_rows(p.table(p.FACT_ORDERS))
    assert dim1 and fact1
    assert any(r.customer_id == 0 for r in p.table(p.FACT_ORDERS).select("customer_id").collect())
    assert p.audit.get(p.DIM_USERS).is_processed

    # the dim's watermark is the newest event ts, committed in its entry
    want_hwm = _max_event_ts(spark, SF_SMOKE)
    assert datetime.fromisoformat(p._vt(p.DIM_USERS).versions()[-1]["watermark"]) == want_hwm
    assert p.audit.get(p.DIM_USERS).hwm_date == want_hwm

    # second run with no new data: nothing changes, and the empty change
    # slice commits no dim version
    p.run(SF_SMOKE)
    assert len(p._vt(p.DIM_USERS).versions()) == 1
    assert _dim_rows(p.table(p.DIM_USERS)) == dim1
    assert _fact_rows(p.table(p.FACT_ORDERS)) == fact1
    assert p.audit.get(p.DIM_USERS).hwm_date == want_hwm

    # facts are partitioned for pruning (inside the latest version dir)
    import os

    versions = p._vt(p.FACT_ORDERS).versions()
    assert len(versions) == 2  # one commit per run
    latest = versions[-1]["path"]
    years = [d for d in os.listdir(latest) if d.startswith("order_year=")]
    assert len(years) >= 5
    # staging writes nothing: the lake holds the two committed tables only
    assert sorted(os.listdir(tmp_path / "lake")) == sorted([p.DIM_USERS, p.FACT_ORDERS])

    # time travel: the first run's fact version is still readable
    assert _fact_rows(p.table(p.FACT_ORDERS, version=versions[0]["version"])) == fact1


def _half_events_dir(tmp_path):
    """An sf dir with the first half of the events, beside the other
    tables unchanged."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    return sf_dir_with(tmp_path, "half", {
        "events": ev.filter(pc.less_equal(ev["ts"], pc.max(ev["ts"].slice(0, len(ev) // 2))))})


def _two_batches(tmp_path):
    """Two batch dirs: the first half of the events with the orders
    before 2001, then the later events with the orders of 2001. Both
    leave out customer 0's orders: its SK equals the dummy SK, so its
    years would be re-resolved in every batch (ROADMAP item 6)."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    mid = pc.max(ev["ts"].slice(0, len(ev) // 2))
    orders = pq.read_table(os.path.join(SF_SMOKE, "orders.parquet"))
    orders = orders.filter(pc.not_equal(orders["o_custkey"], 0))
    late = pc.equal(pc.year(orders["o_orderdate"]), 2001)
    return (sf_dir_with(tmp_path, "first", {"events": ev.filter(pc.less_equal(ev["ts"], mid)),
                                            "orders": orders.filter(pc.invert(late))}),
            sf_dir_with(tmp_path, "second", {"events": ev.filter(pc.greater(ev["ts"], mid)),
                                             "orders": orders.filter(late)}))


def _inodes(path: str) -> dict[str, set[int]]:
    """Inodes of the data files under each partition directory of ``path``."""
    import os

    return {d: {os.stat(os.path.join(root, f)).st_ino
                for root, _dirs, files in os.walk(os.path.join(path, d))
                for f in files if not f.startswith(("_", "."))}
            for d in os.listdir(path) if "=" in d}


def test_batch_commits_only_what_it_changes(spark, tmp_path):
    """A batch's fact version hard-links the files of every order_year
    it does not touch and rewrites the one it does; its dim version
    keeps every closed-history file of the base, adds the versions the
    batch closed, and rewrites only the active slice. Both tables equal
    one build over both batches."""
    from northwind_warehouse_spark.plans.medallion import fact_orders, scd2_users
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    first, second = _two_batches(tmp_path)
    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(first)
    fact0, dim0 = (_inodes(p._vt(t).latest()["path"]) for t in (p.FACT_ORDERS, p.DIM_USERS))
    p.run(second)
    fact1, dim1 = (_inodes(p._vt(t).latest()["path"]) for t in (p.FACT_ORDERS, p.DIM_USERS))

    assert sorted(fact1) == sorted(fact0) + ["order_year=2001"]
    for year in fact0:
        assert fact1[year] == fact0[year], year
    assert fact1["order_year=2001"]

    assert sorted(dim0) == sorted(dim1) == ["is_active=N", "is_active=Y"]
    assert dim0["is_active=N"] < dim1["is_active=N"]
    assert dim1["is_active=Y"] and not dim1["is_active=Y"] & dim0["is_active=Y"]

    assert _dim_rows(p.table(p.DIM_USERS)) == _dim_rows(scd2_users(spark, SF_SMOKE))
    assert _fact_rows(p.table(p.FACT_ORDERS).drop("order_year")) == _fact_rows(
        fact_orders(spark, SF_SMOKE).filter(F.col("customer_id") != 0))


# the read() schemas both tables had while every commit was a full
# snapshot: the build's column order, every column nullable
READ_SCHEMAS = {
    "dim_users_scd2": "struct<user_id:bigint,event_type:string,value:double,row_hash:string,"
                      "updated_at:timestamp,version_no:int,effective_date:timestamp,"
                      "expiry_date:timestamp,is_active:string,user_sk:string>",
    "fact_orders": "struct<order_id:bigint,customer_sk:string,customer_id:bigint,nation_name:string,"
                   "region_name:string,order_status:string,total_price:double,order_date:date,"
                   "date_key:int,order_priority:string,order_year:int>",
}


def test_read_schemas_keep_their_columns_and_order(spark, tmp_path):
    """A first commit and a carry-forward commit read back with the same
    schema as full rewrites did: partition columns stay where the
    table's schema puts them, and every column is nullable."""
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    for batch in _two_batches(tmp_path):
        p.run(batch)
        for name, want in READ_SCHEMAS.items():
            schema = p.table(name).schema
            assert schema.simpleString() == want and all(f.nullable for f in schema), name


def test_failed_dim_stage_raises_and_rerun_equals_serial_run(spark, tmp_path, monkeypatch):
    """The dim stage runs in a thread of its own: its error is raised by
    ``run`` once the fact stage has ended, the dim keeps its version and
    watermark, and a re-run leaves the lake as stages run one after the
    other leave it."""
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    half = _half_events_dir(tmp_path)
    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(half)
    entry0 = p._vt(p.DIM_USERS).latest()

    def fail(self, events):
        raise RuntimeError("injected dim-stage failure")

    with monkeypatch.context() as m:
        m.setattr(WarehousePipeline, "run_dim_users", fail)
        with pytest.raises(RuntimeError, match="injected dim-stage failure"):
            p.run(SF_SMOKE)
    assert p._vt(p.DIM_USERS).latest() == entry0
    assert len(p._vt(p.FACT_ORDERS).versions()) == 2  # the fact stage committed

    p.run(SF_SMOKE)
    serial = WarehousePipeline(spark, str(tmp_path / "serial"))
    for sf_dir in (half, SF_SMOKE):
        orders, events = serial.run_staging(sf_dir)
        serial.run_dim_users(events)
        serial.run_fact_orders(orders, sf_dir)
    assert _dim_rows(p.table(p.DIM_USERS)) == _dim_rows(serial.table(serial.DIM_USERS))
    assert _fact_rows(p.table(p.FACT_ORDERS)) == _fact_rows(serial.table(serial.FACT_ORDERS))
    assert p.audit.get(p.DIM_USERS).hwm_date == serial.audit.get(serial.DIM_USERS).hwm_date


def test_crash_between_steps_commits_nothing(spark, tmp_path, monkeypatch):
    """A run that dies at the link of the dim's log entry leaves the dim's
    latest entry and its watermark as they were; the re-run then builds
    the same dim as a run that never crashed."""
    import os

    import pytest

    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    half = _half_events_dir(tmp_path)
    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(half)
    dim_vt = p._vt(p.DIM_USERS)
    entry0, hwm0 = dim_vt.versions()[-1], p.audit.get(p.DIM_USERS).hwm_date
    assert hwm0 == _max_event_ts(spark, half) < _max_event_ts(spark, SF_SMOKE)

    real_link = os.link

    def crash_on_dim_commit(src, dst):
        if dst.startswith(dim_vt.log):
            raise OSError("crash at the dim's log link")
        real_link(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "link", crash_on_dim_commit)
        with pytest.raises(OSError):
            p.run(SF_SMOKE)
    assert dim_vt.versions()[-1] == entry0
    assert p.audit.get(p.DIM_USERS).hwm_date == hwm0

    p.run(SF_SMOKE)
    clean = WarehousePipeline(spark, str(tmp_path / "clean"))
    clean.run(half)
    clean.run(SF_SMOKE)
    assert _dim_rows(p.table(p.DIM_USERS)) == _dim_rows(clean.table(clean.DIM_USERS))
    assert p.audit.get(p.DIM_USERS).hwm_date == _max_event_ts(spark, SF_SMOKE)


def test_fold_that_loses_its_version_refolds_on_the_winner(spark, tmp_path, monkeypatch):
    """Another writer commits the events up to a split while a fold of the
    later events is being built on the empty table: the fold loses
    version 0, re-folds on the winner's dim as version 1, and the dim
    equals one build over all the events."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.incremental import scd2_fold_commit
    from northwind_warehouse_spark.plans.medallion import scd2_users, users_scd2_spec
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    lake = str(tmp_path / "lake")
    events = load(spark, SF_SMOKE, "events")
    real_write = VersionedTable.write

    def racing_write(self, df, **kwargs):
        monkeypatch.setattr(VersionedTable, "write", real_write)
        assert scd2_fold_commit(VersionedTable(spark, lake, "dim"),
                                events.filter(F.col("ts") <= SPLIT_TS), users_scd2_spec()) == 0
        return real_write(self, df, **kwargs)

    monkeypatch.setattr(VersionedTable, "write", racing_write)
    vt = VersionedTable(spark, lake, "dim")
    assert scd2_fold_commit(vt, events.filter(F.col("ts") > SPLIT_TS), users_scd2_spec()) == 1
    assert [v["version"] for v in vt.versions()] == [0, 1]
    assert _dim_rows(vt.read()) == _dim_rows(scd2_users(spark, SF_SMOKE))
    assert datetime.fromisoformat(vt.versions()[-1]["watermark"]) == _max_event_ts(spark, SF_SMOKE)


def test_fold_on_an_unpartitioned_dim_rewrites_it_whole(spark, tmp_path):
    """A dim committed unpartitioned (as every dim was before folds
    carried the closed history forward) has no active slice to
    replace: the next fold rewrites it whole, partitioned, and loses no
    closed version."""
    import os

    from northwind_warehouse_spark.operators.incremental import scd2_fold_commit
    from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream
    from northwind_warehouse_spark.plans.medallion import users_scd2_spec
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    schema = "event_id long, user_id long, ts timestamp, event_type string, value double"
    first = spark.createDataFrame([(1, 7, datetime(2024, 1, 1), "a", 1.0),
                                   (2, 7, datetime(2024, 1, 3), "b", 1.0)], schema)
    later = spark.createDataFrame([(3, 7, datetime(2024, 1, 5), "c", 1.0)], schema)
    vt = VersionedTable(spark, str(tmp_path), "dim")
    vt.write(scd2_from_change_stream(first, **users_scd2_spec()), watermark=datetime(2024, 1, 3))
    assert scd2_fold_commit(vt, later, users_scd2_spec()) == 1
    assert sorted(d for d in os.listdir(vt.latest()["path"]) if "=" in d) == ["is_active=N", "is_active=Y"]
    want = scd2_from_change_stream(first.unionByName(later), **users_scd2_spec())
    assert _dim_rows(vt.read()) == _dim_rows(want) and len(_dim_rows(want)) == 3


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="scd2_fold_commit drops a change row whose ts is not after the dim's "
                          "committed watermark, so a late event is never folded (ROADMAP item 2)")
def test_late_event_is_folded_into_the_dim(spark, tmp_path):
    """User 7 changes on Jan 2, but that event arrives in the batch after
    the one holding Jan 1, Jan 3 and Jan 5: the dim must still equal one
    build over both batches, with 3 versions of user 7."""
    from northwind_warehouse_spark.operators.incremental import scd2_fold_commit
    from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream
    from northwind_warehouse_spark.plans.medallion import users_scd2_spec
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    schema = "event_id long, user_id long, ts timestamp, event_type string, value double"
    first = spark.createDataFrame([(1, 7, datetime(2024, 1, 1), "a", 1.0),
                                   (2, 7, datetime(2024, 1, 3), "a", 1.0),
                                   (3, 8, datetime(2024, 1, 5), "a", 1.0)], schema)
    late = spark.createDataFrame([(4, 7, datetime(2024, 1, 2), "b", 2.0)], schema)
    vt = VersionedTable(spark, str(tmp_path), "dim")
    for batch in (first, late):
        scd2_fold_commit(vt, batch, users_scd2_spec())

    want = scd2_from_change_stream(first.unionByName(late), **users_scd2_spec())
    assert want.filter(F.col("user_id") == 7).count() == 3
    assert vt.read().filter(F.col("user_id") == 7).count() == 3
    assert _dim_rows(vt.read()) == _dim_rows(want)


def test_batch_run_racing_streaming_sink_equals_serial_run(spark, tmp_path):
    """A pipeline run and the streaming SCD2 sink fold the same events
    into the same dim at once; the lake ends as a serial run leaves it,
    with neither writer raising."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline
    from northwind_warehouse_spark.streaming.jobs import scd2_streaming_merge

    e = load(spark, SF_SMOKE, "events")
    src = str(tmp_path / "src")
    bounds = [None, "2024-01-08", "2024-01-16", "2024-01-24", None]
    for lo, hi in zip(bounds, bounds[1:]):
        part = e.filter(F.col("ts") >= lo) if lo else e
        part.filter(F.col("ts") < hi if hi else F.lit(True)).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mod-times: the file source keeps the time order
    stream = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", 1).parquet(src)

    lake = str(tmp_path / "lake")
    p = WarehousePipeline(spark, lake)
    with ThreadPoolExecutor(1) as pool:
        sink = pool.submit(scd2_streaming_merge, stream, lake, p.DIM_USERS, str(tmp_path / "ckpt"))
        p.run(SF_SMOKE)
        sink.result(timeout=600)

    serial = WarehousePipeline(spark, str(tmp_path / "serial"))
    serial.run(SF_SMOKE)
    assert _dim_rows(p.table(p.DIM_USERS)) == _dim_rows(serial.table(serial.DIM_USERS))
    assert _fact_rows(p.table(p.FACT_ORDERS)) == _fact_rows(serial.table(serial.FACT_ORDERS))
    assert p.audit.get(p.DIM_USERS).hwm_date == serial.audit.get(serial.DIM_USERS).hwm_date


def test_late_arriving_customers_are_repaired(spark, tmp_path):
    """Orders of customers missing from the first run's customer table
    land on the dummy SK; once those customers arrive, the next run
    re-resolves the orders to their real SK, nation and region."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from northwind_warehouse_spark.functions.hashing import surrogate_key
    from northwind_warehouse_spark.plans.medallion import dim_customer
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    # a third of the customers arrive late, beside the other tables unchanged
    early = tmp_path / "early"
    early.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f != "customer.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), early / f)
    cust = pq.read_table(os.path.join(SF_SMOKE, "customer.parquet"))
    late_ids = {k for k in cust["c_custkey"].to_pylist() if k % 3 == 1}
    pq.write_table(cust.filter(pa.array([k not in late_ids for k in cust["c_custkey"].to_pylist()])),
                   early / "customer.parquet")

    dummy = spark.range(1).select(surrogate_key(F.lit(0))).first()[0]
    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(str(early))
    first = [r for r in p.table(p.FACT_ORDERS).collect() if r.customer_id in late_ids]
    assert first and all(
        (r.customer_sk, r.nation_name, r.region_name) == (dummy, "Not Found", "Not Found")
        for r in first)

    p.run(SF_SMOKE)
    want = {r.customer_id: (r.customer_sk, r.nation_name, r.region_name)
            for r in dim_customer(spark, SF_SMOKE).collect()}
    fact = p.table(p.FACT_ORDERS).collect()
    late = [r for r in fact if r.customer_id in late_ids]
    assert len(late) == len(first)
    assert all((r.customer_sk, r.nation_name, r.region_name) == want[r.customer_id] for r in late)
    # customer 0 is real, and its SK equals the dummy SK md5('0')
    assert not [r.order_id for r in fact
                if r.customer_sk == dummy and r.customer_id in want and r.customer_id != 0]
    assert len(p._vt(p.FACT_ORDERS).versions()) == 2  # one version per run


def test_stuck_order_redelivered_with_its_customer_resolves_once(spark, tmp_path):
    """An order stuck on the dummy SK is re-delivered with a new status
    in the batch that also brings its customer: it ends as exactly one
    row, with the new status and the customer's real SK. The re-delivered
    row wins over the stuck one, and the one lookup of the batch
    resolves it."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from northwind_warehouse_spark.functions.hashing import surrogate_key
    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    orders = pq.read_table(os.path.join(SF_SMOKE, "orders.parquet"))
    cust = pq.read_table(os.path.join(SF_SMOKE, "customer.parquet"))
    order_id, cid = next((o, c) for o, c in zip(orders["o_orderkey"].to_pylist(),
                                                orders["o_custkey"].to_pylist()) if c != 0)

    early = sf_dir_with(tmp_path, "early", {"customer": cust.filter(pc.not_equal(cust["c_custkey"], cid))})
    one = orders.filter(pc.equal(orders["o_orderkey"], order_id))
    redelivered = one.set_column(one.schema.get_field_index("o_orderstatus"), "o_orderstatus",
                                 pa.array(["Z"], one.schema.field("o_orderstatus").type))
    late = sf_dir_with(tmp_path, "late", {"orders": redelivered})

    dummy = spark.range(1).select(surrogate_key(F.lit(0))).first()[0]
    real = spark.range(1).select(surrogate_key(F.lit(cid))).first()[0]
    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(early)
    [stuck] = p.table(p.FACT_ORDERS).filter(F.col("order_id") == order_id).collect()
    assert stuck.customer_sk == dummy and stuck.order_status != "Z"

    p.run(late)
    fact = p.table(p.FACT_ORDERS)
    [row] = fact.filter(F.col("order_id") == order_id).collect()
    assert (row.order_status, row.customer_sk) == ("Z", real)
    assert row.nation_name != "Not Found"
    assert fact.count() == orders.num_rows


def test_corpus_pipeline_pack_manifest(spark, tmp_path):
    """The pack manifest covers every chunk, offsets are contiguous per
    split, and pack cuts land every PACK_BUDGET tokens."""
    from northwind_warehouse_spark.plans.pipeline import CorpusPipeline
    from northwind_warehouse_spark.sources.lake import read_table

    p = CorpusPipeline(spark, str(tmp_path / "corpus"))
    chunks = p.run(SF_SMOKE)
    manifest = read_table(spark, str(tmp_path / "corpus" / CorpusPipeline.PACKS))
    assert manifest.count() == chunks.count()

    rows = manifest.orderBy("split", "doc_id", "chunk_idx").collect()
    offset = {}
    for r in rows:
        o = offset.get(r.split, 0)
        assert r.pack_id == o // CorpusPipeline.PACK_BUDGET
        assert r.offset_in_pack == o % CorpusPipeline.PACK_BUDGET
        offset[r.split] = o + r.n_tok
