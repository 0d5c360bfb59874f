"""End-to-end incremental pipeline: incremental run ≡ one-shot rebuild."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

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
    from datetime import datetime

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

    # second run with no new data: nothing changes
    p.run(SF_SMOKE)
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
    assert not os.path.exists(tmp_path / "lake" / "_audit")

    # time travel: the first run's fact version is still readable
    assert _fact_rows(p.table(p.FACT_ORDERS, version=versions[0]["version"])) == fact1


def test_crash_between_steps_commits_nothing(spark, tmp_path, monkeypatch):
    """A run that dies at the dim's manifest swap leaves the dim's latest
    entry and its watermark as they were; the re-run then builds the
    same dim as a run that never crashed."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pytest

    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    # the first half of the events, beside the other tables unchanged
    half = tmp_path / "half"
    half.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f != "events.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), half / f)
    ev = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    pq.write_table(ev.filter(pc.less_equal(ev["ts"], pc.max(ev["ts"].slice(0, len(ev) // 2)))),
                   half / "events.parquet")

    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(str(half))
    dim_vt = p._vt(p.DIM_USERS)
    entry0, hwm0 = dim_vt.versions()[-1], p.audit.get(p.DIM_USERS).hwm_date
    assert hwm0 == _max_event_ts(spark, str(half)) < _max_event_ts(spark, SF_SMOKE)

    real_replace = os.replace

    def crash_on_dim_swap(src, dst):
        if dst == dim_vt.manifest_path:
            raise OSError("crash at the dim's manifest swap")
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_dim_swap)
        with pytest.raises(OSError):
            p.run(SF_SMOKE)
    assert dim_vt.versions()[-1] == entry0
    assert p.audit.get(p.DIM_USERS).hwm_date == hwm0

    p.run(SF_SMOKE)
    clean = WarehousePipeline(spark, str(tmp_path / "clean"))
    clean.run(str(half))
    clean.run(SF_SMOKE)
    assert _dim_rows(p.table(p.DIM_USERS)) == _dim_rows(clean.table(clean.DIM_USERS))
    assert p.audit.get(p.DIM_USERS).hwm_date == _max_event_ts(spark, SF_SMOKE)


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
