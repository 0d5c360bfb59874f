"""What ``get_spark`` saves: a warm query and a steady warehouse batch
compile no generated code, and building a plan captures no Python call
sites."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, sf_dir_with

# perfbench's analyst mix: its plans generate more classes than Spark's
# default codegen cache of 100 entries holds
ANALYST_MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_revenue",
    "q7_nation_volume", "q10_returned_items", "fact_lineitem", "scd2_users",
    "events_sessionize", "asof_events", "dim_customer",
)


def _compilations(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _checksum_mix(spark) -> list[tuple]:
    import __spark_entry__ as e

    queries = e.queries()
    out = []
    for name in ANALYST_MIX:
        df = queries[name](spark, SF_SMOKE)
        out.append(tuple(df.select(F.count(F.lit(1)),
                                   F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)"))).first()))
    return out


def test_warm_analyst_mix_compiles_no_generated_code(spark):
    first = _checksum_mix(spark)
    before = _compilations(spark)
    assert _checksum_mix(spark) == first
    assert _compilations(spark) - before == 0


def test_steady_warehouse_batch_compiles_no_generated_code(spark, tmp_path):
    """Three batches, each a third of the events and of the orders by
    time: the third batch's plans differ from the second's only in the
    dim's watermark and the fact years they replace, and neither may
    reach generated code."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from northwind_warehouse_spark.plans.pipeline import WarehousePipeline

    def thirds(table: str, col: str) -> list:
        t = pq.read_table(os.path.join(SF_SMOKE, f"{table}.parquet"))
        order = pc.sort_indices(t[col])
        lo, hi = (t[col][order[len(t) * k // 3].as_py()] for k in (1, 2))
        return [t.filter(pc.less(t[col], lo)),
                t.filter(pc.and_(pc.greater_equal(t[col], lo), pc.less(t[col], hi))),
                t.filter(pc.greater_equal(t[col], hi))]

    batches = [sf_dir_with(tmp_path, f"b{i}", {"events": ev, "orders": o})
               for i, (ev, o) in enumerate(zip(thirds("events", "ts"), thirds("orders", "o_orderdate")))]
    p = WarehousePipeline(spark, str(tmp_path / "lake"))
    p.run(batches[0])
    p.run(batches[1])
    before = _compilations(spark)
    p.run(batches[2])
    assert _compilations(spark) - before == 0
    assert len(p._vt(p.DIM_USERS).versions()) == len(p._vt(p.FACT_ORDERS).versions()) == 3


def test_building_a_plan_captures_no_call_site(spark, monkeypatch):
    import pyspark.errors.utils as eu

    import __spark_entry__ as e

    calls = []
    monkeypatch.setattr(eu, "_capture_call_site", lambda depth: calls.append(depth) or "")
    # PySpark caches the flag per process: re-read it from the active session
    monkeypatch.setattr(eu, "_enable_debugging_cache", None)
    assert SparkSession.getActiveSession() is not None
    e.queries()["fact_lineitem"](spark, SF_SMOKE)
    assert calls == []

    # control: with debugging on, the same patch point sees every call
    monkeypatch.setattr(eu, "_enable_debugging_cache", True)
    F.col("x")
    assert calls
