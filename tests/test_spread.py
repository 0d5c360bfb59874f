"""spread_scan: conditional scan-parallelism repair (guide §2.5).

The operator must be an IDENTITY (same object, no plan change) whenever
the input can already split or the table is too small — and a
hash/round-robin repartition to defaultParallelism only on a big
under-split input. These conditions are the 100-TB honesty of
the operator: on a real warehouse layout it must do nothing.
"""

from __future__ import annotations

from northwind_warehouse_spark.catalog import load, table_rows
from northwind_warehouse_spark.operators.spread import scan_splits, spread_scan

from .conftest import SF_SMOKE


def _sf_dirs():
    # the biggest local SF with a single-row-group layout
    return "/root/testdata/sf0.1"


def test_identity_when_table_small(spark):
    # sf0.001 lineitem (6k rows) is far under MIN_SPREAD_ROWS
    df = load(spark, SF_SMOKE, "lineitem")
    out = spread_scan(df, spark, SF_SMOKE, "lineitem", "l_orderkey")
    assert out is df


def test_spreads_undersplit_big_table(spark):
    sf = _sf_dirs()
    assert scan_splits(f"{sf}/lineitem.parquet") == 1  # single row group
    assert table_rows(sf, "lineitem") >= 50_000
    df = load(spark, sf, "lineitem")
    out = spread_scan(df, spark, sf, "lineitem", "l_orderkey")
    assert out is not df
    # hash repartition to the session's width, rows preserved
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert "repartitionbyexpression" in out._jdf.queryExecution().logical().toString().lower()
    assert out.count() == table_rows(sf, "lineitem")


def test_identity_when_split_capable(spark, tmp_path):
    # a Spark-written copy has >= cores/2 part files -> identity
    sf = _sf_dirs()
    dest = str(tmp_path / "split")
    n = spark.sparkContext.defaultParallelism
    load(spark, sf, "lineitem").repartition(n).write.parquet(f"{dest}/lineitem.parquet")
    df = spark.read.parquet(f"{dest}/lineitem.parquet")
    assert scan_splits(f"{dest}/lineitem.parquet") * 2 >= n
    assert spread_scan(df, spark, dest, "lineitem", "l_orderkey") is df
