from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def sf_dir_with(tmp_path, name: str, tables: dict) -> str:
    """An sf dir ``tmp_path/name`` holding the pyarrow ``tables`` given
    by name, beside links to SF_SMOKE's other tables."""
    import os

    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    for f in os.listdir(SF_SMOKE):
        t = f.removesuffix(".parquet")
        if t in tables:
            pq.write_table(tables[t], d / f)
        else:
            os.symlink(os.path.join(SF_SMOKE, f), d / f)
    return str(d)


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: larger-SF oracle passes (deselect with -m 'not slow')")


@pytest.fixture(scope="session")
def spark():
    from northwind_warehouse_spark.session import get_spark

    s = get_spark("nws-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def registered_plans(spark):
    """``queries()[k](spark, SF_SMOKE)`` for every registered key, built
    once per session and shared by the plan-only registry sweeps."""
    import __spark_entry__ as e

    return {k: fn(spark, SF_SMOKE) for k, fn in e.queries().items()}


@pytest.fixture(scope="session")
def registered_executed_plans(registered_plans):
    """The executed-plan string of each registered plan, rendered once."""
    return {
        k: df._jdf.queryExecution().executedPlan().toString()
        for k, df in registered_plans.items()
    }
