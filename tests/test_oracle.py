"""Every SQL-oracled §2 query must match its DuckDB oracle (driver t2 mirror)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_util import compare


def _entry():
    import __spark_entry__ as e

    return e


def pytest_generate_tests(metafunc):
    if "qname" in metafunc.fixturenames:
        e = _entry()
        keys = [k for k in e.queries() if k in e.oracle_sql()]
        metafunc.parametrize("qname", keys)


# CLAUDE.md hard rule: verify at BOTH sf0.001 and sf0.01 — some
# divergences (decimal overflow, tie-breaks) only appear at larger SF.
# The sf0.01 pass is marked slow; deselect with `-m "not slow"`.
@pytest.mark.parametrize(
    "sf_dir",
    [SF_SMOKE, pytest.param(SF_ORACLE, marks=pytest.mark.slow)],
    ids=["sf0.001", "sf0.01"],
)
def test_query_matches_oracle(spark, qname, sf_dir):
    e = _entry()
    df = e.queries()[qname](spark, sf_dir)
    problems = compare(df, e.oracle_sql()[qname], sf_dir)
    assert not problems, f"{qname}: " + "; ".join(problems)


def test_entry_smoke(spark):
    e = _entry()
    df = e.entry(spark)
    assert df.count() >= 0


# Round-4 gate lesson: DuckDB widens sum(BIGINT) to HUGEINT; the
# driver's hash is type-sensitive while the value compare is not, so
# an uncast oracle sum passes every local check yet fails the gate.
def test_type_parity_flags_hugeint(spark):
    from pyspark.sql import functions as F
    from tests.oracle_util import type_parity

    df = spark.range(3).select(F.col("id").cast("bigint").alias("total"))
    # sum(BIGINT) -> HUGEINT in DuckDB: must be flagged
    bad = type_parity(
        df, "SELECT sum(o_orderkey) AS total FROM orders", SF_SMOKE
    )
    assert bad and "hugeint" in bad[0]
    # the cast-back form must pass
    ok = type_parity(
        df,
        "SELECT CAST(sum(o_orderkey) AS BIGINT) AS total FROM orders",
        SF_SMOKE,
    )
    assert not ok


def test_type_parity_registry_sweep(registered_plans):
    """Plan-only (DESCRIBE + df.schema): every oracled query must agree
    on column type classes — the class of divergence the driver hash
    rejects but the type-blind value compare cannot see."""
    from tests.oracle_util import type_parity

    osql = _entry().oracle_sql()
    bad = {}
    for k, df in registered_plans.items():
        p = type_parity(df, osql[k], SF_SMOKE)
        if p:
            bad[k] = p
    assert not bad, f"type-parity mismatches: {bad}"


def test_driver_first_is_fifty_registered_keys_in_front():
    """The driver gate samples the first 50 entries of queries()."""
    e = _entry()
    assert len(e._DRIVER_FIRST) == 50
    assert len(set(e._DRIVER_FIRST)) == 50
    assert set(e._DRIVER_FIRST) <= set(e.queries())
    assert list(e.queries())[:50] == list(e._DRIVER_FIRST)
