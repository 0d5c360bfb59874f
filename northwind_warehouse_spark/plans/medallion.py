"""Medallion / warehouse-parity plans (SURVEY.md §2A).

Staging conform → conformed dimensions (with the reference's dummy
members 0='Not Found', -1='Not Applicable') → SCD2 → facts with
surrogate-key lookups. Each builder has a paired ``oracle_*`` DuckDB SQL
string with identical column names and value semantics.

Portability contract (see functions/hashing.py): hashes are md5 over
'||'-joined strings; floats are rendered via DECIMAL(18,6); timestamps
are hashed as epoch microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northwind_warehouse_spark.catalog import load, table_rows
from northwind_warehouse_spark.functions.hashing import (
    num_str,
    oracle_num_str,
    oracle_surrogate_key,
    surrogate_key,
)
from northwind_warehouse_spark.functions.money import (
    dec2,
    disc_price,
    dround2,
    o_disc_price,
    o_dround2,
)
from northwind_warehouse_spark.operators.joins import maybe_broadcast, maybe_broadcast_rows
from northwind_warehouse_spark.operators.asof import asof_join_backward
from northwind_warehouse_spark.operators.dedup import latest_by_key
from northwind_warehouse_spark.operators.incremental import high_watermark_filter
from northwind_warehouse_spark.operators.spread import spread_scan
from northwind_warehouse_spark.operators.scd2 import scd2_from_change_stream

_R2 = lambda c: F.round(c, 2)  # noqa: E731

# ---------------------------------------------------------------------------
# Staging (reference: models/staging/*.sql — rename + op flag + row_hash)
# ---------------------------------------------------------------------------


def stg_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_nationkey").alias("nation_id"),
        F.col("c_acctbal").alias("acct_balance"),
        F.col("c_mktsegment").alias("mkt_segment"),
        F.lit("I").alias("op"),
        surrogate_key(
            "c_custkey", "c_name", "c_nationkey", num_str("c_acctbal"), "c_mktsegment"
        ).alias("row_hash"),
    )


def oracle_stg_customer() -> str:
    rh = oracle_surrogate_key(
        "c_custkey", "c_name", "c_nationkey", oracle_num_str("c_acctbal"), "c_mktsegment"
    )
    return f"""
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_nationkey AS nation_id, c_acctbal AS acct_balance,
           c_mktsegment AS mkt_segment, 'I' AS op, {rh} AS row_hash
    FROM customer
    """


def stg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_orderpriority").alias("order_priority"),
        F.lit("I").alias("op"),
        surrogate_key(
            "o_orderkey", "o_custkey", "o_orderstatus", num_str("o_totalprice"),
            F.col("o_orderdate").cast("date"), "o_orderpriority",
        ).alias("row_hash"),
    )


def oracle_stg_orders() -> str:
    rh = oracle_surrogate_key(
        "o_orderkey", "o_custkey", "o_orderstatus", oracle_num_str("o_totalprice"),
        "cast(o_orderdate as date)", "o_orderpriority",
    )
    return f"""
    SELECT o_orderkey AS order_id, o_custkey AS customer_id,
           o_orderstatus AS order_status, o_totalprice AS total_price,
           cast(o_orderdate as date) AS order_date,
           o_orderpriority AS order_priority, 'I' AS op, {rh} AS row_hash
    FROM orders
    """


def stg_lineitem(spark: SparkSession, sf_dir: str, *, spread: bool = True) -> DataFrame:
    # spread (r13, guide §2.5): the 11-field md5 row_hash over 600k rows
    # is map-only with zero exchanges — single-threaded end to end on an
    # under-split input; hash-spread by the unique line key (same repair
    # fact_lineitem adopted). ``spread=False`` (r14): count-only
    # composers (medallion_reconciliation) prune the md5 projection, so
    # for them the repartition is a pure exchange tax — they opt out.
    l = load(spark, sf_dir, "lineitem")
    if spread:
        l = spread_scan(l, spark, sf_dir,
                        "lineitem", "l_orderkey", "l_linenumber")
    return l.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("part_id"),
        F.col("l_suppkey").alias("supplier_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extended_price"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
        F.col("l_returnflag").alias("return_flag"),
        F.col("l_linestatus").alias("line_status"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.lit("I").alias("op"),
        surrogate_key(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            num_str("l_quantity"), num_str("l_extendedprice"), num_str("l_discount"),
            num_str("l_tax"), "l_returnflag", "l_linestatus",
            F.col("l_shipdate").cast("date"),
        ).alias("row_hash"),
    )


def oracle_stg_lineitem() -> str:
    rh = oracle_surrogate_key(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        oracle_num_str("l_quantity"), oracle_num_str("l_extendedprice"),
        oracle_num_str("l_discount"), oracle_num_str("l_tax"),
        "l_returnflag", "l_linestatus", "cast(l_shipdate as date)",
    )
    return f"""
    SELECT l_orderkey AS order_id, l_partkey AS part_id, l_suppkey AS supplier_id,
           l_linenumber AS line_number, l_quantity AS quantity,
           l_extendedprice AS extended_price, l_discount AS discount, l_tax AS tax,
           l_returnflag AS return_flag, l_linestatus AS line_status,
           cast(l_shipdate as date) AS ship_date, 'I' AS op, {rh} AS row_hash
    FROM lineitem
    """


# ---------------------------------------------------------------------------
# dim_date (reference: models/dwh/dim_date.sql — generated spine)
# ---------------------------------------------------------------------------

DATE_START, DATE_END = "1995-01-01", "2002-12-31"


def dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:  # sf_dir unused; uniform signature
    spine = spark.sql(
        f"SELECT explode(sequence(to_date('{DATE_START}'), to_date('{DATE_END}'), interval 1 day)) AS full_date"
    )
    return spine.select(
        (F.year("full_date") * 10000 + F.month("full_date") * 100 + F.dayofmonth("full_date"))
        .cast("int").alias("date_key"),
        "full_date",
        F.year("full_date").alias("year"),
        F.quarter("full_date").alias("quarter"),
        F.month("full_date").alias("month"),
        F.dayofmonth("full_date").alias("day"),
        (F.weekday("full_date") + 1).alias("iso_dow"),
        F.weekofyear("full_date").alias("week_of_year"),
        (F.weekday("full_date") >= 5).alias("is_weekend"),
    ).orderBy("full_date")


def oracle_dim_date() -> str:
    return f"""
    WITH spine AS (
        SELECT unnest(generate_series(DATE '{DATE_START}', DATE '{DATE_END}', INTERVAL 1 DAY))::DATE AS full_date
    )
    SELECT CAST(year(full_date)*10000 + month(full_date)*100 + day(full_date) AS INT) AS date_key,
           full_date,
           CAST(year(full_date) AS INT) AS year,
           CAST(quarter(full_date) AS INT) AS quarter,
           CAST(month(full_date) AS INT) AS month,
           CAST(day(full_date) AS INT) AS day,
           CAST(isodow(full_date) AS INT) AS iso_dow,
           CAST(week(full_date) AS INT) AS week_of_year,
           isodow(full_date) >= 6 AS is_weekend
    FROM spine ORDER BY full_date
    """


# ---------------------------------------------------------------------------
# Conformed dims with dummy members
# (reference: models/intermediate/stg_dim_*.sql dummy-member unions)
# ---------------------------------------------------------------------------


def _dummy_rows(spark: SparkSession, cols: list[tuple[str, str]], not_found: list, not_applicable: list) -> DataFrame:
    # Literal projection over range(2), NOT createDataFrame: an
    # RDD-backed DataFrame surfaces as `Scan ExistingRDD` with UNKNOWN
    # stats (sizeInBytes ~ Long.Max), which poisons the size estimate of
    # every dim built by union with it — maybe_broadcast's gate then
    # reads ~8e18 bytes for a 20k-row dim and silently declines, and
    # every fact join over the dim degrades to a SortMergeJoin with a
    # full fact-side shuffle+sort (measured r13: fact_lineitem 2 SMJ →
    # 2 BHJ, zero fact exchanges). range() carries exact row stats, so
    # the gate sees the dim's true size and decides honestly at every
    # scale.
    projs = [
        F.when(F.col("id") == 0, F.lit(nf)).otherwise(F.lit(na)).cast(t).alias(n)
        for (n, t), nf, na in zip(cols, not_found, not_applicable)
    ]
    return spark.range(2).select(*projs)


def dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region, denormalized, + dummy members.

    nation/region are broadcast: the join adds no shuffle at any scale.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("mkt_segment"),
            F.col("c_acctbal").alias("acct_balance"),
            F.coalesce("n_name", F.lit("Not Found")).alias("nation_name"),
            F.coalesce("r_name", F.lit("Not Found")).alias("region_name"),
        )
    )
    cols = [
        ("customer_id", "bigint"), ("customer_name", "string"), ("mkt_segment", "string"),
        ("acct_balance", "double"), ("nation_name", "string"), ("region_name", "string"),
    ]
    dummies = _dummy_rows(
        spark, cols,
        [0, "Not Found", "Not Found", 0.0, "Not Found", "Not Found"],
        [-1, "Not Applicable", "Not Applicable", 0.0, "Not Applicable", "Not Applicable"],
    )
    # real ids start at 0 in the testdata; shift real keys by +1 like the
    # reference shifts none — instead keep ids verbatim and let the dummy 0
    # coexist only when absent in the source (reference uses '0'/-1 ids that
    # never occur in Northwind). Testdata has a real customer 0, so the
    # Not-Found member uses -2 semantics via filtering: we only add dummies
    # whose id is not present.
    present = base.select("customer_id").distinct()
    dummies = dummies.join(present, "customer_id", "left_anti")
    return base.unionByName(dummies).withColumn(
        "customer_sk", surrogate_key("customer_id")
    )


def oracle_dim_customer() -> str:
    sk = oracle_surrogate_key("customer_id")
    return f"""
    WITH base AS (
        SELECT c_custkey AS customer_id, c_name AS customer_name,
               c_mktsegment AS mkt_segment, c_acctbal AS acct_balance,
               coalesce(n_name, 'Not Found') AS nation_name,
               coalesce(r_name, 'Not Found') AS region_name
        FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
    ), dummies AS (
        SELECT * FROM (VALUES
            (0, 'Not Found', 'Not Found', 0.0, 'Not Found', 'Not Found'),
            (-1, 'Not Applicable', 'Not Applicable', 0.0, 'Not Applicable', 'Not Applicable')
        ) AS t(customer_id, customer_name, mkt_segment, acct_balance, nation_name, region_name)
        WHERE customer_id NOT IN (SELECT customer_id FROM base)
    ), unioned AS (
        SELECT * FROM base UNION ALL SELECT CAST(customer_id AS BIGINT), customer_name, mkt_segment, acct_balance, nation_name, region_name FROM dummies
    )
    SELECT *, {sk} AS customer_sk FROM unioned
    """


def dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("part_type"),
        F.col("p_size").alias("part_size"),
        F.col("p_retailprice").alias("retail_price"),
    )
    cols = [
        ("part_id", "bigint"), ("part_name", "string"), ("brand", "string"),
        ("part_type", "string"), ("part_size", "int"), ("retail_price", "double"),
    ]
    dummies = _dummy_rows(
        spark, cols,
        [0, "Not Found", "Not Found", "Not Found", 0, 0.0],
        [-1, "Not Applicable", "Not Applicable", "Not Applicable", -1, -1.0],
    )
    present = base.select("part_id").distinct()
    dummies = dummies.join(present, "part_id", "left_anti")
    return base.unionByName(dummies).withColumn("part_sk", surrogate_key("part_id"))


def oracle_dim_part() -> str:
    sk = oracle_surrogate_key("part_id")
    return f"""
    WITH base AS (
        SELECT p_partkey AS part_id, p_name AS part_name, p_brand AS brand,
               p_type AS part_type, p_size AS part_size, p_retailprice AS retail_price
        FROM part
    ), dummies AS (
        SELECT * FROM (VALUES
            (0, 'Not Found', 'Not Found', 'Not Found', 0, 0.0),
            (-1, 'Not Applicable', 'Not Applicable', 'Not Applicable', -1, -1.0)
        ) AS t(part_id, part_name, brand, part_type, part_size, retail_price)
        WHERE part_id NOT IN (SELECT part_id FROM base)
    ), unioned AS (
        SELECT * FROM base
        UNION ALL
        SELECT CAST(part_id AS BIGINT), part_name, brand, part_type, CAST(part_size AS INT), retail_price FROM dummies
    )
    SELECT *, {sk} AS part_sk FROM unioned
    """


def dim_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    base = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("s_acctbal").alias("acct_balance"),
            F.coalesce("n_name", F.lit("Not Found")).alias("nation_name"),
            F.coalesce("r_name", F.lit("Not Found")).alias("region_name"),
        )
    )
    cols = [
        ("supplier_id", "bigint"), ("supplier_name", "string"), ("acct_balance", "double"),
        ("nation_name", "string"), ("region_name", "string"),
    ]
    dummies = _dummy_rows(
        spark, cols,
        [0, "Not Found", 0.0, "Not Found", "Not Found"],
        [-1, "Not Applicable", 0.0, "Not Applicable", "Not Applicable"],
    )
    present = base.select("supplier_id").distinct()
    dummies = dummies.join(present, "supplier_id", "left_anti")
    return base.unionByName(dummies).withColumn("supplier_sk", surrogate_key("supplier_id"))


def oracle_dim_supplier() -> str:
    sk = oracle_surrogate_key("supplier_id")
    return f"""
    WITH base AS (
        SELECT s_suppkey AS supplier_id, s_name AS supplier_name, s_acctbal AS acct_balance,
               coalesce(n_name, 'Not Found') AS nation_name,
               coalesce(r_name, 'Not Found') AS region_name
        FROM supplier
        LEFT JOIN nation ON s_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
    ), dummies AS (
        SELECT * FROM (VALUES
            (0, 'Not Found', 0.0, 'Not Found', 'Not Found'),
            (-1, 'Not Applicable', 0.0, 'Not Applicable', 'Not Applicable')
        ) AS t(supplier_id, supplier_name, acct_balance, nation_name, region_name)
        WHERE supplier_id NOT IN (SELECT supplier_id FROM base)
    ), unioned AS (
        SELECT * FROM base
        UNION ALL
        SELECT CAST(supplier_id AS BIGINT), supplier_name, acct_balance, nation_name, region_name FROM dummies
    )
    SELECT *, {sk} AS supplier_sk FROM unioned
    """


# ---------------------------------------------------------------------------
# SCD2 + snapshot over the events change stream
# ---------------------------------------------------------------------------


def scd2_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 user dimension from the events change stream.

    reference: models/dwh/dim_customer.sql (lag(row_hash) change detect,
    version_no, is_active, 1900/2200 sentinels) — one windowed pass.
    """
    # spread (r13, guide §2.5): hash by the window's own partition key —
    # the explicit exchange REPLACES the window's (HashPartitioning on
    # user_id satisfies every downstream user_id clustering), so the
    # per-row surrogate-key md5 moves off the single scan task at no
    # added shuffle. Identity on split-capable inputs.
    e = spread_scan(load(spark, sf_dir, "events"), spark, sf_dir,
                    "events", "user_id").select(
        "event_id", "user_id", "ts", "event_type", "value")
    return scd2_from_change_stream(
        e,
        key_cols=["user_id"],
        ts_col="ts",
        hash_col=surrogate_key("event_type", num_str("value")),
        attr_cols=["event_type", "value"],
        tiebreak_cols=["event_id"],
        sk_name="user_sk",
    )


def oracle_scd2_users() -> str:
    rh = oracle_surrogate_key("event_type", oracle_num_str("value"))
    sk = oracle_surrogate_key("user_id", "epoch_us(effective_date)")
    return f"""
    WITH changes AS (
        SELECT event_id, user_id, ts, event_type, value, {rh} AS _row_hash
        FROM events
    ), dedup AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY ts, event_id) AS _rn
        FROM changes
    ), d AS (SELECT * FROM dedup WHERE _rn = 1),
    chg AS (
        SELECT *, lag(_row_hash) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        FROM d
    ), f AS (SELECT * FROM chg WHERE _prev IS NULL OR _prev <> _row_hash),
    v AS (
        SELECT user_id, event_type, value, _row_hash, ts,
            row_number() OVER w AS version_no,
            CASE WHEN row_number() OVER w = 1 THEN TIMESTAMP '1900-01-01 00:00:00' ELSE ts END AS effective_date,
            coalesce(lead(ts) OVER w, TIMESTAMP '2200-01-01 00:00:00') AS expiry_date,
            CASE WHEN lead(ts) OVER w IS NULL THEN 'Y' ELSE 'N' END AS is_active
        FROM f
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_type, value, _row_hash AS row_hash, ts AS updated_at,
           version_no, effective_date, expiry_date, is_active, {sk} AS user_sk
    FROM v
    """


def snapshot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest state per user (reference: snapshots/snapshot_employee.sql)."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type", "value")
    latest = latest_by_key(e, ["user_id"], [F.desc("ts"), F.desc("event_id")])
    return latest.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("updated_at"),
        surrogate_key("event_type", num_str("value")).alias("row_hash"),
        surrogate_key("user_id", F.unix_micros(F.col("ts"))).alias("user_scd_id"),
    )


def oracle_snapshot_users() -> str:
    rh = oracle_surrogate_key("event_type", oracle_num_str("value"))
    sid = oracle_surrogate_key("user_id", "epoch_us(ts)")
    return f"""
    WITH ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS _rn
        FROM events
    )
    SELECT user_id, event_type AS last_event_type, value AS last_value,
           ts AS updated_at, {rh} AS row_hash, {sid} AS user_scd_id
    FROM ranked WHERE _rn = 1
    """


# ---------------------------------------------------------------------------
# Facts (reference: models/dwh/fact_order.sql, fact_order_details.sql)
# ---------------------------------------------------------------------------


def fact_orders(spark: SparkSession, sf_dir: str, *, spread: bool = True) -> DataFrame:
    """orders + dim_customer SK lookup with dummy fallback.

    reference: models/dwh/fact_order.sql — coalesce(customer_sk, sk(0)).
    The dim side is broadcast; at 100 TB the customer dim outgrows the
    threshold and AQE falls back to sort-merge automatically.
    """
    # spread (r13, guide §2.5): broadcast pipeline, no exchange — see
    # fact_lineitem's note. spread=False: count-only composers opt out
    # (see stg_lineitem).
    o = load(spark, sf_dir, "orders")
    if spread:
        o = spread_scan(o, spark, sf_dir, "orders", "o_orderkey")
    d = dim_customer(spark, sf_dir).select("customer_id", "customer_sk", "nation_name", "region_name")
    fallback = surrogate_key(F.lit(0))
    # rows-gated hint (r13): dim_customer's optimizer estimate is
    # join-product-inflated (~1.6e12 bytes for 15k rows at sf0.1), so
    # the estimate gate silently declined and this join planned as SMJ
    # with a full orders shuffle+sort; the footer row count is exact.
    return (
        o.join(maybe_broadcast_rows(d, table_rows(sf_dir, "customer") + 2),
               o.o_custkey == d.customer_id, "left")
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.coalesce("customer_sk", fallback).alias("customer_sk"),
            F.col("o_custkey").alias("customer_id"),
            F.coalesce("nation_name", F.lit("Not Found")).alias("nation_name"),
            F.coalesce("region_name", F.lit("Not Found")).alias("region_name"),
            F.col("o_orderstatus").alias("order_status"),
            F.col("o_totalprice").alias("total_price"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            (F.year("o_orderdate") * 10000 + F.month("o_orderdate") * 100 + F.dayofmonth("o_orderdate"))
            .cast("int").alias("date_key"),
            F.col("o_orderpriority").alias("order_priority"),
        )
    )


def oracle_fact_orders() -> str:
    dim = oracle_dim_customer()
    fb = oracle_surrogate_key("0")
    return f"""
    WITH dim AS ({dim})
    SELECT o_orderkey AS order_id,
           coalesce(customer_sk, {fb}) AS customer_sk,
           o_custkey AS customer_id,
           coalesce(nation_name, 'Not Found') AS nation_name,
           coalesce(region_name, 'Not Found') AS region_name,
           o_orderstatus AS order_status,
           o_totalprice AS total_price,
           cast(o_orderdate as date) AS order_date,
           CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate) AS INT) AS date_key,
           o_orderpriority AS order_priority
    FROM orders LEFT JOIN dim ON o_custkey = dim.customer_id
    """


def fact_lineitem(spark: SparkSession, sf_dir: str, *, spread: bool = True) -> DataFrame:
    """lineitem enriched with part/supplier dims (fact_order_details pattern)."""
    # spread (r13, guide §2.5): after the rows-gated hints below this is
    # a pure broadcast-join pipeline with NO exchange — on an
    # under-split input (single-row-group testdata file) it would run
    # single-threaded end to end; hash-spread by the unique line key
    # parallelizes every per-row SK hash/projection. Identity on any
    # layout that already splits (real warehouse row groups).
    # spread=False: count-only composers opt out (see stg_lineitem).
    l = load(spark, sf_dir, "lineitem")
    if spread:
        l = spread_scan(l, spark, sf_dir,
                        "lineitem", "l_orderkey", "l_linenumber")
    p = dim_part(spark, sf_dir).select("part_id", "part_sk", "part_name", "brand")
    s = dim_supplier(spark, sf_dir).select("supplier_id", "supplier_sk", "supplier_name", "nation_name")
    fallback = surrogate_key(F.lit(0))
    # rows-gated hints (r13): dim_supplier's estimate is join-product-
    # inflated (~3.8e10 bytes for ~1k rows at sf0.1) so both probes
    # planned as SMJ with TWO full lineitem shuffle+sorts; footer row
    # counts gate honestly at every SF.
    return (
        l.join(maybe_broadcast_rows(p, table_rows(sf_dir, "part") + 2),
               l.l_partkey == p.part_id, "left")
        .join(maybe_broadcast_rows(s, table_rows(sf_dir, "supplier") + 2),
              l.l_suppkey == s.supplier_id, "left")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_number"),
            F.coalesce("part_sk", fallback).alias("part_sk"),
            F.coalesce("supplier_sk", fallback).alias("supplier_sk"),
            F.coalesce("part_name", F.lit("Not Found")).alias("part_name"),
            F.coalesce("brand", F.lit("Not Found")).alias("brand"),
            F.coalesce("supplier_name", F.lit("Not Found")).alias("supplier_name"),
            F.coalesce("nation_name", F.lit("Not Found")).alias("supplier_nation"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extended_price"),
            F.col("l_discount").alias("discount"),
            dround2(disc_price("l_extendedprice", "l_discount"), "revenue"),
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
    )


def oracle_fact_lineitem() -> str:
    dimp = oracle_dim_part()
    dims = oracle_dim_supplier()
    fb = oracle_surrogate_key("0")
    return f"""
    WITH dimp AS ({dimp}), dims AS ({dims})
    SELECT l_orderkey AS order_id, l_linenumber AS line_number,
           coalesce(part_sk, {fb}) AS part_sk,
           coalesce(supplier_sk, {fb}) AS supplier_sk,
           coalesce(part_name, 'Not Found') AS part_name,
           coalesce(brand, 'Not Found') AS brand,
           coalesce(supplier_name, 'Not Found') AS supplier_name,
           coalesce(dims.nation_name, 'Not Found') AS supplier_nation,
           l_quantity AS quantity, l_extendedprice AS extended_price,
           l_discount AS discount,
           {o_dround2(o_disc_price('l_extendedprice', 'l_discount'), 'revenue')},
           cast(l_shipdate as date) AS ship_date
    FROM lineitem
    LEFT JOIN dimp ON l_partkey = dimp.part_id
    LEFT JOIN dims ON l_suppkey = dims.supplier_id
    """


# ---------------------------------------------------------------------------
# As-of join, incremental slice, date-spine QA
# ---------------------------------------------------------------------------


def asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase ← latest preceding (inclusive) click of the same user.

    Re-expresses the reference's temporal BETWEEN lookup as a union +
    single window (operators/asof.py).
    """
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    return asof_join_backward(
        purchases, clicks,
        left_key="user_id", right_key="user_id",
        left_ts="purchase_ts", right_ts="ts",
        payload_cols=["event_id", "ts", "value"],
        payload_prefix="click_",
        right_tiebreak=["event_id"],
    ).select(
        "purchase_event_id", "user_id", "purchase_ts", "purchase_value",
        "click_event_id", F.col("click_ts"), "click_value",
    )


def oracle_asof_events() -> str:
    return """
    WITH purchases AS (
        SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ), u AS (
        SELECT user_id AS _k, purchase_ts AS _t, 1 AS _side,
               purchase_event_id, user_id, purchase_ts, purchase_value,
               NULL::BIGINT AS _p_event_id, NULL::TIMESTAMP AS _p_ts, NULL::DOUBLE AS _p_value
        FROM purchases
        UNION ALL
        SELECT user_id, ts, 0, NULL, NULL, NULL, NULL, event_id, ts, value FROM clicks
    ), filled AS (
        SELECT *,
            last_value(_p_event_id IGNORE NULLS) OVER w AS click_event_id,
            last_value(_p_ts IGNORE NULLS) OVER w AS click_ts,
            last_value(_p_value IGNORE NULLS) OVER w AS click_value
        FROM u
        WINDOW w AS (PARTITION BY _k ORDER BY _t, _side, _p_event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT purchase_event_id, user_id, purchase_ts, purchase_value,
           click_event_id, click_ts, click_value
    FROM filled WHERE _side = 1
    """


HWM = "2024-01-20 00:00:00"


def incremental_hwm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental slice of events (audit pattern).

    reference: macros/audit_management/* — the predicate pushes down to
    the scan, so old partitions/row-groups are skipped entirely.
    """
    e = load(spark, sf_dir, "events")
    return high_watermark_filter(e, "ts", HWM).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def oracle_incremental_hwm() -> str:
    return f"""
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE ts > TIMESTAMP '{HWM}'
    """


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality check suite — parity with dbt's schema tests
    (unique / not_null / relationships / accepted_values) that the
    reference project relies on (reference: dbt test machinery).

    Returns one row per check with its violation count; all-zero means
    the contract holds.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    l = load(spark, sf_dir, "lineitem")

    unique_viol = (
        o.groupBy("o_orderkey").count().filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    notnull_viol = o.filter(F.col("o_custkey").isNull()).agg(F.count(F.lit(1)).alias("n"))
    fk_viol = (
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    accepted_viol = (
        o.filter(~F.col("o_orderstatus").isin("O", "F", "P"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    li_fk_viol = (
        l.select("l_orderkey").join(o.select("o_orderkey"), l.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def tag(df: DataFrame, name: str) -> DataFrame:
        return df.select(F.lit(name).alias("check_name"), F.col("n").cast("bigint").alias("n_violations"))

    return (
        tag(unique_viol, "orders_orderkey_unique")
        .unionByName(tag(notnull_viol, "orders_custkey_not_null"))
        .unionByName(tag(fk_viol, "orders_custkey_fk_customer"))
        .unionByName(tag(accepted_viol, "orders_status_accepted_values"))
        .unionByName(tag(li_fk_viol, "lineitem_orderkey_fk_orders"))
        .orderBy("check_name")
    )


def oracle_dq_checks() -> str:
    return """
    SELECT 'orders_orderkey_unique' AS check_name,
           CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_fk_customer',
           CAST((SELECT count(*) FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_status_accepted_values',
           CAST((SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orderkey_fk_orders',
           CAST((SELECT count(*) FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS BIGINT)
    ORDER BY check_name
    """


def missing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine anti-join: days in the order range with no orders.

    reference: macros/get_missing_dates.sql.
    """
    spine = spark.sql(
        "SELECT explode(sequence(to_date('1995-01-01'), to_date('2001-08-01'), interval 1 day)) AS check_date"
    )
    o = load(spark, sf_dir, "orders").select(F.col("o_orderdate").cast("date").alias("d")).distinct()
    return spine.join(o, spine.check_date == o.d, "left_anti").orderBy("check_date")


def oracle_missing_dates() -> str:
    return """
    WITH spine AS (
        SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01', INTERVAL 1 DAY))::DATE AS check_date
    ), existing AS (
        SELECT DISTINCT cast(o_orderdate as date) AS d FROM orders
    )
    SELECT check_date FROM spine LEFT JOIN existing ON check_date = d
    WHERE d IS NULL ORDER BY check_date
    """


def fact_resolve_failed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failed-lookup re-resolution (reference: macros/fact_order_fail_lookup.sql).

    The reference's macro re-runs the dim lookup for fact rows whose SK
    is the dummy member (a lookup that failed because the dim row hadn't
    arrived yet) and updates them in place, leaving still-unmatched rows
    on the dummy. Re-expressed Spark-first:

      1. build the "stale" fact — orders SK-joined against a dim missing
         every third customer (deterministic late-arriving-dimension
         simulation), failures falling back to sk(0);
      2. split on the macro's ``WHERE sk = dummy`` predicate (only the
         failed slice is re-joined — at 100 TB that is a small fraction
         of the fact, and the untouched slice streams through);
      3. re-resolve the failed slice against the full dim (broadcast),
         keeping the dummy where the lookup still fails.

    Output carries ``was_failed``/``resolved`` audit flags in place of
    the macro's ``updated_at`` (deterministic, so oracle-able).
    """
    # spread (r13, guide §2.5): broadcast pipeline, no exchange — see
    # fact_lineitem's note
    o = spread_scan(load(spark, sf_dir, "orders"), spark, sf_dir,
                    "orders", "o_orderkey")
    full_dim = dim_customer(spark, sf_dir).select("customer_id", "customer_sk")
    stale_dim = full_dim.filter(F.col("customer_id") % 3 != 0)
    fallback = surrogate_key(F.lit(0))
    # rows-gated hints (r13): dim_customer's join-product-inflated
    # estimate declined both lookups into SMJs; footer count is exact.
    dim_rows = table_rows(sf_dir, "customer") + 2
    stale = (
        o.join(maybe_broadcast_rows(stale_dim, dim_rows),
               o.o_custkey == stale_dim.customer_id, "left")
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_custkey").alias("customer_id"),
            F.coalesce("customer_sk", fallback).alias("customer_sk"),
            F.col("o_totalprice").alias("total_price"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
    )
    ok = stale.filter(F.col("customer_sk") != fallback).select(
        "*",
        F.lit("N").alias("was_failed"),
        F.lit("N").alias("resolved"),
    )
    failed = stale.filter(F.col("customer_sk") == fallback).drop("customer_sk")
    rejoined = (
        failed.join(maybe_broadcast_rows(full_dim, dim_rows), "customer_id", "left")
        .select(
            "order_id",
            "customer_id",
            F.coalesce("customer_sk", fallback).alias("customer_sk"),
            "total_price",
            "order_date",
            F.lit("Y").alias("was_failed"),
            F.when(F.col("customer_sk").isNotNull(), F.lit("Y")).otherwise(F.lit("N")).alias("resolved"),
        )
    )
    return ok.unionByName(rejoined)


def oracle_fact_resolve_failed() -> str:
    dim = oracle_dim_customer()
    fb = oracle_surrogate_key("0")
    return f"""
    WITH full_dim AS (
        SELECT customer_id, customer_sk FROM ({dim})
    ), stale_dim AS (
        SELECT * FROM full_dim WHERE customer_id % 3 != 0
    ), stale AS (
        SELECT o_orderkey AS order_id, o_custkey AS customer_id,
               coalesce(customer_sk, {fb}) AS customer_sk,
               o_totalprice AS total_price, cast(o_orderdate as date) AS order_date
        FROM orders LEFT JOIN stale_dim ON o_custkey = stale_dim.customer_id
    )
    SELECT order_id, customer_id, customer_sk, total_price, order_date,
           'N' AS was_failed, 'N' AS resolved
    FROM stale WHERE customer_sk != {fb}
    UNION ALL
    SELECT s.order_id, s.customer_id, coalesce(d.customer_sk, {fb}) AS customer_sk,
           s.total_price, s.order_date, 'Y' AS was_failed,
           CASE WHEN d.customer_sk IS NOT NULL THEN 'Y' ELSE 'N' END AS resolved
    FROM stale s LEFT JOIN full_dim d ON s.customer_id = d.customer_id
    WHERE s.customer_sk = {fb}
    """


def scd2_asof_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup: the user dimension exactly as it stood
    at 2024-06-15 (reference: models/dwh/fact_order.sql:38-44 — the
    ``BETWEEN effective_date AND expiry_date`` SK resolution, here as a
    standalone time-travel query).

    The as-of predicate is a pair of pushdown-able filters over the
    already-built dimension; on a materialized SCD2 table partitioned by
    expiry year it prunes to the open slice plus one year."""
    d = scd2_users(spark, sf_dir)
    asof = F.lit("2024-06-15 00:00:00").cast("timestamp")
    return (
        d.filter((F.col("effective_date") <= asof) & (F.col("expiry_date") > asof))
        .select(
            "user_id", "event_type", "value", "version_no",
            "effective_date", "expiry_date", "is_active", "user_sk",
        )
        .orderBy("user_id")
    )


def oracle_scd2_asof_users() -> str:
    scd2 = oracle_scd2_users()
    return f"""
    WITH scd2 AS ({scd2})
    SELECT user_id, event_type, value, version_no,
           effective_date, expiry_date, is_active, user_sk
    FROM scd2
    WHERE effective_date <= TIMESTAMP '2024-06-15 00:00:00'
      AND expiry_date   >  TIMESTAMP '2024-06-15 00:00:00'
    ORDER BY user_id
    """


def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with delete handling: fold an I/U/D change feed into
    current state — latest change per key wins, and keys whose latest
    change is a delete vanish (reference: the staging models' ``op``
    CDC flag, models/staging/*.sql, applied rather than just carried).

    The events stream stands in as the feed: view→I, click→U,
    purchase→D. One hash(user_id) exchange for the latest-change window;
    the delete filter is a post-window predicate, so the whole apply is
    a single shuffle at any feed size."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type", "value")
    feed = e.withColumn(
        "op",
        F.when(F.col("event_type") == "view", F.lit("I"))
        .when(F.col("event_type") == "click", F.lit("U"))
        .otherwise(F.lit("D")),
    )
    latest = latest_by_key(feed, ["user_id"], [F.desc("ts"), F.desc("event_id")])
    return (
        latest.filter(F.col("op") != "D")
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("value").alias("current_value"),
            F.col("ts").alias("updated_at"),
        )
        .orderBy("user_id")
    )


def oracle_cdc_apply_latest() -> str:
    return """
    WITH feed AS (
        SELECT event_id, user_id, ts, value,
               CASE event_type WHEN 'view' THEN 'I' WHEN 'click' THEN 'U' ELSE 'D' END AS op
        FROM events
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS _rn
        FROM feed
    )
    SELECT user_id, op AS last_op, value AS current_value, ts AS updated_at
    FROM ranked WHERE _rn = 1 AND op <> 'D'
    ORDER BY user_id
    """


def quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path expectations (operators/expectations.py): orders that
    violate the ingest contract, tagged with the FIRST failing rule —
    the quarantine table an ingest job writes next to the lake instead
    of silently dropping or poisoning (read-side counterpart:
    ``dq_checks``).

    The FK probe is a broadcast left join (flag, not filter) so the
    row keeps flowing to quarantine with its reason; everything else is
    pushdown-friendly predicates over one scan."""
    from northwind_warehouse_spark.operators.expectations import apply_expectations

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("_fk_custkey")
    )
    flagged = o.join(
        maybe_broadcast(c), o.o_custkey == F.col("_fk_custkey"), "left"
    )
    rules = [
        ("custkey_not_null", F.col("o_custkey").isNotNull()),
        ("custkey_fk_customer", F.col("_fk_custkey").isNotNull()),
        ("priority_accepted", F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM")),
        ("totalprice_under_cap", (dec2("o_totalprice") * 100).cast("bigint") <= 30_000_000),
    ]
    _kept, quarantined = apply_expectations(flagged, rules)
    return quarantined.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderpriority").alias("priority"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("total_cents"),
        "dq_reason",
    ).orderBy("orderkey")


def oracle_quarantine_orders() -> str:
    return """
    WITH flagged AS (
        SELECT o.*, c.c_custkey AS fk_custkey
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ), tagged AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS total_cents,
               CASE
                 WHEN NOT coalesce(o_custkey IS NOT NULL, false) THEN 'custkey_not_null'
                 WHEN NOT coalesce(fk_custkey IS NOT NULL, false) THEN 'custkey_fk_customer'
                 WHEN NOT coalesce(o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM'), false) THEN 'priority_accepted'
                 WHEN NOT coalesce(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) <= 30000000, false) THEN 'totalprice_under_cap'
                 ELSE NULL
               END AS dq_reason
        FROM flagged
    )
    SELECT o_orderkey AS orderkey, o_orderpriority AS priority, total_cents, dq_reason
    FROM tagged WHERE dq_reason IS NOT NULL
    ORDER BY orderkey
    """


def table_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-parity column statistics for the orders table: rows,
    nulls, exact distinct count per profiled column — the numbers a
    cost-based planner (or a human picking broadcast vs shuffle joins)
    reads before planning; at 100 TB you run this once per partition
    load, not per query.

    One pass: Spark's expand-based multi-distinct aggregate computes all
    columns' NDVs in a single job, then the wide row unpivots to the
    catalog's long shape."""
    # spread DECLINED with numbers (r13): A/B ratio 1.36 — the expand-
    # based multi-distinct aggregate already exchanges on the expanded
    # grouping keys, so the spread exchange is a pure extra barrier.
    o = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulls_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"ndv_{c}"))
    wide = o.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', nulls_{c}, ndv_{c}" for c in cols)
    return (
        wide.select(
            F.expr(
                f"stack({len(cols)}, {stack_expr}) AS (column_name, n_nulls, n_distinct)"
            ),
            "n_rows",
        )
        .select("column_name", "n_rows", "n_nulls", "n_distinct")
        .orderBy("column_name")
    )


def oracle_table_stats_orders() -> str:
    parts = [
        f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
                   CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
            FROM orders"""
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
    ]
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


def scd2_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production audit of the SCD2 invariants the unit suite asserts at
    toy scale (tests/test_operators.py): per-key interval disjointness,
    contiguity, exactly-one-active, back-dated first version and open
    last version — emitted as violation counts you can alert on after
    every merge into a 100 TB dimension.

    One hash(user_id) exchange: the lag window and every per-key rollup
    share the dimension build's own partitioning."""
    from pyspark.sql.window import Window

    d = scd2_users(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("version_no")
    x = d.withColumn("prev_expiry", F.lag("expiry_date").over(w))
    per_key = x.groupBy("user_id").agg(
        F.sum((F.col("is_active") == "Y").cast("bigint")).alias("n_active"),
        F.sum(
            (F.col("prev_expiry").isNotNull() & (F.col("effective_date") < F.col("prev_expiry")))
            .cast("bigint")
        ).alias("n_overlaps"),
        F.sum(
            (F.col("prev_expiry").isNotNull() & (F.col("effective_date") != F.col("prev_expiry")))
            .cast("bigint")
        ).alias("n_gaps"),
        F.min("effective_date").alias("first_eff"),
        F.max("expiry_date").alias("last_exp"),
    )
    checks = per_key.agg(
        F.sum((F.col("n_active") != 1).cast("bigint")).alias("one_active_per_key"),
        F.sum((F.col("n_overlaps") > 0).cast("bigint")).alias("no_overlaps"),
        F.sum((F.col("n_gaps") > 0).cast("bigint")).alias("contiguous"),
        F.sum(
            (F.col("first_eff") != F.lit("1900-01-01 00:00:00").cast("timestamp")).cast("bigint")
        ).alias("first_backdated"),
        F.sum(
            (F.col("last_exp") != F.lit("2200-01-01 00:00:00").cast("timestamp")).cast("bigint")
        ).alias("last_open"),
    )
    return checks.select(
        F.expr(
            "stack(5, 'contiguous', contiguous, 'first_backdated', first_backdated,"
            " 'last_open', last_open, 'no_overlaps', no_overlaps,"
            " 'one_active_per_key', one_active_per_key) AS (check_name, n_violating_keys)"
        )
    ).orderBy("check_name")


def oracle_scd2_integrity_audit() -> str:
    scd2 = oracle_scd2_users()
    return f"""
    WITH scd2 AS ({scd2}),
    x AS (
        SELECT *, lag(expiry_date) OVER (PARTITION BY user_id ORDER BY version_no) AS prev_expiry
        FROM scd2
    ),
    per_key AS (
        SELECT user_id,
               sum(CASE WHEN is_active = 'Y' THEN 1 ELSE 0 END) AS n_active,
               sum(CASE WHEN prev_expiry IS NOT NULL AND effective_date < prev_expiry THEN 1 ELSE 0 END) AS n_overlaps,
               sum(CASE WHEN prev_expiry IS NOT NULL AND effective_date <> prev_expiry THEN 1 ELSE 0 END) AS n_gaps,
               min(effective_date) AS first_eff,
               max(expiry_date) AS last_exp
        FROM x GROUP BY user_id
    ),
    checks AS (
        SELECT
            CAST(sum(CASE WHEN n_active <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS one_active_per_key,
            CAST(sum(CASE WHEN n_overlaps > 0 THEN 1 ELSE 0 END) AS BIGINT) AS no_overlaps,
            CAST(sum(CASE WHEN n_gaps > 0 THEN 1 ELSE 0 END) AS BIGINT) AS contiguous,
            CAST(sum(CASE WHEN first_eff <> TIMESTAMP '1900-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS first_backdated,
            CAST(sum(CASE WHEN last_exp <> TIMESTAMP '2200-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS last_open
        FROM per_key
    )
    SELECT check_name, n_violating_keys FROM (
        SELECT 'contiguous' AS check_name, contiguous AS n_violating_keys FROM checks
        UNION ALL SELECT 'first_backdated', first_backdated FROM checks
        UNION ALL SELECT 'last_open', last_open FROM checks
        UNION ALL SELECT 'no_overlaps', no_overlaps FROM checks
        UNION ALL SELECT 'one_active_per_key', one_active_per_key FROM checks
    ) ORDER BY check_name
    """


# ---------------------------------------------------------------------------
# Multi-source dimension + hierarchy unroll
# (reference: models/intermediate/stg_dim_employee.sql, stg_employees.sql)
# ---------------------------------------------------------------------------

_PSEUDO_EPOCH = "2024-01-01"
_MULTISOURCE_HWM = "2024-03-01"  # fixed demo high-watermark


def _pseudo_process_date(prefix: str, key) -> F.Column:
    """Deterministic synthetic per-row ingestion date.

    The reference's sources each carry a ``dl_process_date`` lake-load
    timestamp (reference: models/intermediate/stg_dim_employee.sql:104);
    the test parquet has none, so each source derives one as
    epoch + (md5(prefix||key) % 365) days — a pure function of the row
    key, identical in both engines, standing in for the ingestion clock
    while keeping the freshness-folding machinery real."""
    key = F.col(key) if isinstance(key, str) else key
    days = (
        F.conv(F.substring(F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 8), 16, 10)
        .cast("long") % 365
    ).cast("int")
    return F.date_add(F.lit(_PSEUDO_EPOCH).cast("date"), days)


def _o_pseudo_process_date(prefix: str, key_expr: str) -> str:
    """DuckDB rendering of :func:`_pseudo_process_date` (date + int = days)."""
    return (
        f"(DATE '{_PSEUDO_EPOCH}' + CAST(CAST(('0x' || substr(md5('{prefix}' ||"
        f" CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT) % 365 AS INTEGER))"
    )


def _multisource_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared core of the multi-source dim family: part ⋈ bridge ⋈
    supplier ⋈ nation with per-source pseudo process dates and the
    ``greatest()`` freshness fold. Consumed by both the snapshot-style
    ``dim_part_multisource`` and the versioned ``scd2_parts_multisource``."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type",
        _pseudo_process_date("pd|p|", "p_partkey").alias("part_pd"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey",
        _pseudo_process_date("pd|s|", "s_suppkey").alias("supp_pd"),
    )
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name",
        _pseudo_process_date("pd|n|", "n_nationkey").alias("nation_pd"),
    )
    bridge = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .withColumn(
            "bridge_pd",
            _pseudo_process_date(
                "pd|b|", F.concat_ws("~", F.col("l_partkey"), F.col("l_suppkey"))
            ),
        )
    )
    return (
        p.join(bridge, p.p_partkey == bridge.l_partkey)
        .join(maybe_broadcast(s), bridge.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn(
            "max_processed_date",
            F.greatest("part_pd", "bridge_pd", "supp_pd", "nation_pd"),
        )
    )


def _oracle_multisource_joined_cte() -> str:
    """DuckDB CTEs computing the same joined relation (bridge, joined)."""
    return f"""bridge AS (
        SELECT l_partkey, l_suppkey,
               {_o_pseudo_process_date("pd|b|", "CAST(l_partkey AS VARCHAR) || '~' || CAST(l_suppkey AS VARCHAR)")} AS bridge_pd
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    ), joined AS (
        SELECT p.p_partkey, p.p_name, p.p_brand, p.p_type,
               s.s_suppkey, s.s_name, n.n_name,
               greatest(
                   {_o_pseudo_process_date("pd|p|", "p.p_partkey")},
                   b.bridge_pd,
                   {_o_pseudo_process_date("pd|s|", "s.s_suppkey")},
                   {_o_pseudo_process_date("pd|n|", "n.n_nationkey")}
               ) AS max_processed_date
        FROM part p
        JOIN bridge b ON b.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = b.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
    )"""


def dim_part_multisource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source dimension change propagation: a supplier-enriched
    part dim that versions when ANY of its four upstreams changes.

    Re-expresses the reference's N-source dim pattern (reference:
    models/intermediate/stg_dim_employee.sql:129,204,217 — employee ⋈
    employee_territories bridge ⋈ territory ⋈ region with
    ``greatest()`` of the four per-source dl_process_dates): here
    part ⋈ (distinct lineitem part↔supplier pairs — the many-to-many
    BRIDGE with its own per-pair process date) ⋈ supplier ⋈ nation.
    Freshness folds as ``greatest(part_pd, bridge_pd, supp_pd,
    nation_pd)``; the bridge fan-out is deduped back to one row per
    part by rank over freshness (freshest supplier variant wins,
    supplier id as the deterministic tiebreak — the reference's
    ``ranked = 1``); rows at-or-under the high-watermark are filtered
    out (the reference's incremental ``> hwm_date`` gate).

    Scale: the bridge distinct and the part⋈bridge join share the
    part-key hash partitioning (AQE reuses it for the rank window);
    supplier and nation are broadcast (at 100 TB supplier outgrows the
    threshold and falls back to sort-merge). The window is partitioned
    by part — never a global sort."""
    from pyspark.sql.window import Window

    joined = _multisource_joined(spark, sf_dir).withColumn(
        "row_hash", surrogate_key("p_name", "p_brand", "p_type", "s_name", "n_name")
    )
    w = Window.partitionBy("p_partkey").orderBy(F.desc("max_processed_date"), "s_suppkey")
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            & (F.col("max_processed_date") > F.lit(_MULTISOURCE_HWM).cast("date"))
        )
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_name").alias("part_name"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("part_type"),
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation_name"),
            "row_hash",
            F.col("max_processed_date").alias("updated_at"),
        )
        .orderBy("part_id")
    )


def oracle_dim_part_multisource() -> str:
    rh = oracle_surrogate_key("p_name", "p_brand", "p_type", "s_name", "n_name")
    return f"""
    WITH {_oracle_multisource_joined_cte()}, ranked AS (
        SELECT *, {rh} AS row_hash,
               row_number() OVER (
                   PARTITION BY p_partkey
                   ORDER BY max_processed_date DESC, s_suppkey
               ) AS _rn
        FROM joined
    )
    SELECT p_partkey AS part_id, p_name AS part_name, p_brand AS brand,
           p_type AS part_type, s_suppkey AS supplier_id, s_name AS supplier_name,
           n_name AS nation_name, row_hash, max_processed_date AS updated_at
    FROM ranked
    WHERE _rn = 1 AND max_processed_date > DATE '{_MULTISOURCE_HWM}'
    ORDER BY part_id
    """


def hierarchy_unroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-referencing hierarchy flatten: per node, chain depth and the
    materialized ancestor path down to its root.

    Re-expresses the reference's ``reports_to`` manager chain
    (reference: models/staging/stg_employees.sql:21). The test tables
    carry no self-referencing column, so the parent rule is the
    deterministic ``parent(k) = k div 10`` forest over customer keys
    (keys < 10 are roots) — synthetic EDGES, real MACHINERY: the
    unroll only ever follows the parent KEY through joins, exactly as
    it would a reports_to column.

    Spark-first: iterative frontier walk, one broadcast hash join per
    level (hierarchy dims are entity-sized — employees, org units —
    so the parent table broadcasts at any corpus scale), O(depth)
    rounds with localCheckpoint capping lineage like
    operators/components.py. The DuckDB oracle is the independent
    recursive-CTE statement of the same semantics."""
    c = load(spark, sf_dir, "customer")
    nodes = c.select(
        F.col("c_custkey").alias("customer_id"),
        F.when(F.col("c_custkey") >= 10, F.expr("c_custkey div 10"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("parent_id"),
    )
    cur = nodes.select(
        "customer_id",
        F.col("parent_id").alias("anc"),
        F.lit(1).alias("depth"),
        F.col("customer_id").cast("string").alias("path"),
    )
    parents = nodes.select(
        F.col("customer_id").alias("anc"), F.col("parent_id").alias("anc_parent")
    )
    finished = [cur.filter(F.col("anc").isNull())]
    frontier = cur.filter(F.col("anc").isNotNull()).localCheckpoint()
    while not frontier.isEmpty():
        stepped = frontier.join(maybe_broadcast(parents), "anc").select(
            "customer_id",
            F.col("anc_parent").alias("anc"),
            (F.col("depth") + 1).alias("depth"),
            F.concat_ws("/", "path", F.col("anc").cast("string")).alias("path"),
        ).localCheckpoint()
        finished.append(stepped.filter(F.col("anc").isNull()))
        frontier = stepped.filter(F.col("anc").isNotNull())
    out = finished[0]
    for part in finished[1:]:
        out = out.unionByName(part)
    return out.select("customer_id", "depth", "path").orderBy("customer_id")


def oracle_hierarchy_unroll() -> str:
    return """
    WITH RECURSIVE nodes AS (
        SELECT c_custkey AS customer_id,
               CASE WHEN c_custkey >= 10 THEN c_custkey // 10 ELSE NULL END AS parent_id
        FROM customer
    ), chain AS (
        SELECT customer_id, parent_id AS anc, 1 AS depth,
               CAST(customer_id AS VARCHAR) AS path
        FROM nodes
        UNION ALL
        SELECT ch.customer_id, n.parent_id, ch.depth + 1,
               ch.path || '/' || CAST(ch.anc AS VARCHAR)
        FROM chain ch JOIN nodes n ON ch.anc = n.customer_id
    )
    SELECT customer_id, depth, path FROM chain
    WHERE anc IS NULL ORDER BY customer_id
    """


def scd2_parts_multisource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 VERSIONING of the multi-source part dim: the reference's
    full pipeline shape — the N-source freshness-folded change stream
    (stg_dim_employee) feeding the SCD2 dimension build (dim_* models).

    Every joined (part, supplier-variant) row is a change event at its
    folded freshness date; scd2_from_change_stream then dedups same-day
    events (first by supplier id), drops no-op changes via lag(row_hash)
    and emits versioned intervals with 1900/2200 sentinels — so a part's
    history shows each attribute flip driven by whichever upstream moved
    its freshness forward. Same single (key, ts) window partitioning as
    every SCD2 build here: one shuffle regardless of history depth.
    reference: models/intermediate/stg_dim_employee.sql:129,204 (change
    stream) + models/dwh/dim_customer.sql (SCD2 collapse)."""
    changes = _multisource_joined(spark, sf_dir).select(
        "p_partkey", "s_suppkey", "s_name", "n_name", "p_brand", "max_processed_date"
    )
    return scd2_from_change_stream(
        changes,
        key_cols=["p_partkey"],
        ts_col="max_processed_date",
        hash_col=surrogate_key("s_name", "n_name", "p_brand"),
        attr_cols=["s_name", "n_name", "p_brand"],
        tiebreak_cols=["s_suppkey"],
        sk_name="part_sk",
    ).orderBy("p_partkey", "version_no")


def oracle_scd2_parts_multisource() -> str:
    rh = oracle_surrogate_key("s_name", "n_name", "p_brand")
    sk = oracle_surrogate_key("p_partkey", "epoch_us(effective_date)")
    return f"""
    WITH {_oracle_multisource_joined_cte()},
    changes AS (
        SELECT p_partkey, s_suppkey, s_name, n_name, p_brand,
               max_processed_date, {rh} AS _row_hash
        FROM joined
    ), dedup AS (
        SELECT *, row_number() OVER (
            PARTITION BY p_partkey, max_processed_date
            ORDER BY max_processed_date, s_suppkey) AS _rn
        FROM changes
    ), d AS (SELECT * FROM dedup WHERE _rn = 1),
    chg AS (
        SELECT *, lag(_row_hash) OVER (
            PARTITION BY p_partkey ORDER BY max_processed_date, s_suppkey) AS _prev
        FROM d
    ), f AS (SELECT * FROM chg WHERE _prev IS NULL OR _prev <> _row_hash),
    v AS (
        SELECT p_partkey, s_name, n_name, p_brand, _row_hash, max_processed_date,
            row_number() OVER w AS version_no,
            CASE WHEN row_number() OVER w = 1 THEN TIMESTAMP '1900-01-01 00:00:00'
                 ELSE CAST(max_processed_date AS TIMESTAMP) END AS effective_date,
            coalesce(lead(CAST(max_processed_date AS TIMESTAMP)) OVER w,
                     TIMESTAMP '2200-01-01 00:00:00') AS expiry_date,
            CASE WHEN lead(max_processed_date) OVER w IS NULL THEN 'Y' ELSE 'N' END AS is_active
        FROM f
        WINDOW w AS (PARTITION BY p_partkey ORDER BY max_processed_date, s_suppkey)
    )
    SELECT p_partkey, s_name, n_name, p_brand, _row_hash AS row_hash,
           CAST(max_processed_date AS TIMESTAMP) AS updated_at,
           version_no, effective_date, expiry_date, is_active, {sk} AS part_sk
    FROM v ORDER BY p_partkey, version_no
    """


def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over the self-referencing hierarchy: per node, the
    size of its subtree and the total order revenue of every node at or
    below it — the org-rollup half of the reference's ``reports_to``
    pattern (reference: models/staging/stg_employees.sql:21).

    Built from the materialized paths of :func:`hierarchy_unroll`:
    exploding each node's ancestor path yields the (node, ancestor)
    transitive closure as flat pairs — O(n·depth) rows, depth being
    log-sized — which joins per-node revenue and aggregates by
    ancestor. Root-adjacent ancestors are hot keys, but the rollup is a
    hash AGGREGATE (map-side partial combine absorbs the skew), never a
    hot-key join."""
    unrolled = hierarchy_unroll(spark, sf_dir)
    pairs = unrolled.select(
        F.col("customer_id").alias("node_id"),
        F.explode(F.split("path", "/")).alias("anc_str"),
    ).select("node_id", F.col("anc_str").cast("bigint").alias("anc_id"))
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    contrib = pairs.join(rev, pairs.node_id == rev.o_custkey, "left")
    rolled = contrib.groupBy("anc_id").agg(
        F.count(F.lit(1)).alias("n_subtree"),
        F.sum(F.coalesce(F.col("cents"), F.lit(0))).cast("bigint").alias("subtree_cents"),
    )
    return (
        rolled.join(unrolled, rolled.anc_id == unrolled.customer_id)
        .select("customer_id", "depth", "n_subtree", "subtree_cents")
        .orderBy("customer_id")
    )


def oracle_hierarchy_rollup() -> str:
    return """
    WITH RECURSIVE nodes AS (
        SELECT c_custkey AS customer_id,
               CASE WHEN c_custkey >= 10 THEN c_custkey // 10 ELSE NULL END AS parent_id
        FROM customer
    ), chain AS (
        SELECT customer_id, parent_id AS anc, 1 AS depth,
               CAST(customer_id AS VARCHAR) AS path
        FROM nodes
        UNION ALL
        SELECT ch.customer_id, n.parent_id, ch.depth + 1,
               ch.path || '/' || CAST(ch.anc AS VARCHAR)
        FROM chain ch JOIN nodes n ON ch.anc = n.customer_id
    ), unrolled AS (
        SELECT customer_id, depth, path FROM chain WHERE anc IS NULL
    ), pairs AS (
        SELECT customer_id AS node_id,
               CAST(unnest(string_split(path, '/')) AS BIGINT) AS anc_id
        FROM unrolled
    ), rev AS (
        SELECT o_custkey,
               CAST(sum(cast(o_totalprice as decimal(12,2))) * 100 AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), rolled AS (
        SELECT anc_id,
               count(*) AS n_subtree,
               CAST(sum(coalesce(cents, 0)) AS BIGINT) AS subtree_cents
        FROM pairs LEFT JOIN rev ON node_id = o_custkey
        GROUP BY anc_id
    )
    SELECT u.customer_id, u.depth, r.n_subtree, r.subtree_cents
    FROM rolled r JOIN unrolled u ON r.anc_id = u.customer_id
    ORDER BY u.customer_id
    """


# ---------------------------------------------------------------------------
# Kimball fact variants: accumulating + periodic snapshots
# ---------------------------------------------------------------------------


def fact_order_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact: one row per order carrying its
    lifecycle milestones (order placed -> first line shipped -> last
    line shipped) and the day lags between them.

    The Kimball accumulating-snapshot pattern the reference's
    fact_order (models/dwh/fact_order.sql) would grow into once
    fulfillment milestones land: milestones are folded from the line
    grain with one hash(orderkey) aggregation, then joined back to the
    order grain on the same key — Catalyst reuses the partitioning, so
    the whole fact builds in one exchange. Lags are integer day
    arithmetic (portable)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_orderstatus"
    )
    l = load(spark, sf_dir, "lineitem")
    m = l.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("l_linestatus") == "F").cast("bigint")).alias("n_lines_finished"),
    )
    return (
        o.join(m, o.o_orderkey == m.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("first_ship").cast("date").alias("first_ship_date"),
            F.col("last_ship").cast("date").alias("last_ship_date"),
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_lines_finished", F.lit(0)).cast("bigint").alias("n_lines_finished"),
            F.datediff(F.col("first_ship"), F.col("o_orderdate")).cast("bigint").alias("days_to_first_ship"),
            F.datediff(F.col("last_ship"), F.col("first_ship")).cast("bigint").alias("ship_span_days"),
        )
        .orderBy("o_orderkey")
    )


def oracle_fact_order_lifecycle() -> str:
    return """
    WITH m AS (
        SELECT l_orderkey, min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_finished
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderkey, o_orderpriority, o_orderstatus,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(first_ship AS DATE) AS first_ship_date,
           CAST(last_ship AS DATE) AS last_ship_date,
           CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(n_lines_finished, 0) AS BIGINT) AS n_lines_finished,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(first_ship AS DATE)) AS BIGINT)
               AS days_to_first_ship,
           CAST(date_diff('day', CAST(first_ship AS DATE), CAST(last_ship AS DATE)) AS BIGINT)
               AS ship_span_days
    FROM orders LEFT JOIN m ON o_orderkey = l_orderkey
    ORDER BY o_orderkey
    """


def fact_inventory_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodic-snapshot fact: month-end inventory movement per brand —
    units shipped that month plus the running cumulative, the balance a
    warehouse reports when no absolute stock feed exists.

    Kimball's periodic snapshot re-expressed Spark-first: the line feed
    collapses to (brand, month) grain with one shuffle (part dim
    broadcast), and the running balance is a window over the
    MONTH-grain aggregate partitioned by brand — the sorted object is
    brands x months, never the fact, so the plan survives 100 TB
    unchanged."""
    from pyspark.sql.window import Window

    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate", "l_quantity")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month_start"),
            dec2("l_quantity").alias("qty"),
        )
        .groupBy("p_brand", "month_start")
        .agg(
            F.sum("qty").cast("bigint").alias("qty_shipped"),
            F.count(F.lit(1)).alias("n_shipments"),
        )
    )
    w = Window.partitionBy("p_brand").orderBy("month_start")
    return (
        monthly.withColumn("cum_qty_shipped", F.sum("qty_shipped").over(w).cast("bigint"))
        .orderBy("p_brand", "month_start")
    )


def oracle_fact_inventory_monthly() -> str:
    return """
    WITH monthly AS (
        SELECT p_brand,
               date_trunc('month', CAST(l_shipdate AS DATE)) AS month_start,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT) AS qty_shipped,
               count(*) AS n_shipments
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
    )
    SELECT p_brand, month_start, qty_shipped, n_shipments,
           CAST(sum(qty_shipped) OVER (PARTITION BY p_brand ORDER BY month_start) AS BIGINT)
               AS cum_qty_shipped
    FROM monthly ORDER BY p_brand, month_start
    """


def scd3_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-3 user dimension: current attribute value plus the most
    recent PRIOR distinct value — the "previous segment" column Kimball
    Type 3 keeps when history is one column wide, complementing the
    Type-2 interval dimension (scd2_users).

    Both passes (current pick, previous-distinct pick) are windows over
    the same hash(user_id) partitioning; the join back is key-aligned,
    so the dimension builds without a second wide shuffle. Ties at
    equal timestamp break by event_id (matching the SCD2 builder's
    tiebreak discipline)."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    cur = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("current_type"),
            F.col("ts").alias("current_ts"),
        )
    )
    prev = (
        e.join(cur, "user_id")
        .filter(F.col("event_type") != F.col("current_type"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("previous_type"),
            F.col("ts").alias("previous_ts"),
        )
    )
    return (
        cur.join(prev, "user_id", "left")
        .select("user_id", "current_type", "current_ts", "previous_type", "previous_ts")
        .orderBy("user_id")
    )


def oracle_scd3_users() -> str:
    return """
    WITH cur AS (
        SELECT user_id, event_type AS current_type, ts AS current_ts
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    ), prev AS (
        SELECT user_id, event_type AS previous_type, ts AS previous_ts
        FROM (
            SELECT e.user_id, e.event_type, e.ts,
                   row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts DESC, e.event_id DESC) AS rn
            FROM events e JOIN cur USING (user_id)
            WHERE e.event_type <> cur.current_type
        ) WHERE rn = 1
    )
    SELECT cur.user_id, current_type, current_ts, previous_type, previous_ts
    FROM cur LEFT JOIN prev ON cur.user_id = prev.user_id
    ORDER BY cur.user_id
    """


def junk_dim_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Junk dimension: the distinct combinations of the order header's
    low-cardinality flags collapsed into one keyed dimension (Kimball's
    junk-dim pattern — keeps N tiny flag columns off the fact).

    One map-side-combining distinct; the surrogate key is the same
    portable md5 scheme the staging row_hash uses, so the fact can join
    on it from either engine."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            surrogate_key("o_orderstatus", "o_orderpriority").alias("junk_sk"),
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def oracle_junk_dim_orders() -> str:
    sk = oracle_surrogate_key("o_orderstatus", "o_orderpriority")
    return f"""
    SELECT {sk} AS junk_sk, o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """


def asof_events_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase → EARLIEST following (inclusive) click of the same
    user — the forward as-of ("time to next action") complement of
    asof_events. Same union + one-window shape reversed
    (operators/asof.py::asof_join_forward): one shuffle, never the
    key x interval product."""
    from northwind_warehouse_spark.operators.asof import asof_join_forward

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return asof_join_forward(
        purchases, clicks,
        left_key="user_id", right_key="user_id",
        left_ts="purchase_ts", right_ts="ts",
        payload_cols=["event_id", "ts"],
        payload_prefix="next_click_",
        right_tiebreak=["event_id"],
    ).select(
        "purchase_event_id", "user_id", "purchase_ts",
        F.col("next_click_event_id"),
        F.col("next_click_ts"),
        (F.unix_micros("next_click_ts") - F.unix_micros("purchase_ts"))
        .alias("micros_to_next_click"),
    ).orderBy("purchase_event_id")


def oracle_asof_events_forward() -> str:
    return """
    WITH purchases AS (
        SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), ranked AS (
        SELECT p.purchase_event_id, p.user_id, p.purchase_ts,
               c.event_id AS next_click_event_id, c.ts AS next_click_ts,
               row_number() OVER (PARTITION BY p.purchase_event_id
                                  ORDER BY c.ts, c.event_id) AS rn
        FROM purchases p LEFT JOIN clicks c
          ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
    )
    SELECT purchase_event_id, user_id, purchase_ts, next_click_event_id, next_click_ts,
           epoch_us(next_click_ts) - epoch_us(purchase_ts) AS micros_to_next_click
    FROM ranked WHERE rn = 1
    ORDER BY purchase_event_id
    """


def bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion: for every (component, ancestor
    assembly) pair in a self-referencing part hierarchy, the EFFECTIVE
    quantity — the PRODUCT of per-edge quantities along the path — plus
    the level distance. The multiplicative complement of
    hierarchy_rollup's additive subtree sums; the manufacturing query
    every requirements-planning run starts from.

    The test tables carry no BOM edges, so the structure rule is the
    deterministic ``parent(k) = k div 10`` forest with per-edge
    ``qty_per(k) = k % 5 + 1`` (synthetic EDGES, real MACHINERY — the
    walk only follows keys and multiplies a column). Spark-first:
    iterative frontier walk, one broadcast join per level, O(depth)
    rounds, lineage capped by localCheckpoint; every intermediate pair
    is emitted, not just roots. DuckDB oracle: recursive CTE carrying
    the running product."""
    p = load(spark, sf_dir, "part")
    nodes = p.select(
        F.col("p_partkey").alias("part_id"),
        F.when(F.col("p_partkey") >= 10, F.expr("p_partkey div 10"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("parent_id"),
        F.expr("p_partkey % 5 + 1").cast("bigint").alias("qty_per"),
    )
    cur = nodes.filter(F.col("parent_id").isNotNull()).select(
        F.col("part_id").alias("component_id"),
        F.col("parent_id").alias("ancestor_id"),
        F.lit(1).cast("bigint").alias("levels"),
        F.col("qty_per").alias("effective_qty"),
    )
    parents = nodes.select(
        F.col("part_id").alias("ancestor_id"),
        F.col("parent_id").alias("next_anc"),
        F.col("qty_per").alias("anc_qty_per"),
    )
    out = [cur.localCheckpoint()]
    frontier = out[0]
    while True:
        stepped = (
            frontier.join(maybe_broadcast(parents), "ancestor_id")
            .filter(F.col("next_anc").isNotNull())
            .select(
                "component_id",
                F.col("next_anc").alias("ancestor_id"),
                (F.col("levels") + 1).alias("levels"),
                (F.col("effective_qty") * F.col("anc_qty_per")).alias("effective_qty"),
            )
            .localCheckpoint()
        )
        if stepped.isEmpty():
            break
        out.append(stepped)
        frontier = stepped
    res = out[0]
    for part_df in out[1:]:
        res = res.unionByName(part_df)
    return res.orderBy("component_id", "ancestor_id")


def oracle_bom_explosion() -> str:
    return """
    WITH RECURSIVE nodes AS (
        SELECT p_partkey AS part_id,
               CASE WHEN p_partkey >= 10 THEN p_partkey // 10 ELSE NULL END AS parent_id,
               CAST(p_partkey % 5 + 1 AS BIGINT) AS qty_per
        FROM part
    ), chain AS (
        SELECT part_id AS component_id, parent_id AS ancestor_id,
               CAST(1 AS BIGINT) AS levels, qty_per AS effective_qty
        FROM nodes WHERE parent_id IS NOT NULL
        UNION ALL
        SELECT ch.component_id, n.parent_id, ch.levels + 1,
               ch.effective_qty * n.qty_per
        FROM chain ch JOIN nodes n ON ch.ancestor_id = n.part_id
        WHERE n.parent_id IS NOT NULL
    )
    SELECT component_id, ancestor_id, levels, effective_qty
    FROM chain ORDER BY component_id, ancestor_id
    """


def dim_customer_inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball inferred members (early-arriving facts): when a fact
    references a dimension key that has not arrived yet, the load
    inserts a PLACEHOLDER dim row for that key (member_type='inferred')
    so the fact join never drops rows — later the real attributes
    overwrite the placeholder (an ordinary SCD update). Distinct from
    dummy members, which absorb keys that will NEVER resolve.

    The test tables have clean referential integrity, so the
    not-yet-arrived slice is simulated deterministically (customers
    with c_custkey % 7 == 3 are 'late'); the machinery — anti-join of
    fact keys against the dim, placeholder construction, union — is
    exactly what a real late feed exercises. One map-side-combined
    distinct of fact keys + one broadcast-able anti-join."""
    c = load(spark, sf_dir, "customer").filter(F.expr("c_custkey % 7 <> 3"))
    o = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    conformed = c.select(
        "c_custkey",
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("conformed").alias("member_type"),
    )
    inferred = (
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.lit("Inferred Member").alias("customer_name"),
            F.lit("UNKNOWN").alias("segment"),
            F.lit("inferred").alias("member_type"),
        )
    )
    return conformed.unionByName(inferred).orderBy("c_custkey")


def oracle_dim_customer_inferred() -> str:
    return """
    WITH c AS (
        SELECT * FROM customer WHERE c_custkey % 7 <> 3
    ), conformed AS (
        SELECT c_custkey, c_name AS customer_name, c_mktsegment AS segment,
               'conformed' AS member_type
        FROM c
    ), inferred AS (
        SELECT DISTINCT o_custkey AS c_custkey,
               'Inferred Member' AS customer_name,
               'UNKNOWN' AS segment,
               'inferred' AS member_type
        FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM c WHERE c_custkey = o_custkey)
    )
    SELECT * FROM conformed
    UNION ALL
    SELECT * FROM inferred
    ORDER BY c_custkey
    """


def scd6_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-6 hybrid dimension (1+2+3): the full Type-2 version
    history with, ON EVERY ROW, the key's CURRENT attribute value as an
    extra column (the Type-1 overlay) and a flag for whether the row is
    the current version — so point-in-time joins read historical truth
    and current truth from the same row without a second lookup.

    Built from the Type-2 output with one additional window over the
    same hash(user_id) partitioning (max_by over version_no) — the
    overlay costs no extra shuffle. Completes the SCD taxonomy next to
    scd2_users (Type 2), scd3_users (Type 3), cdc_apply_latest
    (Type 1), and snapshot_users (Type 4-style)."""
    from pyspark.sql.window import Window

    base = scd2_users(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return (
        base.withColumn("_max_v", F.max("version_no").over(w))
        .withColumn(
            "current_event_type",
            F.expr("max_by(event_type, version_no)").over(w),
        )
        .withColumn("current_value", F.expr("max_by(value, version_no)").over(w))
        .withColumn(
            "is_current_version",
            F.when(F.col("version_no") == F.col("_max_v"), "Y").otherwise("N"),
        )
        .drop("_max_v")
        .orderBy("user_id", "version_no")
    )


def oracle_scd6_users() -> str:
    inner = oracle_scd2_users()
    return f"""
    WITH scd2 AS ({inner})
    SELECT *,
           max_by(event_type, version_no) OVER (PARTITION BY user_id) AS current_event_type,
           max_by(value, version_no) OVER (PARTITION BY user_id) AS current_value,
           CASE WHEN version_no = max(version_no) OVER (PARTITION BY user_id)
                THEN 'Y' ELSE 'N' END AS is_current_version
    FROM scd2 ORDER BY user_id, version_no
    """


ASOF_TOLERANCE_US = 3_600_000_000  # 1 hour max staleness


def asof_events_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (pandas merge_asof
    ``tolerance`` / kdb wj semantics): each purchase takes the latest
    preceding click of the same user ONLY if it happened within the
    last hour; older matches are nulled and flagged unmatched — the
    semantics a session-attribution pipeline needs when a week-old
    click must not claim credit.

    Built as a map-only post-filter on asof_events' union+window plan:
    the tolerance check is pure row arithmetic on the matched
    timestamps, so the plan cost is identical to the unbounded as-of."""
    base = asof_events(spark, sf_dir)
    within = F.expr(
        f"click_event_id IS NOT NULL"
        f" AND unix_micros(purchase_ts) - unix_micros(click_ts) <= {ASOF_TOLERANCE_US}"
    )
    return base.select(
        "purchase_event_id",
        "user_id",
        "purchase_ts",
        F.when(within, F.col("click_event_id")).alias("click_event_id"),
        F.when(within, F.expr("unix_micros(purchase_ts) - unix_micros(click_ts)"))
        .cast("bigint")
        .alias("staleness_us"),
        within.alias("matched"),
    ).orderBy("purchase_event_id")


def oracle_asof_events_tolerance() -> str:
    inner = oracle_asof_events()
    return f"""
    WITH base AS ({inner})
    SELECT purchase_event_id, user_id, purchase_ts,
           CASE WHEN click_event_id IS NOT NULL
                     AND epoch_us(purchase_ts) - epoch_us(click_ts) <= {ASOF_TOLERANCE_US}
                THEN click_event_id END AS click_event_id,
           CASE WHEN click_event_id IS NOT NULL
                     AND epoch_us(purchase_ts) - epoch_us(click_ts) <= {ASOF_TOLERANCE_US}
                THEN epoch_us(purchase_ts) - epoch_us(click_ts) END AS staleness_us,
           click_event_id IS NOT NULL
               AND epoch_us(purchase_ts) - epoch_us(click_ts) <= {ASOF_TOLERANCE_US} AS matched
    FROM base ORDER BY purchase_event_id
    """


# ---------------------------------------------------------------------------
# Round-5 additions: FK integrity matrix, snapshot diff
# ---------------------------------------------------------------------------

_FK_RELS = (
    ("customer.c_nationkey -> nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey -> region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey -> nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def fk_integrity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of EVERY FK relation in the schema
    in one result: per relation, fact rows, orphans (no matching dim
    key), and orphan ppm — the whole-warehouse generalization of
    dq_checks' per-table tests, and the report a nightly conformance
    job publishes (reference: dbt relationship tests across
    models/source.yml).

    Scale shape: each relation is ONE left join + ONE tiny agg; dim
    sides broadcast only while small (size-gated maybe_broadcast —
    customer/part/supplier key sets grow with SF, so at warehouse
    scale AQE picks the strategy; the lineitem->orders leg
    legitimately shuffles — both sides are fact-sized, exactly the
    case bucketing co-locates at warehouse scale). The 7 single-row
    aggregates union into the final matrix; nothing is collected."""
    outs = []
    for relname, ft, fk, dt, dk in _FK_RELS:
        fact = load(spark, sf_dir, ft).select(F.col(fk).alias("_fk"))
        dim = load(spark, sf_dir, dt).select(F.col(dk).alias("_dk")).distinct()
        if dt in ("nation", "region"):
            dim = F.broadcast(dim)  # bounded by construction (25 / 5 rows)
        elif dt != "orders":
            dim = maybe_broadcast(dim)
        j = fact.join(dim, F.col("_fk") == F.col("_dk"), "left")
        outs.append(
            j.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("_dk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            ).select(F.lit(relname).alias("relation"), "n_rows", "n_orphans")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "orphan_ppm", F.expr("1000000 * n_orphans div n_rows")
    ).orderBy("relation")


def oracle_fk_integrity_matrix() -> str:
    parts = []
    for relname, ft, fk, dt, dk in _FK_RELS:
        parts.append(f"""
        SELECT '{relname}' AS relation,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN d.{dk} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        FROM {ft} f LEFT JOIN (SELECT DISTINCT {dk} FROM {dt}) d ON f.{fk} = d.{dk}""")
    union = " UNION ALL ".join(parts)
    return f"""
    WITH rels AS ({union})
    SELECT relation, n_rows, n_orphans,
           CAST(1000000 * n_orphans // n_rows AS BIGINT) AS orphan_ppm
    FROM rels ORDER BY relation
    """


SNAP_D1 = "2024-01-10 00:00:00"
SNAP_D2 = "2024-01-20 00:00:00"


def snapshot_diff_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot dimension diff: the per-user latest state
    as of two snapshot dates, classified added / changed / unchanged —
    the reconciliation report a warehouse publishes alongside its SCD
    loads (dbt snapshot diffing; the change stream never deletes, so
    'removed' cannot occur and is deliberately absent).

    Scale shape: each snapshot is one latest-by-key window over the
    cutoff-filtered change stream (the predicate pushes to the scan);
    the diff is one user-keyed join of two user-grain tables; the
    output is a 3-row class rollup."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type", "value")

    def state_at(cutoff: str, alias: str) -> DataFrame:
        snap = latest_by_key(
            e.filter(F.col("ts") <= F.lit(cutoff).cast("timestamp")),
            ["user_id"],
            [F.desc("ts"), F.desc("event_id")],
        )
        return snap.select(
            "user_id", surrogate_key("event_type", num_str("value")).alias(alias)
        )

    s1 = state_at(SNAP_D1, "h1")
    s2 = state_at(SNAP_D2, "h2")
    classed = s2.join(s1, "user_id", "left").select(
        F.when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_class")
    )
    return (
        classed.groupBy("change_class")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("change_class")
    )


def oracle_snapshot_diff_users() -> str:
    rh = oracle_surrogate_key("event_type", oracle_num_str("value"))
    return f"""
    WITH s1 AS (
        SELECT user_id, {rh} AS h1 FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts <= TIMESTAMP '{SNAP_D1}'
        ) WHERE rn = 1
    ), s2 AS (
        SELECT user_id, {rh} AS h2 FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts <= TIMESTAMP '{SNAP_D2}'
        ) WHERE rn = 1
    ), j AS (
        SELECT s2.user_id, s1.h1, s2.h2 FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
    )
    SELECT CASE WHEN h1 IS NULL THEN 'added'
                WHEN h1 <> h2 THEN 'changed'
                ELSE 'unchanged' END AS change_class,
           CAST(count(*) AS BIGINT) AS n_users
    FROM j GROUP BY 1 ORDER BY 1
    """


_LATE_LOTTERY = (
    "CAST(conv(substring(md5(concat('late|', CAST(event_id AS STRING))), 1, 8), 16, 10)"
    " AS BIGINT) % 1000000"
)
_O_LATE_LOTTERY = (
    "CAST(('0x' || substr(md5('late|' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 1000000"
)


def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving data audit: a deterministic md5 lottery splits
    events into an already-loaded batch (80%) and an incoming batch —
    the lottery simulates OUT-OF-ORDER ARRIVAL (the fixture stream is
    time-ordered by id, so an id-prefix split would see zero lateness);
    an incoming event is LATE when its EVENT TIME ts is at or before
    the loaded batch's high watermark — exactly the rows an incremental
    HWM load (incremental_hwm) would silently skip and a streaming job
    would hold a watermark open for. Per event type: incoming count,
    late count, late ppm, and the worst lateness in whole seconds.

    Scale shape: the watermark is a 1-row broadcast aggregate of the
    loaded scan; lateness classification is map-only on the incoming
    scan; the rollup is event-type-grain."""
    e = load(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    wm = e.filter(F.expr(f"{_LATE_LOTTERY} < 800000")).agg(F.max("ts").alias("wm_ts"))
    incoming = e.filter(F.expr(f"{_LATE_LOTTERY} >= 800000"))
    return (
        incoming.crossJoin(F.broadcast(wm))
        .withColumn("is_late", (F.col("ts") <= F.col("wm_ts")).cast("bigint"))
        .withColumn(
            "late_secs",
            F.expr("CASE WHEN ts <= wm_ts THEN"
                   " (unix_micros(wm_ts) - unix_micros(ts)) div 1000000 END"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_incoming"),
            F.sum("is_late").cast("bigint").alias("n_late"),
            F.max("late_secs").alias("max_late_secs"),
        )
        .withColumn("late_ppm", F.expr("1000000 * n_late div n_incoming"))
        .orderBy("event_type")
    )


def oracle_late_arrival_audit() -> str:
    return f"""
    WITH wm AS (
        SELECT max(ts) AS wm_ts FROM events WHERE {_O_LATE_LOTTERY} < 800000
    ), incoming AS (
        SELECT e.event_type, e.ts, wm.wm_ts,
               CASE WHEN e.ts <= wm.wm_ts THEN 1 ELSE 0 END AS is_late,
               CASE WHEN e.ts <= wm.wm_ts
                    THEN (epoch_us(wm.wm_ts) - epoch_us(e.ts)) // 1000000 END AS late_secs
        FROM events e CROSS JOIN wm
        WHERE {_O_LATE_LOTTERY} >= 800000
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_incoming,
           CAST(sum(is_late) AS BIGINT) AS n_late,
           CAST(max(late_secs) AS BIGINT) AS max_late_secs,
           CAST(1000000 * sum(is_late) // count(*) AS BIGINT) AS late_ppm
    FROM incoming GROUP BY event_type ORDER BY event_type
    """


def dim_date_fiscal445(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 fiscal calendar attributes over the dim_date spine —
    the retail-calendar variant every merchandising warehouse carries
    next to the Gregorian dim_date: fiscal year starts Feb 1; weeks
    number from the FY start; periods follow the repeating 4-4-5 week
    pattern (weeks 1-4 → P1, 5-8 → P2, 9-13 → P3, ...), quarters are
    13-week blocks, and the occasional 53rd week folds into P12/Q4.
    Pure integer CASE arithmetic, map-only over the spine."""
    spine = spark.sql(
        f"SELECT explode(sequence(to_date('{DATE_START}'), to_date('{DATE_END}'), interval 1 day)) AS full_date"
    )
    return (
        spine.withColumn(
            "fy_start",
            F.expr(
                "CASE WHEN month(full_date) >= 2 THEN make_date(year(full_date), 2, 1)"
                " ELSE make_date(year(full_date) - 1, 2, 1) END"
            ),
        )
        .withColumn("fiscal_year", F.expr("CAST(year(fy_start) AS INT)"))
        .withColumn("day_in_fy", F.expr("CAST(datediff(full_date, fy_start) AS INT)"))
        .withColumn("fiscal_week", F.expr("CAST(day_in_fy div 7 + 1 AS INT)"))
        .withColumn("wk0", F.expr("fiscal_week - 1"))
        .withColumn("fq0", F.expr("least(wk0 div 13, 3)"))
        .withColumn("wq", F.expr("wk0 - 13 * fq0"))
        .select(
            F.expr(
                "CAST(year(full_date)*10000 + month(full_date)*100 + day(full_date) AS INT)"
            ).alias("date_key"),
            "full_date",
            "fiscal_year",
            "fiscal_week",
            F.expr(
                "CAST(3 * fq0 + CASE WHEN wq < 4 THEN 1 WHEN wq < 8 THEN 2 ELSE 3 END AS INT)"
            ).alias("fiscal_period"),
            F.expr("CAST(fq0 + 1 AS INT)").alias("fiscal_quarter"),
            F.expr("fiscal_week = 53").alias("is_week53"),
        )
        .orderBy("full_date")
    )


def oracle_dim_date_fiscal445() -> str:
    return f"""
    WITH spine AS (
        SELECT unnest(generate_series(DATE '{DATE_START}', DATE '{DATE_END}', INTERVAL 1 DAY))::DATE AS full_date
    ), fy AS (
        SELECT full_date,
               CASE WHEN month(full_date) >= 2 THEN make_date(year(full_date), 2, 1)
                    ELSE make_date(year(full_date) - 1, 2, 1) END AS fy_start
        FROM spine
    ), wk AS (
        SELECT full_date, fy_start,
               CAST(year(fy_start) AS INT) AS fiscal_year,
               CAST(date_diff('day', fy_start, full_date) // 7 + 1 AS INT) AS fiscal_week
        FROM fy
    ), q AS (
        SELECT *, least((fiscal_week - 1) // 13, 3) AS fq0,
               (fiscal_week - 1) - 13 * least((fiscal_week - 1) // 13, 3) AS wq
        FROM wk
    )
    SELECT CAST(year(full_date)*10000 + month(full_date)*100 + day(full_date) AS INT) AS date_key,
           full_date, fiscal_year, fiscal_week,
           CAST(3 * fq0 + CASE WHEN wq < 4 THEN 1 WHEN wq < 8 THEN 2 ELSE 3 END AS INT) AS fiscal_period,
           CAST(fq0 + 1 AS INT) AS fiscal_quarter,
           fiscal_week = 53 AS is_week53
    FROM q ORDER BY full_date
    """


def stg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging conform for the events change stream — completes §2A's
    one-stg-per-raw-source parity (reference: models/staging/stg_*.sql
    rename/type/row-hash discipline): business names, a derived
    event_date partition column (what the bronze ingest partitions by),
    the op flag, and the change-detection row hash the SCD2 build keys
    on. Map-only; the ts conform (nanos→µs, UTC pin) already happened
    in catalog.load."""
    e = load(spark, sf_dir, "events")
    return e.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("ts").alias("event_ts"),
        F.to_date("ts").alias("event_date"),
        F.col("value").alias("event_value"),
        F.lit("I").alias("op"),
        surrogate_key("user_id", "event_type", num_str("value")).alias("row_hash"),
    )


def oracle_stg_events() -> str:
    rh = oracle_surrogate_key("user_id", "event_type", oracle_num_str("value"))
    return f"""
    SELECT event_id, user_id, event_type, ts AS event_ts,
           CAST(ts AS DATE) AS event_date, value AS event_value,
           'I' AS op, {rh} AS row_hash
    FROM events
    """


def scd4_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 4 — the current/history TABLE SPLIT that completes the
    repo's SCD taxonomy (2, 3, 4, 6): the full version history lives in
    an append-only history table while a compact current table carries
    only each key's live row — the shape that lets the hot current dim
    BROADCAST into every fact join while history stays scan-only.
    Published as one labeled relation (table_role = 'current' |
    'history') so the split is hash-checkable in a single result.

    Scale shape: one scd2 build (windowed change detection), a filter
    for the current slice, a union — no extra shuffles over the
    history side."""
    scd2 = scd2_users(spark, sf_dir)
    cols = [
        "user_id", "version_no", "event_type", "value",
        "effective_date", "expiry_date",
    ]
    history = scd2.select(F.lit("history").alias("table_role"), *cols)
    current = scd2.filter(F.col("is_active") == "Y").select(
        F.lit("current").alias("table_role"), *cols
    )
    return history.unionByName(current).orderBy("table_role", "user_id", "version_no")


def oracle_scd4_users() -> str:
    inner = oracle_scd2_users()
    return f"""
    WITH scd2 AS ({inner})
    SELECT 'history' AS table_role, user_id, version_no, event_type, value,
           effective_date, expiry_date
    FROM scd2
    UNION ALL
    SELECT 'current', user_id, version_no, event_type, value,
           effective_date, expiry_date
    FROM scd2 WHERE is_active = 'Y'
    ORDER BY table_role, user_id, version_no
    """


# ---------------------------------------------------------------------------
# Round-6 additions: mini-dimension
# ---------------------------------------------------------------------------

_MINIDIM_BAND = """CASE WHEN bal < 0 THEN 'negative'
                        WHEN bal < 2500 THEN 'low'
                        WHEN bal < 5000 THEN 'mid'
                        WHEN bal < 7500 THEN 'high'
                        ELSE 'top' END"""


def dim_customer_minidim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball MINI-DIMENSION: the rapidly-changing customer attributes
    (market segment, account-balance band) split into their own tiny
    own-keyed dimension — the design that stops balance ticks from
    SCD2-versioning the whole customer row (reference:
    models/dwh/dim_customer.sql, whose SCD2 churn this offloads;
    completes the repo's Kimball taxonomy next to SCD2/3/4/6, junk,
    role-playing and drill-across). One row per OBSERVED combination
    with its md5 surrogate key and member profile; the fact would carry
    (customer_sk, minidim_sk) and this table is bounded by
    segments × bands — broadcastable at ANY warehouse scale.

    Scale shape: banding is a map pass (balance compared in exact
    DECIMAL — double comparisons at band edges would be engine-lottery),
    one map-side-combined groupBy to the ≤25-row grain; nothing
    customer-sized survives the aggregation."""
    c = load(spark, sf_dir, "customer").select(
        "c_mktsegment", F.col("c_acctbal").cast("decimal(12,2)").alias("bal")
    )
    banded = c.select(
        "c_mktsegment", F.expr(_MINIDIM_BAND).alias("balance_band")
    )
    return (
        banded.groupBy("c_mktsegment", "balance_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .select(
            F.md5(F.concat_ws("||", "c_mktsegment", "balance_band")).alias("minidim_sk"),
            F.col("c_mktsegment").alias("mktsegment"),
            "balance_band",
            "n_customers",
        )
        .orderBy("mktsegment", "balance_band")
    )


def oracle_dim_customer_minidim() -> str:
    band = _MINIDIM_BAND
    return f"""
    WITH banded AS (
        SELECT c_mktsegment,
               {band} AS balance_band
        FROM (SELECT c_mktsegment, cast(c_acctbal AS DECIMAL(12,2)) AS bal FROM customer)
    ), agg AS (
        SELECT c_mktsegment, balance_band, CAST(count(*) AS BIGINT) AS n_customers
        FROM banded GROUP BY 1, 2
    )
    SELECT md5(concat_ws('||', c_mktsegment, balance_band)) AS minidim_sk,
           c_mktsegment AS mktsegment, balance_band, n_customers
    FROM agg ORDER BY mktsegment, balance_band
    """


def scd2_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 re-grain compaction: collapse ADJACENT versions that agree
    on the retained attribute (event_type) into single validity spans —
    the maintenance job run when the business decides an attribute
    (here: value) was over-tracked and the dimension should be
    compacted to the coarser change grain. Classic gaps-and-islands:
    a change flag per version, a running sum to number spans, one
    span-grain rollup keeping the merged validity range.

    Scale shape: shares the dimension's own hash(user_id) partitioning
    — the lag window, the running sum, and the span rollup are all
    per-key (bounded partitions), one exchange total on top of the
    SCD2 build."""
    from pyspark.sql.window import Window

    d = scd2_users(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("version_no")
    flagged = d.withColumn(
        "_chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    spans = flagged.withColumn("span_no", F.sum("_chg").over(w).cast("bigint"))
    return (
        spans.groupBy("user_id", "span_no")
        .agg(
            F.min("event_type").alias("event_type"),
            F.count(F.lit(1)).cast("bigint").alias("n_versions"),
            F.min("effective_date").alias("effective_date"),
            F.max("expiry_date").alias("expiry_date"),
            F.max("is_active").alias("is_active"),
        )
        .orderBy("user_id", "span_no")
    )


def oracle_scd2_compaction() -> str:
    inner = oracle_scd2_users()
    return f"""
    WITH scd2 AS ({inner}),
    fl AS (
        SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS _chg
        FROM scd2
        WINDOW w AS (PARTITION BY user_id ORDER BY version_no)
    ),
    sp AS (
        SELECT *, CAST(sum(_chg) OVER (PARTITION BY user_id ORDER BY version_no) AS BIGINT) AS span_no
        FROM fl
    )
    SELECT user_id, span_no,
           min(event_type) AS event_type,
           CAST(count(*) AS BIGINT) AS n_versions,
           min(effective_date) AS effective_date,
           max(expiry_date) AS expiry_date,
           max(is_active) AS is_active
    FROM sp GROUP BY user_id, span_no
    ORDER BY user_id, span_no
    """


def dim_date_month_shrunken(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball SHRUNKEN dimension: the month-grain rollup of dim_date
    (month_key, calendar attributes, day/weekend counts, month span)
    for facts declared at monthly grain (fact_inventory_monthly) —
    conformed BY CONSTRUCTION because it aggregates the same spine
    dim_date projects, never a second calendar source.

    Scale shape: the spine is generated, bounded (~3k rows), map-only;
    one ≤|months| rollup."""
    spine = spark.sql(
        f"SELECT explode(sequence(to_date('{DATE_START}'), to_date('{DATE_END}'), interval 1 day)) AS full_date"
    )
    return (
        spine.groupBy(
            (F.year("full_date") * 100 + F.month("full_date")).cast("int").alias("month_key")
        )
        .agg(
            F.min(F.year("full_date")).cast("int").alias("year"),
            F.min(F.quarter("full_date")).cast("int").alias("quarter"),
            F.min(F.month("full_date")).cast("int").alias("month"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum((F.weekday("full_date") >= 5).cast("bigint")).cast("bigint")
            .alias("n_weekend_days"),
            F.min("full_date").alias("first_date"),
            F.max("full_date").alias("last_date"),
        )
        .orderBy("month_key")
    )


def oracle_dim_date_month_shrunken() -> str:
    return f"""
    WITH spine AS (
        SELECT unnest(generate_series(DATE '{DATE_START}', DATE '{DATE_END}', INTERVAL 1 DAY))::DATE AS full_date
    )
    SELECT CAST(year(full_date)*100 + month(full_date) AS INT) AS month_key,
           CAST(min(year(full_date)) AS INT) AS year,
           CAST(min(quarter(full_date)) AS INT) AS quarter,
           CAST(min(month(full_date)) AS INT) AS month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN isodow(full_date) >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend_days,
           min(full_date) AS first_date,
           max(full_date) AS last_date
    FROM spine GROUP BY 1 ORDER BY month_key
    """


def inferred_member_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inferred-member REPAIR: the second half of the early-arriving-
    fact protocol — when the late dimension feed lands (the simulated
    c_custkey % 7 == 3 slice), placeholder rows from
    dim_customer_inferred are overwritten with real attributes
    (member_type='repaired') and late rows never referenced by a fact
    are plain inserts (member_type='late_insert'). The post-repair
    dimension is emitted so the SCD-style merge semantics are the
    deliverable, not just an action list.

    Scale shape: the repair is one key-equi left join of the dim
    against the late batch plus one anti-join for the inserts — both
    size-gated; no windows."""
    base = dim_customer_inferred(spark, sf_dir)
    late = (
        load(spark, sf_dir, "customer")
        .filter(F.expr("c_custkey % 7 = 3"))
        .select(
            F.col("c_custkey").alias("lk"),
            F.col("c_name").alias("late_name"),
            F.col("c_mktsegment").alias("late_segment"),
        )
    )
    repaired = (
        base.join(maybe_broadcast(late), base.c_custkey == F.col("lk"), "left")
        .select(
            "c_custkey",
            F.when(
                (F.col("member_type") == "inferred") & F.col("lk").isNotNull(),
                F.col("late_name"),
            ).otherwise(F.col("customer_name")).alias("customer_name"),
            F.when(
                (F.col("member_type") == "inferred") & F.col("lk").isNotNull(),
                F.col("late_segment"),
            ).otherwise(F.col("segment")).alias("segment"),
            F.when(
                (F.col("member_type") == "inferred") & F.col("lk").isNotNull(),
                F.lit("repaired"),
            ).otherwise(F.col("member_type")).alias("member_type"),
        )
    )
    inserts = (
        late.join(base.select("c_custkey"), F.col("lk") == F.col("c_custkey"), "left_anti")
        .select(
            F.col("lk").alias("c_custkey"),
            F.col("late_name").alias("customer_name"),
            F.col("late_segment").alias("segment"),
            F.lit("late_insert").alias("member_type"),
        )
    )
    return repaired.unionByName(inserts).orderBy("c_custkey")


def oracle_inferred_member_repair() -> str:
    inner = oracle_dim_customer_inferred()
    return f"""
    WITH base AS ({inner}),
    late AS (
        SELECT c_custkey AS lk, c_name AS late_name, c_mktsegment AS late_segment
        FROM customer WHERE c_custkey % 7 = 3
    ),
    repaired AS (
        SELECT base.c_custkey,
               CASE WHEN member_type = 'inferred' AND lk IS NOT NULL
                    THEN late_name ELSE customer_name END AS customer_name,
               CASE WHEN member_type = 'inferred' AND lk IS NOT NULL
                    THEN late_segment ELSE segment END AS segment,
               CASE WHEN member_type = 'inferred' AND lk IS NOT NULL
                    THEN 'repaired' ELSE member_type END AS member_type
        FROM base LEFT JOIN late ON base.c_custkey = lk
    ),
    inserts AS (
        SELECT lk AS c_custkey, late_name AS customer_name,
               late_segment AS segment, 'late_insert' AS member_type
        FROM late
        WHERE lk NOT IN (SELECT c_custkey FROM base)
    )
    SELECT * FROM repaired
    UNION ALL
    SELECT * FROM inserts
    ORDER BY c_custkey
    """


def medallion_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-by-layer row-count reconciliation across the medallion
    chains (orders raw→stg→fact, lineitem raw→stg→fact, events
    raw→stg→SCD2 dim) with each layer's delta vs its upstream — the
    post-load audit report every pipeline run publishes so silent row
    loss/duplication between layers is caught the batch it happens
    (the reference's audit row-count discipline, macros/
    audit_management/*, as one conformed report).

    Scale shape: each layer contributes ONE map-side-combined count
    (single-row aggregates unioned); the lag window runs over the
    8-row report."""
    from pyspark.sql.window import Window

    def cnt(df: DataFrame, table: str, layer: str, layer_no: int) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
            F.lit(table).alias("table_name"),
            F.lit(layer).alias("layer"),
            F.lit(layer_no).cast("bigint").alias("layer_no"),
            "n_rows",
        )

    # spread=False (r14, guide §2.4 "remove shuffles outright"): these
    # branches only COUNT the builders' output — Catalyst prunes the
    # md5/SK projections, so the r13 spread repartition is a pure
    # exchange tax here (r13 verdict What's-wrong #1). 4-arm alternating
    # A/B at sf0.1 (warm med-of-5, checksums identical): all-spreads
    # 2.908s / all-off 2.583 / only-stg-off 2.567 / only-facts-off
    # 2.731 — the stg_lineitem spread is the bulk of the tax (its count
    # prunes EVERYTHING above the scan), the fact spreads a small one
    # (their left joins survive the count), so all three opt out. The
    # builders' REGISTERED entries keep spread=True. scd2_users keeps
    # its spread: there the hash-by-user_id exchange REPLACES the SCD2
    # window's own exchange (same key, same width — zero extra
    # shuffles), and the count cannot prune the change-detection window
    # it feeds.
    report = (
        cnt(load(spark, sf_dir, "orders"), "orders", "raw", 1)
        .unionByName(cnt(stg_orders(spark, sf_dir), "orders", "stg", 2))
        .unionByName(cnt(fact_orders(spark, sf_dir, spread=False), "orders", "fact", 3))
        .unionByName(cnt(load(spark, sf_dir, "lineitem"), "lineitem", "raw", 1))
        .unionByName(cnt(stg_lineitem(spark, sf_dir, spread=False), "lineitem", "stg", 2))
        .unionByName(cnt(fact_lineitem(spark, sf_dir, spread=False), "lineitem", "fact", 3))
        .unionByName(cnt(load(spark, sf_dir, "events"), "events", "raw", 1))
        .unionByName(cnt(stg_events(spark, sf_dir), "events", "stg", 2))
        .unionByName(cnt(scd2_users(spark, sf_dir), "events", "dim_scd2", 3))
    )
    w = Window.partitionBy("table_name").orderBy("layer_no")
    return (
        report.withColumn(
            "delta_vs_upstream",
            (F.col("n_rows") - F.lag("n_rows").over(w)).cast("bigint"),
        )
        .orderBy("table_name", "layer_no")
    )


def oracle_medallion_reconciliation() -> str:
    return f"""
    WITH report AS (
        SELECT 'orders' AS table_name, 'raw' AS layer, CAST(1 AS BIGINT) AS layer_no,
               CAST(count(*) AS BIGINT) AS n_rows FROM orders
        UNION ALL
        SELECT 'orders', 'stg', 2, CAST(count(*) AS BIGINT) FROM ({oracle_stg_orders()})
        UNION ALL
        SELECT 'orders', 'fact', 3, CAST(count(*) AS BIGINT) FROM ({oracle_fact_orders()})
        UNION ALL
        SELECT 'lineitem', 'raw', 1, CAST(count(*) AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'stg', 2, CAST(count(*) AS BIGINT) FROM ({oracle_stg_lineitem()})
        UNION ALL
        SELECT 'lineitem', 'fact', 3, CAST(count(*) AS BIGINT) FROM ({oracle_fact_lineitem()})
        UNION ALL
        SELECT 'events', 'raw', 1, CAST(count(*) AS BIGINT) FROM events
        UNION ALL
        SELECT 'events', 'stg', 2, CAST(count(*) AS BIGINT) FROM ({oracle_stg_events()})
        UNION ALL
        SELECT 'events', 'dim_scd2', 3, CAST(count(*) AS BIGINT) FROM ({oracle_scd2_users()})
    )
    SELECT table_name, layer, layer_no, n_rows,
           CAST(n_rows - lag(n_rows) OVER (PARTITION BY table_name ORDER BY layer_no) AS BIGINT)
               AS delta_vs_upstream
    FROM report ORDER BY table_name, layer_no
    """


def dq_lineitem_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range DQ suite for the lineitem fact — the accepted-range
    complement of dq_checks' key/uniqueness tests (dbt's
    accepted_values / expression tests): quantity, discount, tax and
    price bounds plus the cross-table temporal invariant
    ship-not-before-order (the one that actually fires in this data —
    the synthetic feed ships lines before their order date, exactly
    the defect class this report exists to surface).

    Scale shape: the five single-table checks fold into ONE conditional
    aggregation pass over the scan; the temporal check is one key-equi
    join + count; output is a fixed 6-row report."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    single = l.agg(
        F.sum(F.when(F.expr("floor(l_quantity) < 1"), 1).otherwise(0))
        .cast("bigint").alias("qty_min_1"),
        F.sum(F.when(F.expr("l_quantity > 50"), 1).otherwise(0))
        .cast("bigint").alias("qty_max_50"),
        F.sum(F.when(F.expr("l_discount < 0 OR l_discount > 0.6"), 1).otherwise(0))
        .cast("bigint").alias("discount_bounds"),
        F.sum(F.when(F.expr("l_tax < 0"), 1).otherwise(0))
        .cast("bigint").alias("tax_nonneg"),
        F.sum(F.when(F.expr("l_extendedprice <= 0"), 1).otherwise(0))
        .cast("bigint").alias("price_positive"),
    )
    ship = (
        l.select("l_orderkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ship_not_before_order"))
    )
    return (
        single.crossJoin(ship)
        .select(
            F.expr(
                "stack(6,"
                " 'discount_bounds', discount_bounds,"
                " 'price_positive', price_positive,"
                " 'qty_max_50', qty_max_50,"
                " 'qty_min_1', qty_min_1,"
                " 'ship_not_before_order', ship_not_before_order,"
                " 'tax_nonneg', tax_nonneg) AS (check_name, n_violations)"
            )
        )
        .orderBy("check_name")
    )


def oracle_dq_lineitem_ranges() -> str:
    return """
    WITH single AS (
        SELECT
            CAST(sum(CASE WHEN floor(l_quantity) < 1 THEN 1 ELSE 0 END) AS BIGINT) AS qty_min_1,
            CAST(sum(CASE WHEN l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_max_50,
            CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS discount_bounds,
            CAST(sum(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tax_nonneg,
            CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price_positive
        FROM lineitem
    ), ship AS (
        SELECT CAST(count(*) AS BIGINT) AS ship_not_before_order
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate < o_orderdate
    ), rows_out AS (
        SELECT 'discount_bounds' AS check_name, discount_bounds AS n_violations FROM single
        UNION ALL SELECT 'price_positive', price_positive FROM single
        UNION ALL SELECT 'qty_max_50', qty_max_50 FROM single
        UNION ALL SELECT 'qty_min_1', qty_min_1 FROM single
        UNION ALL SELECT 'ship_not_before_order', ship_not_before_order FROM ship
        UNION ALL SELECT 'tax_nonneg', tax_nonneg FROM single
    )
    SELECT check_name, n_violations FROM rows_out ORDER BY check_name
    """


_K_ANON = 5  # k-anonymity threshold under audit


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy k-anonymity audit on the customer dimension: treating
    (nation, market segment) as the quasi-identifier tuple, report the
    equivalence-class profile — group count, classes below k=5, rows
    re-identifiable through a small class, and the smallest class —
    the governance check run before an extract leaves the warehouse
    (a class of size 1 IS an identification).

    Scale shape: one map-side-combined rollup to the QI grain
    (≤ |nations|·|segments| rows), then a single-row report."""
    c = load(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    groups = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return groups.agg(
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("sz") < _K_ANON, 1).otherwise(0)).cast("bigint")
        .alias("n_small_classes"),
        F.sum(F.when(F.col("sz") < _K_ANON, F.col("sz")).otherwise(0)).cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("sz").cast("bigint").alias("min_class_sz"),
    ).select(
        "n_rows", "n_classes", "n_small_classes", "n_rows_at_risk", "min_class_sz",
        F.expr("CAST(CAST(n_rows_at_risk AS DECIMAL(38,0)) * 1000000 div n_rows AS BIGINT)")
        .alias("risk_ppm"),
    )


def oracle_k_anonymity_audit() -> str:
    return f"""
    WITH groups AS (
        SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS sz
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN sz < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
           CAST(sum(CASE WHEN sz < {_K_ANON} THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(min(sz) AS BIGINT) AS min_class_sz,
           CAST(CAST(sum(CASE WHEN sz < {_K_ANON} THEN sz ELSE 0 END) AS HUGEINT) * 1000000
                // CAST(sum(sz) AS BIGINT) AS BIGINT) AS risk_ppm
    FROM groups
    """


_IVM_SPLIT = "2001-01-01"  # simulated "new batch" boundary


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance on the monthly-revenue aggregate:
    the standing aggregate built from the OLD data, the DELTA the new
    batch (orders at/after the split date) contributes, and the
    reconciliation old + delta = full asserted per month — the IVM
    contract that lets a 100 TB aggregate absorb a daily batch without
    a full recompute (additive measures fold; the reconciled column is
    the audit a production merge job publishes).

    Scale shape: ONE scan computes old/delta/full together via
    CASE-split sums (map-side combined, ≤|months| groups) — the
    demonstration that the delta is derivable from the new slice
    alone."""
    split = F.lit(_IVM_SPLIT).cast("date")
    o = load(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("bigint").alias("ym"),
        F.col("o_orderdate").cast("date").alias("od"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        o.groupBy("ym")
        .agg(
            F.sum(F.when(F.col("od") < split, F.col("cents")).otherwise(0)).cast("bigint")
            .alias("old_cents"),
            F.sum(F.when(F.col("od") >= split, F.col("cents")).otherwise(0)).cast("bigint")
            .alias("delta_cents"),
            F.sum("cents").cast("bigint").alias("full_cents"),
        )
        .withColumn(
            "reconciled",
            F.when(F.col("old_cents") + F.col("delta_cents") == F.col("full_cents"), "Y")
            .otherwise("N"),
        )
        .orderBy("ym")
    )


def oracle_incremental_agg_maintenance() -> str:
    return f"""
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
           CAST(sum(CASE WHEN o_orderdate < DATE '{_IVM_SPLIT}'
                         THEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS old_cents,
           CAST(sum(CASE WHEN o_orderdate >= DATE '{_IVM_SPLIT}'
                         THEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS delta_cents,
           CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS full_cents,
           CASE WHEN sum(CASE WHEN o_orderdate < DATE '{_IVM_SPLIT}'
                              THEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END)
                     + sum(CASE WHEN o_orderdate >= DATE '{_IVM_SPLIT}'
                                THEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END)
                     = sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                THEN 'Y' ELSE 'N' END AS reconciled
    FROM orders GROUP BY 1 ORDER BY ym
    """


# ---------------------------------------------------------------------------
# Data Vault modeling (hub / link / satellite / PIT) — the methodology
# complement to the Kimball surface above: same md5 portability contract
# (functions/hashing.py), insert-only artifacts
# ---------------------------------------------------------------------------


def dv_hub_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault HUB: one row per distinct customer business key as
    FIRST SEEN in the orders feed, with the md5 hash key and the
    first-seen load date — the insert-only backbone table every link
    and satellite hangs off (a key is 'born' when any feed first
    mentions it; re-arrivals never update the hub).

    Scale shape: one map-side-combined (key → min date) rollup; the
    hash key is a map-only projection."""
    o = load(spark, sf_dir, "orders").select("o_custkey", F.col("o_orderdate").cast("date").alias("od"))
    return (
        o.groupBy("o_custkey")
        .agg(F.min("od").alias("load_date"))
        .select(
            surrogate_key("o_custkey").alias("customer_hk"),
            F.col("o_custkey").alias("customer_bk"),
            "load_date",
        )
        .orderBy("customer_bk")
    )


def oracle_dv_hub_customer() -> str:
    hk = oracle_surrogate_key("o_custkey")
    return f"""
    SELECT {hk} AS customer_hk,
           o_custkey AS customer_bk,
           min(cast(o_orderdate AS DATE)) AS load_date
    FROM orders GROUP BY o_custkey
    ORDER BY customer_bk
    """


def dv_link_order_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault LINK: the order↔customer relationship as an
    insert-only association table — link hash key over BOTH business
    keys, the two member hub keys, and the relationship's load date.
    Many-to-many by construction (here 1:n, but the shape is the
    general one the methodology standardizes).

    Scale shape: pure map over the orders scan — three md5
    projections, zero shuffles (the ORDER BY is presentation-only)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("load_date")
    )
    return o.select(
        surrogate_key("o_orderkey", "o_custkey").alias("link_hk"),
        surrogate_key("o_orderkey").alias("order_hk"),
        surrogate_key("o_custkey").alias("customer_hk"),
        F.col("o_orderkey").alias("order_bk"),
        F.col("o_custkey").alias("customer_bk"),
        "load_date",
    ).orderBy("order_bk")


def oracle_dv_link_order_customer() -> str:
    lk = oracle_surrogate_key("o_orderkey", "o_custkey")
    ohk = oracle_surrogate_key("o_orderkey")
    chk = oracle_surrogate_key("o_custkey")
    return f"""
    SELECT {lk} AS link_hk,
           {ohk} AS order_hk,
           {chk} AS customer_hk,
           o_orderkey AS order_bk,
           o_custkey AS customer_bk,
           cast(o_orderdate AS DATE) AS load_date
    FROM orders ORDER BY order_bk
    """


def dv_sat_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault SATELLITE on the user hub: the descriptive attributes
    from the events change stream, APPEND-ONLY with a hashdiff — a row
    is loaded only when its hashdiff differs from the key's previous
    satellite row (the DV delta-load rule; no expiry columns — point-in-
    time queries resolve currency, see dv_pit_users). Same change
    stream the SCD2 dimension consumes, emitted in the other
    methodology's shape.

    Scale shape: one hash(user_id) exchange shared by the dedup and
    lag windows — identical to the SCD2 build's cost."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type", "value")
    hashed = e.withColumn("hashdiff", surrogate_key("event_type", num_str("value")))
    w_dedup = Window.partitionBy("user_id", "ts").orderBy("ts", "event_id")
    d = hashed.withColumn("_rn", F.row_number().over(w_dedup)).filter(F.col("_rn") == 1)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        d.withColumn("_prev", F.lag("hashdiff").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("hashdiff")))
        .select(
            surrogate_key("user_id").alias("customer_hk"),
            F.col("user_id").alias("user_bk"),
            F.col("ts").alias("load_ts"),
            "hashdiff",
            "event_type",
            "value",
        )
        .orderBy("user_bk", "load_ts")
    )


def oracle_dv_sat_user_events() -> str:
    hd = oracle_surrogate_key("event_type", oracle_num_str("value"))
    hk = oracle_surrogate_key("user_id")
    return f"""
    WITH hashed AS (
        SELECT event_id, user_id, ts, event_type, value, {hd} AS hashdiff
        FROM events
    ), dedup AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY ts, event_id) AS _rn
        FROM hashed
    ), d AS (SELECT * FROM dedup WHERE _rn = 1),
    chg AS (
        SELECT *, lag(hashdiff) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        FROM d
    )
    SELECT {hk} AS customer_hk,
           user_id AS user_bk,
           ts AS load_ts,
           hashdiff, event_type, value
    FROM chg
    WHERE _prev IS NULL OR _prev <> hashdiff
    ORDER BY user_bk, load_ts
    """


_DV_PIT_SNAPSHOTS = ("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")


def dv_pit_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault POINT-IN-TIME table: for each (user hub key,
    snapshot date), the load_ts of the satellite row current AT that
    snapshot — the query-acceleration construct that turns the
    append-only satellite into O(1) as-of lookups for consumers (the
    DV counterpart of the SCD2 effective/expiry pair).

    Scale shape: satellite rows explode ×|snapshots| (a small
    constant), one (key, snapshot) max-rollup — never a key×time
    cross join at event grain."""
    sat = dv_sat_user_events(spark, sf_dir).select("customer_hk", "user_bk", "load_ts")
    snaps = F.array(*[F.lit(s) for s in _DV_PIT_SNAPSHOTS])
    ex = sat.select(
        "customer_hk", "user_bk", "load_ts",
        F.explode(snaps).alias("_s"),
    ).withColumn("snapshot_date", F.col("_s").cast("date"))
    return (
        ex.filter(F.col("load_ts") < F.expr("CAST(date_add(snapshot_date, 1) AS TIMESTAMP)"))
        .groupBy("customer_hk", "user_bk", "snapshot_date")
        .agg(F.max("load_ts").alias("sat_load_ts"))
        .orderBy("user_bk", "snapshot_date")
    )


def oracle_dv_pit_users() -> str:
    hd = oracle_surrogate_key("event_type", oracle_num_str("value"))
    hk = oracle_surrogate_key("user_id")
    snaps = ", ".join(f"DATE '{s}'" for s in _DV_PIT_SNAPSHOTS)
    return f"""
    WITH hashed AS (
        SELECT event_id, user_id, ts, event_type, value, {hd} AS hashdiff
        FROM events
    ), dedup AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY ts, event_id) AS _rn
        FROM hashed
    ), d AS (SELECT * FROM dedup WHERE _rn = 1),
    chg AS (
        SELECT *, lag(hashdiff) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _prev
        FROM d
    ), sat AS (
        SELECT {hk} AS customer_hk, user_id AS user_bk, ts AS load_ts
        FROM chg WHERE _prev IS NULL OR _prev <> hashdiff
    ), ex AS (
        SELECT customer_hk, user_bk, load_ts, t.s AS snapshot_date
        FROM sat CROSS JOIN (SELECT unnest([{snaps}]) AS s) t
    )
    SELECT customer_hk, user_bk, snapshot_date,
           max(load_ts) AS sat_load_ts
    FROM ex
    WHERE load_ts < CAST(snapshot_date + INTERVAL 1 DAY AS TIMESTAMP)
    GROUP BY customer_hk, user_bk, snapshot_date
    ORDER BY user_bk, snapshot_date
    """


_BT_DELAY_MOD = 172800  # simulated arrival delay: 0..48h, md5-derived


def bitemporal_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI-TEMPORAL restatement report: each event carries its EVENT
    time (ts) and a simulated TRANSACTION time (arrival = ts + a
    deterministic md5-derived 0-48 h delay — the fixture stream records
    no load time); the report compares each day's total value AS KNOWN
    24 h after day close (transaction-time cut) against the FINAL
    value (all arrivals), with the restatement share in exact ppm —
    the two-axis correctness question ('what did we report then vs
    what do we know now') that valid-time-only SCD2 cannot answer,
    and the justification for late_arrival_audit's watermark policy.

    Scale shape: delay/knowledge flags are map-only µs integer
    arithmetic; one day-grain map-side-combined rollup."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    flagged = e.select(
        F.to_date("ts").alias("d"),
        "v_micro",
        F.expr(
            f"unix_micros(ts) + pmod(CAST(conv(substring(md5(concat('arr|',"
            f" CAST(event_id AS STRING))), 1, 4), 16, 10) AS BIGINT), {_BT_DELAY_MOD}) * 1000000"
        ).alias("arrival_us"),
    ).withColumn(
        "known",
        F.expr("arrival_us <= unix_micros(CAST(date_add(d, 2) AS TIMESTAMP))"),
    )
    return (
        flagged.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("known"), F.col("v_micro")).otherwise(0)).cast("bigint")
            .alias("v_known_micro"),
            F.sum("v_micro").cast("bigint").alias("v_final_micro"),
        )
        .withColumn(
            "restated_ppm",
            F.expr(
                "CAST(CAST(v_final_micro - v_known_micro AS DECIMAL(38,0)) * 1000000"
                " div v_final_micro AS BIGINT)"
            ),
        )
        .orderBy("d")
    )


def oracle_bitemporal_restatement() -> str:
    return f"""
    WITH flagged AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(floor(value * 1000000) AS BIGINT) AS v_micro,
               epoch_us(ts) + (CAST(('0x' || substr(md5('arr|' || CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT)
                               % {_BT_DELAY_MOD}) * 1000000 AS arrival_us
        FROM events
    ), marked AS (
        SELECT d, v_micro,
               arrival_us <= epoch_us(CAST(d + INTERVAL 2 DAY AS TIMESTAMP)) AS known
        FROM flagged
    )
    SELECT d,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN known THEN v_micro ELSE 0 END) AS BIGINT) AS v_known_micro,
           CAST(sum(v_micro) AS BIGINT) AS v_final_micro,
           CAST(CAST(sum(v_micro) - sum(CASE WHEN known THEN v_micro ELSE 0 END) AS HUGEINT)
                * 1000000 // CAST(sum(v_micro) AS BIGINT) AS BIGINT) AS restated_ppm
    FROM marked GROUP BY d ORDER BY d
    """


def lineitem_linenumber_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-grain sequence audit: per order, line numbers should be a
    dense 1..n sequence — gaps mean upstream filtering silently dropped
    lines (which THIS feed exhibits: the audit fires), duplicates mean
    a grain violation. One report row with order counts by conformity
    class and the gap share in exact ppm.

    Scale shape: one (order → min/max/count/distinct) map-side-combined
    rollup, then a single-row conditional aggregation."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    per_order = l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_distinct("l_linenumber").alias("n_distinct"),
        F.min("l_linenumber").alias("mn"),
        F.max("l_linenumber").alias("mx"),
    )
    return per_order.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("n_distinct") != F.col("n_lines"), 1).otherwise(0))
        .cast("bigint").alias("n_dup_linenumbers"),
        F.sum(
            F.when(
                (F.col("mn") != 1) | (F.col("mx") != F.col("n_lines")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_non_dense"),
    ).select(
        "n_orders", "n_dup_linenumbers", "n_non_dense",
        F.expr("CAST(CAST(n_non_dense AS DECIMAL(38,0)) * 1000000 div n_orders AS BIGINT)")
        .alias("non_dense_ppm"),
    )


def oracle_lineitem_linenumber_audit() -> str:
    return """
    WITH per_order AS (
        SELECT l_orderkey,
               count(*) AS n_lines,
               count(DISTINCT l_linenumber) AS n_distinct,
               min(l_linenumber) AS mn,
               max(l_linenumber) AS mx
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN n_distinct <> n_lines THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_linenumbers,
           CAST(sum(CASE WHEN mn <> 1 OR mx <> n_lines THEN 1 ELSE 0 END) AS BIGINT) AS n_non_dense,
           CAST(CAST(sum(CASE WHEN mn <> 1 OR mx <> n_lines THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
                // count(*) AS BIGINT) AS non_dense_ppm
    FROM per_order
    """


def name_format_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-expectation suite on dimension text columns: customer and
    supplier names must match their 'Entity#nine-digit' contract, part
    names must be lowercase word-word — the regexp conformity tests a
    dbt schema would declare, emitted as one row per rule with
    violation counts (all-zero = contract holds; any regression in an
    upstream rename job fires here first).

    Scale shape: three map-only regexp filters, each collapsing to a
    single-row count; the union is the fixed 3-row report."""
    c = load(spark, sf_dir, "customer").agg(
        F.sum(F.when(~F.col("c_name").rlike("^Customer#[0-9]{9}$"), 1).otherwise(0))
        .cast("bigint").alias("n")
    ).select(F.lit("customer_name_pattern").alias("rule"), F.col("n").alias("n_violations"))
    s = load(spark, sf_dir, "supplier").agg(
        F.sum(F.when(~F.col("s_name").rlike("^Supplier#[0-9]{9}$"), 1).otherwise(0))
        .cast("bigint").alias("n")
    ).select(F.lit("supplier_name_pattern").alias("rule"), F.col("n").alias("n_violations"))
    p = load(spark, sf_dir, "part").agg(
        F.sum(F.when(~F.col("p_name").rlike("^[a-z]+ [a-z]+$"), 1).otherwise(0))
        .cast("bigint").alias("n")
    ).select(F.lit("part_name_pattern").alias("rule"), F.col("n").alias("n_violations"))
    return c.unionByName(s).unionByName(p).orderBy("rule")


def oracle_name_format_expectations() -> str:
    return """
    SELECT 'customer_name_pattern' AS rule,
           CAST(sum(CASE WHEN NOT regexp_matches(c_name, '^Customer#[0-9]{9}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM customer
    UNION ALL
    SELECT 'part_name_pattern',
           CAST(sum(CASE WHEN NOT regexp_matches(p_name, '^[a-z]+ [a-z]+$') THEN 1 ELSE 0 END) AS BIGINT)
    FROM part
    UNION ALL
    SELECT 'supplier_name_pattern',
           CAST(sum(CASE WHEN NOT regexp_matches(s_name, '^Supplier#[0-9]{9}$') THEN 1 ELSE 0 END) AS BIGINT)
    FROM supplier
    ORDER BY rule
    """
