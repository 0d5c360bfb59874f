"""Analytics query plans (SURVEY.md §2B) — the bench headliners.

All queries are declarative DataFrame plans: filters first (pushed to the
parquet scan), early projection, broadcast hints on the dimension side of
every fact⋈dim join, aggregation expressed so Catalyst emits partial
(map-side) aggregates before the shuffle.

Determinism contract with the DuckDB oracle: every money aggregate is
computed in exact DECIMAL (functions/money.py) so both engines produce
bit-identical results, and every top-N has a total ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northwind_warehouse_spark.catalog import load, table_rows
from northwind_warehouse_spark.operators.joins import maybe_broadcast, maybe_broadcast_rows
from northwind_warehouse_spark.operators.spread import spread_scan
from northwind_warehouse_spark.functions.money import (
    charge,
    davg2,
    dec2,
    disc_price,
    dsum2,
    o_charge,
    o_davg2,
    o_dec2,
    o_disc_price,
    o_dsum2,
)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary over lineitem.

    One scan, one shuffle; partial aggregation happens map-side because
    the plan is a plain groupBy over built-in aggregates.
    """
    # spread (r13, guide §2.5): the decimal partial aggregation sat on
    # the single scan task of an under-split input (first A/B window
    # was host-contended and read 1.04; clean quiet-box A/B med
    # 0.83 vs 1.20s = 0.69)
    l = spread_scan(load(spark, sf_dir, "lineitem"), spark, sf_dir,
                    "lineitem", "l_orderkey", "l_linenumber")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum2(dec2("l_quantity"), "sum_qty"),
            dsum2(dec2("l_extendedprice"), "sum_base_price"),
            dsum2(disc_price(), "sum_disc_price"),
            dsum2(charge(), "sum_charge"),
            davg2(dec2("l_quantity"), "avg_qty"),
            davg2(dec2("l_extendedprice"), "avg_price"),
            davg2(dec2("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def oracle_q1_pricing_summary() -> str:
    return f"""
    SELECT l_returnflag, l_linestatus,
        {o_dsum2(o_dec2('l_quantity'), 'sum_qty')},
        {o_dsum2(o_dec2('l_extendedprice'), 'sum_base_price')},
        {o_dsum2(o_disc_price(), 'sum_disc_price')},
        {o_dsum2(o_charge(), 'sum_charge')},
        {o_davg2(o_dec2('l_quantity'), 'avg_qty')},
        {o_davg2(o_dec2('l_extendedprice'), 'avg_price')},
        {o_davg2(o_dec2('l_discount'), 'avg_disc')},
        count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped BUILDING-segment orders by revenue (TPC-H Q3-ish)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    # spread (r13, guide §2.5): hash by l_orderkey — a subset of the
    # groupBy keys, so the explicit exchange also satisfies the
    # aggregation's clustering (re-A/B'd on a quiet box, see q1)
    l = spread_scan(load(spark, sf_dir, "lineitem"), spark, sf_dir,
                    "lineitem", "l_orderkey").filter(
        F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum2(disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def oracle_q3_shipping_priority() -> str:
    return f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           {o_dsum2(o_disc_price(), 'revenue')}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """


def q5_local_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation where the supplier is local to the customer.

    nation/region/supplier are broadcast — the only shuffle is the final
    per-nation aggregation.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    # spread DECLINED with numbers (r13, quiet-box A/B ratio 1.24):
    # the join probes and few-group partial agg are cheap per row —
    # the single-task shuffle write costs more than it repays
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum2(disc_price(), "revenue"))
        .orderBy("r_name", "n_name")
    )


def oracle_q5_local_revenue() -> str:
    return f"""
    SELECT r_name, n_name, {o_dsum2(o_disc_price(), 'revenue')}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: highly-selective filter + single scalar aggregate.

    The whole predicate set pushes down to the parquet scan.
    """
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum2(dec2("l_extendedprice") * dec2("l_discount"), "revenue"))
    )


def oracle_q6_forecast_revenue() -> str:
    return f"""
    SELECT {o_dsum2(o_dec2('l_extendedprice') + ' * ' + o_dec2('l_discount'), 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1997-07-01"))
    ).select("o_orderkey", "o_custkey")
    # spread DECLINED with numbers (r13, quiet-box A/B ratio 1.34):
    # the returnflag filter keeps 1/4 of the scan — little map work
    # remains to parallelize
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum2(disc_price(), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def oracle_q10_returned_items() -> str:
    return f"""
    SELECT c_custkey, c_name, n_name, c_acctbal,
           {o_dsum2(o_disc_price(), 'revenue')}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by lifetime order value within each nation.

    Single shuffle for the per-customer agg; the rank window reuses the
    aggregated (already small) relation.
    """
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(dsum2(dec2("o_totalprice"), "total_spend"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("total_spend"), F.col("c_custkey"))
    return (
        per_cust.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .orderBy("n_name", "rank_in_nation")
    )


def oracle_top_customers_per_nation() -> str:
    return f"""
    WITH per_cust AS (
        SELECT n_name, c_custkey, c_name, {o_dsum2(o_dec2('o_totalprice'), 'total_spend')}
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, c_custkey, c_name
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY total_spend DESC, c_custkey) AS rank_in_nation
        FROM per_cust
    )
    SELECT n_name, c_custkey, c_name, total_spend, rank_in_nation
    FROM ranked WHERE rank_in_nation <= 3
    ORDER BY n_name, rank_in_nation
    """


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(nation, order-year) revenue — subtotal + grand-total rows."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderdate")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", F.year("o_orderdate").alias("order_year"), "o_totalprice")
    )
    return (
        base.rollup("n_name", "order_year")
        .agg(dsum2(dec2("o_totalprice"), "revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_name").asc_nulls_first(), F.col("order_year").asc_nulls_first())
    )


def oracle_rollup_sales() -> str:
    return f"""
    SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
           {o_dsum2(o_dec2('o_totalprice'), 'revenue')}, count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, CAST(year(o_orderdate) AS INT))
    ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST
    """


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type profile via conditional aggregation (one shuffle)."""
    e = load(spark, sf_dir, "events")

    def cnt(t: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")

    zero = F.lit(0).cast("decimal(12,2)")
    return (
        e.groupBy("user_id")
        .agg(
            cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", dec2("value")).otherwise(zero)), 2
            ).cast("double").alias("purchase_value"),
        )
        .orderBy("user_id")
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: orders with at least one late lineitem, by priority.

    The EXISTS becomes a left-semi join — Spark's native semi-join keeps
    the probe side unduplicated, no distinct needed."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    late = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def oracle_q4_order_priority() -> str:
    return """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional agg over a broadcast
    part join; share derived from two exact decimal sums via an
    integer-division (portable) ratio."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01")) & (F.col("l_shipdate") < F.lit("1997-10-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("promo"),
        F.sum(disc_price()).alias("total"),
    )
    return agg.select(
        F.round(F.col("promo"), 2).cast("double").alias("promo_revenue"),
        F.round(F.col("total"), 2).cast("double").alias("total_revenue"),
        F.expr(
            # DECIMAL(38,0) intermediate — scale-4 revenue units * 1e6 would
            # overflow BIGINT once the month's revenue passes ~9.2e8 dollars
            "CAST(CAST(promo * 10000 AS DECIMAL(38,0)) * 1000000"
            " div CAST(total * 10000 AS DECIMAL(38,0)) AS DOUBLE) / 10000.0"
        ).alias("promo_share_pct"),
    )


def oracle_q14_promo_revenue() -> str:
    dp = o_disc_price()
    return f"""
    WITH agg AS (
        SELECT
            sum(CASE WHEN p_type = 'PROMO' THEN {dp} ELSE cast(0 as decimal(18,4)) END) AS promo,
            sum({dp}) AS total
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    )
    SELECT cast(round(promo, 2) as double) AS promo_revenue,
           cast(round(total, 2) as double) AS total_revenue,
           CAST(CAST(promo * 10000 AS HUGEINT) * 1000000 // CAST(total * 10000 AS HUGEINT) AS DOUBLE) / 10000.0 AS promo_share_pct
    FROM agg
    """


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold
    (groupBy-HAVING gating a second join)."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum(dec2("l_quantity")), 2).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


def oracle_q18_large_orders() -> str:
    return """
    WITH big AS (
        SELECT l_orderkey, cast(round(sum(cast(l_quantity as decimal(12,2))), 2) as double) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING cast(round(sum(cast(l_quantity as decimal(12,2))), 2) as double) > 150
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """


def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-ish: distinct supplier count per (brand, type, size)
    bucket for mid-size parts."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 10) & (F.col("p_size") <= 20)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def oracle_q16_parts_supplier_count() -> str:
    return """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size BETWEEN 10 AND 20
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-ish: above-average-balance customers with no orders
    (scalar subquery + anti-join)."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(dec2("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("a")
    )
    o = load(spark, sf_dir, "orders").select("o_custkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("a")).drop("a")
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(dec2("c_acctbal")), 2).cast("double").alias("total_balance"),
        )
        .orderBy("n_name")
    )


def oracle_q22_idle_customers() -> str:
    return """
    WITH avg_bal AS (
        SELECT CAST(sum(cast(c_acctbal as decimal(12,2))) AS DOUBLE) / count(*) AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name, count(*) AS n_customers,
           cast(round(sum(cast(c_acctbal as decimal(12,2))), 2) as double) AS total_balance
    FROM customer, avg_bal
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    ORDER BY n_name
    """


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: shipping volume between customer-nation and
    supplier-nation pairs — the same broadcast dim joined twice under
    different roles (alias discipline)."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # spread DECLINED with numbers (r13, quiet-box A/B ratio 1.03)
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", F.year("l_shipdate").alias("ship_year"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    cust_nation = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    supp_nation = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s), l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation", "ship_year")
        .agg(dsum2(disc_price(), "volume"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


def oracle_q7_nation_volume() -> str:
    return f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           {o_dsum2(o_disc_price(), 'volume')}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND c_nationkey <> s_nationkey
      AND cn.n_name < sn.n_name
    GROUP BY cn.n_name, sn.n_name, CAST(year(l_shipdate) AS INT)
    ORDER BY cust_nation, supp_nation, ship_year
    """


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(region, mktsegment): all 4 grouping combinations in one pass."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "c_mktsegment", "o_totalprice")
    )
    return (
        base.cube("r_name", "c_mktsegment")
        .agg(dsum2(dec2("o_totalprice"), "revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("c_mktsegment").asc_nulls_first())
    )


def oracle_cube_sales() -> str:
    return f"""
    SELECT r_name, c_mktsegment,
           {o_dsum2(o_dec2('o_totalprice'), 'revenue')}, count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY CUBE (r_name, c_mktsegment)
    ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST
    """


def monthly_revenue_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation monthly revenue + running cumulative total (window
    frame over an aggregated relation — agg and window share nothing,
    the window runs on the tiny monthly rollup)."""
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderdate")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int").alias("ym"),
        )
        .agg(F.sum(dec2("o_totalprice")).alias("rev_dec"))
    )
    w = Window.partitionBy("n_name").orderBy("ym").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "n_name",
        "ym",
        F.round(F.col("rev_dec"), 2).cast("double").alias("monthly_revenue"),
        F.round(F.sum("rev_dec").over(w), 2).cast("double").alias("running_revenue"),
    ).orderBy("n_name", "ym")


def oracle_monthly_revenue_running() -> str:
    return """
    WITH monthly AS (
        SELECT n_name,
               CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
               sum(cast(o_totalprice as decimal(12,2))) AS rev_dec
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
    )
    SELECT n_name, ym,
           cast(round(rev_dec, 2) as double) AS monthly_revenue,
           cast(round(sum(rev_dec) OVER (PARTITION BY n_name ORDER BY ym
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) as double) AS running_revenue
    FROM monthly ORDER BY n_name, ym
    """


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive brand/size/quantity predicates —
    exercises OR-of-ANDs pushdown and a broadcast part join."""
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#11") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#20") & (F.col("p_size") <= 45) & (F.col("l_quantity") >= 30))
    )
    return joined.filter(cond).agg(
        dsum2(disc_price(), "revenue"), F.count(F.lit(1)).alias("n_lines")
    )


def oracle_q19_disjunctive_revenue() -> str:
    return f"""
    SELECT {o_dsum2(o_disc_price(), 'revenue')}, count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size <= 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#11' AND p_size <= 30 AND l_quantity >= 20)
       OR (p_brand = 'Brand#20' AND p_size <= 45 AND l_quantity >= 30)
    """


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: EUROPE-supplier share of total revenue per order
    year. The share ratio is exact (cent-integers + integer division)."""
    # spread (r13, guide §2.5): all four probes broadcast, so the
    # decimal disc_price work runs map-only to the year groupBy —
    # single-task on an under-split input. A/B alternating med-of-5:
    # 1.72 → 1.13s (ratio 0.65), checksums identical.
    l = spread_scan(load(spark, sf_dir, "lineitem"), spark, sf_dir,
                    "lineitem", "l_orderkey", "l_linenumber"
                    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    o = load(spark, sf_dir, "orders").select("o_orderkey", F.year("o_orderdate").alias("order_year"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    dp = disc_price()
    zero = F.lit(0).cast("decimal(18,4)")
    agg = joined.groupBy("order_year").agg(
        F.sum(F.when(F.col("r_name") == "EUROPE", dp).otherwise(zero)).alias("europe_dec"),
        F.sum(dp).alias("total_dec"),
    )
    return agg.select(
        "order_year",
        F.round(F.col("europe_dec"), 2).cast("double").alias("europe_revenue"),
        F.round(F.col("total_dec"), 2).cast("double").alias("total_revenue"),
        F.expr(
            "CAST((10000 * CAST(europe_dec * 10000 AS BIGINT)) div CAST(total_dec * 10000 AS BIGINT) AS DOUBLE) / 10000.0"
        ).alias("europe_share"),
    ).orderBy("order_year")


def oracle_q8_market_share() -> str:
    dp = o_disc_price()
    return f"""
    WITH agg AS (
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               sum(CASE WHEN r_name = 'EUROPE' THEN {dp} ELSE cast(0 as decimal(18,4)) END) AS europe_dec,
               sum({dp}) AS total_dec
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY CAST(year(o_orderdate) AS INT)
    )
    SELECT order_year,
           cast(round(europe_dec, 2) as double) AS europe_revenue,
           cast(round(total_dec, 2) as double) AS total_revenue,
           CAST((10000 * CAST(europe_dec * 10000 AS BIGINT)) // CAST(total_dec * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS europe_share
    FROM agg ORDER BY order_year
    """


def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles with per-decile rollup — the
    segmentation pattern, de-globalized: decile membership is assigned
    by VALUE against sampled spend boundaries (decile 1 = top spenders),
    not by a global ntile sort.

    Boundaries are the nine interior deciles of per-customer spend
    cents over the md5-lottery customer sample (descending, so
    ``decile = 1 + #(boundaries strictly above the customer's cents)``).
    One hash(customer) agg shuffle builds spend; the boundary agg runs
    on the lottery-filtered aggregate and broadcasts a single row back
    — NO Window operator, no customer-count single-reducer sort.
    Customers with equal spend land in the same decile (value-based,
    deterministic cross-engine); populations are decile-sized to within
    sampling error."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    per_cust = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("cents"),
        F.round(F.sum(dec2("o_totalprice")), 2).cast("double").alias("total_spend"),
    ).persist()  # read by boundary agg + tiling: one orders agg, not two
    qs = [i / 10 for i in range(9, 0, -1)]  # descending: decile 1 = richest
    bnds = per_cust.filter(_ppm_lottery("csd|", "o_custkey") < _QSAMPLE_PPM).agg(
        F.array(*[F.expr(f"percentile(cents, {q})") for q in qs]).alias("bnds")
    )
    tiled = per_cust.crossJoin(F.broadcast(bnds)).withColumn(
        "decile", F.expr("CAST(1 + size(filter(bnds, b -> cents < b)) AS INT)")
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("total_spend").cast("decimal(18,2)")), 2).cast("double").alias("decile_spend"),
            F.min("total_spend").alias("min_spend"),
            F.max("total_spend").alias("max_spend"),
        )
        .orderBy("decile")
    )


def oracle_customer_spend_deciles() -> str:
    qlist = ", ".join(f"quantile_cont(cents, {i / 10})" for i in range(9, 0, -1))
    return f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(cast(o_totalprice as decimal(12,2))) * 100 AS BIGINT) AS cents,
               cast(round(sum(cast(o_totalprice as decimal(12,2))), 2) as double) AS total_spend
        FROM orders GROUP BY o_custkey
    ), b AS (
        SELECT [{qlist}] AS bnds
        FROM per_cust WHERE {_o_ppm_lottery('csd|', 'o_custkey')} < {_QSAMPLE_PPM}
    ), tiled AS (
        SELECT total_spend, CAST(1 + len(list_filter(bnds, x -> cents < x)) AS INTEGER) AS decile
        FROM per_cust, b
    )
    SELECT decile, count(*) AS n_customers,
           cast(round(sum(cast(total_spend as decimal(18,2))), 2) as double) AS decile_spend,
           min(total_spend) AS min_spend, max(total_spend) AS max_spend
    FROM tiled GROUP BY decile ORDER BY decile
    """


_KMV_K = 1024  # bottom-k size: relative error ~ 1/sqrt(k-1) ≈ 3.1%


def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) approximate distinct users per event type.

    The sketch keeps the k smallest 32-bit md5 hashes of the key; the
    estimator is ``(k-1) * 2^32 div h_(k)`` — pure integer arithmetic, so
    (unlike HLL register estimates) the result is deterministic and
    byte-identical cross-engine, giving this sketch a full SQL oracle.
    Below k distinct hashes the count is exact (the sketch holds the
    whole distinct set). Accuracy vs the exact distinct count is
    additionally asserted in tests/test_operators.py.

    Scale: distinct(event_type, h) is one shuffle with map-side partial
    dedup; the rank window reuses the same hash partitioning (AQE), and
    only k rows per group survive to the final tiny aggregate — the
    bottom-k set is mergeable exactly like any production theta/KMV
    sketch, so 1000 executors each ship ≤k hashes per group."""
    from northwind_warehouse_spark.operators import sketch

    e = load(spark, sf_dir, "events")
    hashes = sketch.kmv_hashes(e, "user_id", ["event_type"])
    kept = sketch.kmv_bottom_k(hashes, ["event_type"], k=_KMV_K)
    return (
        sketch.kmv_estimate(kept, ["event_type"], k=_KMV_K)
        .withColumnRenamed("approx_distinct", "approx_users")
        .orderBy("event_type")
    )


def oracle_sketch_distinct_users() -> str:
    return f"""
    WITH hashes AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        FROM events
    ), ranked AS (
        SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM hashes
    ), kept AS (
        SELECT event_type, count(*) AS n_kept, max(h) AS hk
        FROM ranked WHERE rk <= {_KMV_K} GROUP BY event_type
    )
    SELECT event_type,
           CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                     ELSE ({_KMV_K} - 1) * 4294967296 // hk END AS BIGINT) AS approx_users
    FROM kept ORDER BY event_type
    """


def repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: customers who bought in BOTH 1996 and 1997
    (INTERSECT — Spark rewrites to a distinct semi-join)."""
    o = load(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_custkey")
    both = y96.intersect(y97)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return (
        both.join(maybe_broadcast(c), both.o_custkey == c.c_custkey)
        .select(F.col("o_custkey").alias("customer_id"), "c_name", "c_mktsegment")
        .orderBy("customer_id")
    )


def oracle_repeat_buyers() -> str:
    return """
    WITH both_years AS (
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        INTERSECT
        SELECT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_custkey AS customer_id, c_name, c_mktsegment
    FROM both_years JOIN customer ON o_custkey = c_custkey
    ORDER BY customer_id
    """


def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: JSON props → typed field, then
    aggregate (get_json_object stays JVM-side; no UDF)."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("total_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .withColumn(
            "avg_k_4dp",
            F.expr("CAST((10000 * total_k) div n_events AS DOUBLE) / 10000.0"),
        )
        .orderBy("event_type")
    )


def oracle_events_props_extract() -> str:
    return """
    WITH k AS (
        SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    ), agg AS (
        SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS total_k,
               min(k) AS min_k, max(k) AS max_k
        FROM k GROUP BY event_type
    )
    SELECT event_type, n_events, total_k, min_k, max_k,
           CAST((10000 * total_k) // n_events AS DOUBLE) / 10000.0 AS avg_k_4dp
    FROM agg ORDER BY event_type
    """


def median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median order value per nation.

    Portability: the median interpolates between two cent-integers —
    exact in double for both engines' formulas (no rounding anywhere)."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = (dec2("o_totalprice") * 100).cast("bigint")
    return (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", cents.alias("cents"))
        .groupBy("n_name")
        .agg((F.expr("percentile(cents, 0.5)") / 100.0).alias("median_order_value"))
        .orderBy("n_name")
    )


def oracle_median_order_value() -> str:
    return """
    SELECT n_name,
           quantile_cont(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT), 0.5) / 100.0
               AS median_order_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """


def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping: the per-user event-type pivot melted back to
    (user_id, event_type, n) via stack — Spark's unpivot primitive."""
    wide = events_pivot(spark, sf_dir).select(
        "user_id", "n_click", "n_view", "n_purchase", "n_signup", "n_error"
    )
    stacked = wide.select(
        "user_id",
        F.expr(
            "stack(5, 'click', n_click, 'view', n_view, 'purchase', n_purchase, "
            "'signup', n_signup, 'error', n_error) AS (event_type, n)"
        ),
    )
    return stacked.select("user_id", "event_type", F.col("n").cast("bigint").alias("n")).orderBy(
        "user_id", "event_type"
    )


def oracle_events_unpivot() -> str:
    return """
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY user_id, event_type
    UNION ALL
    -- zero rows for types a user never produced (stack emits them)
    SELECT u.user_id, t.event_type, 0 AS n
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (VALUES ('click'),('view'),('purchase'),('signup'),('error')) t(event_type)
    WHERE NOT EXISTS (
        SELECT 1 FROM events e WHERE e.user_id = u.user_id AND e.event_type = t.event_type
    )
    ORDER BY user_id, event_type
    """


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min) per user, then per-session rollup.

    Sessionization + aggregation share the same user_id partitioning —
    Catalyst reuses one exchange for the window and the groupBy.
    """
    from northwind_warehouse_spark.operators.sessionize import sessionize

    # spread DECLINED with numbers (r13): A/B ratio 1.02 — the
    # pre-exchange projection is slim (no per-row hashing, unlike
    # scd2_users where the same move won at 0.81)
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800, tiebreak_cols=("event_id",))
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum(dec2("value")), 2).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_idx")
    )


def oracle_events_sessionize() -> str:
    return """
    WITH seq AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                        OR (epoch_us(ts) - epoch_us(prev_ts)) > 1800 * 1000000
                   THEN 1 ELSE 0 END AS is_new
        FROM seq
    ), sessions AS (
        SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           cast(round(sum(cast(value as decimal(12,2))), 2) as double) AS total_value
    FROM sessions
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """


def oracle_events_pivot() -> str:
    return """
    SELECT user_id,
        CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        cast(round(sum(CASE WHEN event_type = 'purchase' THEN cast(value as decimal(12,2)) ELSE cast(0 as decimal(12,2)) END), 2) as double) AS purchase_value
    FROM events GROUP BY user_id ORDER BY user_id
    """


# --- TPC-H remainder (q2 q9 q11 q12 q13 q15 q17 q20 q21 patterns) ------------
# The testdata has no partsupp / l_shipmode / l_commitdate, so each query
# keeps its defining PLAN PATTERN (correlated-min subquery, profit join,
# scalar-subquery threshold, outer-join histogram, max-subquery winner,
# avg-subquery gate, nested semi/anti self-joins) re-targeted at columns
# that exist. Derived "supply offers" come from lineitem history.


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern: cheapest EUROPE supplier per part (correlated min).

    Supply offers are derived from lineitem history: per (part, supplier)
    the best unit price ever charged, as an exact integer (micro-cents via
    integer division — portable, no float division). The correlated min
    subquery becomes a groupBy-min + equality join back, which Spark
    executes as one shuffle on partkey; supplier⋈nation⋈region and part
    are broadcast.
    """
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (dec2("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    offers = (
        l.withColumn("unit_microcents", F.expr("(cents * 10000) div qty"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_microcents").alias("unit_microcents"))
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    s_eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # rows-gated (r13): s_eu is at most the supplier table (footer-
    # exact) — its estimate rides the nation/region join product
    # (~3.5e10 at sf0.1) and silently declined into an SMJ.
    offers_eu = offers.join(
        maybe_broadcast_rows(s_eu, table_rows(sf_dir, "supplier")),
        offers.l_suppkey == s_eu.s_suppkey)
    best = offers_eu.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_microcents").alias("best_unit")
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 10) & (F.col("p_size") <= 20) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    return (
        offers_eu.join(
            best,
            (offers_eu.l_partkey == best.b_partkey)
            & (offers_eu.unit_microcents == best.best_unit),
        )
        .join(maybe_broadcast(p), offers_eu.l_partkey == p.p_partkey)
        .select(
            "p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal", "n_name",
            "unit_microcents",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_suppkey")
        .limit(100)
    )


def oracle_q2_min_cost_supplier() -> str:
    return """
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               min((CAST(cast(l_extendedprice as decimal(12,2)) * 100 AS BIGINT) * 10000)
                   // CAST(l_quantity AS BIGINT)) AS unit_microcents
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), offers_eu AS (
        SELECT o.*, s_name, s_acctbal, n_name
        FROM offers o
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT p_partkey, p_brand, l_suppkey AS s_suppkey, s_name, s_acctbal, n_name,
           unit_microcents
    FROM offers_eu o1
    JOIN part ON l_partkey = p_partkey
    WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
      AND unit_microcents = (SELECT min(unit_microcents) FROM offers_eu o2
                             WHERE o2.l_partkey = o1.l_partkey)
    ORDER BY s_acctbal DESC, p_partkey, s_suppkey
    LIMIT 100
    """


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 pattern: profit by supplier nation and year over a 5-way
    join. Supply cost proxy = 60% of part retail price (no partsupp in the
    testdata); all money stays exact DECIMAL end-to-end.
    """
    # spread (r13): same shape as q8 — broadcast probes + decimal
    # profit math, map-only to the groupBy. A/B alternating med-of-5:
    # 1.46 → 1.25s (ratio 0.86), checksums identical (smaller win than
    # q8 — the l⋈o join exchanges earlier here).
    l = spread_scan(load(spark, sf_dir, "lineitem"), spark, sf_dir,
                    "lineitem", "l_orderkey", "l_linenumber").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("profit_year")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%g%")).select(
        "p_partkey",
        (dec2("p_retailprice") * F.lit(0.60).cast("decimal(4,2)")).cast("decimal(16,4)").alias("cost_pu"),
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (disc_price() - (F.col("cost_pu") * dec2("l_quantity")).cast("decimal(18,4)")).cast(
        "decimal(18,4)"
    )
    return (
        l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "profit_year")
        .agg(dsum2(amount, "sum_profit"))
        .orderBy("n_name", F.desc("profit_year"))
    )


def oracle_q9_product_profit() -> str:
    amount = (
        f"cast({o_disc_price()} - cast("
        "cast(cast(p_retailprice as decimal(12,2)) * cast(0.60 as decimal(4,2)) as decimal(16,4))"
        " * cast(l_quantity as decimal(12,2)) as decimal(18,4)) as decimal(18,4))"
    )
    return f"""
    SELECT n_name, CAST(year(o_orderdate) AS INT) AS profit_year,
           {o_dsum2(amount, 'sum_profit')}
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%g%'
    GROUP BY n_name, CAST(year(o_orderdate) AS INT)
    ORDER BY n_name, profit_year DESC
    """


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 pattern: parts whose inventory value exceeds a scalar-
    subquery threshold (here 110% of the mean part value — the testdata's
    uniform value distribution makes a global-fraction cut degenerate).
    Comparison runs on exact cent-integers; threshold relation is a
    broadcast cross join.
    """
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    vals = l.groupBy("l_partkey").agg(
        F.sum(disc_price()).alias("val_dec")
    ).select(
        "l_partkey",
        "val_dec",
        # *10000 = the full decimal(·,4) scale, so the BIGINT cast is exact
        # in both engines (Spark truncates, DuckDB rounds on inexact casts)
        (F.col("val_dec") * 10000).cast("bigint").alias("val_cents"),
    )
    thresh = vals.agg(
        (F.sum("val_cents")).alias("tot_cents"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        vals.join(F.broadcast(thresh))
        .filter(F.col("val_cents") * 100 * F.col("n_parts") > F.lit(110) * F.col("tot_cents"))
        .select(
            F.col("l_partkey").alias("part_key"),
            F.round(F.col("val_dec"), 2).cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "part_key")
    )


def oracle_q11_important_parts() -> str:
    dp = o_disc_price()
    return f"""
    WITH vals AS (
        SELECT l_partkey, sum({dp}) AS val_dec,
               CAST(sum({dp}) * 10000 AS BIGINT) AS val_cents
        FROM lineitem GROUP BY l_partkey
    ), thresh AS (
        SELECT CAST(sum(val_cents) AS BIGINT) AS tot_cents, count(*) AS n_parts FROM vals
    )
    SELECT l_partkey AS part_key, cast(round(val_dec, 2) as double) AS part_value
    FROM vals, thresh
    WHERE val_cents * 100 * n_parts > 110 * tot_cents
    ORDER BY part_value DESC, part_key
    """


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 pattern: priority-class conditional counts per shipping
    class (l_linestatus stands in for the missing l_shipmode)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_linestatus")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def oracle_q12_priority_shipping() -> str:
    return """
    SELECT l_linestatus,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count histogram via LEFT OUTER join +
    two-level aggregation (customers with zero orders land in bucket 0)."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def oracle_q13_order_distribution() -> str:
    return """
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) achieving max quarterly revenue — the
    max() scalar subquery becomes a broadcast single-row join; equality is
    on exact decimal sums so ties are engine-identical."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = l.groupBy("l_suppkey").agg(F.sum(disc_price()).alias("rev_dec"))
    mx = rev.agg(F.max("rev_dec").alias("max_dec"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.rev_dec == mx.max_dec)
        .join(maybe_broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("rev_dec"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def oracle_q15_top_supplier() -> str:
    dp = o_disc_price()
    return f"""
    WITH rev AS (
        SELECT l_suppkey, sum({dp}) AS rev_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, cast(round(rev_dec, 2) as double) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
    ORDER BY s_suppkey
    """


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern: revenue from lineitems below 20% of their part's
    average quantity. The avg subquery is exact: qty < 0.2*avg becomes the
    integer predicate 5*qty*cnt < sum_qty (quantities are integral)."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_extendedprice",
        "l_discount",
    )
    stats = l.groupBy(F.col("l_partkey").alias("s_partkey")).agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        l.join(stats, l.l_partkey == stats.s_partkey)
        .filter(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            dsum2(dec2("l_extendedprice"), "total_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def oracle_q17_small_quantity_revenue() -> str:
    return f"""
    WITH stats AS (
        SELECT l_partkey AS s_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS cnt
        FROM lineitem GROUP BY l_partkey
    )
    SELECT {o_dsum2(o_dec2('l_extendedprice'), 'total_revenue')}, count(*) AS n_lines
    FROM lineitem JOIN stats ON l_partkey = s_partkey
    WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty
    """


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 pattern: suppliers who shipped >50 units of any 'small%'
    part in 1997 — nested semi-join (HAVING-gated inner aggregate →
    left-semi into supplier)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    heavy = (
        l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 50)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


def oracle_q20_excess_suppliers() -> str:
    return """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 50
    )
    ORDER BY s_suppkey
    """


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 pattern: suppliers solely responsible for returned lines
    in finished multi-supplier orders — EXISTS → left-semi self-join,
    NOT EXISTS → left-anti self-join, both shuffling once on orderkey."""
    l = load(spark, sf_dir, "lineitem")
    l1 = l.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = l.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = l.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    fo = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    blamed = (
        l1.join(fo, l1.l_orderkey == fo.o_orderkey, "left_semi")
        .join(l2, (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")), "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")), "left_anti")
    )
    return (
        blamed.join(maybe_broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def oracle_q21_waiting_suppliers() -> str:
    return """
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """


def events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: events → hourly bins per event_type with a
    gap-filled spine (bins with zero events still appear). The spine is
    sequence(min_hour, max_hour) from a 1-row aggregate cross-joined
    against the distinct type set — both tiny, both broadcast — so the
    corpus itself is touched once by the binned aggregation (one
    shuffle on (event_type, hour)). At 100 TB the hour predicate prunes
    date-partitioned input and the spine stays O(hours × types)."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "value"
    )
    agg = e.groupBy("event_type", "hour_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(dec2("value")), 2).cast("double").alias("total_value"),
    )
    bounds = e.agg(F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1"))
    spine = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour_ts")
    )
    types = e.select("event_type").distinct()
    grid = spine.crossJoin(maybe_broadcast(types))
    return (
        grid.join(F.broadcast(agg), ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            "hour_ts",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("event_type", "hour_ts")
    )


def oracle_events_resample() -> str:
    return f"""
    WITH e AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts, value FROM events
    ),
    agg AS (
        SELECT event_type, hour_ts, count(*) AS n_events,
               cast(round(sum({o_dec2('value')}), 2) as double) AS total_value
        FROM e GROUP BY event_type, hour_ts
    ),
    spine AS (
        SELECT unnest(generate_series(min(hour_ts), max(hour_ts), INTERVAL 1 HOUR)) AS hour_ts
        FROM e
    ),
    grid AS (
        SELECT t.event_type, s.hour_ts
        FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM e) t
    )
    SELECT g.event_type, g.hour_ts,
           CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
           coalesce(a.total_value, 0.0) AS total_value
    FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.hour_ts = g.hour_ts
    ORDER BY g.event_type, g.hour_ts
    """


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over explicit GROUPING SETS ((nation, priority), (nation),
    (priority), ()) with per-column grouping flags — the general form of
    the rollup/cube family, one shuffle for all four granularities
    (Catalyst's Expand feeds a single hash aggregate)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    j = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "o_orderpriority", "o_totalprice")
    )
    return (
        j.groupingSets(
            [["n_name", "o_orderpriority"], ["n_name"], ["o_orderpriority"], []],
            "n_name",
            "o_orderpriority",
        )
        .agg(
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum2(dec2("o_totalprice"), "total_sales"),
        )
        .orderBy(
            F.col("g_nation"),
            F.col("g_priority"),
            F.col("n_name").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def oracle_grouping_sets_sales() -> str:
    return f"""
    SELECT n_name, o_orderpriority,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n_orders,
           {o_dsum2(o_dec2('o_totalprice'), 'total_sales')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), (o_orderpriority), ())
    ORDER BY g_nation, g_priority, n_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """


_QSAMPLE_PPM = 500_000  # deterministic 50% md5-lottery sample
# absolute sample-size target for ADAPTIVE-ppm boundary estimation:
# ppm = max(1, min(_QSAMPLE_PPM, target·1e6 // n)) keeps the
# single-reducer percentile agg bounded at any corpus size while
# saturating to the plain _QSAMPLE_PPM lottery at test SFs (n ≤ 150k)
_EQUI_DEPTH_TARGET = 75_000


def _ppm_lottery(prefix: str, key) -> F.Column:
    """Deterministic per-key lottery ticket in [0, 1e6): the first 8 hex
    digits of md5(prefix || key). A pure function of the row key, so both
    engines draw the identical sample — the foundation of every
    sampled-boundary plan below. Map-only; reaches the scan."""
    key = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1_000_000
    )


def _o_ppm_lottery(prefix: str, key_expr: str) -> str:
    """DuckDB rendering of ``_ppm_lottery`` (identical hash, identical sample)."""
    return (
        f"CAST(('0x' || substr(md5('{prefix}' || CAST({key_expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" % 1000000"
    )


def approx_order_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate order-value quartiles per priority class via a
    deterministic md5-lottery sample + exact percentiles on the sample.

    Unlike GK/t-digest sketches (whose estimates are engine-specific),
    the sample membership is a pure function of the row key, so both
    engines see the identical subset and the exact cent-integer
    percentile over it is byte-identical — a fully SQL-oracled
    approximate quantile. Accuracy vs the exact percentiles is asserted
    in tests/test_operators.py (sampling error ~1/sqrt(pn) per group).

    Scale: the lottery filter is map-only and reaches the scan; at
    100 TB a fixed-rate sample is still huge, so the production knob is
    dropping _QSAMPLE_PPM until the per-group sample fits one reducer —
    estimate quality degrades as 1/sqrt(pn), never correctness. n_orders
    stays exact (cheap count agg, no sort)."""
    o = load(spark, sf_dir, "orders")
    lottery = (
        F.conv(F.substring(F.md5(F.concat(F.lit("q|"), F.col("o_orderkey").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1_000_000
    )
    cents = (dec2("o_totalprice") * 100).cast("bigint")
    sampled = o.select("o_orderpriority", cents.alias("cents"), lottery.alias("lot")).filter(
        F.col("lot") < _QSAMPLE_PPM
    )
    qs = sampled.groupBy("o_orderpriority").agg(
        (F.expr("percentile(cents, 0.25)") / 100.0).alias("p25"),
        (F.expr("percentile(cents, 0.5)") / 100.0).alias("p50"),
        (F.expr("percentile(cents, 0.75)") / 100.0).alias("p75"),
    )
    n = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        n.join(qs, "o_orderpriority")
        .select("o_orderpriority", "n_orders", "p25", "p50", "p75")
        .orderBy("o_orderpriority")
    )


def oracle_approx_order_quantiles() -> str:
    return f"""
    WITH sampled AS (
        SELECT o_orderpriority,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
        WHERE CAST(('0x' || substr(md5('q|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 < {_QSAMPLE_PPM}
    ), qs AS (
        SELECT o_orderpriority,
               quantile_cont(cents, 0.25) / 100.0 AS p25,
               quantile_cont(cents, 0.5)  / 100.0 AS p50,
               quantile_cont(cents, 0.75) / 100.0 AS p75
        FROM sampled GROUP BY o_orderpriority
    ), n AS (
        SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY o_orderpriority
    )
    SELECT n.o_orderpriority, n_orders, p25, p50, p75
    FROM n JOIN qs USING (o_orderpriority)
    ORDER BY o_orderpriority
    """


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view → click → purchase, each step's timestamp
    required at-or-after the previous step's first occurrence. Three
    chained min-aggregates, all keyed on user_id — AQE reuses one hash
    partitioning across the stage chain, so the corpus shuffles once
    per step on the same key (no widening joins, no window over the
    full stream)."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    counts = [
        s1.agg(F.count(F.lit(1)).alias("n")).select(F.lit(1).alias("step"), F.lit("view").alias("step_name"), "n"),
        s2.agg(F.count(F.lit(1)).alias("n")).select(F.lit(2).alias("step"), F.lit("click").alias("step_name"), "n"),
        s3.agg(F.count(F.lit(1)).alias("n")).select(F.lit(3).alias("step"), F.lit("purchase").alias("step_name"), "n"),
    ]
    out = counts[0].unionByName(counts[1]).unionByName(counts[2])
    from pyspark.sql.window import Window

    w = Window.orderBy("step")
    return (
        out.withColumn("n_users", F.col("n").cast("bigint"))
        .withColumn("prev_n", F.lag("n").over(w))
        .withColumn(
            "conv_from_prev_ppm",
            F.when(
                F.col("prev_n").isNotNull(),
                # exact integer div on a DECIMAL(38,0) intermediate — double
                # division loses bits past 2^53, BIGINT mult overflows at 9.2e12
                F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div prev_n AS BIGINT)"),
            ).otherwise(F.lit(1000000).cast("bigint")),
        )
        .select("step", "step_name", "n_users", "conv_from_prev_ppm")
        .orderBy("step")
    )


def oracle_events_funnel() -> str:
    return """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts >= s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        GROUP BY e.user_id
    ),
    c AS (
        SELECT 1 AS step, 'view' AS step_name, count(*) AS n FROM s1
        UNION ALL SELECT 2, 'click', count(*) FROM s2
        UNION ALL SELECT 3, 'purchase', count(*) FROM s3
    )
    SELECT step, step_name, CAST(n AS BIGINT) AS n_users,
           CAST(coalesce(CAST(n AS HUGEINT) * 1000000 // lag(n) OVER (ORDER BY step), 1000000) AS BIGINT)
               AS conv_from_prev_ppm
    FROM c ORDER BY step
    """


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their first
    event, counted in each later week they return. Two shuffles total —
    one groupBy(user) for the cohort assignment, one groupBy(cohort,
    offset) after a user-keyed join that AQE co-locates with the first."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    # cast to date: DuckDB's date_trunc('week') yields DATE, Spark's TIMESTAMP
    first = e.groupBy("user_id").agg(F.min("wk").cast("date").alias("cohort_week"))
    act = (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def oracle_retention_cohorts() -> str:
    return """
    WITH e AS (
        SELECT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    first AS (
        SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_diff('day', f.cohort_week, e.wk) // 7 AS BIGINT) AS week_offset
        FROM e JOIN first f ON f.user_id = e.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS n_users
    FROM act GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """


def customer_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer lifetime spend with distribution position inside the
    nation: percent_rank and cume_dist over exact spend cents (ranks on
    an exact integer key, so ties — and therefore the rank-derived
    doubles — are engine-identical). One groupBy(customer) shuffle plus
    one nation-partitioned window."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    spend = (
        o.groupBy("o_custkey")
        .agg((F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("spend_cents"))
    )
    j = spend.join(maybe_broadcast(c), spend.o_custkey == c.c_custkey).select(
        F.col("o_custkey").alias("customer_id"), "c_nationkey", "spend_cents"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_nationkey").orderBy("spend_cents")
    return (
        j.withColumn("pct_rank", F.percent_rank().over(w))
        .withColumn("cume_dist", F.cume_dist().over(w))
        .select("customer_id", F.col("c_nationkey").alias("nation_key"),
                "spend_cents", "pct_rank", "cume_dist")
        .orderBy("customer_id")
    )


def oracle_customer_spend_distribution() -> str:
    return f"""
    WITH spend AS (
        SELECT o_custkey, CAST(sum({o_dec2('o_totalprice')}) * 100 AS BIGINT) AS spend_cents
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS customer_id, c_nationkey AS nation_key, spend_cents,
           percent_rank() OVER (PARTITION BY c_nationkey ORDER BY spend_cents) AS pct_rank,
           cume_dist()    OVER (PARTITION BY c_nationkey ORDER BY spend_cents) AS cume_dist
    FROM spend JOIN customer ON o_custkey = c_custkey
    ORDER BY customer_id
    """


# ---------------------------------------------------------------------------
# Interval join, daily-active rollup, volume anomaly
# ---------------------------------------------------------------------------


def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval join: every click within the hour BEFORE each
    purchase of the same user (batch analog of the stream-stream
    watermarked interval join in streaming/jobs.py).

    Spark-first shape: equi-join on user_id with the time bound as a
    join-level range predicate — co-partitioned by user, never a
    time-cross-join; AQE splits hot users. Contrast with asof_events,
    which keeps only the LATEST preceding click; this keeps all in the
    window (multi-touch attribution)."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p, c = purchases.alias("p"), clicks.alias("c")
    joined = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.unix_micros(F.col("c.click_ts")) <= F.unix_micros(F.col("p.purchase_ts")))
        & (F.unix_micros(F.col("c.click_ts")) >= F.unix_micros(F.col("p.purchase_ts")) - 3600 * 1_000_000),
    )
    return joined.select(
        "purchase_event_id",
        F.col("p.user_id").alias("user_id"),
        "purchase_ts",
        "click_event_id",
        "click_ts",
        ((F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))) / F.lit(1_000_000))
        .cast("bigint").alias("gap_floor_sec"),
    ).orderBy("purchase_event_id", "click_event_id")


def oracle_interval_join_attribution() -> str:
    return """
    WITH purchases AS (
        SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT event_id AS click_event_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    )
    SELECT purchase_event_id, p.user_id AS user_id, purchase_ts, click_event_id, click_ts,
           CAST((epoch_us(purchase_ts) - epoch_us(click_ts)) // 1000000 AS BIGINT) AS gap_floor_sec
    FROM purchases p JOIN clicks c
      ON p.user_id = c.user_id
     AND epoch_us(click_ts) <= epoch_us(purchase_ts)
     AND epoch_us(click_ts) >= epoch_us(purchase_ts) - CAST(3600 AS BIGINT) * 1000000
    ORDER BY purchase_event_id, click_event_id
    """


def events_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + event volume: exact count-distinct per day.

    Spark plans distinct aggregates as a two-phase expand + partial agg —
    the (day, user) pre-aggregation happens map-side, so the shuffle
    carries one row per (day, user), not per event."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(F.col("ts").cast("date").alias("event_date"), "user_id", "event_type")
        .groupBy("event_date")
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
        )
        .orderBy("event_date")
    )


def oracle_events_daily_active() -> str:
    return """
    SELECT cast(ts as date) AS event_date,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
           count(*) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
    FROM events GROUP BY cast(ts as date) ORDER BY event_date
    """


def events_spike_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: flag hours whose event count exceeds 2×
    the trailing-7-hour average, per event type.

    Integer-exact spike test (cnt·7 > 2·trailing_sum — no float division)
    so the flag hashes identically cross-engine. Partitioned by
    event_type: each series windows independently, no global single
    reducer."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    hourly = (
        e.select(F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .groupBy("event_type", "hour_ts")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-7, -1)
    )
    trail = hourly.withColumn("trailing_sum", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint")) \
                  .withColumn("n_trailing", F.count("cnt").over(w).cast("bigint"))
    return trail.select(
        "event_type",
        "hour_ts",
        "cnt",
        "trailing_sum",
        "n_trailing",
        F.when(
            (F.col("n_trailing") == 7) & (F.col("cnt") * 7 > F.col("trailing_sum") * 2),
            F.lit("Y"),
        ).otherwise(F.lit("N")).alias("is_spike"),
    ).orderBy("event_type", "hour_ts")


def oracle_events_spike_detect() -> str:
    return """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS cnt
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ), trail AS (
        SELECT event_type, hour_ts, cnt,
               CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS trailing_sum,
               CAST(count(cnt) OVER w AS BIGINT) AS n_trailing
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_ts, cnt, trailing_sum, n_trailing,
           CASE WHEN n_trailing = 7 AND cnt * 7 > trailing_sum * 2
                THEN 'Y' ELSE 'N' END AS is_spike
    FROM trail ORDER BY event_type, hour_ts
    """


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order vs the
    corpus max date), frequency (order count), monetary (exact cents);
    quartile scores via ntile over deterministic total orders, and the
    classic champion/loyal/at-risk/other segment labels.

    One groupBy(customer) shuffle; quartile scores are assigned by
    VALUE against sampled per-metric boundaries (score 1 = best
    quartile), so the plan has NO Window operator at all — the three
    global ntile sorts of the round-3 formulation are gone. The corpus
    max date and the three 3-element boundary arrays are tiny global
    aggregates broadcast back over the per-customer relation; equal
    metric values share a score (value-based, deterministic
    cross-engine). At 100 TB nothing here sorts more than the
    md5-lottery sample."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order_date"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("monetary_cents"),
    )
    per_cust = per_cust.persist()  # read by max-date, boundary, and scoring paths
    maxd = per_cust.agg(F.max("last_order_date").alias("max_date"))
    base = per_cust.crossJoin(F.broadcast(maxd)).withColumn(
        "recency_days", F.datediff("max_date", "last_order_date").cast("bigint")
    )
    # quartile boundaries from the deterministic customer sample:
    # recency ascending (low = best), frequency/monetary descending
    samp = base.filter(_ppm_lottery("rfm|", "customer_id") < _QSAMPLE_PPM)
    bnds = samp.agg(
        F.array(*[F.expr(f"percentile(recency_days, {q})") for q in (0.25, 0.5, 0.75)]).alias("r_bnds"),
        F.array(*[F.expr(f"percentile(frequency, {q})") for q in (0.75, 0.5, 0.25)]).alias("f_bnds"),
        F.array(*[F.expr(f"percentile(monetary_cents, {q})") for q in (0.75, 0.5, 0.25)]).alias("m_bnds"),
    )
    scored = (
        base.crossJoin(F.broadcast(bnds))
        .withColumn("r_score", F.expr("CAST(1 + size(filter(r_bnds, b -> recency_days > b)) AS BIGINT)"))
        .withColumn("f_score", F.expr("CAST(1 + size(filter(f_bnds, b -> frequency < b)) AS BIGINT)"))
        .withColumn("m_score", F.expr("CAST(1 + size(filter(m_bnds, b -> monetary_cents < b)) AS BIGINT)"))
    )
    seg = (
        F.when((F.col("r_score") == 1) & (F.col("f_score") == 1), F.lit("champion"))
        .when(F.col("f_score") <= 2, F.lit("loyal"))
        .when(F.col("r_score") == 4, F.lit("at_risk"))
        .otherwise(F.lit("other"))
    )
    return scored.select(
        "customer_id", "recency_days", "frequency", "monetary_cents",
        "r_score", "f_score", "m_score", seg.alias("segment"),
    ).orderBy("customer_id")


def oracle_rfm_segments() -> str:
    return f"""
    WITH per_cust AS (
        SELECT o_custkey AS customer_id,
               max(cast(o_orderdate as date)) AS last_order_date,
               count(*) AS frequency,
               CAST(sum({o_dec2('o_totalprice')}) * 100 AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), base AS (
        SELECT *,
               CAST(date_diff('day', last_order_date, (SELECT max(last_order_date) FROM per_cust)) AS BIGINT) AS recency_days
        FROM per_cust
    ), b AS (
        SELECT [quantile_cont(recency_days, 0.25), quantile_cont(recency_days, 0.5), quantile_cont(recency_days, 0.75)] AS r_bnds,
               [quantile_cont(frequency, 0.75), quantile_cont(frequency, 0.5), quantile_cont(frequency, 0.25)] AS f_bnds,
               [quantile_cont(monetary_cents, 0.75), quantile_cont(monetary_cents, 0.5), quantile_cont(monetary_cents, 0.25)] AS m_bnds
        FROM base WHERE {_o_ppm_lottery('rfm|', 'customer_id')} < {_QSAMPLE_PPM}
    ), scored AS (
        SELECT customer_id, frequency, monetary_cents, recency_days,
               CAST(1 + len(list_filter(r_bnds, x -> recency_days > x)) AS BIGINT) AS r_score,
               CAST(1 + len(list_filter(f_bnds, x -> frequency < x)) AS BIGINT) AS f_score,
               CAST(1 + len(list_filter(m_bnds, x -> monetary_cents < x)) AS BIGINT) AS m_score
        FROM base, b
    )
    SELECT customer_id, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
                WHEN f_score <= 2 THEN 'loyal'
                WHEN r_score = 4 THEN 'at_risk'
                ELSE 'other' END AS segment
    FROM scored ORDER BY customer_id
    """


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov path analysis: top event-type transition pairs across each
    user's time-ordered event sequence, with the transition's share of
    all transitions in exact ppm.

    One hash(user_id) exchange serves the lag window; the pair rollup
    then reduces to |event_types|² rows — tiny at any corpus size."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "ts", "event_id", "event_type").withColumn(
        "prev_type", F.lag("event_type").over(w)
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        pairs.withColumn("total", F.sum("n_transitions").over(wtot).cast("bigint"))
        .select(
            "from_type", "to_type", "n_transitions",
            F.expr("CAST(CAST(n_transitions AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)").alias("share_ppm"),
        )
        .orderBy(F.desc("n_transitions"), "from_type", "to_type")
    )


def oracle_events_transitions() -> str:
    return """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, n_transitions,
           CAST(CAST(n_transitions AS HUGEINT) * 1000000 // CAST(sum(n_transitions) OVER () AS BIGINT) AS BIGINT) AS share_ppm
    FROM pairs
    ORDER BY n_transitions DESC, from_type, to_type
    """


def ship_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: integer
    day lags, exact min/max/avg (integer division) and the p50 via
    cent-free integer percentile (count-based median index).

    The fact⋈orders join shuffles once on orderkey; stats are map-side
    partial aggregates."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship_date")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("order_date"), "o_orderpriority"
    )
    lag = l.join(o, l.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("order_priority"),
        F.datediff("ship_date", "order_date").cast("bigint").alias("lag_days"),
    )
    return (
        lag.groupBy("order_priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("lag_days").alias("min_days"),
            F.max("lag_days").alias("max_days"),
            F.sum("lag_days").alias("sum_days"),
        )
        .select(
            "order_priority", "n_lines", "min_days", "max_days",
            F.expr("sum_days div n_lines").alias("avg_days_floor"),
        )
        .orderBy("order_priority")
    )


def oracle_ship_latency_stats() -> str:
    return """
    WITH lag AS (
        SELECT o_orderpriority AS order_priority,
               CAST(date_diff('day', cast(o_orderdate as date), cast(l_shipdate as date)) AS BIGINT) AS lag_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT order_priority, count(*) AS n_lines,
           min(lag_days) AS min_days, max(lag_days) AS max_days,
           CAST(sum(lag_days) AS BIGINT) // count(*) AS avg_days_floor
    FROM lag GROUP BY order_priority ORDER BY order_priority
    """


def except_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set operation: customers who ordered in 1997 but placed no
    order in 1998 (churn candidates), enriched with their segment.

    Spark `subtract` is EXCEPT DISTINCT — a hash(custkey) aggregate on
    each year slice, then a left-anti between two already-small distinct
    key sets; the year filters push to the orders scan so only two
    year-partitions are ever read at 100 TB."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    active_97 = o.filter(F.col("yr") == 1997).select("o_custkey").distinct()
    active_98 = o.filter(F.col("yr") == 1998).select("o_custkey").distinct()
    churned = active_97.subtract(active_98)
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return (
        churned.join(c, churned.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy("custkey")
    )


def oracle_except_churned() -> str:
    return """
    WITH churned AS (
        SELECT o_custkey FROM orders WHERE year(cast(o_orderdate as date)) = 1997
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(cast(o_orderdate as date)) = 1998
    )
    SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment
    FROM churned JOIN customer ON o_custkey = c_custkey
    ORDER BY custkey
    """


def moving_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order revenue via a value-RANGE
    window frame (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over an
    integer day index) — gaps in the calendar shrink the frame, unlike a
    ROWS frame.

    Exact cents end-to-end: the windowed sum is BIGINT cents and the
    average is integer division by the number of days present in the
    frame. Daily rollup first (one shuffle), so the window runs over
    ~|days| rows regardless of order volume."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("order_date"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    daily = o.groupBy("order_date").agg(F.sum("cents").alias("day_cents"))
    daily = daily.withColumn(
        "day_idx", F.datediff("order_date", F.lit("1995-01-01").cast("date"))
    )
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    return (
        daily.select(
            "order_date",
            "day_cents",
            F.sum("day_cents").over(w).alias("ma7_cents_sum"),
            F.count(F.lit(1)).over(w).alias("ma7_days"),
        )
        .withColumn("ma7_cents", F.expr("ma7_cents_sum div ma7_days"))
        .select("order_date", "day_cents", "ma7_days", "ma7_cents")
        .orderBy("order_date")
    )


def oracle_moving_avg_revenue() -> str:
    return """
    WITH daily AS (
        SELECT cast(o_orderdate as date) AS order_date,
               sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS day_cents
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT order_date, day_cents,
               date_diff('day', DATE '1995-01-01', order_date) AS day_idx
        FROM daily
    )
    SELECT order_date, CAST(day_cents AS BIGINT) AS day_cents,
           count(*) OVER w AS ma7_days,
           CAST(sum(day_cents) OVER w AS BIGINT) // count(*) OVER w AS ma7_cents
    FROM idx
    WINDOW w AS (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY order_date
    """


def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order values: $500-wide buckets via exact
    integer division of cents (width_bucket without the float hazard).

    Map-only bucketing + one hash(bucket) aggregate; bucket cardinality
    is bounded by max order value, not row count."""
    o = load(spark, sf_dir, "orders").select(
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    return (
        o.withColumn("bucket", F.expr("cents div 50000"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .withColumn("bucket_lo_cents", F.expr("bucket * 50000"))
        .select("bucket", "bucket_lo_cents", "n_orders", "min_cents", "max_cents")
        .orderBy("bucket")
    )


def oracle_order_value_histogram() -> str:
    return """
    WITH c AS (
        SELECT CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    )
    SELECT cents // 50000 AS bucket,
           (cents // 50000) * 50000 AS bucket_lo_cents,
           count(*) AS n_orders, min(cents) AS min_cents, max(cents) AS max_cents
    FROM c GROUP BY 1 ORDER BY bucket
    """


def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth in exact basis points: lag over
    the monthly rollup, delta expressed as sign-split integer division
    (both engines truncate non-negative dividends identically, so the
    negative branch is computed on the flipped difference).

    The fact reduces to |months| rows before the window — the lag runs
    on a driver-trivial series even at 100 TB."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("ym"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    monthly = o.groupBy("ym").agg(F.sum("cents").alias("rev_cents"))
    w = Window.orderBy("ym")
    return (
        monthly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .withColumn(
            "mom_bp",
            F.expr(
                """CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
                        WHEN rev_cents >= prev_cents
                          THEN CAST(CAST(rev_cents - prev_cents AS DECIMAL(38,0)) * 10000 div prev_cents AS BIGINT)
                        ELSE -CAST(CAST(prev_cents - rev_cents AS DECIMAL(38,0)) * 10000 div prev_cents AS BIGINT)
                   END"""
            ),
        )
        .select("ym", "rev_cents", "prev_cents", "mom_bp")
        .orderBy("ym")
    )


def oracle_monthly_revenue_mom() -> str:
    return """
    WITH monthly AS (
        SELECT strftime(cast(o_orderdate as date), '%Y-%m') AS ym,
               sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS rev_cents
        FROM orders GROUP BY 1
    ), lagged AS (
        SELECT ym, rev_cents, lag(rev_cents) OVER (ORDER BY ym) AS prev_cents
        FROM monthly
    )
    SELECT ym, CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(prev_cents AS BIGINT) AS prev_cents,
           CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
                WHEN rev_cents >= prev_cents
                  THEN CAST(CAST(rev_cents - prev_cents AS HUGEINT) * 10000 // prev_cents AS BIGINT)
                ELSE -CAST(CAST(prev_cents - rev_cents AS HUGEINT) * 10000 // prev_cents AS BIGINT)
           END AS mom_bp
    FROM lagged ORDER BY ym
    """


def events_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining one step past transitions: top-20 event-type
    trigram paths across each user's time-ordered stream, share in exact
    ppm.

    Both lags ride the same hash(user_id) exchange (one window spec
    prefix); the trigram rollup is |types|³ rows at most."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "ts", "event_id", "event_type").select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_type", 2).over(w).alias("t2"),
    )
    tri = (
        seq.filter(F.col("t2").isNotNull())
        .groupBy(
            F.col("t2").alias("step1"),
            F.col("t1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    from pyspark.sql.window import Window as W2

    wtot = W2.rowsBetween(W2.unboundedPreceding, W2.unboundedFollowing)
    return (
        tri.withColumn("total", F.sum("n_paths").over(wtot).cast("bigint"))
        .select(
            "step1", "step2", "step3", "n_paths",
            F.expr("CAST(CAST(n_paths AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)").alias("share_ppm"),
        )
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(20)
    )


def oracle_events_trigram_paths() -> str:
    return """
    WITH seq AS (
        SELECT event_type,
               lag(event_type, 1) OVER w AS t1,
               lag(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tri AS (
        SELECT t2 AS step1, t1 AS step2, event_type AS step3, count(*) AS n_paths
        FROM seq WHERE t2 IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT step1, step2, step3, n_paths,
           CAST(CAST(n_paths AS HUGEINT) * 1000000 // CAST(sum(n_paths) OVER () AS BIGINT) AS BIGINT) AS share_ppm
    FROM tri
    ORDER BY n_paths DESC, step1, step2, step3
    LIMIT 20
    """


def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: per join key of the big fact, the share of
    rows carried by the top-20 heaviest keys, in exact ppm — the number
    you read before choosing broadcast vs salted vs AQE-skew join
    (operators/skew.py is the fix; this is the detector).

    One hash(key) aggregate per audited column; the top-20 cut is a
    count-ordered limit with a total tie-break."""
    l = load(spark, sf_dir, "lineitem")
    out = None
    for colname in ("l_partkey", "l_suppkey"):
        counts = (
            l.groupBy(F.col(colname).alias("key_value"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn("key_col", F.lit(colname))
        )
        from pyspark.sql.window import Window

        wtot = Window.partitionBy("key_col").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        wrank = Window.partitionBy("key_col").orderBy(F.desc("n_rows"), "key_value")
        top = (
            counts.withColumn("total", F.sum("n_rows").over(wtot).cast("bigint"))
            .withColumn("skew_rank", F.row_number().over(wrank))
            .filter(F.col("skew_rank") <= 20)
            .select(
                "key_col", "skew_rank", "key_value", "n_rows",
                F.expr("CAST(CAST(n_rows AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)").alias("share_ppm"),
            )
        )
        out = top if out is None else out.unionByName(top)
    return out.orderBy("key_col", "skew_rank")


def oracle_key_skew_audit() -> str:
    def one(col: str) -> str:
        return f"""
        SELECT '{col}' AS key_col,
               row_number() OVER (ORDER BY count(*) DESC, {col}) AS skew_rank,
               {col} AS key_value, count(*) AS n_rows,
               CAST(CAST(count(*) AS HUGEINT) * 1000000 // CAST(sum(count(*)) OVER () AS BIGINT) AS BIGINT) AS share_ppm
        FROM lineitem GROUP BY {col}
        QUALIFY skew_rank <= 20
        """
    return f"""
    SELECT * FROM ({one('l_partkey')})
    UNION ALL
    SELECT * FROM ({one('l_suppkey')})
    ORDER BY key_col, skew_rank
    """


def events_weekly_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the rolling-distinct
    aggregate window functions can't express (DISTINCT inside a moving
    frame). The scale trick: each (user, active-day) pair fans out to
    the ≤7 days whose trailing window it covers, turning the rolling
    distinct into a plain groupBy-distinct — O(7·|user-days|), never
    |days|·|events|, and the fanout is map-side (no join). The inner
    join to the per-day (dau) rollup doubles as the observed-days
    filter, so no separate day spine is built or joined."""
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    covered = ud.select(
        "user_id",
        F.explode(F.expr("transform(sequence(0, 6), i -> date_add(d, i))")).alias("day"),
    )
    wau = covered.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))
    dau = ud.groupBy(F.col("d").alias("day")).agg(F.count_distinct("user_id").alias("dau"))
    return (
        wau.join(dau, "day")  # inner join: dau's days ARE the observed days
        .select("day", "dau", "wau")
        .orderBy("day")
    )


def oracle_events_weekly_active() -> str:
    return """
    WITH ud AS (
        SELECT DISTINCT user_id, cast(ts as date) AS d FROM events
    ), covered AS (
        SELECT user_id, d + CAST(i AS INTEGER) AS day
        FROM ud, (SELECT unnest(generate_series(0, 6)) AS i)
    ), wau AS (
        SELECT day, count(DISTINCT user_id) AS wau
        FROM covered GROUP BY day
    ), dau AS (
        SELECT d AS day, count(DISTINCT user_id) AS dau FROM ud GROUP BY d
    )
    SELECT wau.day AS day, dau, wau
    FROM wau JOIN dau ON wau.day = dau.day
    ORDER BY 1
    """


def nation_order_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last order per nation via first_value/last_value over
    the full window frame (ROWS UNBOUNDED PRECEDING→FOLLOWING) with a
    total (date, orderkey) ordering — the window-frame forms not yet
    exercised by the running/rank queries.

    One hash(nation) exchange; the distinct collapses the per-row window
    output to |nations| rows."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "o_orderkey", "od")
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("od", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        j.select(
            "nation",
            F.count(F.lit(1)).over(w).alias("n_orders"),
            F.first_value(F.col("o_orderkey")).over(w).alias("first_orderkey"),
            F.first_value(F.col("od")).over(w).alias("first_order_date"),
            F.last_value(F.col("o_orderkey")).over(w).alias("last_orderkey"),
            F.last_value(F.col("od")).over(w).alias("last_order_date"),
        )
        .distinct()
        .orderBy("nation")
    )


def oracle_nation_order_extremes() -> str:
    return """
    WITH j AS (
        SELECT n_name AS nation, o_orderkey, cast(o_orderdate as date) AS od
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT DISTINCT nation,
           count(*) OVER w AS n_orders,
           first_value(o_orderkey) OVER w AS first_orderkey,
           first_value(od) OVER w AS first_order_date,
           last_value(o_orderkey) OVER w AS last_orderkey,
           last_value(od) OVER w AS last_order_date
    FROM j
    WINDOW w AS (PARTITION BY nation ORDER BY od, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY nation
    """


def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap interpolation: hourly revenue (value cents) with
    empty hours linearly interpolated between the nearest non-empty
    neighbors — integer lerp (sign-split division) so both engines agree
    bit-for-bit; edges clamp to the nearest observed value.

    The corpus collapses to |hours| rows before any window runs, so the
    unpartitioned forward/backward scans are over a tiny series even at
    100 TB (and the hourly rollup itself is one shuffle)."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        (dec2("value") * 100).cast("bigint").alias("cents"),
    )
    hourly = e.groupBy("hour_ts").agg(F.sum("cents").alias("cents"))
    bounds = e.agg(F.min("hour_ts").alias("h0"), F.max("hour_ts").alias("h1"))
    spine = bounds.select(
        F.posexplode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("idx", "hour_ts")
    )
    g = spine.join(hourly, "hour_ts", "left")
    wb = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = Window.orderBy("idx").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    x = (
        g.withColumn("pv", F.last("cents", ignorenulls=True).over(wb))
        .withColumn("pi", F.last(F.when(F.col("cents").isNotNull(), F.col("idx")), ignorenulls=True).over(wb))
        .withColumn("nv", F.first("cents", ignorenulls=True).over(wf))
        .withColumn("ni", F.first(F.when(F.col("cents").isNotNull(), F.col("idx")), ignorenulls=True).over(wf))
    )
    return (
        x.withColumn(
            "cents_filled",
            F.expr(
                """CASE WHEN cents IS NOT NULL THEN cents
                        WHEN pv IS NULL THEN nv
                        WHEN nv IS NULL THEN pv
                        WHEN nv >= pv THEN pv + ((nv - pv) * (idx - pi)) div (ni - pi)
                        ELSE pv - (((pv - nv) * (idx - pi)) div (ni - pi))
                   END"""
            ),
        )
        .withColumn("was_interpolated", F.col("cents").isNull())
        .select("hour_ts", "cents_filled", "was_interpolated")
        .orderBy("hour_ts")
    )


def oracle_events_interpolate() -> str:
    return """
    WITH e AS (
        SELECT date_trunc('hour', ts) AS hour_ts,
               CAST(cast(value as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ), hourly AS (
        SELECT hour_ts, sum(cents) AS cents FROM e GROUP BY hour_ts
    ), spine AS (
        SELECT unnest(generate_series(min(hour_ts), max(hour_ts), INTERVAL 1 HOUR)) AS hour_ts,
               generate_subscripts(generate_series(min(hour_ts), max(hour_ts), INTERVAL 1 HOUR), 1) - 1 AS idx
        FROM e
    ), g AS (
        SELECT s.hour_ts, s.idx, h.cents
        FROM spine s LEFT JOIN hourly h ON s.hour_ts = h.hour_ts
    ), x AS (
        SELECT *,
            last_value(cents IGNORE NULLS) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
                OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
            first_value(cents IGNORE NULLS) OVER (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
                OVER (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
        FROM g
    )
    SELECT hour_ts,
           CAST(CASE WHEN cents IS NOT NULL THEN cents
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                WHEN nv >= pv THEN pv + ((nv - pv) * (idx - pi)) // (ni - pi)
                ELSE pv - (((pv - nv) * (idx - pi)) // (ni - pi))
           END AS BIGINT) AS cents_filled,
           cents IS NULL AS was_interpolated
    FROM x ORDER BY hour_ts
    """


def nation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation: customer counts vs well-capitalized
    supplier counts per nation — either side may be absent, both counts
    coalesce to zero (the join form the diff/reconcile family needs that
    no other §2B query exercises).

    Both inputs are nation-sized aggregates, so the full-outer join and
    the name lookup are broadcast-trivial; the facts reduce before any
    join."""
    c = load(spark, sf_dir, "customer").groupBy(
        F.col("c_nationkey").alias("nationkey")
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    s = (
        load(spark, sf_dir, "supplier")
        .filter(dec2("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_rich_suppliers"))
    )
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("nation")
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .join(F.broadcast(n), "nationkey")
        .select(
            "nation",
            F.coalesce("n_customers", F.lit(0)).cast("bigint").alias("n_customers"),
            F.coalesce("n_rich_suppliers", F.lit(0)).cast("bigint").alias("n_rich_suppliers"),
        )
        .orderBy("nation")
    )


def oracle_nation_coverage() -> str:
    return """
    WITH c AS (
        SELECT c_nationkey AS nationkey, count(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    ), s AS (
        SELECT s_nationkey AS nationkey, count(*) AS n_rich_suppliers
        FROM supplier WHERE cast(s_acctbal as decimal(12,2)) > 5000
        GROUP BY s_nationkey
    )
    SELECT n_name AS nation,
           CAST(coalesce(n_customers, 0) AS BIGINT) AS n_customers,
           CAST(coalesce(n_rich_suppliers, 0) AS BIGINT) AS n_rich_suppliers
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    JOIN nation ON coalesce(c.nationkey, s.nationkey) = n_nationkey
    ORDER BY nation
    """


def revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent rollup: each nation's revenue as an exact-ppm
    share of its region, and each region's share of the grand total —
    the two-level drill-down shape BI layers ask of a warehouse.

    The fact reduces to |nations| rows in one shuffle; both parent
    ratios are windows over that tiny aggregate (no second fact pass)."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("cents").alias("nation_cents"))
    )
    wr = Window.partitionBy("region").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        per_nation.withColumn("region_cents", F.sum("nation_cents").over(wr).cast("bigint"))
        .withColumn("total_cents", F.sum("nation_cents").over(wt).cast("bigint"))
        .select(
            "region", "nation", "nation_cents",
            F.expr("CAST(CAST(nation_cents AS DECIMAL(38,0)) * 1000000 div region_cents AS BIGINT)").alias("share_of_region_ppm"),
            F.expr("CAST(CAST(region_cents AS DECIMAL(38,0)) * 1000000 div total_cents AS BIGINT)").alias("region_share_ppm"),
        )
        .orderBy("region", "nation")
    )


def oracle_revenue_share_of_parent() -> str:
    return """
    WITH per_nation AS (
        SELECT r_name AS region, n_name AS nation,
               sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS nation_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    )
    SELECT region, nation, CAST(nation_cents AS BIGINT) AS nation_cents,
           CAST(CAST(nation_cents AS HUGEINT) * 1000000 // CAST(sum(nation_cents) OVER (PARTITION BY region) AS BIGINT) AS BIGINT) AS share_of_region_ppm,
           CAST(CAST(sum(nation_cents) OVER (PARTITION BY region) AS HUGEINT) * 1000000
               // CAST(sum(nation_cents) OVER () AS BIGINT) AS BIGINT) AS region_share_ppm
    FROM per_nation
    ORDER BY region, nation
    """


def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensics on order totals: observed count and
    exact-ppm share per leading digit, with the Benford-expected ppm for
    reference — the classic fabricated-data screen, as a warehouse DQ
    query (synthetic TPC-H prices are uniform-ish, so they visibly FAIL
    Benford — the audit's point is surfacing that shape).

    Map-only digit extraction + a 9-row aggregate."""
    expected = {1: 301029, 2: 176091, 3: 124938, 4: 96910,
                5: 79181, 6: 66946, 7: 57991, 8: 51152, 9: 45757}
    o = load(spark, sf_dir, "orders").select(
        F.substring((dec2("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1)
        .cast("int").alias("digit")
    )
    from pyspark.sql.window import Window

    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    exp_expr = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in expected.items()
    ) + " END"
    return (
        o.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("total", F.sum("n_orders").over(wt).cast("bigint"))
        .select(
            "digit", "n_orders",
            F.expr("CAST(CAST(n_orders AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)").alias("observed_ppm"),
            F.expr(exp_expr).cast("bigint").alias("benford_ppm"),
        )
        .orderBy("digit")
    )


def oracle_benford_price_audit() -> str:
    expected = {1: 301029, 2: 176091, 3: 124938, 4: 96910,
                5: 79181, 6: 66946, 7: 57991, 8: 51152, 9: 45757}
    exp_expr = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in expected.items()
    ) + " END"
    return f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders
    )
    SELECT digit, count(*) AS n_orders,
           CAST(CAST(count(*) AS HUGEINT) * 1000000 // CAST(sum(count(*)) OVER () AS BIGINT) AS BIGINT) AS observed_ppm,
           CAST({exp_expr} AS BIGINT) AS benford_ppm
    FROM d GROUP BY digit ORDER BY digit
    """


# ---------------------------------------------------------------------------
# Association / concentration analytics (round-2 wave 3)
# ---------------------------------------------------------------------------


def basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: top-20 part-brand pairs by lift.

    support(a,b) = n_ab / n_orders; lift = n_ab * n_orders / (n_a * n_b),
    both surfaced in exact integer ppm so the oracle hashes identically.

    Scale: brands per order are bounded (~items per order), so the
    per-order pair fan-out is a small constant — never parts², never
    orders×parts. One shuffle keys the distinct (order, brand) set; the
    pair self-join re-uses that partitioning; brand marginals are a tiny
    broadcast. Analogous to fact_order_details co-occurrence mining over
    the reference's order-grain model (models/dwh/fact_order_details.sql).
    """
    # spread DECLINED with numbers (r13): A/B ratio 0.94 — like
    # part_cooccurrence_topk (1.03), the early distinct exchange and
    # the persisted-ob self-join dominate; the probe-side map work is
    # too light to clear the adopt bar.
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(maybe_broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
        # read 4× (total, both self-join sides, marginals); persist so the
        # distinct is computed once (at warehouse scale: checkpoint to the lake)
        .persist()
    )
    # 1-row total as a broadcast cross-join — no driver-side .count()
    # scalar, the whole thing stays one declarative plan
    tot = ob.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    marg = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    return (
        pairs.join(F.broadcast(marg.withColumnRenamed("brand", "brand_a").withColumnRenamed("n", "n_a")), "brand_a")
        .join(F.broadcast(marg.withColumnRenamed("brand", "brand_b").withColumnRenamed("n", "n_b")), "brand_b")
        .join(F.broadcast(tot))
        .select(
            "brand_a", "brand_b", "n_ab",
            F.expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * 1000000 div n_orders AS BIGINT)").alias("support_ppm"),
            # both the numerator (count * count * 1e6) and the marginal
            # product overflow BIGINT at warehouse scale — DECIMAL(38,0) both
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .filter(F.col("n_ab") >= 5)
        .orderBy(F.desc("lift_ppm"), "brand_a", "brand_b")
        .limit(20)
    )


def oracle_basket_affinity() -> str:
    return """
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand AS brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), tot AS (
        SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob
    ), pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
        FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
        GROUP BY a.brand, b.brand
    ), marg AS (
        SELECT brand, count(*) AS n FROM ob GROUP BY brand
    )
    SELECT brand_a, brand_b, n_ab,
           CAST(CAST(n_ab AS HUGEINT) * 1000000 // n_orders AS BIGINT) AS support_ppm,
           CAST(CAST(n_ab AS HUGEINT) * n_orders * 1000000 // (CAST(ma.n AS HUGEINT) * mb.n) AS BIGINT) AS lift_ppm
    FROM pairs, tot
    JOIN marg ma ON ma.brand = brand_a
    JOIN marg mb ON mb.brand = brand_b
    WHERE n_ab >= 5
    ORDER BY lift_ppm DESC, brand_a, brand_b
    LIMIT 20
    """


def pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 concentration per nation: how many customers cover
    80% of the nation's order revenue, and the share they hold.

    All comparisons are integer (scale-2 cents). De-globalized: the
    cumulative 80% crossing is found inside the md5-lottery CUSTOMER
    SAMPLE only — per nation, rank the sampled spends descending and
    take the minimum spend still inside the sample's own 80% band
    (5*(cum-spend) < 4*sample_total) as the nation's spend THRESHOLD;
    full-population membership is then the map-only value test
    ``cents >= threshold``. The rank/cumsum window is partitioned by
    nation and consumes only sample-sized input (the production knob
    is _QSAMPLE_PPM); the full per-customer relation is never globally
    sorted. Counts/sums over the full population are exact for the
    sampled threshold; a nation absent from the sample yields zero
    top-80 members (coalesce false)."""
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = (dec2("o_totalprice") * 100).cast("bigint")
    spend = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_custkey")
        .agg(F.sum(cents).alias("cents"))
        # customer-sized aggregate read by both the sampled-threshold
        # path and the full classification — persist to agg once
        .persist()
    )
    samp = spend.filter(_ppm_lottery("par|", "o_custkey") < _QSAMPLE_PPM)
    w = Window.partitionBy("n_name").orderBy(F.desc("cents"), "o_custkey")
    wt = Window.partitionBy("n_name")
    thr = (
        samp.withColumn("cum", F.sum("cents").over(w))
        .withColumn("stotal", F.sum("cents").over(wt))
        .filter(5 * (F.col("cum") - F.col("cents")) < 4 * F.col("stotal"))
        .groupBy("n_name")
        .agg(F.min("cents").alias("thr_cents"))
    )
    flagged = spend.join(F.broadcast(thr), "n_name", "left").withColumn(
        "in_top80", F.coalesce(F.col("cents") >= F.col("thr_cents"), F.lit(False))
    )
    return (
        flagged.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("in_top80"), 1).otherwise(0)).cast("bigint").alias("n_top80"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum(F.when(F.col("in_top80"), F.col("cents")).otherwise(0)).cast("bigint").alias("top80_cents"),
        )
        .select(
            "n_name", "n_customers", "n_top80",
            F.expr("CAST(CAST(n_top80 AS DECIMAL(38,0)) * 1000000 div n_customers AS BIGINT)").alias("top_share_of_customers_ppm"),
            F.expr("CAST(CAST(top80_cents AS DECIMAL(38,0)) * 1000000 div total_cents AS BIGINT)").alias("revenue_share_ppm"),
        )
        .orderBy("n_name")
    )


def oracle_pareto_customers() -> str:
    return f"""
    WITH spend AS (
        SELECT n_name, o_custkey,
               sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, o_custkey
    ), ranked AS (
        SELECT n_name, o_custkey, cents,
               sum(cents) OVER (PARTITION BY n_name ORDER BY cents DESC, o_custkey) AS cum,
               sum(cents) OVER (PARTITION BY n_name) AS stotal
        FROM spend
        WHERE {_o_ppm_lottery('par|', 'o_custkey')} < {_QSAMPLE_PPM}
    ), thr AS (
        SELECT n_name, min(cents) AS thr_cents
        FROM ranked WHERE 5 * (cum - cents) < 4 * stotal
        GROUP BY n_name
    ), flagged AS (
        SELECT spend.n_name, cents,
               coalesce(cents >= thr_cents, false) AS in_top80
        FROM spend LEFT JOIN thr ON spend.n_name = thr.n_name
    )
    SELECT n_name,
           count(*) AS n_customers,
           CAST(sum(CASE WHEN in_top80 THEN 1 ELSE 0 END) AS BIGINT) AS n_top80,
           CAST(CAST(sum(CASE WHEN in_top80 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS top_share_of_customers_ppm,
           CAST(CAST(sum(CASE WHEN in_top80 THEN cents ELSE 0 END) AS HUGEINT) * 1000000 // CAST(sum(cents) AS BIGINT) AS BIGINT) AS revenue_share_ppm
    FROM flagged GROUP BY n_name ORDER BY n_name
    """


def abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: class A = parts whose revenue puts
    them inside the first ~70% of cumulative revenue, B = the next 20%,
    C = the tail — integer scale-4 units with DECIMAL(38,0) cumulative
    arithmetic (overflow-proof at any scale).

    De-globalized: the A/B revenue THRESHOLDS are found inside the
    md5-lottery PART SAMPLE — the sample's revenues are folded (sorted
    descending) with a higher-order ``aggregate`` that tracks the
    running sum and records the last revenue value still under the
    70% / 90% crossings of the sample total; full-population class is
    then the map-only value test ``rev >= threshold``. The plan carries
    NO Window operator and never sorts the per-part relation — the only
    sorted object is the in-memory sample array (bounded by
    _QSAMPLE_PPM, the production knob). Parts with revenue equal to a
    threshold share its class (value-based, deterministic)."""
    li = load(spark, sf_dir, "lineitem")
    units = (disc_price() * 10000).cast("bigint")
    # parts-sized aggregate consumed by three paths (threshold, class,
    # total) — persist so the lineitem agg shuffle runs ONCE, not per
    # consumer (at warehouse scale you'd checkpoint it to the lake)
    per_part = li.groupBy("l_partkey").agg(F.sum(units).alias("rev")).persist()
    samp = per_part.filter(_ppm_lottery("abc|", "l_partkey") < _QSAMPLE_PPM)
    sarr = samp.agg(
        F.expr("reverse(array_sort(collect_list(rev)))").alias("revs"),
        F.sum("rev").cast("decimal(38,0)").alias("stotal"),
    )
    thr = sarr.select(
        F.expr(
            """
            aggregate(
                revs,
                named_struct(
                    'cum', CAST(0 AS DECIMAL(38,0)),
                    'ta', CAST(NULL AS BIGINT),
                    'tb', CAST(NULL AS BIGINT)),
                (acc, x) -> named_struct(
                    'cum', CAST(acc.cum + x AS DECIMAL(38,0)),
                    'ta', CASE WHEN 10 * acc.cum < 7 * stotal THEN x ELSE acc.ta END,
                    'tb', CASE WHEN 10 * acc.cum < 9 * stotal THEN x ELSE acc.tb END),
                acc -> acc)
            """
        ).alias("t")
    ).select(F.col("t.ta").alias("thr_a"), F.col("t.tb").alias("thr_b"))
    classed = per_part.crossJoin(F.broadcast(thr)).withColumn(
        "abc_class",
        F.when(F.col("rev") >= F.col("thr_a"), "A")
        .when(F.col("rev") >= F.col("thr_b"), "B")
        .otherwise("C"),
    )
    agg = classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("bigint").alias("rev_units"),
    )
    # grand total == sum over classes; computing it straight from the
    # cached per-part aggregate skips a redundant classification pass
    tot = per_part.agg(F.sum("rev").cast("bigint").alias("tot_units"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "abc_class", "n_parts", "rev_units",
            # DECIMAL(38,0) intermediate: rev_units*1e6 overflows BIGINT
            # once total scale-4 revenue exceeds ~9.2e12 (sf>=0.01).
            F.expr("CAST(CAST(rev_units AS DECIMAL(38,0)) * 1000000 div tot_units AS BIGINT)").alias("rev_share_ppm"),
        )
        .orderBy("abc_class")
    )


def oracle_abc_parts() -> str:
    return f"""
    WITH per_part AS (
        SELECT l_partkey, sum(CAST({o_disc_price()} * 10000 AS BIGINT)) AS rev
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT l_partkey, rev,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey) AS cum,
               sum(rev) OVER () AS stotal
        FROM per_part
        WHERE {_o_ppm_lottery('abc|', 'l_partkey')} < {_QSAMPLE_PPM}
    ), thr AS (
        SELECT min(CASE WHEN 10 * (cum - rev) < 7 * stotal THEN rev END) AS thr_a,
               min(CASE WHEN 10 * (cum - rev) < 9 * stotal THEN rev END) AS thr_b
        FROM ranked
    ), classed AS (
        SELECT rev,
               CASE WHEN rev >= thr_a THEN 'A'
                    WHEN rev >= thr_b THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM per_part, thr
    ), agg AS (
        SELECT abc_class, count(*) AS n_parts, CAST(sum(rev) AS BIGINT) AS rev_units
        FROM classed GROUP BY abc_class
    )
    SELECT abc_class, n_parts, rev_units,
           CAST(CAST(rev_units AS HUGEINT) * 1000000
                // (SELECT CAST(sum(rev_units) AS BIGINT) FROM agg) AS BIGINT) AS rev_share_ppm
    FROM agg ORDER BY abc_class
    """


def interpurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution per market segment: per
    customer, day gaps between consecutive orders (lag); per segment,
    exact integer stats (count / min / max / median via cent-free
    integer percentile). One hash(customer) shuffle serves the lag
    window; the segment rollup is segment-sized."""
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    gaps = (
        o.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_date").isNotNull())
        .withColumn("gap_days", F.datediff("o_orderdate", "prev_date").cast("bigint"))
    )
    return (
        gaps.join(maybe_broadcast(c), gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_days").alias("min_gap"),
            F.max("gap_days").alias("max_gap"),
            F.expr("percentile(gap_days, 0.5)").alias("median_gap"),
            F.expr("CAST(CAST(sum(gap_days) AS DECIMAL(38,0)) * 100 div count(1) AS BIGINT)").alias("avg_gap_x100"),
        )
        .orderBy("c_mktsegment")
    )


def oracle_interpurchase_intervals() -> str:
    return """
    WITH gaps AS (
        SELECT o_custkey,
               CAST(date_diff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate),
                              o_orderdate) AS BIGINT) AS gap_days
        FROM orders
        QUALIFY gap_days IS NOT NULL
    )
    SELECT c_mktsegment,
           count(*) AS n_gaps,
           min(gap_days) AS min_gap,
           max(gap_days) AS max_gap,
           quantile_cont(gap_days, 0.5) AS median_gap,
           CAST(CAST(sum(gap_days) AS HUGEINT) * 100 // count(*) AS BIGINT) AS avg_gap_x100
    FROM gaps JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front): parts not strictly dominated on
    (cheaper retail price, larger size).

    Spark-first DE-GLOBALIZED formulation (result is EXACT and
    unchanged — bucketing only parallelizes): the price axis is split
    into ranges at sampled price boundaries (md5-lottery sample, 15
    interior 16-iles; the boundary count is the parallelism knob at
    scale). Within each bucket a PARTITIONED window takes the running
    max of size over strictly-cheaper rows (RANGE frame ending 1 cent
    before the current price); domination from other buckets is folded
    in via the per-bucket max-size prefix (a tiny ≤16-row broadcast
    self-join — every row in a lower bucket has strictly lower price by
    construction, since bucket assignment is a monotone function of
    price and equal prices share a bucket). No unpartitioned window,
    no single-reducer sort; the quadratic NOT-EXISTS stays in the
    oracle as the independent semantic statement."""
    from pyspark.sql.window import Window

    p = load(spark, sf_dir, "part")
    cents = (dec2("p_retailprice") * 100).cast("bigint")
    vals = p.select("p_partkey", "p_name", "p_size", cents.alias("price_cents"))
    qs = [i / 16 for i in range(1, 16)]
    bnds = vals.filter(_ppm_lottery("sky|", "p_partkey") < _QSAMPLE_PPM).agg(
        F.array(*[F.expr(f"percentile(price_cents, {q})") for q in qs]).alias("bnds")
    )
    tagged = vals.crossJoin(F.broadcast(bnds)).withColumn(
        "bucket", F.expr("CAST(1 + size(filter(bnds, b -> price_cents > b)) AS INT)")
    ).drop("bnds")
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    bucket_max = tagged.groupBy("bucket").agg(F.max("p_size").alias("bmax"))
    earlier = (
        bucket_max.alias("a")
        .join(bucket_max.alias("b"), F.col("b.bucket") < F.col("a.bucket"))
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.max(F.col("b.bmax")).alias("earlier_best"))
    )
    return (
        tagged.withColumn("local_best", F.max("p_size").over(w_local))
        .join(F.broadcast(earlier), "bucket", "left")
        .withColumn("best_cheaper_size", F.greatest("local_best", "earlier_best"))
        .filter(F.col("best_cheaper_size").isNull() | (F.col("best_cheaper_size") <= F.col("p_size")))
        .select("p_partkey", "p_name", "p_size", "price_cents")
        .orderBy("price_cents", "p_partkey")
    )


def oracle_skyline_parts() -> str:
    return """
    WITH pp AS (
        SELECT p_partkey, p_name, p_size,
               CAST(cast(p_retailprice as decimal(12,2)) * 100 AS BIGINT) AS price_cents
        FROM part
    )
    SELECT p_partkey, p_name, p_size, price_cents
    FROM pp a
    WHERE NOT EXISTS (
        SELECT 1 FROM pp b
        WHERE b.price_cents < a.price_cents AND b.p_size > a.p_size
    )
    ORDER BY price_cents, p_partkey
    """


def event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph, two unrolled
    power iterations in exact integer ppm (d=0.85 teleport).

    Link analysis as a first-class iterative-algorithm kind (alongside
    kmeans_iter / connected components / bpe_encode): each iteration is
    contrib_j = Σ_i r_i·c_ij div W_i; r'_j = 150000 div N +
    850000·contrib_j div 1000000 — integer division everywhere, so both
    engines truncate identically and the ranks hash-match. Dangling-node
    mass is dropped (documented; all observed types have out-edges).

    Scale: the transition graph is event-type² sized (tiny) — the only
    corpus-scale work is the one hash(user) shuffle building edge
    counts; every iteration after that runs on broadcast-sized data."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # read by both iterations; edge table is event-type² sized
    )
    # all three are event-type-sized and read by every iteration
    outw = edges.groupBy("src").agg(F.sum("c").alias("w_out")).persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n")).persist()
    ranks = nodes.join(F.broadcast(n_nodes)).select(
        "node", F.expr("1000000 div n").cast("bigint").alias("r")
    )

    def step(r: DataFrame) -> DataFrame:
        contrib = (
            edges.join(F.broadcast(outw), "src")
            .join(F.broadcast(r.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("r * c div w_out")).alias("contrib"))
        )
        return (
            nodes.join(F.broadcast(contrib), "node", "left")
            .join(F.broadcast(n_nodes))
            .select(
                "node",
                F.expr(
                    "150000 div n + 850000 * coalesce(contrib, 0) div 1000000"
                ).cast("bigint").alias("r"),
            )
        )

    final = step(step(ranks))
    return final.select(F.col("node").alias("event_type"), F.col("r").alias("rank_ppm")).orderBy(
        "event_type"
    )


def oracle_event_pagerank() -> str:
    return """
    WITH seq AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events
    ), edges AS (
        SELECT src, dst, count(*) AS c FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ), outw AS (
        SELECT src, sum(c) AS w_out FROM edges GROUP BY src
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ), nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (
        SELECT node, CAST(1000000 // n AS BIGINT) AS r FROM nodes, nn
    ), c1 AS (
        SELECT dst AS node, sum(r0.r * c // w_out) AS contrib
        FROM edges JOIN outw USING (src) JOIN r0 ON r0.node = edges.src
        GROUP BY dst
    ), r1 AS (
        SELECT nodes.node,
               CAST(150000 // n + 850000 * coalesce(contrib, 0) // 1000000 AS BIGINT) AS r
        FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.node = nodes.node
    ), c2 AS (
        SELECT dst AS node, sum(r1.r * c // w_out) AS contrib
        FROM edges JOIN outw USING (src) JOIN r1 ON r1.node = edges.src
        GROUP BY dst
    ), r2 AS (
        SELECT nodes.node,
               CAST(150000 // n + 850000 * coalesce(contrib, 0) // 1000000 AS BIGINT) AS r
        FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.node = nodes.node
    )
    SELECT node AS event_type, r AS rank_ppm FROM r2 ORDER BY event_type
    """


def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH decile histogram of order values (complement of the
    equi-width order_value_histogram) via SAMPLED BOUNDARIES — the
    100-TB plan shape, no global ntile anywhere.

    The nine interior decile boundaries come from the deterministic
    md5-lottery sample (same lottery as approx_order_quantiles: both
    engines see the identical subset, and the interpolated percentile
    over integer cents is bit-identical cross-engine). Every order is
    then assigned ``bucket = 1 + #(boundaries strictly below its
    cents)`` from the broadcast single-row boundary array — a map-only
    expression. The plan is: lottery-filtered scan → tiny global
    percentile agg → broadcast → 10-group rollup; NO Window operator,
    no single-reducer sort of the fact. Per-bucket counts and cent
    extremes are exact for the chosen boundaries; bucket populations
    are equal to within sampling error ~1/sqrt(pn).

    The lottery ppm is ADAPTIVE (round-6 verdict #4): capped at
    _QSAMPLE_PPM but scaled inversely with the order count (one cached
    parquet-footer read — catalog.table_rows) so the single-reducer
    ``percentile`` sees ~_EQUI_DEPTH_TARGET rows at ANY scale: at 10×
    data the sample stays FLAT instead of growing 10×. The identical
    integer formula runs as a scalar subquery in the oracle, so both
    engines draw the same deterministic sample. At every test SF
    (n ≤ 150k) the formula saturates at _QSAMPLE_PPM — boundaries are
    unchanged from the fixed-ppm round-6 behavior there."""
    # spread (r13, guide §2.5): both branches' map work (the per-row
    # md5 lottery on the sample side, the decimal cents + bucket HOF on
    # the main side) sits upstream of the first exchange — single-task
    # on an under-split input. A/B alternating med-of-5: 1.72 → 1.42s
    # (ratio 0.82), checksums identical.
    o = spread_scan(load(spark, sf_dir, "orders"), spark, sf_dir,
                    "orders", "o_orderkey")
    n = table_rows(sf_dir, "orders")
    ppm = max(1, min(_QSAMPLE_PPM, (_EQUI_DEPTH_TARGET * 1_000_000) // n))
    cents = (dec2("o_totalprice") * 100).cast("bigint")
    vals = o.select("o_orderkey", cents.alias("cents"))
    qs = [i / 10 for i in range(1, 10)]
    bnds = vals.filter(_ppm_lottery("ed|", "o_orderkey") < ppm).agg(
        F.array(*[F.expr(f"percentile(cents, {q})") for q in qs]).alias("bnds")
    )
    return (
        vals.crossJoin(F.broadcast(bnds))
        .withColumn("bucket", F.expr("CAST(1 + size(filter(bnds, b -> cents > b)) AS INT)"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


def oracle_equi_depth_histogram() -> str:
    qlist = ", ".join(f"quantile_cont(cents, {i / 10})" for i in range(1, 10))
    return f"""
    WITH c AS (
        SELECT o_orderkey,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), b AS (
        -- adaptive ppm: same max/min/integer-division formula the Spark
        -- side computes from the cached footer count
        SELECT [{qlist}] AS bnds
        FROM c WHERE {_o_ppm_lottery('ed|', 'o_orderkey')}
             < greatest(1, least({_QSAMPLE_PPM},
                 CAST({_EQUI_DEPTH_TARGET} AS BIGINT) * 1000000
                   // (SELECT count(*) FROM orders)))
    ), tiled AS (
        SELECT cents, CAST(1 + len(list_filter(bnds, x -> cents > x)) AS INTEGER) AS bucket
        FROM c, b
    )
    SELECT bucket, count(*) AS n_orders,
           min(cents) AS lo_cents, max(cents) AS hi_cents
    FROM tiled GROUP BY bucket ORDER BY bucket
    """


def twap_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per event type over each
    user's irregular event timeline: a value holds from its event until
    the user's next event; TWAP = Σ value·duration div Σ duration.

    Irregular-time-series integration in exact integers: value → cents,
    hold duration → whole seconds (µs div 1e6), so the area sum stays
    far inside BIGINT even at 1000× data (~3e16). One hash(user)
    shuffle for the lead window; the rollup is event-type-sized."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = (dec2("value") * 100).cast("bigint")
    held = (
        e.withColumn("next_us", F.lead(F.unix_micros("ts")).over(w))
        .filter(F.col("next_us").isNotNull())
        .select(
            "event_type",
            cents.alias("cents"),
            F.expr("(next_us - unix_micros(ts)) div 1000000").alias("hold_s"),
        )
    )
    return (
        held.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("hold_s").cast("bigint").alias("total_secs"),
            F.expr("sum(cents * hold_s) div sum(hold_s)").cast("bigint").alias("twap_cents"),
        )
        .orderBy("event_type")
    )


def oracle_twap_event_value() -> str:
    return """
    WITH held AS (
        SELECT event_type,
               CAST(cast(value as decimal(12,2)) * 100 AS BIGINT) AS cents,
               (lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                - epoch_us(ts)) // 1000000 AS hold_s
        FROM events
        QUALIFY hold_s IS NOT NULL
    )
    SELECT event_type,
           count(*) AS n_intervals,
           CAST(sum(hold_s) AS BIGINT) AS total_secs,
           CAST(sum(cents * hold_s) // sum(hold_s) AS BIGINT) AS twap_cents
    FROM held GROUP BY event_type ORDER BY event_type
    """


def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY: the global distinct-user estimate computed by
    merging the per-event-type KMV sketches — union the kept-hash sets,
    re-take the bottom k — without ever rescanning the corpus.

    This is the property that makes sketches viable at 100 TB: per-group
    (or per-partition, or per-day) sketches are tiny (≤k hashes), and any
    rollup level is a re-fold of sketch state, exactly like production
    theta/KMV sketch libraries. The '_ALL_' row here is derived purely
    from the per-type sketches; the oracle mirrors the same two-level
    fold, so the merge semantics themselves are hash-verified."""
    from northwind_warehouse_spark.operators import sketch

    e = load(spark, sf_dir, "events")
    hashes = sketch.kmv_hashes(e, "user_id", ["event_type"])
    kept = sketch.kmv_bottom_k(hashes, ["event_type"], k=_KMV_K).persist()
    per_type = sketch.kmv_estimate(kept, ["event_type"], k=_KMV_K)
    merged = sketch.kmv_bottom_k(kept.select(F.lit("_ALL_").alias("event_type"), "h"),
                                 ["event_type"], k=_KMV_K)
    overall = sketch.kmv_estimate(merged, ["event_type"], k=_KMV_K)
    return per_type.unionByName(overall).withColumnRenamed(
        "approx_distinct", "approx_users"
    ).orderBy("event_type")


def oracle_sketch_distinct_rollup() -> str:
    return f"""
    WITH hashes AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        FROM events
    ), kept AS (
        SELECT event_type, h FROM (
            SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
            FROM hashes
        ) WHERE rk <= {_KMV_K}
    ), merged AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rk
            FROM (SELECT DISTINCT h FROM kept)
        ) WHERE rk <= {_KMV_K}
    ), per_type AS (
        SELECT event_type, count(*) AS n, max(h) AS hk FROM kept GROUP BY event_type
    ), overall AS (
        SELECT '_ALL_' AS event_type, count(*) AS n, max(h) AS hk FROM merged
    )
    SELECT event_type,
           CAST(CASE WHEN n < {_KMV_K} THEN n
                     ELSE ({_KMV_K} - 1) * 4294967296 // hk END AS BIGINT) AS approx_users
    FROM (SELECT * FROM per_type UNION ALL SELECT * FROM overall)
    ORDER BY event_type
    """


def fuzzy_part_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: near-identical part names matched by
    edit distance within a blocking key.

    The classic record-linkage shape: block on a cheap stable key (the
    name's final token) so candidate pairs stay per-block-bounded — never
    the n² cross product — then score candidates with levenshtein (unit
    costs; identical algorithm in Spark and DuckDB, so distances
    hash-match). Names, not keys, deduplicate dirty dimension feeds —
    the fuzzy counterpart of the reference's row_hash exact change
    detection (models/staging/* surrogate keys)."""
    p = load(spark, sf_dir, "part").select("p_name").distinct()
    names = p.withColumn("block", F.element_at(F.split("p_name", " "), -1))
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.p_name") < F.col("b.p_name")))
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 3)
        .orderBy("name_a", "name_b")
    )


def oracle_fuzzy_part_matches() -> str:
    return """
    WITH names AS (
        SELECT DISTINCT p_name,
               list_extract(string_split(p_name, ' '), -1) AS block
        FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """


def gaps_islands_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each customer's longest streak of consecutive
    ordering months, rolled up to a streak-length histogram.

    The canonical islands trick (month_index - row_number = island id)
    runs on the DISTINCT (customer, month) grain — orders collapse
    map-side first, and every window partitions by customer, so the
    sorted object is per-customer months, never the fact. The histogram
    rollup is dim-sized."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("bigint").alias("ym"),
    )
    months = o.distinct()
    w = Window.partitionBy("o_custkey").orderBy("ym")
    streaks = (
        months.withColumn("isl", F.col("ym") - F.row_number().over(w))
        .groupBy("o_custkey", "isl")
        .agg(F.count(F.lit(1)).alias("streak_len"))
        .groupBy("o_custkey")
        .agg(F.max("streak_len").alias("longest_streak"))
    )
    return (
        streaks.groupBy("longest_streak")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("longest_streak")
    )


def oracle_gaps_islands_orders() -> str:
    return """
    WITH months AS (
        SELECT DISTINCT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym
        FROM orders
    ), isl AS (
        SELECT o_custkey,
               ym - row_number() OVER (PARTITION BY o_custkey ORDER BY ym) AS isl
        FROM months
    ), streaks AS (
        SELECT o_custkey, count(*) AS streak_len FROM isl GROUP BY o_custkey, isl
    ), longest AS (
        SELECT o_custkey, max(streak_len) AS longest_streak FROM streaks GROUP BY o_custkey
    )
    SELECT longest_streak, count(*) AS n_customers
    FROM longest GROUP BY longest_streak ORDER BY longest_streak
    """


def revenue_alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact largest-remainder allocation: each order's header total is
    allocated to its lines proportionally to quantity so the per-line
    cents sum back to the header EXACTLY (the Kimball bridge-allocation
    problem; naive proportional rounding drifts by ±n_lines cents).

    Floor division distributes target*qty div total_qty, then the cent
    deficit goes to the largest remainders (ties to the lowest line
    number). All integer arithmetic; both windows share the one
    hash(orderkey) partitioning the join already created. Output is the
    (returnflag, linestatus)-grain rollup of the allocated cents — which
    equals the header-total rollup only because the per-order invariant
    holds."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", (dec2("o_totalprice") * 100).cast("bigint").alias("target")
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        dec2("l_quantity").cast("bigint").alias("qty"),
    )
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    wtot = Window.partitionBy("l_orderkey")
    wrk = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rem"), F.col("l_linenumber")
    )
    alloc = (
        j.withColumn("total_qty", F.sum("qty").over(wtot))
        .withColumn("base", F.expr("target * qty div total_qty"))
        .withColumn("rem", F.expr("(target * qty) % total_qty"))
        .withColumn("deficit", F.col("target") - F.sum("base").over(wtot))
        .withColumn("rn", F.row_number().over(wrk))
        .withColumn(
            "alloc_cents", F.col("base") + (F.col("rn") <= F.col("deficit")).cast("bigint")
        )
    )
    return (
        alloc.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("alloc_cents").cast("bigint").alias("alloc_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def oracle_revenue_alloc_largest_remainder() -> str:
    return """
    WITH j AS (
        SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS qty,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS target
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), t AS (
        SELECT *,
               sum(qty) OVER (PARTITION BY l_orderkey) AS total_qty
        FROM j
    ), b AS (
        SELECT *,
               target * qty // total_qty AS base,
               (target * qty) % total_qty AS rem
        FROM t
    ), d AS (
        SELECT *,
               target - sum(base) OVER (PARTITION BY l_orderkey) AS deficit,
               row_number() OVER (PARTITION BY l_orderkey ORDER BY rem DESC, l_linenumber) AS rn
        FROM b
    )
    SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
           CAST(sum(base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END) AS BIGINT) AS alloc_cents
    FROM d GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per order priority: median absolute
    deviation (MAD) of the order total, flagging orders beyond 3 MADs.

    Doubled/quadrupled integer units keep every comparison exact: the
    interpolated median of cent integers lands on halves, so med_x2 =
    2*median and mad_x4 = 4*MAD are integers, and the outlier test
    2*|2*cents - med_x2| > 3*mad_x4 is pure BIGINT. Two priority-grain
    aggregates broadcast back — the fact shuffles once per pass, the
    sorted objects are 5-row tables."""
    # spread (r13): the decimal-cents projection feeds three passes
    # (median, deviation, final rollup) off the single-task scan. A/B
    # twice, alternating med-of-5/4: ratio 0.89 both runs
    # (1.17 → 1.05s; 1.18 → 1.05s), checksums identical.
    o = spread_scan(load(spark, sf_dir, "orders"), spark, sf_dir,
                    "orders", "o_orderkey").select(
        "o_orderpriority", (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    med = o.groupBy("o_orderpriority").agg(
        (F.expr("percentile(cents, 0.5)") * 2).cast("bigint").alias("med_x2")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").withColumn(
        "d2", F.abs(2 * F.col("cents") - F.col("med_x2"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        (F.expr("percentile(d2, 0.5)") * 2).cast("bigint").alias("mad_x4")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("med_x2").alias("med_x2"),
            F.max("mad_x4").alias("mad_x4"),
            F.sum((2 * F.col("d2") > 3 * F.col("mad_x4")).cast("bigint")).alias("n_outliers"),
        )
        .orderBy("o_orderpriority")
    )


def oracle_mad_outlier_orders() -> str:
    return """
    WITH o AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), med AS (
        SELECT o_orderpriority, CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS med_x2
        FROM o GROUP BY o_orderpriority
    ), dev AS (
        SELECT o.o_orderpriority, cents, med_x2, abs(2 * cents - med_x2) AS d2
        FROM o JOIN med USING (o_orderpriority)
    ), mad AS (
        SELECT o_orderpriority, CAST(quantile_cont(d2, 0.5) * 2 AS BIGINT) AS mad_x4
        FROM dev GROUP BY o_orderpriority
    )
    SELECT dev.o_orderpriority, count(*) AS n_orders,
           max(med_x2) AS med_x2, max(mad_x4) AS mad_x4,
           CAST(sum(CASE WHEN 2 * d2 > 3 * mad_x4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (o_orderpriority)
    GROUP BY dev.o_orderpriority ORDER BY dev.o_orderpriority
    """


_BLOOM_WORD_BITS = 60  # bits per word — 1<<59 max keeps the shift signed-safe in both engines
_BLOOM_WORDS = 68
_BLOOM_BITS = _BLOOM_WORD_BITS * _BLOOM_WORDS  # 4080


def bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pre-filter, audited: build a 4096-bit /
    2-hash Bloom filter over a selective dimension key set (BUILDING-
    segment customers), probe every order against it BEFORE the join,
    and report the exact pass/true-match/false-positive accounting —
    the portable re-expression of Spark's runtime row-level filtering
    (InjectRuntimeFilter's bloom pushdown), which at 100 TB means the
    big fact is pre-filtered at the scan instead of shuffling rows that
    the join will drop.

    The filter itself is a ≤64-row (word_idx, bits) table — built with
    one tiny aggregation over the dim keys, broadcast to the probe side
    and checked with pure bit arithmetic. No false negatives by
    construction (asserted in the output: n_false_neg); the
    false-positive rate among true non-members is exact ppm."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )

    def pos(tag: str, key: str) -> F.Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(tag), F.col(key).cast("string"))), 1, 8), 16, 10)
            .cast("long") % _BLOOM_BITS
        )

    kb = c.select(
        F.explode(F.array(pos("b1|", "c_custkey"), pos("b2|", "c_custkey"))).alias("p")
    ).select(
        (F.col("p") / _BLOOM_WORD_BITS).cast("long").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD_BITS} AS INT))").alias("bit"),
    )
    words = kb.groupBy("word_idx").agg(F.bit_or("bit").alias("bits"))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        pos("b1|", "o_custkey").alias("p1"),
        pos("b2|", "o_custkey").alias("p2"),
    )
    w1 = words.select(F.col("word_idx").alias("w1"), F.col("bits").alias("bits1"))
    w2 = words.select(F.col("word_idx").alias("w2"), F.col("bits").alias("bits2"))
    checked = (
        probe.join(F.broadcast(w1), (F.col("p1") / _BLOOM_WORD_BITS).cast("long") == F.col("w1"), "left")
        .join(F.broadcast(w2), (F.col("p2") / _BLOOM_WORD_BITS).cast("long") == F.col("w2"), "left")
        .select(
            "o_orderkey",
            "o_custkey",
            (
                F.expr(f"(shiftright(coalesce(bits1, CAST(0 AS BIGINT)), CAST(p1 % {_BLOOM_WORD_BITS} AS INT)) & 1) = 1")
                & F.expr(f"(shiftright(coalesce(bits2, CAST(0 AS BIGINT)), CAST(p2 % {_BLOOM_WORD_BITS} AS INT)) & 1) = 1")
            ).alias("bloom_pass"),
        )
    )
    truth = checked.join(
        maybe_broadcast(c.withColumn("is_member", F.lit(1))),
        checked.o_custkey == F.col("c_custkey"),
        "left",
    ).select("o_orderkey", "bloom_pass", F.coalesce("is_member", F.lit(0)).alias("is_member"))
    return truth.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("bloom_pass").cast("bigint")).alias("n_pass_bloom"),
        F.sum("is_member").cast("bigint").alias("n_true_match"),
        F.sum(((~F.col("bloom_pass")) & (F.col("is_member") == 1)).cast("bigint")).alias("n_false_neg"),
        F.sum((F.col("bloom_pass") & (F.col("is_member") == 0)).cast("bigint")).alias("n_false_pos"),
    ).select(
        "n_probe",
        "n_pass_bloom",
        "n_true_match",
        "n_false_neg",
        "n_false_pos",
        F.expr(
            "CASE WHEN n_probe = n_true_match THEN 0 "
            "ELSE 1000000 * n_false_pos div (n_probe - n_true_match) END"
        ).alias("fp_ppm"),
    )


def oracle_bloom_prefilter_audit() -> str:
    def pos(tag: str, key: str) -> str:
        return (
            f"CAST(('0x' || substr(md5('{tag}' || CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT)"
            f" % {_BLOOM_BITS}"
        )

    wb = _BLOOM_WORD_BITS
    return f"""
    WITH keys AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), kb AS (
        SELECT p // {wb} AS word_idx, (CAST(1 AS BIGINT) << CAST(p % {wb} AS INT)) AS bit
        FROM (
            SELECT unnest([{pos('b1|', 'c_custkey')}, {pos('b2|', 'c_custkey')}]) AS p
            FROM keys
        )
    ), words AS (
        SELECT word_idx, bit_or(bit) AS bits FROM kb GROUP BY word_idx
    ), probe AS (
        SELECT o_orderkey, o_custkey,
               {pos('b1|', 'o_custkey')} AS p1,
               {pos('b2|', 'o_custkey')} AS p2
        FROM orders
    ), checked AS (
        SELECT o_orderkey, o_custkey,
               ((coalesce(w1.bits, 0) >> CAST(p1 % {wb} AS INT)) & 1) = 1
               AND ((coalesce(w2.bits, 0) >> CAST(p2 % {wb} AS INT)) & 1) = 1 AS bloom_pass
        FROM probe
        LEFT JOIN words w1 ON p1 // {wb} = w1.word_idx
        LEFT JOIN words w2 ON p2 // {wb} = w2.word_idx
    ), truth AS (
        SELECT o_orderkey, bloom_pass,
               CASE WHEN k.c_custkey IS NULL THEN 0 ELSE 1 END AS is_member
        FROM checked LEFT JOIN keys k ON checked.o_custkey = k.c_custkey
    ), agg AS (
        SELECT count(*) AS n_probe,
               CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
               CAST(sum(is_member) AS BIGINT) AS n_true_match,
               CAST(sum(CASE WHEN NOT bloom_pass AND is_member = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_neg,
               CAST(sum(CASE WHEN bloom_pass AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos
        FROM truth
    )
    SELECT n_probe, n_pass_bloom, n_true_match, n_false_neg, n_false_pos,
           CASE WHEN n_probe = n_true_match THEN 0
                ELSE 1000000 * n_false_pos // (n_probe - n_true_match) END AS fp_ppm
    FROM agg
    """


_ATTR_WINDOW_US = 3_600_000_000  # 1h attribution lookback, microseconds


def attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution, three models side by side: for every
    purchase, the click/view touches in the hour before it are credited
    last-touch (1 to the latest), first-touch (1 to the earliest), and
    linear (1e6 div n_touches ppm each) — the comparison table that
    shows how much each model shifts credit between channels.

    One user-co-partitioned interval join builds the touch set (never a
    time cross-join), and all three models run in the SAME
    purchase-partitioned window pass — the ranks and the count share one
    exchange. Credits are exact integers (ties: event_id)."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_event_id"),
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("touch_ts"),
    )
    p, t = purchases.alias("p"), touches.alias("t")
    j = p.join(
        t,
        (F.col("p.user_id") == F.col("t.user_id"))
        & (F.unix_micros("t.touch_ts") <= F.unix_micros("p.purchase_ts"))
        & (F.unix_micros("t.touch_ts") >= F.unix_micros("p.purchase_ts") - F.lit(_ATTR_WINDOW_US)),
    ).select("purchase_event_id", "channel", "touch_event_id", "touch_ts")
    wp = Window.partitionBy("purchase_event_id")
    ranked = (
        j.withColumn(
            "rn_last",
            F.row_number().over(wp.orderBy(F.desc("touch_ts"), F.desc("touch_event_id"))),
        )
        .withColumn(
            "rn_first",
            F.row_number().over(wp.orderBy(F.col("touch_ts"), F.col("touch_event_id"))),
        )
        .withColumn("n_touches", F.count(F.lit(1)).over(wp))
    )
    return (
        ranked.groupBy("channel")
        .agg(
            F.sum((F.col("rn_last") == 1).cast("bigint")).alias("last_touch_credits"),
            F.sum((F.col("rn_first") == 1).cast("bigint")).alias("first_touch_credits"),
            F.sum(F.expr("1000000 div n_touches")).alias("linear_credit_ppm"),
            F.count(F.lit(1)).alias("n_touches_total"),
        )
        .orderBy("channel")
    )


def oracle_attribution_models() -> str:
    return f"""
    WITH purchases AS (
        SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), touches AS (
        SELECT event_id AS touch_event_id, user_id, event_type AS channel, ts AS touch_ts
        FROM events WHERE event_type IN ('click', 'view')
    ), j AS (
        SELECT purchase_event_id, channel, touch_event_id, touch_ts
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id
         AND epoch_us(t.touch_ts) <= epoch_us(p.purchase_ts)
         AND epoch_us(t.touch_ts) >= epoch_us(p.purchase_ts) - {_ATTR_WINDOW_US}
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY purchase_event_id
                                  ORDER BY touch_ts DESC, touch_event_id DESC) AS rn_last,
               row_number() OVER (PARTITION BY purchase_event_id
                                  ORDER BY touch_ts, touch_event_id) AS rn_first,
               count(*) OVER (PARTITION BY purchase_event_id) AS n_touches
        FROM j
    )
    SELECT channel,
           CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch_credits,
           CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch_credits,
           CAST(sum(1000000 // n_touches) AS BIGINT) AS linear_credit_ppm,
           count(*) AS n_touches_total
    FROM ranked GROUP BY channel ORDER BY channel
    """


_DEBOUNCE_US = 3_600_000_000  # 1h burst-collapse threshold


def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time debouncing: collapse bursts by keeping only events
    whose previous event of the same (user, type) is more than an hour
    older (or absent) — the telemetry dedup that turns retry storms and
    double-fires into one logical action.

    One lag window on the (user_id, event_type) partitioning; reported
    as per-type kept/total accounting in exact ppm. The same rule
    streams with applyInPandasWithState keyed the same way."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "kept",
        (
            F.col("prev_ts").isNull()
            | (F.unix_micros("ts") - F.unix_micros("prev_ts") > F.lit(_DEBOUNCE_US))
        ).cast("bigint"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("kept").alias("n_kept"),
        )
        .select(
            "event_type",
            "n_events",
            "n_kept",
            F.expr("1000000 * n_kept div n_events").alias("kept_ppm"),
        )
        .orderBy("event_type")
    )


def oracle_events_debounce() -> str:
    return f"""
    WITH flagged AS (
        SELECT event_type,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
                         IS NULL THEN 1
                    WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id)) > {_DEBOUNCE_US} THEN 1
                    ELSE 0 END AS kept
        FROM events
    )
    SELECT event_type, count(*) AS n_events,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           1000000 * CAST(sum(kept) AS BIGINT) // count(*) AS kept_ppm
    FROM flagged GROUP BY event_type ORDER BY event_type
    """


def revenue_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: exact least-squares slope of monthly
    revenue over the month index, plus the Pearson correlation — trend
    detection as closed-form integer algebra instead of an ML library.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) published in exact
    micro-cents-per-month via the sign-split DECIMAL(38,0) division
    (numerator can be negative; both engines truncate non-negative
    dividends identically). corr divides the same integer moments in
    IEEE double (sqrt is correctly rounded in both engines — the
    cosine_from_parts discipline). The fact collapses to nation×month
    grain first; the regression runs on ≤ |nations|·|months| rows."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1 - 1995 * 12)
            .cast("bigint")
            .alias("x"),
            (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("n_name", "x")
        .agg(F.sum("cents").alias("y"))
    )
    moments = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").alias("syy"),
    )
    return (
        moments.select(
            "n_name",
            "n",
            F.expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))").alias("num"),
            F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("den_x"),
            F.expr("CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))").alias("den_y"),
        )
        .select(
            "n_name",
            "n",
            F.expr(
                """CASE WHEN num >= 0
                        THEN CAST(num * 1000000 div den_x AS BIGINT)
                        ELSE -CAST((-num) * 1000000 div den_x AS BIGINT) END"""
            ).alias("slope_microcents_per_month"),
            F.expr(
                "CAST(num AS DOUBLE) / sqrt(CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE))"
            ).alias("corr"),
        )
        .orderBy("n_name")
    )


def oracle_revenue_trend_slope() -> str:
    return """
    WITH monthly AS (
        SELECT n_name,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 - 1995 * 12 AS BIGINT) AS x,
               CAST(sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, x
    ), moments AS (
        SELECT n_name, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM monthly GROUP BY n_name
    ), parts AS (
        SELECT n_name, n,
               CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS HUGEINT) AS num,
               CAST(n * sxx - sx * sx AS HUGEINT) AS den_x,
               CAST(n * syy - CAST(sy AS HUGEINT) * sy AS HUGEINT) AS den_y
        FROM moments
    )
    SELECT n_name, n,
           CASE WHEN num >= 0
                THEN CAST(num * 1000000 // den_x AS BIGINT)
                ELSE -CAST((-num) * 1000000 // den_x AS BIGINT) END
               AS slope_microcents_per_month,
           CAST(num AS DOUBLE) / sqrt(CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)) AS corr
    FROM parts ORDER BY n_name
    """


_AGING_REF = "1998-08-02"  # reporting date for the aging buckets


def order_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic aging report: OPEN orders bucketed by how overdue they
    are at the reporting date (0-29 / 30-59 / 60-89 / 90+ days), with
    order counts and exact open cents per (bucket, priority) — the
    receivables-aging pattern every finance mart ships.

    Map-only bucketing (integer day arithmetic) + one tiny aggregate;
    the status filter pushes to the scan."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    age = F.datediff(F.lit(_AGING_REF).cast("date"), F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(age < 30, "0-29")
        .when(age < 60, "30-59")
        .when(age < 90, "60-89")
        .otherwise("90+")
    )
    return (
        o.select(
            bucket.alias("age_bucket"),
            "o_orderpriority",
            (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("age_bucket", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("bigint").alias("open_cents"),
        )
        .orderBy("age_bucket", "o_orderpriority")
    )


def oracle_order_aging_report() -> str:
    return f"""
    WITH aged AS (
        SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '{_AGING_REF}') < 30 THEN '0-29'
                    WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '{_AGING_REF}') < 60 THEN '30-59'
                    WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '{_AGING_REF}') < 90 THEN '60-89'
                    ELSE '90+' END AS age_bucket,
               o_orderpriority,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT age_bucket, o_orderpriority, count(*) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS open_cents
    FROM aged GROUP BY age_bucket, o_orderpriority
    ORDER BY age_bucket, o_orderpriority
    """


_KMV_OVERLAP_K = 64  # small k so the estimator path (not the exact-below-k path) is exercised


def kmv_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from KMV sketches: for every pair of
    event types, the estimated distinct-user union, intersection, and
    Jaccard — computed ONLY from the two bottom-k sketches (theta-sketch
    style set operations), never a second scan of the corpus.

    The pair sketch is the bottom-k of the merged kept-hash sets; the
    intersection estimate is n_common·est_union div k' (exact when the
    union fits inside k). All integer arithmetic over deterministic md5
    hashes — fully oracle-checkable, unlike HLL register merges. At
    fleet scale each executor ships ≤k hashes per group and the pair
    algebra runs on sketch-sized data."""
    from northwind_warehouse_spark.operators import sketch

    e = load(spark, sf_dir, "events")
    kept = sketch.kmv_bottom_k(
        sketch.kmv_hashes(e, "user_id", ["event_type"]), ["event_type"], k=_KMV_OVERLAP_K
    ).persist()  # read by the pair-union build AND the two membership joins
    types = kept.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    u = (
        pairs.join(kept, F.col("event_type").isin(F.col("type_a"), F.col("type_b")))
        .select("type_a", "type_b", "h")
        .distinct()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("type_a", "type_b").orderBy("h")
    ranked = u.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _KMV_OVERLAP_K)
    ka = kept.select(F.col("event_type").alias("type_a"), "h", F.lit(1).alias("in_a"))
    kb = kept.select(F.col("event_type").alias("type_b"), "h", F.lit(1).alias("in_b"))
    flagged = (
        ranked.join(ka, ["type_a", "h"], "left")
        .join(kb, ["type_b", "h"], "left")
        .select(
            "type_a", "type_b", "h",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
    )
    agg = flagged.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("k_eff"),
        F.max("h").alias("hk"),
        F.sum(F.expr("in_a * in_b")).cast("bigint").alias("n_common"),
    )
    return (
        agg.withColumn(
            "est_union",
            F.when(F.col("k_eff") < _KMV_OVERLAP_K, F.col("k_eff"))
            .otherwise(F.expr(f"({_KMV_OVERLAP_K} - 1) * 4294967296 div hk"))
            .cast("bigint"),
        )
        .withColumn("est_intersection", F.expr("n_common * est_union div k_eff"))
        .withColumn("jaccard_ppm", F.expr("1000000 * n_common div k_eff"))
        .select(
            "type_a", "type_b", "k_eff", "n_common",
            "est_union", "est_intersection", "jaccard_ppm",
        )
        .orderBy("type_a", "type_b")
    )


def oracle_kmv_overlap_estimate() -> str:
    return f"""
    WITH hashes AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        FROM events
    ), kept AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
            FROM hashes
        ) WHERE rk <= {_KMV_OVERLAP_K}
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM (SELECT DISTINCT event_type FROM kept) a
        JOIN (SELECT DISTINCT event_type FROM kept) b ON a.event_type < b.event_type
    ), u AS (
        SELECT DISTINCT p.type_a, p.type_b, k.h
        FROM pairs p JOIN kept k ON k.event_type IN (p.type_a, p.type_b)
    ), ranked AS (
        SELECT type_a, type_b, h FROM (
            SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk
            FROM u
        ) WHERE rk <= {_KMV_OVERLAP_K}
    ), flagged AS (
        SELECT r.type_a, r.type_b, r.h,
               CASE WHEN ka.h IS NULL THEN 0 ELSE 1 END AS in_a,
               CASE WHEN kb.h IS NULL THEN 0 ELSE 1 END AS in_b
        FROM ranked r
        LEFT JOIN kept ka ON ka.event_type = r.type_a AND ka.h = r.h
        LEFT JOIN kept kb ON kb.event_type = r.type_b AND kb.h = r.h
    ), agg AS (
        SELECT type_a, type_b, count(*) AS k_eff, max(h) AS hk,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_common
        FROM flagged GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, k_eff, n_common,
           CAST(CASE WHEN k_eff < {_KMV_OVERLAP_K} THEN k_eff
                     ELSE ({_KMV_OVERLAP_K} - 1) * 4294967296 // hk END AS BIGINT) AS est_union,
           CAST(n_common * (CASE WHEN k_eff < {_KMV_OVERLAP_K} THEN k_eff
                     ELSE ({_KMV_OVERLAP_K} - 1) * 4294967296 // hk END) // k_eff AS BIGINT)
               AS est_intersection,
           1000000 * n_common // k_eff AS jaccard_ppm
    FROM agg ORDER BY type_a, type_b
    """


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via Spark's NATIVE session_window primitive — the
    same 30-minute rule events_sessionize builds from lag+cumsum,
    expressed as the engine-level session aggregation (one groupBy, no
    explicit window pass; in Structured Streaming the identical
    expression maintains session state with watermark expiry).

    The DuckDB oracle restates the semantics independently with the
    classic gap algorithm — including session_window's convention that
    a session's end is last_event + gap — so the native primitive is
    cross-checked against the textbook construction."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


def oracle_events_session_window() -> str:
    return """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """


def segment_priority_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit between customer market segment and
    order priority — the statistical test behind "does attribute A
    drive attribute B", with the statistic defined entirely in integer
    arithmetic so both engines agree bit-for-bit: per cell,
    (O·n − rowtot·coltot)² div (n·rowtot·coltot), summed in micro-units.

    One contingency aggregation (cells = segments × priorities, tiny),
    marginals via windows over the cell table — the fact is shuffled
    once."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    wr = Window.partitionBy("c_mktsegment")
    wc = Window.partitionBy("o_orderpriority")
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    contrib = (
        cells.withColumn("row_tot", F.sum("obs").over(wr))
        .withColumn("col_tot", F.sum("obs").over(wc))
        .withColumn("n", F.sum("obs").over(wt))
        .withColumn(
            "cell_chi2_micro",
            F.expr(
                """CAST(1000000 * CAST(obs * n - row_tot * col_tot AS DECIMAL(38,0))
                        * (obs * n - row_tot * col_tot)
                        div (CAST(n AS DECIMAL(38,0)) * row_tot * col_tot) AS BIGINT)"""
            ),
        )
    )
    return (
        contrib.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("cell_chi2_micro").cast("bigint").alias("chi2_micro"),
            F.count_distinct("c_mktsegment").alias("n_segments"),
            F.count_distinct("o_orderpriority").alias("n_priorities"),
        )
        .withColumn("dof", F.expr("(n_segments - 1) * (n_priorities - 1)"))
        .select("n_cells", "n_segments", "n_priorities", "dof", "chi2_micro")
    )


def oracle_segment_priority_chi2() -> str:
    return """
    WITH cells AS (
        SELECT c_mktsegment, o_orderpriority, count(*) AS obs
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_orderpriority
    ), m AS (
        SELECT *,
               sum(obs) OVER (PARTITION BY c_mktsegment) AS row_tot,
               sum(obs) OVER (PARTITION BY o_orderpriority) AS col_tot,
               sum(obs) OVER () AS n
        FROM cells
    ), contrib AS (
        SELECT c_mktsegment, o_orderpriority,
               CAST(1000000 * CAST(obs * n - row_tot * col_tot AS HUGEINT)
                    * (obs * n - row_tot * col_tot)
                    // (CAST(n AS HUGEINT) * row_tot * col_tot) AS BIGINT) AS cell_chi2_micro
        FROM m
    )
    SELECT count(*) AS n_cells,
           CAST((SELECT count(DISTINCT c_mktsegment) FROM cells) AS BIGINT) AS n_segments,
           CAST((SELECT count(DISTINCT o_orderpriority) FROM cells) AS BIGINT) AS n_priorities,
           CAST(((SELECT count(DISTINCT c_mktsegment) FROM cells) - 1)
                * ((SELECT count(DISTINCT o_orderpriority) FROM cells) - 1) AS BIGINT) AS dof,
           CAST(sum(cell_chi2_micro) AS BIGINT) AS chi2_micro
    FROM contrib
    """


def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration metrics per region: the Herfindahl index
    (sum of squared nation revenue shares) and the complementary Gini
    impurity, both in exact ppm — the antitrust-style concentration
    audit a market-share mart reports next to q8-style shares.

    The fact collapses to nation grain first; shares square inside
    DECIMAL(38,0) so the ppm² products never overflow."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum((dec2("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    w = Window.partitionBy("r_name")
    shared = per_nation.withColumn("region_cents", F.sum("cents").over(w)).withColumn(
        "share_ppm", F.expr("1000000 * cents div region_cents")
    )
    return (
        shared.groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum(F.expr("CAST(share_ppm AS DECIMAL(38,0)) * share_ppm div 1000000"))
            .cast("bigint")
            .alias("hhi_ppm"),
        )
        .withColumn("gini_impurity_ppm", F.expr("1000000 - hhi_ppm"))
        .select("r_name", "n_nations", "hhi_ppm", "gini_impurity_ppm")
        .orderBy("r_name")
    )


def oracle_market_concentration_hhi() -> str:
    return """
    WITH per_nation AS (
        SELECT r_name, n_name,
               CAST(sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    ), shared AS (
        SELECT r_name,
               1000000 * cents // sum(cents) OVER (PARTITION BY r_name) AS share_ppm
        FROM per_nation
    ), agg AS (
        SELECT r_name, count(*) AS n_nations,
               CAST(sum(CAST(share_ppm AS HUGEINT) * share_ppm // 1000000) AS BIGINT) AS hhi_ppm
        FROM shared GROUP BY r_name
    )
    SELECT r_name, n_nations, hhi_ppm, 1000000 - hhi_ppm AS gini_impurity_ppm
    FROM agg ORDER BY r_name
    """


def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order backlog: how many orders were open (placed but not
    yet first-shipped) on each day — the concurrent-intervals counting
    pattern (+1 at open, -1 at close, running sum over the event
    deltas), which also answers peak-concurrency questions without ever
    joining intervals to a calendar spine.

    The fact collapses to day-grain deltas first (one shuffle with
    map-side combine); the cumulative runs over ~|days| rows — a
    dim-sized sort at any fact scale. Orders with no lines never close
    (stay in the backlog); the close day is the FIRST ship date."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    opens = o.select(F.col("o_orderdate").cast("date").alias("d"), F.lit(1).alias("delta"))
    closes = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("first_ship").cast("date").alias("d"), F.lit(-1).alias("delta"))
    )
    daily = opens.unionByName(closes).groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d")
    return (
        daily.withColumn("backlog", F.sum("net").over(w).cast("bigint"))
        .select("d", F.col("net").cast("bigint").alias("net"), "backlog")
        .orderBy("d")
    )


def oracle_order_backlog_daily() -> str:
    return """
    WITH first_ship AS (
        SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY l_orderkey
    ), deltas AS (
        SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
        UNION ALL
        SELECT CAST(first_ship AS DATE) AS d, -1 AS delta
        FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    ), daily AS (
        SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY d
    )
    SELECT d, net,
           CAST(sum(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
    FROM daily ORDER BY d
    """


_FUNNEL_WINDOW_US = 86_400_000_000  # each step must follow within 24h


def events_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel: view → click → purchase where each step
    must occur WITHIN 24 HOURS of the previous step's completion — the
    product-analytics variant that distinguishes a real conversion
    journey from coincidental events weeks apart (the unbounded
    events_funnel over-counts those).

    Same chained min-aggregate shape as the unbounded funnel — three
    passes on one hash(user_id) partitioning, the step deadline is just
    an extra join-level predicate — so the bounded semantics cost no
    extra shuffle."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.unix_micros("ts") >= F.unix_micros("t1"))
            & (F.unix_micros("ts") <= F.unix_micros("t1") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.unix_micros("ts") >= F.unix_micros("t2"))
            & (F.unix_micros("ts") <= F.unix_micros("t2") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    counts = [
        s1.agg(F.count(F.lit(1)).alias("n")).select(F.lit(1).alias("step"), F.lit("view").alias("step_name"), "n"),
        s2.agg(F.count(F.lit(1)).alias("n")).select(F.lit(2).alias("step"), F.lit("click_24h").alias("step_name"), "n"),
        s3.agg(F.count(F.lit(1)).alias("n")).select(F.lit(3).alias("step"), F.lit("purchase_24h").alias("step_name"), "n"),
    ]
    out = counts[0].unionByName(counts[1]).unionByName(counts[2])
    from pyspark.sql.window import Window

    w = Window.orderBy("step")
    return (
        out.withColumn("n_users", F.col("n").cast("bigint"))
        .withColumn("prev_n", F.lag("n").over(w))
        .withColumn(
            "conv_from_prev_ppm",
            F.when(
                F.col("prev_n").isNotNull(),
                F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div prev_n AS BIGINT)"),
            ).otherwise(F.lit(1000000).cast("bigint")),
        )
        .select("step", "step_name", "n_users", "conv_from_prev_ppm")
        .orderBy("step")
    )


def oracle_events_funnel_timebound() -> str:
    return f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) >= epoch_us(s1.t1)
          AND epoch_us(e.ts) <= epoch_us(s1.t1) + {_FUNNEL_WINDOW_US}
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) >= epoch_us(s2.t2)
          AND epoch_us(e.ts) <= epoch_us(s2.t2) + {_FUNNEL_WINDOW_US}
        GROUP BY e.user_id
    ), counts AS (
        SELECT 1 AS step, 'view' AS step_name, count(*) AS n FROM s1
        UNION ALL SELECT 2, 'click_24h', count(*) FROM s2
        UNION ALL SELECT 3, 'purchase_24h', count(*) FROM s3
    )
    SELECT step, step_name, CAST(n AS BIGINT) AS n_users,
           CAST(CASE WHEN lag(n) OVER (ORDER BY step) IS NULL THEN 1000000
                     ELSE CAST(n AS HUGEINT) * 1000000 // lag(n) OVER (ORDER BY step)
                END AS BIGINT) AS conv_from_prev_ppm
    FROM counts ORDER BY step
    """


def customer_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active month's customers classified as
    NEW (first-ever month), RETAINED (also active the previous month),
    or RESURRECTED (active before, but not last month) — plus the
    CHURNED count (active last month, absent this month). The
    month-over-month engine-room chart every subscription/commerce
    dashboard leads with.

    One distinct to (customer, month) grain, then lag + first-month
    windows on the customer partitioning; the classification rollup is
    month-sized. Churn is counted against the month AFTER the last
    active one via the same lead window — no self-join of month sets."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("bigint").alias("ym"),
    )
    months = o.distinct()
    w = Window.partitionBy("o_custkey").orderBy("ym")
    flagged = (
        months.withColumn("first_ym", F.min("ym").over(Window.partitionBy("o_custkey")))
        .withColumn("prev_ym", F.lag("ym").over(w))
        .withColumn("next_ym", F.lead("ym").over(w))
        .withColumn(
            "status",
            F.when(F.col("ym") == F.col("first_ym"), "new")
            .when(F.col("prev_ym") == F.col("ym") - 1, "retained")
            .otherwise("resurrected"),
        )
    )
    active = flagged.groupBy("ym").agg(
        F.sum((F.col("status") == "new").cast("bigint")).alias("n_new"),
        F.sum((F.col("status") == "retained").cast("bigint")).alias("n_retained"),
        F.sum((F.col("status") == "resurrected").cast("bigint")).alias("n_resurrected"),
        F.count(F.lit(1)).alias("n_active"),
    )
    churn = (
        flagged.filter(F.col("next_ym").isNull() | (F.col("next_ym") > F.col("ym") + 1))
        .select((F.col("ym") + 1).alias("ym"))
        .groupBy("ym")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        active.join(churn, "ym", "left")
        .select(
            "ym",
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_active",
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
        )
        .orderBy("ym")
    )


def oracle_customer_growth_accounting() -> str:
    return """
    WITH months AS (
        SELECT DISTINCT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym
        FROM orders
    ), flagged AS (
        SELECT o_custkey, ym,
               min(ym) OVER (PARTITION BY o_custkey) AS first_ym,
               lag(ym) OVER w AS prev_ym,
               lead(ym) OVER w AS next_ym
        FROM months
        WINDOW w AS (PARTITION BY o_custkey ORDER BY ym)
    ), classified AS (
        SELECT ym,
               CASE WHEN ym = first_ym THEN 'new'
                    WHEN prev_ym = ym - 1 THEN 'retained'
                    ELSE 'resurrected' END AS status,
               next_ym
        FROM flagged
    ), active AS (
        SELECT ym,
               CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
               count(*) AS n_active
        FROM classified GROUP BY ym
    ), churn AS (
        SELECT ym + 1 AS ym, count(*) AS n_churned
        FROM classified WHERE next_ym IS NULL OR next_ym > ym + 1
        GROUP BY ym + 1
    )
    SELECT a.ym, n_new, n_retained, n_resurrected, n_active,
           CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
    FROM active a LEFT JOIN churn c ON a.ym = c.ym
    ORDER BY a.ym
    """


_PVM_Y0, _PVM_Y1 = 1996, 1997


def price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge (price/volume/mix) decomposition per brand between
    two years: ΔRevenue = volume effect (quantity change at base unit
    price) + price effect (unit-price change at base quantity) + mix
    (the cross term) — the waterfall every finance review walks.

    Unit prices are rationals (cents/qty), so every effect is published
    in exact micro-cents via sign-split DECIMAL(38,0) division:
    volume = (q1−q0)·c0·1e6 div q0, price = (c1·q0 − c0·q1)·1e6 div q1
    wait — price = q0·(c1/q1 − c0/q0)·1e6 = (c1·q0·1e6 div q1) − c0·1e6,
    and mix is the remainder that makes the bridge sum EXACTLY to
    ΔRevenue·1e6 (published so the waterfall reconciles by
    construction). Two year-filtered brand aggregates, dims broadcast."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        l.filter(F.year("l_shipdate").isin(_PVM_Y0, _PVM_Y1))
        .join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            F.year("l_shipdate").alias("yr"),
            dec2("l_quantity").cast("bigint").alias("qty"),
            # keep sub-cent precision through the SUM; truncate ONCE on the
            # total (matching the oracle) — per-row truncation drifts
            (disc_price() * 100).alias("cents_dec"),
        )
        .groupBy("p_brand", "yr")
        .agg(
            F.sum("qty").alias("q"),
            F.sum("cents_dec").cast("bigint").alias("c"),
        )
    )
    y0 = base.filter(F.col("yr") == _PVM_Y0).select(
        "p_brand", F.col("q").alias("q0"), F.col("c").alias("c0")
    )
    y1 = base.filter(F.col("yr") == _PVM_Y1).select(
        "p_brand", F.col("q").alias("q1"), F.col("c").alias("c1")
    )

    def ssdiv(num: str, den: str) -> str:
        # sign-split exact integer division on DECIMAL(38,0)
        return (
            f"CASE WHEN {num} >= 0 THEN CAST(CAST({num} AS DECIMAL(38,0)) * 1000000 div {den} AS BIGINT) "
            f"ELSE -CAST(CAST(-({num}) AS DECIMAL(38,0)) * 1000000 div {den} AS BIGINT) END"
        )

    return (
        y0.join(y1, "p_brand")
        .withColumn("delta_microcents", F.expr("(c1 - c0) * CAST(1000000 AS BIGINT)"))
        .withColumn("volume_effect", F.expr(ssdiv("(q1 - q0) * c0", "q0")))
        .withColumn("price_effect", F.expr(ssdiv("(CAST(c1 AS DECIMAL(38,0)) * q0 - CAST(c0 AS DECIMAL(38,0)) * q1)", "q1")))
        .withColumn(
            "mix_effect", F.expr("delta_microcents - volume_effect - price_effect")
        )
        .select(
            "p_brand", "q0", "q1", "c0", "c1",
            "delta_microcents", "volume_effect", "price_effect", "mix_effect",
        )
        .orderBy("p_brand")
    )


def oracle_price_volume_mix() -> str:
    def ssdiv(num: str, den: str) -> str:
        return (
            f"CASE WHEN {num} >= 0 THEN CAST(CAST({num} AS HUGEINT) * 1000000 // {den} AS BIGINT) "
            f"ELSE -CAST(CAST(-({num}) AS HUGEINT) * 1000000 // {den} AS BIGINT) END"
        )

    return f"""
    WITH base AS (
        SELECT p_brand, year(l_shipdate) AS yr,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT) AS q,
               -- floor, not round: Spark's decimal->bigint cast truncates
               CAST(floor(sum({o_disc_price()} * 100)) AS BIGINT) AS c
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE year(l_shipdate) IN ({_PVM_Y0}, {_PVM_Y1})
        GROUP BY p_brand, year(l_shipdate)
    ), y0 AS (
        SELECT p_brand, q AS q0, c AS c0 FROM base WHERE yr = {_PVM_Y0}
    ), y1 AS (
        SELECT p_brand, q AS q1, c AS c1 FROM base WHERE yr = {_PVM_Y1}
    ), j AS (
        SELECT y0.p_brand, q0, q1, c0, c1,
               (c1 - c0) * CAST(1000000 AS BIGINT) AS delta_microcents,
               {ssdiv("(q1 - q0) * c0", "q0")} AS volume_effect,
               {ssdiv("(CAST(c1 AS HUGEINT) * q0 - CAST(c0 AS HUGEINT) * q1)", "q1")} AS price_effect
        FROM y0 JOIN y1 USING (p_brand)
    )
    SELECT p_brand, q0, q1, c0, c1, delta_microcents, volume_effect, price_effect,
           delta_microcents - volume_effect - price_effect AS mix_effect
    FROM j ORDER BY p_brand
    """


_SLA_DAYS = (30, 60, 90)


def order_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA attainment report: per order priority, the share of orders
    FULLY shipped (last line shipped) within 30/60/90 days of order
    placement, in exact ppm — the service-level table an operations
    review opens with.

    One line-grain aggregation to the order grain (max ship date), one
    broadcast-less orderkey join, one tiny priority rollup. Integer day
    arithmetic; orders with no lines count as unmet at every SLA."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    lagged = o.join(l, o.o_orderkey == l.l_orderkey, "left").select(
        "o_orderpriority",
        F.datediff(F.col("last_ship"), F.col("o_orderdate")).alias("lag_days"),
    )
    aggs = [F.count(F.lit(1)).alias("n_orders")] + [
        F.sum(
            (F.col("lag_days").isNotNull() & (F.col("lag_days") <= d)).cast("bigint")
        ).alias(f"met_{d}d")
        for d in _SLA_DAYS
    ]
    out = lagged.groupBy("o_orderpriority").agg(*aggs)
    for d in _SLA_DAYS:
        out = out.withColumn(f"sla_{d}d_ppm", F.expr(f"1000000 * met_{d}d div n_orders"))
    return out.select(
        "o_orderpriority",
        "n_orders",
        *[c for d in _SLA_DAYS for c in (f"met_{d}d", f"sla_{d}d_ppm")],
    ).orderBy("o_orderpriority")


def oracle_order_fulfillment_sla() -> str:
    met = ",\n".join(
        f"           CAST(sum(CASE WHEN lag_days IS NOT NULL AND lag_days <= {d} THEN 1 ELSE 0 END) AS BIGINT) AS met_{d}d"
        for d in _SLA_DAYS
    )
    sel = ",\n".join(
        f"           met_{d}d, 1000000 * met_{d}d // n_orders AS sla_{d}d_ppm" for d in _SLA_DAYS
    )
    return f"""
    WITH ls AS (
        SELECT l_orderkey, max(l_shipdate) AS last_ship FROM lineitem GROUP BY l_orderkey
    ), lagged AS (
        SELECT o_orderpriority,
               date_diff('day', CAST(o_orderdate AS DATE), CAST(last_ship AS DATE)) AS lag_days
        FROM orders LEFT JOIN ls ON o_orderkey = l_orderkey
    ), agg AS (
        SELECT o_orderpriority, count(*) AS n_orders,
{met}
        FROM lagged GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders,
{sel}
    FROM agg ORDER BY o_orderpriority
    """


def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: event volume by (day-of-week, hour) with
    each cell's share of its day in exact ppm — the heatmap behind
    capacity planning and anomaly baselines (events_spike_detect's
    trailing window assumes exactly this kind of stable profile).

    Map-only bucketing + one tiny (7x24)-cell aggregate; the share
    window runs on the cell table."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    )
    cells = e.groupBy("dow", "hour").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("dow")
    return (
        cells.withColumn("day_total", F.sum("n_events").over(w))
        .withColumn("share_of_day_ppm", F.expr("1000000 * n_events div day_total"))
        .select("dow", "hour", "n_events", "share_of_day_ppm")
        .orderBy("dow", "hour")
    )


def oracle_events_dow_hour_profile() -> str:
    return """
    WITH cells AS (
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hour,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT dow, hour, n_events,
           CAST(1000000 * n_events // sum(n_events) OVER (PARTITION BY dow) AS BIGINT)
               AS share_of_day_ppm
    FROM cells ORDER BY dow, hour
    """


def monthly_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic seasonal index: each calendar month's average revenue
    relative to the all-month average, in exact ppm (index 1e6 = an
    average month) — the deseasonalization factor every forecast
    divides by before fitting a trend (revenue_trend_slope's natural
    companion).

    The fact collapses to (year, month) grain once; the index algebra
    runs on ≤ 12 rows with exact integer cross-multiplication
    (avg_m / avg_all = sum_m·n_all·1e6 div (n_m·sum_all))."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    ym = o.groupBy("yr", "mo").agg(F.sum("cents").alias("c"))
    per_month = ym.groupBy("mo").agg(
        F.count(F.lit(1)).alias("n_years"), F.sum("c").alias("month_cents")
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        per_month.withColumn("all_cents", F.sum("month_cents").over(w))
        .withColumn("all_n", F.sum("n_years").over(w))
        .withColumn(
            "seasonal_index_ppm",
            F.expr(
                "CAST(CAST(month_cents AS DECIMAL(38,0)) * all_n * 1000000 "
                "div (CAST(n_years AS DECIMAL(38,0)) * all_cents) AS BIGINT)"
            ),
        )
        .select("mo", "n_years", "month_cents", "seasonal_index_ppm")
        .orderBy("mo")
    )


def oracle_monthly_seasonal_index() -> str:
    return """
    WITH ym AS (
        SELECT year(o_orderdate) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo,
               CAST(sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ), per_month AS (
        SELECT mo, count(*) AS n_years, CAST(sum(c) AS BIGINT) AS month_cents FROM ym GROUP BY mo
    ), tot AS (
        SELECT CAST(sum(month_cents) AS BIGINT) AS all_cents,
               CAST(sum(n_years) AS BIGINT) AS all_n
        FROM per_month
    )
    SELECT mo, n_years, month_cents,
           CAST(CAST(month_cents AS HUGEINT) * all_n * 1000000
                // (CAST(n_years AS HUGEINT) * all_cents) AS BIGINT) AS seasonal_index_ppm
    FROM per_month, tot ORDER BY mo
    """


def discount_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-band elasticity read: per 1%-discount band, line count,
    exact average quantity (the demand signal), and revenue — the table
    that says whether deeper discounts actually move volume or just
    give margin away.

    Map-only integer banding (discount scale-2 cents → band) + one tiny
    aggregate; averages via the 4dp integer-division trick so both
    engines emit identical doubles."""
    l = load(spark, sf_dir, "lineitem")
    band = (dec2("l_discount") * 100).cast("bigint")
    return (
        l.select(
            band.alias("discount_pct"),
            dec2("l_quantity").cast("bigint").alias("qty"),
            (disc_price() * 100).alias("cents_dec"),
        )
        .groupBy("discount_pct")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("qty").alias("total_qty"),
            F.sum("cents_dec").cast("bigint").alias("revenue_cents"),
        )
        .withColumn(
            "avg_qty_4dp",
            F.expr("CAST((10000 * total_qty) div n_lines AS DOUBLE) / 10000.0"),
        )
        .select("discount_pct", "n_lines", "total_qty", "avg_qty_4dp", "revenue_cents")
        .orderBy("discount_pct")
    )


def oracle_discount_effectiveness() -> str:
    return f"""
    WITH l AS (
        SELECT CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discount_pct,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS qty,
               {o_disc_price()} * 100 AS cents_dec
        FROM lineitem
    ), agg AS (
        SELECT discount_pct, count(*) AS n_lines,
               CAST(sum(qty) AS BIGINT) AS total_qty,
               CAST(floor(sum(cents_dec)) AS BIGINT) AS revenue_cents
        FROM l GROUP BY discount_pct
    )
    SELECT discount_pct, n_lines, total_qty,
           CAST((10000 * total_qty) // n_lines AS DOUBLE) / 10000.0 AS avg_qty_4dp,
           revenue_cents
    FROM agg ORDER BY discount_pct
    """


def next_click_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency SLO reporting over the forward as-of join, HDR-histogram
    style: purchase→next-click latencies fold into log2 millisecond
    buckets (the bucket index is the BIT LENGTH of the ms value — pure
    integer, both engines via bin()), and p50/p90/p99 are read off the
    cumulative bucket counts — the way latency percentiles are actually
    computed at scale (no global sort, no float interpolation; the
    non-dyadic 0.9/0.99 interpolation points are exactly why a
    percentile() double cannot cross engines).

    Output: matched/unmatched counts and the lower bound (2^bucket ms)
    of the bucket containing each percentile."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.plans.medallion import asof_events_forward

    base = asof_events_forward(spark, sf_dir).select("micros_to_next_click")
    matched = base.filter(F.col("micros_to_next_click").isNotNull()).select(
        F.expr("length(bin(greatest(micros_to_next_click div 1000, 1))) - 1").alias("bucket")
    )
    counts = matched.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("bucket")
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = counts.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(wt)
    )
    pick = cum.agg(
        F.max("total").alias("n_matched"),
        F.min(F.when(F.expr("10 * cum >= 5 * total"), F.col("bucket"))).alias("p50_bucket"),
        F.min(F.when(F.expr("10 * cum >= 9 * total"), F.col("bucket"))).alias("p90_bucket"),
        F.min(F.when(F.expr("100 * cum >= 99 * total"), F.col("bucket"))).alias("p99_bucket"),
    )
    return (
        pick.crossJoin(
            base.filter(F.col("micros_to_next_click").isNull())
            .agg(F.count(F.lit(1)).alias("n_unmatched"))
        )
        .select(
            "n_matched",
            "n_unmatched",
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(p50_bucket AS INT)) AS BIGINT)").alias("p50_bucket_lo_ms"),
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(p90_bucket AS INT)) AS BIGINT)").alias("p90_bucket_lo_ms"),
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(p99_bucket AS INT)) AS BIGINT)").alias("p99_bucket_lo_ms"),
        )
    )


def oracle_next_click_latency_percentiles() -> str:
    from northwind_warehouse_spark.plans.medallion import oracle_asof_events_forward

    inner = oracle_asof_events_forward()
    return f"""
    WITH fwd AS ({inner}),
    matched AS (
        SELECT length(bin(greatest(micros_to_next_click // 1000, 1))) - 1 AS bucket
        FROM fwd WHERE micros_to_next_click IS NOT NULL
    ), counts AS (
        SELECT bucket, count(*) AS n FROM matched GROUP BY bucket
    ), cum AS (
        SELECT bucket, n,
               sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
               sum(n) OVER () AS total
        FROM counts
    )
    SELECT CAST(max(total) AS BIGINT) AS n_matched,
           (SELECT count(*) FROM fwd WHERE micros_to_next_click IS NULL) AS n_unmatched,
           CAST(1 AS BIGINT) << CAST(min(CASE WHEN 10 * cum >= 5 * total THEN bucket END) AS INT)
               AS p50_bucket_lo_ms,
           CAST(1 AS BIGINT) << CAST(min(CASE WHEN 10 * cum >= 9 * total THEN bucket END) AS INT)
               AS p90_bucket_lo_ms,
           CAST(1 AS BIGINT) << CAST(min(CASE WHEN 100 * cum >= 99 * total THEN bucket END) AS INT)
               AS p99_bucket_lo_ms
    FROM cum
    """


def winsorized_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type event-value mean via winsorization: values are
    CLIPPED at the p6.25/p93.75 bounds (dyadic fractions 1/16 and
    15/16 — the interpolation point stays exact in double, which
    non-dyadic 0.05/0.95 cannot) computed from the deterministic
    md5-lottery sample, then averaged exactly — the outlier-resistant
    aggregate a metrics pipeline reports next to (and often instead of)
    the raw mean.

    Same sampled-boundary discipline as the decile family: the only
    sorted object is the per-type sample; clipping is a map-only value
    test; integer micro-units keep both engines identical."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        # floor() before the cast: Spark's double->bigint truncates while
        # DuckDB's rounds — floor makes both exact and identical
        F.floor(F.col("value") * 1000000).cast("bigint").alias("v_micro"),
    )
    lot = (
        F.conv(F.substring(F.md5(F.concat(F.lit("win|"), F.col("event_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000000
    )
    bnds = (
        e.filter(lot < 500000)
        .groupBy("event_type")
        .agg(
            (F.expr("percentile(v_micro, 0.0625)") * 2).cast("bigint").alias("lo_x2"),
            (F.expr("percentile(v_micro, 0.9375)") * 2).cast("bigint").alias("hi_x2"),
        )
    )
    clipped = e.join(F.broadcast(bnds), "event_type").withColumn(
        "w_x2",
        F.expr(
            "CASE WHEN 2 * v_micro < lo_x2 THEN lo_x2 "
            "WHEN 2 * v_micro > hi_x2 THEN hi_x2 ELSE 2 * v_micro END"
        ),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("CAST(2 * v_micro < lo_x2 AS BIGINT)")).alias("n_clipped_low"),
            F.sum(F.expr("CAST(2 * v_micro > hi_x2 AS BIGINT)")).alias("n_clipped_high"),
            F.expr("sum(w_x2) div (2 * count(*))").alias("winsorized_mean_micro"),
        )
        .orderBy("event_type")
    )


def oracle_winsorized_event_value() -> str:
    return """
    WITH e AS (
        SELECT event_id, event_type, CAST(floor(value * 1000000) AS BIGINT) AS v_micro FROM events
    ), bnds AS (
        SELECT event_type,
               CAST(quantile_cont(v_micro, 0.0625) * 2 AS BIGINT) AS lo_x2,
               CAST(quantile_cont(v_micro, 0.9375) * 2 AS BIGINT) AS hi_x2
        FROM e
        WHERE CAST(('0x' || substr(md5('win|' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 < 500000
        GROUP BY event_type
    ), clipped AS (
        SELECT e.event_type, v_micro, lo_x2, hi_x2,
               CASE WHEN 2 * v_micro < lo_x2 THEN lo_x2
                    WHEN 2 * v_micro > hi_x2 THEN hi_x2 ELSE 2 * v_micro END AS w_x2
        FROM e JOIN bnds ON e.event_type = bnds.event_type
    )
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN 2 * v_micro < lo_x2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN 2 * v_micro > hi_x2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
           CAST(sum(w_x2) // (2 * count(*)) AS BIGINT) AS winsorized_mean_micro
    FROM clipped GROUP BY event_type ORDER BY event_type
    """


def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series per type —
    the persistence diagnostic that says whether volume is momentum-
    driven (high positive), mean-reverting (negative), or noise (≈0),
    and therefore how much a trailing-window anomaly baseline
    (events_spike_detect) can be trusted.

    The series collapses to (type, day) grain first; the lag pairs come
    from one window on the same partitioning, and the correlation
    divides exact integer moments in IEEE double (the
    cosine_from_parts discipline). Pairs-count published for
    auditability."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d")
    )
    daily = e.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = daily.withColumn("prev_n", F.lag("n").over(w)).filter(
        F.col("prev_n").isNotNull()
    )
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("n").alias("sy"),
        F.sum("prev_n").alias("sx"),
        F.sum(F.expr("n * prev_n")).alias("sxy"),
        F.sum(F.expr("n * n")).alias("syy"),
        F.sum(F.expr("prev_n * prev_n")).alias("sxx"),
    )
    return m.select(
        "event_type",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.expr(
            """CAST(CAST(np * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS DOUBLE)
               / sqrt(CAST(CAST(np * sxx - sx * sx AS DECIMAL(38,0)) AS DOUBLE)
                      * CAST(CAST(np * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS DOUBLE))"""
        ).alias("autocorr_lag1"),
    ).orderBy("event_type")


def oracle_events_autocorr_lag1() -> str:
    return """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), pairs AS (
        SELECT event_type, n,
               lag(n) OVER (PARTITION BY event_type ORDER BY d) AS prev_n
        FROM daily
    ), m AS (
        SELECT event_type, count(*) AS np,
               CAST(sum(n) AS BIGINT) AS sy, CAST(sum(prev_n) AS BIGINT) AS sx,
               CAST(sum(n * prev_n) AS BIGINT) AS sxy,
               CAST(sum(n * n) AS BIGINT) AS syy,
               CAST(sum(prev_n * prev_n) AS BIGINT) AS sxx
        FROM pairs WHERE prev_n IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           CAST(CAST(np * sxy - CAST(sx AS HUGEINT) * sy AS HUGEINT) AS DOUBLE)
             / sqrt(CAST(CAST(np * sxx - sx * sx AS HUGEINT) AS DOUBLE)
                    * CAST(CAST(np * syy - CAST(sy AS HUGEINT) * sy AS HUGEINT) AS DOUBLE))
               AS autocorr_lag1
    FROM m ORDER BY event_type
    """


def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness index: the Fano factor (variance/mean) of the daily
    event-count series per type, in exact ppm — 1e6 means Poisson-like
    arrivals, far above means bursty clumping (and therefore wider
    anomaly bands), far below means scheduled/regular traffic.

    Day-grain collapse first; the dispersion algebra is exact integer
    cross-multiplication on the per-type aggregate:
    fano_ppm = n·Σy² − (Σy)² scaled by 1e6 div (n·Σy)."""
    e = load(spark, sf_dir, "events").select("event_type", F.to_date("ts").alias("d"))
    daily = e.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("days"),
        F.sum("n").alias("sy"),
        F.sum(F.expr("n * n")).alias("syy"),
    )
    return m.select(
        "event_type",
        F.col("days").cast("bigint").alias("n_days"),
        F.col("sy").cast("bigint").alias("total_events"),
        F.expr(
            """CAST(CAST(days * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) * 1000000
                    div (CAST(days AS DECIMAL(38,0)) * sy) AS BIGINT)"""
        ).alias("fano_ppm"),
    ).orderBy("event_type")


def oracle_events_fano_factor() -> str:
    return """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), m AS (
        SELECT event_type, count(*) AS days,
               CAST(sum(n) AS BIGINT) AS sy,
               CAST(sum(n * n) AS BIGINT) AS syy
        FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(days AS BIGINT) AS n_days, sy AS total_events,
           CAST(CAST(days * syy - CAST(sy AS HUGEINT) * sy AS HUGEINT) * 1000000
                // (CAST(days AS HUGEINT) * sy) AS BIGINT) AS fano_ppm
    FROM m ORDER BY event_type
    """


# ---------------------------------------------------------------------------
# Round-5 additions: jackknife CI, CUSUM drift detection
# ---------------------------------------------------------------------------

_JK_BUCKETS = 16


def jackknife_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife for the mean order value — the
    cluster-friendly bootstrap alternative (one pass, B bucket
    aggregates, no resampling joins): orders hash deterministically
    into 16 groups, each leave-one-group-out mean is exact integer
    cents, and the spread statistic B·Σloo² − (Σloo)² (= B² × the
    population variance of the LOO means, the jackknife SE's exact
    integer core) is published alongside the min/max LOO means.

    Scale shape: ONE map-side-combined groupBy over the fact (16
    groups), then all algebra on a 16-row aggregate via tiny windows —
    the same one-pass profile as a plain mean, which is the entire
    point of the grouped jackknife at 100 TB."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    per = (
        o.withColumn("bucket", _ppm_lottery("jk|", "o_orderkey") % _JK_BUCKETS)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").cast("bigint").alias("s"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # NOTE: aliases must not collide case-insensitively with n/s — Spark's
    # default resolver treats withColumn("N", ...) as REPLACING column "n"
    loo = (
        per.withColumn("tot_n", F.sum("n").over(w_all).cast("bigint"))
        .withColumn("tot_s", F.sum("s").over(w_all).cast("bigint"))
        .select(
            "tot_n", "tot_s",
            F.expr("(tot_s - s) div (tot_n - n)").alias("loo_mean_cents"),
        )
    )
    return loo.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.expr("CAST(max(tot_s) div max(tot_n) AS BIGINT)").alias("grand_mean_cents"),
        F.min("loo_mean_cents").alias("loo_min_cents"),
        F.max("loo_mean_cents").alias("loo_max_cents"),
        F.expr(
            f"CAST({_JK_BUCKETS} * sum(loo_mean_cents * loo_mean_cents)"
            f" - sum(loo_mean_cents) * sum(loo_mean_cents) AS BIGINT)"
        ).alias("jk_spread_scaled"),
    )


def oracle_jackknife_mean_ci() -> str:
    return f"""
    WITH o AS (
        SELECT o_orderkey,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), per AS (
        SELECT {_o_ppm_lottery('jk|', 'o_orderkey')} % {_JK_BUCKETS} AS bucket,
               CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        FROM o GROUP BY 1
    ), loo AS (
        SELECT CAST(sum(n) OVER () AS BIGINT) AS tot_n,
               CAST(sum(s) OVER () AS BIGINT) AS tot_s,
               CAST((CAST(sum(s) OVER () AS BIGINT) - s)
                    // (CAST(sum(n) OVER () AS BIGINT) - n) AS BIGINT) AS loo_mean_cents
        FROM per
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(tot_s) // max(tot_n) AS BIGINT) AS grand_mean_cents,
           min(loo_mean_cents) AS loo_min_cents,
           max(loo_mean_cents) AS loo_max_cents,
           CAST({_JK_BUCKETS} * CAST(sum(loo_mean_cents * loo_mean_cents) AS BIGINT)
                - CAST(sum(loo_mean_cents) AS BIGINT) * CAST(sum(loo_mean_cents) AS BIGINT)
                AS BIGINT) AS jk_spread_scaled
    FROM loo
    """


def events_cusum_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per event type over the hourly count
    series: cumulative scaled deviations C_t = Σ(n_hours·x − total),
    maximum drawup max_t(C_t − min_{s≤t} C_s) (with C_0 = 0), and the
    first hour achieving it — the changepoint statistic that catches
    SLOW drifts a per-hour z-score (events_spike_detect) misses.
    All integer-exact: deviations are scaled by n_hours instead of
    dividing by it.

    Scale shape: the fact collapses to (type, hour) grain in one
    shuffle; every window is PARTITIONED BY event_type over the
    hour-grain aggregate (bounded rows per type), never over raw
    events."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w_type = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.partitionBy("event_type").orderBy("hour_ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored = (
        hourly.withColumn("n_hours", F.count(F.lit(1)).over(w_type).cast("bigint"))
        .withColumn("total", F.sum("x").over(w_type).cast("bigint"))
        .withColumn("dev", F.expr("n_hours * x - total"))
        .withColumn("cum", F.sum("dev").over(w_cum).cast("bigint"))
        .withColumn("runmin", F.least(F.min("cum").over(w_cum), F.lit(0)).cast("bigint"))
        .withColumn("drawup", F.expr("cum - runmin"))
    )
    w_pick = Window.partitionBy("event_type").orderBy(F.desc("drawup"), "hour_ts")
    return (
        scored.withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type", "n_hours", "total",
            F.col("drawup").alias("max_drawup_scaled"),
            F.col("hour_ts").alias("detect_hour"),
        )
        .orderBy("event_type")
    )


def oracle_events_cusum_detect() -> str:
    return """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), scored AS (
        SELECT event_type, hour_ts, x,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
        FROM hourly
    ), cums AS (
        SELECT *,
               CAST(sum(n_hours * x - total) OVER (
                   PARTITION BY event_type ORDER BY hour_ts ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum
        FROM scored
    ), draw AS (
        SELECT *,
               least(CAST(min(cum) OVER (
                   PARTITION BY event_type ORDER BY hour_ts ROWS UNBOUNDED PRECEDING
               ) AS BIGINT), 0) AS runmin
        FROM cums
    ), ranked AS (
        SELECT event_type, n_hours, total, cum - runmin AS drawup, hour_ts,
               row_number() OVER (PARTITION BY event_type ORDER BY cum - runmin DESC, hour_ts) AS rk
        FROM draw
    )
    SELECT event_type, n_hours, total,
           CAST(drawup AS BIGINT) AS max_drawup_scaled,
           hour_ts AS detect_hour
    FROM ranked WHERE rk = 1 ORDER BY event_type
    """


def seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized revenue anomaly detection: each (year, month)'s
    revenue minus its CALENDAR-MONTH mean (the additive seasonal
    expectation), flagged when the residual exceeds 3 robust MADs —
    monthly_seasonal_index's companion that answers "was THIS January
    abnormal for a January?". All integer-exact: month means are floor
    division, the median/MAD of residuals use the doubled/quadrupled
    units trick (interpolated medians of integers land on halves).

    Scale shape: the fact collapses to (year, month) grain in one
    shuffle; everything after runs on <= a few hundred monthly rows
    (global tiny-aggregate windows, the revenue_share_of_parent
    pattern)."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    monthly = o.groupBy("yr", "mo").agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    w_mo = Window.partitionBy("mo").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    resid = (
        monthly.withColumn(
            "mo_mean",
            F.expr("CAST(sum(rev_cents) OVER (PARTITION BY mo"
                   " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)"
                   " div count(*) OVER (PARTITION BY mo"
                   " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"),
        )
        .withColumn("residual", F.expr("rev_cents - mo_mean"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    med = resid.agg((F.expr("percentile(residual, 0.5)") * 2).cast("bigint").alias("med_x2"))
    dev = resid.crossJoin(F.broadcast(med)).withColumn(
        "d2", F.abs(2 * F.col("residual") - F.col("med_x2"))
    )
    mad = dev.agg((F.expr("percentile(d2, 0.5)") * 2).cast("bigint").alias("mad_x4"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "yr", "mo", "rev_cents", "mo_mean", "residual",
            F.expr("2 * d2 > 3 * mad_x4").alias("is_outlier"),
        )
        .orderBy("yr", "mo")
    )


def oracle_seasonal_residual_outliers() -> str:
    return """
    WITH o AS (
        SELECT year(cast(o_orderdate as date)) AS yr,
               month(cast(o_orderdate as date)) AS mo,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), monthly AS (
        SELECT yr, mo, CAST(sum(cents) AS BIGINT) AS rev_cents FROM o GROUP BY yr, mo
    ), resid AS (
        SELECT yr, mo, rev_cents,
               CAST(CAST(sum(rev_cents) OVER (PARTITION BY mo) AS BIGINT)
                    // count(*) OVER (PARTITION BY mo) AS BIGINT) AS mo_mean,
               rev_cents - CAST(CAST(sum(rev_cents) OVER (PARTITION BY mo) AS BIGINT)
                    // count(*) OVER (PARTITION BY mo) AS BIGINT) AS residual
        FROM monthly
    ), med AS (
        SELECT CAST(quantile_cont(residual, 0.5) * 2 AS BIGINT) AS med_x2 FROM resid
    ), dev AS (
        SELECT r.*, abs(2 * residual - med_x2) AS d2 FROM resid r CROSS JOIN med
    ), mad AS (
        SELECT CAST(quantile_cont(d2, 0.5) * 2 AS BIGINT) AS mad_x4 FROM dev
    )
    SELECT yr, mo, rev_cents, mo_mean, residual,
           2 * d2 > 3 * mad_x4 AS is_outlier
    FROM dev CROSS JOIN mad ORDER BY yr, mo
    """


def supplier_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year market-share shift per supplier nation: each
    nation's exact-ppm share of annual supply revenue and its delta vs
    the prior year — the drill a procurement review opens with. Revenue
    is the discounted extended price in exact cents.

    Scale shape: lineitem reduces to (nation, year) grain in one
    shuffle (supplier and nation dims broadcast into the scan); the
    share and lag windows run over the tiny nation x year aggregate."""
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.year("l_shipdate").alias("yr"),
        disc_price("l_extendedprice", "l_discount").alias("dp"),
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        li.join(maybe_broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "yr")
        # exact decimal sum, floored to cents ONCE (per-row truncation
        # would diverge from the oracle's sum-then-cast)
        .agg(F.expr("CAST(floor(sum(dp) * 100) AS BIGINT)").alias("rev_cents"))
    )
    w_yr = Window.partitionBy("yr").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_lag = Window.partitionBy("nation").orderBy("yr")
    return (
        per.withColumn("yr_total", F.sum("rev_cents").over(w_yr).cast("bigint"))
        .withColumn(
            "share_ppm",
            F.expr("CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000 div yr_total AS BIGINT)"),
        )
        .withColumn("prev_share_ppm", F.lag("share_ppm").over(w_lag))
        .select(
            "nation", "yr", "rev_cents", "share_ppm", "prev_share_ppm",
            F.expr("share_ppm - prev_share_ppm").alias("share_shift_ppm"),
        )
        .orderBy("nation", "yr")
    )


def oracle_supplier_share_shift() -> str:
    return f"""
    WITH per AS (
        SELECT n_name AS nation, year(cast(l_shipdate as date)) AS yr,
               CAST(floor(sum({o_disc_price('l_extendedprice', 'l_discount')}) * 100) AS BIGINT) AS rev_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name, year(cast(l_shipdate as date))
    ), shares AS (
        SELECT nation, yr, rev_cents,
               CAST(CAST(rev_cents AS HUGEINT) * 1000000
                    // CAST(sum(rev_cents) OVER (PARTITION BY yr) AS BIGINT) AS BIGINT) AS share_ppm
        FROM per
    )
    SELECT nation, yr, rev_cents, share_ppm,
           lag(share_ppm) OVER (PARTITION BY nation ORDER BY yr) AS prev_share_ppm,
           share_ppm - lag(share_ppm) OVER (PARTITION BY nation ORDER BY yr) AS share_shift_ppm
    FROM shares ORDER BY nation, yr
    """


def discount_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped price-response audit: per part brand, the Pearson
    correlation between line discount (integer pct) and quantity —
    the first-look elasticity screen a pricing team runs. Moments are
    exact BIGINT (discount 0-10, quantity bounded, products stay tiny);
    only the final correlation divides in IEEE double with sqrt
    correctly rounded in both engines (the cosine_from_parts
    discipline). Zero-variance groups publish NULL.

    Scale shape: lineitem reduces to brand grain in ONE map-side-
    combined shuffle (part dim broadcasts into the scan); the
    correlation algebra runs on the brand-sized aggregate."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (dec2("l_discount") * 100).cast("bigint").alias("x"),
        F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("y"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(maybe_broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.expr("CAST(sum(x * x) AS BIGINT)").alias("sxx"),
            F.expr("CAST(sum(y * y) AS BIGINT)").alias("syy"),
            F.expr("CAST(sum(x * y) AS BIGINT)").alias("sxy"),
        )
    )
    return m.select(
        "brand", "n_lines",
        F.expr(
            """CASE WHEN n_lines * sxx - sx * sx = 0 OR n_lines * syy - sy * sy = 0
                    THEN NULL
                    ELSE CAST(n_lines * sxy - sx * sy AS DOUBLE)
                         / sqrt(CAST(n_lines * sxx - sx * sx AS DOUBLE)
                                * CAST(n_lines * syy - sy * sy AS DOUBLE)) END"""
        ).alias("corr_disc_qty"),
    ).orderBy("brand")


def oracle_discount_quantity_elasticity() -> str:
    return """
    WITH li AS (
        SELECT l_partkey,
               CAST(cast(l_discount as decimal(12,2)) * 100 AS BIGINT) AS x,
               CAST(floor(l_quantity) AS BIGINT) AS y
        FROM lineitem
    ), m AS (
        SELECT p_brand AS brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM li JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    )
    SELECT brand, n_lines,
           CASE WHEN n_lines * sxx - sx * sx = 0 OR n_lines * syy - sy * sy = 0
                THEN NULL
                ELSE CAST(n_lines * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n_lines * sxx - sx * sx AS DOUBLE)
                            * CAST(n_lines * syy - sy * sy AS DOUBLE)) END AS corr_disc_qty
    FROM m ORDER BY brand
    """


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by FIRST-ORDER month, then
    each cohort's cumulative revenue per customer at every month offset
    — the lifetime-value table subscription/retention analytics is
    built on (retention_cohorts' revenue-weighted sibling). Exact
    cents; the per-customer LTV is floor division by the fixed cohort
    size.

    Scale shape: one per-customer min() shuffle for cohorts, one
    (cohort, offset) rollup, a broadcast of cohort sizes, and the
    cumulative window runs per cohort over the tiny cohort x offset
    aggregate."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cm"))
    sizes = first.groupBy("cm").agg(F.count(F.lit(1)).alias("n_customers"))
    per = (
        o.join(first, "o_custkey")
        .groupBy("cm", (F.col("m") - F.col("cm")).alias("month_offset"))
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    w = Window.partitionBy("cm").orderBy("month_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.withColumn("cum_rev_cents", F.sum("rev_cents").over(w).cast("bigint"))
        .join(F.broadcast(sizes), "cm")
        .select(
            F.expr("CAST(cm div 12 AS INT)").alias("cohort_year"),
            F.expr("CAST(cm % 12 + 1 AS INT)").alias("cohort_month"),
            "month_offset", "n_customers", "rev_cents", "cum_rev_cents",
            F.expr("cum_rev_cents div n_customers").alias("cum_ltv_cents_per_cust"),
        )
        .orderBy("cohort_year", "cohort_month", "month_offset")
    )


def oracle_cohort_ltv_curve() -> str:
    return """
    WITH o AS (
        SELECT o_custkey,
               year(cast(o_orderdate as date)) * 12 + month(cast(o_orderdate as date)) - 1 AS m,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), first_m AS (
        SELECT o_custkey, min(m) AS cm FROM o GROUP BY o_custkey
    ), sizes AS (
        SELECT cm, CAST(count(*) AS BIGINT) AS n_customers FROM first_m GROUP BY cm
    ), per AS (
        SELECT f.cm, o.m - f.cm AS month_offset, CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM o JOIN first_m f ON o.o_custkey = f.o_custkey
        GROUP BY f.cm, o.m - f.cm
    ), cum AS (
        SELECT cm, month_offset, rev_cents,
               CAST(sum(rev_cents) OVER (PARTITION BY cm ORDER BY month_offset
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        FROM per
    )
    SELECT CAST(cm // 12 AS INT) AS cohort_year,
           CAST(cm % 12 + 1 AS INT) AS cohort_month,
           month_offset, n_customers, rev_cents, cum_rev_cents,
           CAST(cum_rev_cents // n_customers AS BIGINT) AS cum_ltv_cents_per_cust
    FROM cum JOIN sizes USING (cm)
    ORDER BY cohort_year, cohort_month, month_offset
    """


def xyz_parts_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (ABC analysis' standard
    companion — abc_parts ranks by value, XYZ by PREDICTABILITY): per
    part, the squared coefficient of variation of monthly shipped
    quantity in exact ppm — CV² = (n·Σq² − (Σq)²)/(Σq)², pure integer
    cross-multiplication — classed X (steady, CV² < 0.25), Y (< 1.0),
    Z (erratic). Published as the class rollup with CV² dispersion
    bounds.

    Scale shape: lineitem reduces to (part, month) then part grain in
    two map-side-combined shuffles; the class rollup is 3 rows."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("ym"),
        F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
    )
    monthly = li.groupBy("l_partkey", "ym").agg(F.sum("qty").cast("bigint").alias("q"))
    per_part = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("q").cast("bigint").alias("s"),
        F.expr("CAST(sum(q * q) AS BIGINT)").alias("ss"),
    )
    classed = per_part.withColumn(
        "cv2_ppm",
        F.expr("CAST(CAST(n_months * ss - s * s AS DECIMAL(38,0)) * 1000000 div (s * s) AS BIGINT)"),
    ).withColumn(
        "xyz_class",
        F.expr(
            "CASE WHEN cv2_ppm < 250000 THEN 'X' WHEN cv2_ppm < 1000000 THEN 'Y' ELSE 'Z' END"
        ),
    )
    return (
        classed.groupBy("xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("cv2_ppm").alias("min_cv2_ppm"),
            F.max("cv2_ppm").alias("max_cv2_ppm"),
            F.expr("CAST(sum(cv2_ppm) div count(*) AS BIGINT)").alias("mean_cv2_ppm"),
        )
        .orderBy("xyz_class")
    )


def oracle_xyz_parts_variability() -> str:
    return """
    WITH li AS (
        SELECT l_partkey,
               year(cast(l_shipdate as date)) * 12 + month(cast(l_shipdate as date)) - 1 AS ym,
               CAST(floor(l_quantity) AS BIGINT) AS qty
        FROM lineitem
    ), monthly AS (
        SELECT l_partkey, ym, CAST(sum(qty) AS BIGINT) AS q FROM li GROUP BY l_partkey, ym
    ), per_part AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_months,
               CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
        FROM monthly GROUP BY l_partkey
    ), classed AS (
        SELECT *,
               CAST(CAST(n_months * ss - s * s AS HUGEINT) * 1000000 // (s * s) AS BIGINT) AS cv2_ppm
        FROM per_part
    )
    SELECT CASE WHEN cv2_ppm < 250000 THEN 'X' WHEN cv2_ppm < 1000000 THEN 'Y' ELSE 'Z' END AS xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           min(cv2_ppm) AS min_cv2_ppm, max(cv2_ppm) AS max_cv2_ppm,
           CAST(CAST(sum(cv2_ppm) AS BIGINT) // count(*) AS BIGINT) AS mean_cv2_ppm
    FROM classed GROUP BY 1 ORDER BY 1
    """


def sample_extrapolation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-calibration audit: per nation, the TRUE revenue next to
    the estimate extrapolated from the deterministic 50% md5 lottery
    (est = 2 × sample sum), with the absolute error in exact ppm — the
    measure-don't-guess table that tells you how far lottery-sampled
    dashboards drift from the full scan, per group, before you ship
    them at 100 TB.

    Scale shape: ONE fact scan computes both sides (the sample sum is a
    conditional aggregate, not a second pass); dims broadcast; the
    error algebra runs on the nation-sized rollup."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    in_sample = _ppm_lottery("sx|", "o_orderkey") < _QSAMPLE_PPM
    per = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum("cents").cast("bigint").alias("true_cents"),
            F.sum(F.when(in_sample, F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("sample_cents"),
        )
    )
    return per.select(
        "nation", "true_cents",
        F.expr("2 * sample_cents").alias("est_cents"),
        F.expr(
            "CAST(CAST(abs(2 * sample_cents - true_cents) AS DECIMAL(38,0)) * 1000000"
            " div true_cents AS BIGINT)"
        ).alias("abs_err_ppm"),
    ).orderBy("nation")


def oracle_sample_extrapolation_error() -> str:
    return f"""
    WITH per AS (
        SELECT n_name AS nation,
               CAST(sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS BIGINT) AS true_cents,
               CAST(sum(CASE WHEN {_o_ppm_lottery('sx|', 'o_orderkey')} < {_QSAMPLE_PPM}
                        THEN CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS sample_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT nation, true_cents,
           2 * sample_cents AS est_cents,
           CAST(CAST(abs(2 * sample_cents - true_cents) AS HUGEINT) * 1000000
                // true_cents AS BIGINT) AS abs_err_ppm
    FROM per ORDER BY nation
    """


def tax_reconciliation_annual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance reconciliation: per ship-year, net revenue (discounted
    extended price), gross charge (net × (1+tax)), and the implied tax
    collected — with the effective tax rate in exact ppm — the tie-out
    a controller runs between the revenue and tax ledgers. All sums are
    exact DECIMAL, floored to cents ONCE at publication (the
    cross-engine money discipline).

    Scale shape: one map-side-combined year-grain rollup of the fact;
    the rate algebra runs on ≤ a handful of year rows."""
    li = load(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").alias("yr"),
        disc_price("l_extendedprice", "l_discount").alias("dp"),
        charge("l_extendedprice", "l_discount", "l_tax").alias("ch"),
    )
    per = li.groupBy("yr").agg(
        F.expr("CAST(floor(sum(dp) * 100) AS BIGINT)").alias("net_cents"),
        F.expr("CAST(floor(sum(ch) * 100) AS BIGINT)").alias("gross_cents"),
    )
    return per.select(
        "yr", "net_cents", "gross_cents",
        F.expr("gross_cents - net_cents").alias("tax_cents"),
        F.expr(
            "CAST(CAST(gross_cents - net_cents AS DECIMAL(38,0)) * 1000000"
            " div net_cents AS BIGINT)"
        ).alias("effective_tax_ppm"),
    ).orderBy("yr")


def oracle_tax_reconciliation_annual() -> str:
    return f"""
    WITH per AS (
        SELECT year(cast(l_shipdate as date)) AS yr,
               CAST(floor(sum({o_disc_price('l_extendedprice', 'l_discount')}) * 100) AS BIGINT) AS net_cents,
               CAST(floor(sum({o_charge('l_extendedprice', 'l_discount', 'l_tax')}) * 100) AS BIGINT) AS gross_cents
        FROM lineitem GROUP BY 1
    )
    SELECT yr, net_cents, gross_cents,
           gross_cents - net_cents AS tax_cents,
           CAST(CAST(gross_cents - net_cents AS HUGEINT) * 1000000 // net_cents AS BIGINT)
               AS effective_tax_ppm
    FROM per ORDER BY yr
    """


def event_type_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: exact Jaccard of the DISTINCT-user sets
    between every pair of event types — the set-similarity readout a
    product team uses to see which behaviors share an audience (the
    warehouse-side sibling of the corpus overlap matrix). Counts are
    exact; the ratio is the 4dp integer-division double.

    Scale shape: events reduce to distinct (type, user) in one shuffle;
    the pair intersection is a user-keyed equi-self-join (type-pair
    fan-out is |types|²-bounded per user, and |types| is small by
    construction); union sizes come from broadcast per-type counts."""
    e = load(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    sizes = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = e.select(F.col("event_type").alias("type_a"), "user_id")
    b = e.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.expr("CAST(na + nb - n_inter AS BIGINT)").alias("n_union"),
            F.expr(
                "CAST((10000 * n_inter) div (na + nb - n_inter) AS DOUBLE) / 10000.0"
            ).alias("jaccard_4dp"),
        )
        .orderBy("type_a", "type_b")
    )


def oracle_event_type_user_overlap() -> str:
    return """
    WITH e AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM e GROUP BY event_type
    ), inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_inter,
           CAST(sa.n_users + sb.n_users - n_inter AS BIGINT) AS n_union,
           CAST((10000 * n_inter) // (sa.n_users + sb.n_users - n_inter) AS DOUBLE) / 10000.0
               AS jaccard_4dp
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    ORDER BY type_a, type_b
    """


def nation_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP sampled-boundary quartile banding: each nation's order
    values are banded by that NATION'S OWN quartile boundaries (dyadic
    0.25/0.5/0.75 — interpolation is cross-engine exact on integer
    cents), with boundaries computed from the deterministic 50% lottery
    sample and broadcast back — the stratified generalization of
    equi_depth_histogram's global plan: no global sort, no per-group
    ntile, boundaries are a nation-sized table.

    Scale shape: one sampled scan → nation-grain percentile agg
    (group-sized, not fact-sized) → broadcast join → map-only band
    assignment → (nation, band) rollup."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    tagged = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "o_orderkey", "cents")
    )
    bnds = (
        tagged.filter(_ppm_lottery("nqb|", "o_orderkey") < _QSAMPLE_PPM)
        .groupBy("nation")
        .agg(
            F.array(
                *[F.expr(f"percentile(cents, {q})") for q in (0.25, 0.5, 0.75)]
            ).alias("bnds")
        )
    )
    return (
        tagged.join(F.broadcast(bnds), "nation")
        .withColumn("band", F.expr("CAST(1 + size(filter(bnds, b -> cents > b)) AS INT)"))
        .groupBy("nation", "band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("nation", "band")
    )


def oracle_nation_quantile_bands() -> str:
    qlist = ", ".join(f"quantile_cont(cents, {q})" for q in (0.25, 0.5, 0.75))
    return f"""
    WITH tagged AS (
        SELECT n_name AS nation, o_orderkey,
               CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ), b AS (
        SELECT nation, [{qlist}] AS bnds
        FROM tagged WHERE {_o_ppm_lottery('nqb|', 'o_orderkey')} < {_QSAMPLE_PPM}
        GROUP BY nation
    )
    SELECT t.nation, CAST(1 + len(list_filter(b.bnds, x -> t.cents > x)) AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(t.cents) AS lo_cents, max(t.cents) AS hi_cents
    FROM tagged t JOIN b ON b.nation = t.nation
    GROUP BY t.nation, 2 ORDER BY t.nation, band
    """


def events_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-load windows: the top-3 busiest SLIDING 3-hour windows per
    event type (RANGE window over the integer hour index, so calendar
    gaps count as empty hours, not skipped rows) — the capacity-planning
    readout next to the anomaly detectors (spike = vs baseline,
    cusum = drift; this = absolute peaks).

    Scale shape: the fact collapses to (type, hour) grain in one
    shuffle; the sliding sum and the rank both partition BY TYPE over
    the hour-grain aggregate."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type",
            F.expr("CAST(unix_micros(date_trunc('hour', ts)) div 3600000000 AS BIGINT)").alias("hidx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w3 = (
        Window.partitionBy("event_type").orderBy("hidx").rangeBetween(-2, 0)
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.desc("n_3h"), "hidx"
    )
    return (
        hourly.withColumn("n_3h", F.sum("n").over(w3).cast("bigint"))
        .withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            F.expr("timestamp_micros(hidx * 3600000000)").alias("window_end_hour"),
            "n_3h",
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("event_type", "rk")
    )


def oracle_events_burst_windows() -> str:
    return """
    WITH hourly AS (
        SELECT event_type,
               epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), slid AS (
        SELECT event_type, hidx,
               CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hidx
                    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_3h
        FROM hourly
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n_3h DESC, hidx) AS rk
        FROM slid
    )
    SELECT event_type,
           make_timestamp(hidx * 3600000000) AS window_end_hour,
           n_3h, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY event_type, rk
    """


def drill_across_customer_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball drill-across: two fact tables (orders revenue, events
    activity) AGGREGATED SEPARATELY to the conformed customer-segment
    grain, then joined on the conformed attribute — never a
    fact-to-fact row join (the classic drill-across discipline; the
    events stream's user_id is a customer key, verified subset). Per
    market segment: buyers + exact-cents revenue from one fact, active
    users + event counts from the other, and events-per-buyer ppm.

    Scale shape: each fact reduces independently in one
    map-side-combined shuffle (dim broadcast into both); the
    drill-across join is segment-sized."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    e = load(spark, sf_dir, "events").select("user_id", "event_id")
    rev = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
    )
    act = (
        e.join(maybe_broadcast(c), e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.countDistinct("user_id").alias("n_active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        rev.join(act, "mktsegment", "full_outer")
        .select(
            "mktsegment",
            F.coalesce("n_buyers", F.lit(0)).cast("bigint").alias("n_buyers"),
            F.coalesce("rev_cents", F.lit(0)).cast("bigint").alias("rev_cents"),
            F.coalesce("n_active_users", F.lit(0)).cast("bigint").alias("n_active_users"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.expr(
                "CASE WHEN coalesce(n_buyers, 0) = 0 THEN NULL"
                " ELSE 1000000 * coalesce(n_events, 0) div n_buyers END"
            ).alias("events_per_buyer_ppm"),
        )
        .orderBy("mktsegment")
    )


def oracle_drill_across_customer_360() -> str:
    return """
    WITH rev AS (
        SELECT c_mktsegment AS mktsegment,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_buyers,
               CAST(sum(CAST(cast(o_totalprice as decimal(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    ), act AS (
        SELECT c_mktsegment AS mktsegment,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    )
    SELECT coalesce(rev.mktsegment, act.mktsegment) AS mktsegment,
           CAST(coalesce(n_buyers, 0) AS BIGINT) AS n_buyers,
           CAST(coalesce(rev_cents, 0) AS BIGINT) AS rev_cents,
           CAST(coalesce(n_active_users, 0) AS BIGINT) AS n_active_users,
           CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
           CASE WHEN coalesce(n_buyers, 0) = 0 THEN NULL
                ELSE CAST(1000000 * coalesce(n_events, 0) // n_buyers AS BIGINT) END
               AS events_per_buyer_ppm
    FROM rev FULL OUTER JOIN act ON rev.mktsegment = act.mktsegment
    ORDER BY mktsegment
    """


def role_playing_date_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing date dimension: ONE dim_date spine joined twice
    into the same fact under two roles (order date, ship date) — the
    Kimball pattern for multi-date facts — computing per ship-year how
    many lines crossed a month boundary between ordering and shipping
    and the exact mean latency in days.

    Scale shape: lineitem⋈orders shuffles on the order key (both
    fact-sized — the case bucketing co-locates at warehouse scale);
    both date-role joins BROADCAST the same tiny spine; the rollup is
    year×flag-sized."""
    from northwind_warehouse_spark.plans.medallion import dim_date

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dd = dim_date(spark, sf_dir)
    dd_o = dd.select(
        F.col("full_date").alias("od"),
        (F.col("year") * 12 + F.col("month")).alias("om"),
    )
    dd_s = dd.select(
        F.col("full_date").alias("sd"),
        (F.col("year") * 12 + F.col("month")).alias("sm"),
        F.col("year").alias("ship_year"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dd_o), F.to_date("o_orderdate") == F.col("od"))
        .join(F.broadcast(dd_s), F.to_date("l_shipdate") == F.col("sd"))
        .withColumn("crossed_month", F.col("sm") > F.col("om"))
        .withColumn("lat_days", F.datediff("sd", "od").cast("bigint"))
        .groupBy("ship_year", "crossed_month")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("lat_days").cast("bigint").alias("total_latency_days"),
        )
        .withColumn("mean_latency_days", F.expr("total_latency_days div n_lines"))
        .orderBy("ship_year", "crossed_month")
    )


def oracle_role_playing_date_latency() -> str:
    from northwind_warehouse_spark.plans.medallion import DATE_END, DATE_START

    return f"""
    WITH spine AS (
        SELECT unnest(generate_series(DATE '{DATE_START}', DATE '{DATE_END}', INTERVAL 1 DAY))::DATE AS full_date
    ), dd AS (
        SELECT full_date, year(full_date) * 12 + month(full_date) AS m, year(full_date) AS yr
        FROM spine
    )
    SELECT ds.yr AS ship_year,
           ds.m > do_.m AS crossed_month,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(date_diff('day', do_.full_date, ds.full_date)) AS BIGINT) AS total_latency_days,
           CAST(CAST(sum(date_diff('day', do_.full_date, ds.full_date)) AS BIGINT)
                // count(*) AS BIGINT) AS mean_latency_days
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN dd do_ ON CAST(o_orderdate AS DATE) = do_.full_date
    JOIN dd ds ON CAST(l_shipdate AS DATE) = ds.full_date
    GROUP BY ds.yr, ds.m > do_.m
    ORDER BY ship_year, crossed_month
    """


# ---------------------------------------------------------------------------
# Round-6 additions: rolling windows, revenue splits, pricing audits
# ---------------------------------------------------------------------------


def revenue_rolling_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-day rolling revenue over the DAILY rollup: per order day, the
    day's revenue and the trailing-28-day sum via a RANGE frame on the
    day ordinal (calendar-aware — gaps in the order calendar shrink the
    window's row count but never its day span).

    Scale shape: the fact reduces to DAY GRAIN (bounded by the calendar,
    ~2.5k rows for 7 years) before the window, so the unpartitioned
    RANGE frame runs on a calendar-sized series at any SF — the same
    bounded-object discipline as monthly_revenue_mom."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("order_date"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    daily = o.groupBy("order_date").agg(F.sum("cents").alias("rev_cents"))
    day_no = F.datediff("order_date", F.lit("1992-01-01").cast("date"))
    w = Window.orderBy("day_no").rangeBetween(-27, 0)
    return (
        daily.withColumn("day_no", day_no)
        .withColumn("rolling_28d_cents", F.sum("rev_cents").over(w).cast("bigint"))
        .select("order_date", "rev_cents", "rolling_28d_cents")
        .orderBy("order_date")
    )


def oracle_revenue_rolling_28d() -> str:
    return """
    WITH daily AS (
        SELECT cast(o_orderdate AS DATE) AS order_date,
               CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ), ranged AS (
        SELECT order_date, rev_cents,
               date_diff('day', DATE '1992-01-01', order_date) AS day_no
        FROM daily
    )
    SELECT order_date, rev_cents,
           CAST(sum(rev_cents) OVER (
               ORDER BY day_no RANGE BETWEEN 27 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_28d_cents
    FROM ranged ORDER BY order_date
    """


def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split into NEW-customer revenue (orders placed in
    the customer's first-ever order month) vs RETURNING revenue — the
    growth-quality decomposition behind customer_growth_accounting's
    count view, in exact cents with the new share in basis points.

    Scale shape: one hash(custkey) shuffle for first-month, a broadcast-
    free month rollup (the per-order flag join shuffles on custkey,
    co-partitioned with the first-month agg); windows never touch the
    fact."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("ym"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first_ym = o.groupBy("o_custkey").agg(F.min("ym").alias("first_ym"))
    flagged = o.join(first_ym, "o_custkey").withColumn(
        "is_new", F.col("ym") == F.col("first_ym")
    )
    return (
        flagged.groupBy("ym")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("is_new"), F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("new_cents"),
            F.sum(F.when(~F.col("is_new"), F.col("cents")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("returning_cents"),
        )
        .withColumn(
            "new_share_bp",
            F.expr(
                "CAST(CAST(new_cents AS DECIMAL(38,0)) * 10000 div (new_cents + returning_cents) AS BIGINT)"
            ),
        )
        .orderBy("ym")
    )


def oracle_new_vs_returning_revenue() -> str:
    return """
    WITH o AS (
        SELECT o_custkey,
               strftime(cast(o_orderdate AS DATE), '%Y-%m') AS ym,
               CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), fm AS (
        SELECT o_custkey, min(ym) AS first_ym FROM o GROUP BY o_custkey
    ), flagged AS (
        SELECT o.ym, o.cents, (o.ym = fm.first_ym) AS is_new
        FROM o JOIN fm USING (o_custkey)
    ), agg AS (
        SELECT ym,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT) AS new_cents,
               CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) AS BIGINT) AS returning_cents
        FROM flagged GROUP BY ym
    )
    SELECT ym, n_orders, new_cents, returning_cents,
           CAST(CAST(new_cents AS HUGEINT) * 10000 // (new_cents + returning_cents) AS BIGINT) AS new_share_bp
    FROM agg ORDER BY ym
    """


def price_point_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Psychological-price-point audit: distribution of order totals by
    their CENTS ending (.00, .99, .95, .50, other) in exact ppm — the
    Benford-family sibling that detects hand-entered or synthetic
    amounts (organic totals spread cents ~uniformly; spikes at .00
    betray manual entry, spikes at .99 betray price-list pass-through).

    Scale shape: one map pass to the 5-bucket grain (map-side combined),
    a broadcast single-row total — nothing entity-sized anywhere."""
    o = load(spark, sf_dir, "orders").select(
        ((dec2("o_totalprice") * 100).cast("bigint") % 100).alias("cents_mod")
    )
    bucketed = o.select(
        F.expr(
            """CASE cents_mod WHEN 0 THEN '00' WHEN 99 THEN '99'
                   WHEN 95 THEN '95' WHEN 50 THEN '50'
                   ELSE 'other' END"""
        ).alias("cents_ending")
    )
    agg = bucketed.groupBy("cents_ending").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = agg.agg(F.sum("n_orders").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "cents_ending",
            "n_orders",
            F.expr("CAST(n_orders * 1000000 div total AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("cents_ending")
    )


def oracle_price_point_bias() -> str:
    return """
    WITH b AS (
        SELECT CASE CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) % 100
                   WHEN 0 THEN '00' WHEN 99 THEN '99'
                   WHEN 95 THEN '95' WHEN 50 THEN '50'
                   ELSE 'other' END AS cents_ending
        FROM orders
    ), agg AS (
        SELECT cents_ending, CAST(count(*) AS BIGINT) AS n_orders FROM b GROUP BY 1
    ), tot AS (SELECT sum(n_orders) AS total FROM agg)
    SELECT cents_ending, n_orders,
           CAST(n_orders * 1000000 // total AS BIGINT) AS share_ppm
    FROM agg CROSS JOIN tot ORDER BY cents_ending
    """


def event_type_gini_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Gini impurity of the user's
    event-type mix, 1 − Σ(cᵢ/n)², in EXACT ppm — the rational-arithmetic
    diversity index (entropy needs a transcendental log that drifts
    between engines; Gini is integer-exact). 0 = single-type user,
    → 1 − 1/k = uniform across k types.

    Scale shape: one hash(user, type) count (map-side combined), one
    user-grain rollup — both linear; no windows, no broadcast of
    anything user-sized."""
    e = load(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(F.expr("c * c")).cast("bigint").alias("ss"),
        )
        .withColumn(
            "gini_ppm",
            F.expr("CAST(1000000 - (1000000 * ss) div (n_events * n_events) AS BIGINT)"),
        )
        .select("user_id", "n_events", "n_types", "gini_ppm")
        .orderBy("user_id")
    )


def oracle_event_type_gini_by_user() -> str:
    return """
    WITH pt AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type
    ), agg AS (
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c * c) AS BIGINT) AS ss
        FROM pt GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           CAST(1000000 - (1000000 * ss) // (n_events * n_events) AS BIGINT) AS gini_ppm
    FROM agg ORDER BY user_id
    """


def supplier_on_time_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier on-time-delivery scorecard: per supplier, the share of
    lineitems shipped within 30 days of the order date (exact ppm),
    with nation context — the SCM KPI a procurement dashboard ranks
    vendors by.

    Scale shape: ONE fact⋈fact hash(orderkey) shuffle (bucketing
    co-locates it at warehouse scale), a supplier-grain rollup, then
    the size-gated supplier/nation decoration joins on the rollup —
    dims join AFTER aggregation, so they see |suppliers| rows, not
    |lineitems|."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    lat = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_suppkey", (F.datediff("sd", "od") <= 30).alias("on_time")
    )
    per_supp = lat.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("on_time"), 1).otherwise(0)).cast("bigint").alias("n_on_time"),
    )
    return (
        per_supp.join(maybe_broadcast(s), per_supp.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            "s_name",
            F.col("n_name").alias("nation"),
            "n_lines",
            "n_on_time",
            F.expr("CAST(n_on_time * 1000000 div n_lines AS BIGINT)").alias("on_time_ppm"),
        )
        .orderBy("supplier_id")
    )


def oracle_supplier_on_time_ship() -> str:
    return """
    WITH lat AS (
        SELECT l_suppkey,
               (date_diff('day', cast(o_orderdate AS DATE), cast(l_shipdate AS DATE)) <= 30) AS on_time
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), per_supp AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN on_time THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time
        FROM lat GROUP BY l_suppkey
    )
    SELECT s_suppkey AS supplier_id, s_name, n_name AS nation, n_lines, n_on_time,
           CAST(n_on_time * 1000000 // n_lines AS BIGINT) AS on_time_ppm
    FROM per_supp
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    ORDER BY supplier_id
    """


def dead_stock_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock report: parts with NO shipment in the trailing 90 days
    of the order calendar (or never shipped at all) with brand context
    and idle age — the inventory-ops complement to abc_parts (movement
    value) and xyz_parts_variability (movement stability).

    Scale shape: one map-side-combined max per part over lineitem, a
    single-row calendar-max broadcast, then the part dim joins the
    PART-GRAIN result through the size gate (left join so never-sold
    parts surface too — the worst dead stock is the kind with no fact
    rows at all)."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_part = l.groupBy("l_partkey").agg(F.max("sd").alias("last_ship_date"))
    maxd = l.agg(F.max("sd").alias("maxd"))
    aged = (
        maybe_broadcast(p)
        .join(per_part, p.p_partkey == per_part.l_partkey, "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            F.col("p_partkey").alias("part_id"),
            "p_brand",
            "last_ship_date",
            F.datediff("maxd", "last_ship_date").cast("bigint").alias("days_idle"),
        )
    )
    return (
        aged.filter(F.col("last_ship_date").isNull() | (F.col("days_idle") > 90))
        .withColumn(
            "stock_status",
            F.expr("CASE WHEN last_ship_date IS NULL THEN 'never_shipped' ELSE 'stale' END"),
        )
        .orderBy("part_id")
    )


def oracle_dead_stock_parts() -> str:
    return """
    WITH per_part AS (
        SELECT l_partkey, max(cast(l_shipdate AS DATE)) AS last_ship_date
        FROM lineitem GROUP BY l_partkey
    ), maxd AS (
        SELECT max(cast(l_shipdate AS DATE)) AS maxd FROM lineitem
    ), aged AS (
        SELECT p_partkey AS part_id, p_brand, last_ship_date,
               CAST(date_diff('day', last_ship_date, maxd) AS BIGINT) AS days_idle
        FROM part
        LEFT JOIN per_part ON l_partkey = p_partkey
        CROSS JOIN maxd
    )
    SELECT part_id, p_brand, last_ship_date, days_idle,
           CASE WHEN last_ship_date IS NULL THEN 'never_shipped' ELSE 'stale' END AS stock_status
    FROM aged
    WHERE last_ship_date IS NULL OR days_idle > 90
    ORDER BY part_id
    """


def revenue_by_customer_tenure_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle economics: revenue split by the customer's TENURE at
    order time — months since their first-ever order, banded first-month
    / 1-6 / 7-12 / 13+ — the compact answer to 'does revenue come from
    acquisition or from aged relationships', complementing
    cohort_ltv_curve's full cohort×age matrix with a 4-row executive
    cut. Month arithmetic is integer (y·12+m), exact ppm shares.

    Scale shape: one hash(custkey) shuffle for the first-order month,
    re-used by the co-partitioned flag join; the band rollup is 4 rows;
    the total is a broadcast single row."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        ).alias("m"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first_m = o.groupBy("o_custkey").agg(F.min("m").alias("first_m"))
    banded = (
        o.join(first_m, "o_custkey")
        .select(
            F.expr(
                """CASE WHEN m = first_m THEN '00_first_month'
                        WHEN m - first_m <= 6 THEN '01_months_1_6'
                        WHEN m - first_m <= 12 THEN '02_months_7_12'
                        ELSE '03_months_13_plus' END"""
            ).alias("tenure_band"),
            "cents",
        )
    )
    agg = banded.groupBy("tenure_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("rev_cents"),
    )
    tot = agg.agg(F.sum("rev_cents").cast("bigint").alias("total_cents"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .withColumn(
            "rev_share_ppm",
            F.expr("CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000 div total_cents AS BIGINT)"),
        )
        .select("tenure_band", "n_orders", "rev_cents", "rev_share_ppm")
        .orderBy("tenure_band")
    )


def oracle_revenue_by_customer_tenure_band() -> str:
    return """
    WITH o AS (
        SELECT o_custkey,
               year(cast(o_orderdate AS DATE)) * 12 + month(cast(o_orderdate AS DATE)) AS m,
               CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), fm AS (
        SELECT o_custkey, min(m) AS first_m FROM o GROUP BY o_custkey
    ), banded AS (
        SELECT CASE WHEN m = first_m THEN '00_first_month'
                    WHEN m - first_m <= 6 THEN '01_months_1_6'
                    WHEN m - first_m <= 12 THEN '02_months_7_12'
                    ELSE '03_months_13_plus' END AS tenure_band,
               cents
        FROM o JOIN fm USING (o_custkey)
    ), agg AS (
        SELECT tenure_band,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM banded GROUP BY tenure_band
    ), tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM agg)
    SELECT tenure_band, n_orders, rev_cents,
           CAST(CAST(rev_cents AS HUGEINT) * 1000000 // total_cents AS BIGINT) AS rev_share_ppm
    FROM agg CROSS JOIN tot ORDER BY tenure_band
    """


def fiscal_period_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sales flash on the 4-4-5 RETAIL calendar: orders rolled up to
    (fiscal_year, fiscal_period) through the dim_date_fiscal445 spine —
    the merchandising view where periods are comparable 4/4/5-week
    blocks instead of ragged Gregorian months (reference: the dbt_date
    spine macro family the fiscal dim re-expresses).

    Scale shape: the spine is calendar-bounded (one row per day) so its
    hard broadcast is safe at any SF; the fact joins map-side and rolls
    up to ≤ years×12 rows."""
    from northwind_warehouse_spark.plans import medallion

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("od"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cal = medallion.dim_date_fiscal445(spark, sf_dir).select(
        "full_date", "fiscal_year", "fiscal_period"
    )
    return (
        o.join(F.broadcast(cal), o.od == cal.full_date)
        .groupBy("fiscal_year", "fiscal_period")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
        .orderBy("fiscal_year", "fiscal_period")
    )


def oracle_fiscal_period_sales() -> str:
    from northwind_warehouse_spark.plans import medallion

    return f"""
    WITH fiscal AS ({medallion.oracle_dim_date_fiscal445()})
    SELECT fiscal_year, fiscal_period,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders JOIN fiscal ON cast(o_orderdate AS DATE) = full_date
    GROUP BY fiscal_year, fiscal_period
    ORDER BY fiscal_year, fiscal_period
    """


def order_size_value_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D order profile: contingency matrix of LINES-PER-ORDER band ×
    ORDER-VALUE band with exact ppm shares — the shape-of-demand view
    (are big-ticket orders many-line or single-line?) that a 1-D
    histogram can't answer.

    Scale shape: one hash(orderkey) line count (map-side combined,
    co-partitioned join with orders), a ≤16-row matrix rollup, one
    broadcast total."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", (dec2("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    nl = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    banded = o.join(nl, o.o_orderkey == nl.l_orderkey).select(
        F.expr(
            """CASE WHEN n_lines <= 2 THEN '1-2' WHEN n_lines <= 4 THEN '3-4'
                    WHEN n_lines <= 6 THEN '5-6' ELSE '7+' END"""
        ).alias("lines_band"),
        F.expr(
            """CASE WHEN cents < 10000000 THEN 'lt_100k'
                    WHEN cents < 20000000 THEN '100k_200k'
                    WHEN cents < 30000000 THEN '200k_300k'
                    ELSE 'ge_300k' END"""
        ).alias("value_band"),
    )
    agg = banded.groupBy("lines_band", "value_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    tot = agg.agg(F.sum("n_orders").cast("bigint").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .withColumn("share_ppm", F.expr("CAST(n_orders * 1000000 div total AS BIGINT)"))
        .select("lines_band", "value_band", "n_orders", "share_ppm")
        .orderBy("lines_band", "value_band")
    )


def oracle_order_size_value_matrix() -> str:
    return """
    WITH nl AS (
        SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY l_orderkey
    ), banded AS (
        SELECT CASE WHEN n_lines <= 2 THEN '1-2' WHEN n_lines <= 4 THEN '3-4'
                    WHEN n_lines <= 6 THEN '5-6' ELSE '7+' END AS lines_band,
               CASE WHEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) < 10000000 THEN 'lt_100k'
                    WHEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) < 20000000 THEN '100k_200k'
                    WHEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) < 30000000 THEN '200k_300k'
                    ELSE 'ge_300k' END AS value_band
        FROM orders JOIN nl ON l_orderkey = o_orderkey
    ), agg AS (
        SELECT lines_band, value_band, CAST(count(*) AS BIGINT) AS n_orders
        FROM banded GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM agg)
    SELECT lines_band, value_band, n_orders,
           CAST(n_orders * 1000000 // total AS BIGINT) AS share_ppm
    FROM agg CROSS JOIN tot
    ORDER BY lines_band, value_band
    """


def events_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ value profile of the event stream: per event type, null /
    zero / negative counts and integer floor-cents min/max — the
    column-profile the dbt schema tests don't cover (they assert
    not-null; this MEASURES the distribution so drift is visible
    before it breaks a downstream sum). Doubles never cross the oracle
    raw: extrema are floored to cents on both sides.

    Scale shape: one map-side-combined pass to event-type grain."""
    e = load(spark, sf_dir, "events")
    cents = F.expr("CAST(FLOOR(CAST(value AS DOUBLE) * 100.0) AS BIGINT)")
    return (
        e.select("event_type", F.col("value"), cents.alias("vc"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).cast("bigint").alias("n_null"),
            F.sum(F.when(F.col("vc") == 0, 1).otherwise(0)).cast("bigint").alias("n_zero"),
            F.sum(F.when(F.col("vc") < 0, 1).otherwise(0)).cast("bigint").alias("n_negative"),
            F.min("vc").cast("bigint").alias("min_cents"),
            F.max("vc").cast("bigint").alias("max_cents"),
        )
        .orderBy("event_type")
    )


def oracle_events_value_profile() -> str:
    return """
    WITH v AS (
        SELECT event_type, value,
               CAST(floor(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS vc
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN vc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(sum(CASE WHEN vc < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
           CAST(min(vc) AS BIGINT) AS min_cents,
           CAST(max(vc) AS BIGINT) AS max_cents
    FROM v GROUP BY event_type ORDER BY event_type
    """


def fiscal_yoy_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year comparable-period sales on the 4-4-5 calendar:
    each fiscal period against the SAME period last year (the whole
    point of 4-4-5 — periods are week-aligned and comparable), delta in
    sign-split exact basis points.

    Scale shape: builds on fiscal_period_sales' period-grain rollup
    (≤ years×12 rows); the lag window partitions by fiscal_period over
    a years-long series — bounded by the calendar, never by the fact."""
    from pyspark.sql.window import Window

    per_period = fiscal_period_sales(spark, sf_dir)
    w = Window.partitionBy("fiscal_period").orderBy("fiscal_year")
    return (
        per_period.withColumn("prev_year_cents", F.lag("rev_cents").over(w))
        .withColumn(
            "yoy_bp",
            F.expr(
                """CASE WHEN prev_year_cents IS NULL OR prev_year_cents = 0 THEN NULL
                        WHEN rev_cents >= prev_year_cents
                          THEN CAST(CAST(rev_cents - prev_year_cents AS DECIMAL(38,0)) * 10000 div prev_year_cents AS BIGINT)
                        ELSE -CAST(CAST(prev_year_cents - rev_cents AS DECIMAL(38,0)) * 10000 div prev_year_cents AS BIGINT)
                   END"""
            ),
        )
        .select("fiscal_year", "fiscal_period", "rev_cents", "prev_year_cents", "yoy_bp")
        .orderBy("fiscal_year", "fiscal_period")
    )


def oracle_fiscal_yoy_sales() -> str:
    base = oracle_fiscal_period_sales()
    return f"""
    WITH per_period AS ({base}),
    lagged AS (
        SELECT fiscal_year, fiscal_period, rev_cents,
               lag(rev_cents) OVER (PARTITION BY fiscal_period ORDER BY fiscal_year) AS prev_year_cents
        FROM per_period
    )
    SELECT fiscal_year, fiscal_period, rev_cents, prev_year_cents,
           CASE WHEN prev_year_cents IS NULL OR prev_year_cents = 0 THEN NULL
                WHEN rev_cents >= prev_year_cents
                  THEN CAST(CAST(rev_cents - prev_year_cents AS HUGEINT) * 10000 // prev_year_cents AS BIGINT)
                ELSE -CAST(CAST(prev_year_cents - rev_cents AS HUGEINT) * 10000 // prev_year_cents AS BIGINT)
           END AS yoy_bp
    FROM lagged ORDER BY fiscal_year, fiscal_period
    """


def events_bot_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-traffic heuristic: per user, events per ACTIVE MINUTE (×100,
    integer-exact) and event-type diversity; flagged when the rate is
    ≥ 3 events/min across their active minutes AND they use ≤ 2 event
    types — the high-rate/low-diversity signature that separates
    scripted traffic from humans. All arithmetic integer (µs epochs,
    distinct minute buckets), so the flag hashes identically
    cross-engine.

    Scale shape: one (user, minute) distinct pre-aggregation (map-side
    expand) + one user-grain rollup; no windows, nothing broadcast."""
    e = load(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_type",
        (F.unix_micros("ts") / F.lit(60_000_000)).cast("bigint").alias("minute_bucket"),
    )
    per_user = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("minute_bucket").cast("bigint").alias("n_active_minutes"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
    )
    return (
        per_user.withColumn(
            "rate_x100", F.expr("CAST(100 * n_events div n_active_minutes AS BIGINT)")
        )
        .withColumn("bot_flag", F.expr("rate_x100 >= 300 AND n_types <= 2"))
        .select("user_id", "n_events", "n_active_minutes", "n_types", "rate_x100", "bot_flag")
        .orderBy("user_id")
    )


def oracle_events_bot_heuristic() -> str:
    return """
    WITH base AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) // 60000000 AS BIGINT) AS minute_bucket
        FROM events
    ), per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT minute_bucket) AS BIGINT) AS n_active_minutes,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        FROM base GROUP BY user_id
    )
    SELECT user_id, n_events, n_active_minutes, n_types,
           CAST(100 * n_events // n_active_minutes AS BIGINT) AS rate_x100,
           (100 * n_events // n_active_minutes >= 300 AND n_types <= 2) AS bot_flag
    FROM per_user ORDER BY user_id
    """


def brand_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate league table: per part brand, returned lineitems
    (l_returnflag = 'R') as an exact ppm of lines and of revenue cents
    — the product-quality complement to q10's customer-centric returned
    revenue.

    Scale shape: the fact aggregates to brand grain AFTER a size-gated
    part join (brand is the only part column read — pruned scan); two
    exact ppm divisions on the ≤|brands| rollup."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_returnflag") == "R").alias("ret"),
        (dec2("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("ret"), 1).otherwise(0)).cast("bigint").alias("n_returned"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
            F.sum(F.when(F.col("ret"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("returned_cents"),
        )
        .withColumn("return_line_ppm", F.expr("CAST(n_returned * 1000000 div n_lines AS BIGINT)"))
        .withColumn(
            "return_value_ppm",
            F.expr("CAST(CAST(returned_cents AS DECIMAL(38,0)) * 1000000 div rev_cents AS BIGINT)"),
        )
        .orderBy("p_brand")
    )


def oracle_brand_return_rates() -> str:
    return """
    WITH l AS (
        SELECT l_partkey, (l_returnflag = 'R') AS ret,
               CAST(cast(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM lineitem
    ), agg AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN ret THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
               CAST(sum(cents) AS BIGINT) AS rev_cents,
               CAST(sum(CASE WHEN ret THEN cents ELSE 0 END) AS BIGINT) AS returned_cents
        FROM l JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand
    )
    SELECT p_brand, n_lines, n_returned, rev_cents, returned_cents,
           CAST(n_returned * 1000000 // n_lines AS BIGINT) AS return_line_ppm,
           CAST(CAST(returned_cents AS HUGEINT) * 1000000 // rev_cents AS BIGINT) AS return_value_ppm
    FROM agg ORDER BY p_brand
    """


def events_stickiness_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month: Σdaily-actives over the month
    divided by (days-with-activity × monthly-actives), in exact ppm —
    the engagement-quality ratio (1e6 ⇒ every monthly user active every
    active day; low ⇒ drive-by usage), composed from the same distinct
    pre-aggregations events_daily_active uses.

    Scale shape: two distinct pre-aggregations — (day, user) and
    (month, user) — both map-side expanded; the ratio computes on
    month-grain rows."""
    e = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"),
        F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("ym"),
        "user_id",
    )
    dau = e.groupBy("ym", "d").agg(F.countDistinct("user_id").alias("dau"))
    dau_m = dau.groupBy("ym").agg(
        F.sum("dau").cast("bigint").alias("sum_dau"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
    )
    mau = e.groupBy("ym").agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    return (
        dau_m.join(mau, "ym")
        .withColumn(
            "stickiness_ppm",
            F.expr("CAST(sum_dau * 1000000 div (n_active_days * mau) AS BIGINT)"),
        )
        .select("ym", "sum_dau", "n_active_days", "mau", "stickiness_ppm")
        .orderBy("ym")
    )


def oracle_events_stickiness_monthly() -> str:
    return """
    WITH e AS (
        SELECT cast(ts AS DATE) AS d,
               strftime(cast(ts AS DATE), '%Y-%m') AS ym,
               user_id
        FROM events
    ), dau AS (
        SELECT ym, d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM e GROUP BY ym, d
    ), dau_m AS (
        SELECT ym, CAST(sum(dau) AS BIGINT) AS sum_dau,
               CAST(count(*) AS BIGINT) AS n_active_days
        FROM dau GROUP BY ym
    ), mau AS (
        SELECT ym, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM e GROUP BY ym
    )
    SELECT ym, sum_dau, n_active_days, mau,
           CAST(sum_dau * 1000000 // (n_active_days * mau) AS BIGINT) AS stickiness_ppm
    FROM dau_m JOIN mau USING (ym) ORDER BY ym
    """


def purchase_breadth_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment-breadth segmentation: customers banded by how many
    DISTINCT part brands they have ever purchased (1-2 / 3-5 / 6-9 /
    10+), with exact ppm of the buying population — the cross-sell
    ceiling view (narrow-basket customers are the expansion target;
    broad ones the loyalty target).

    Scale shape: one (customer, brand) distinct pre-aggregation over
    the fact⋈orders⋈part joins (part through the size gate), one
    customer-grain count, a 4-row band rollup + broadcast total."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
    )
    breadth = cb.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_brands"))
    banded = breadth.select(
        F.expr(
            """CASE WHEN n_brands <= 2 THEN '1-2' WHEN n_brands <= 5 THEN '3-5'
                    WHEN n_brands <= 9 THEN '6-9' ELSE '10+' END"""
        ).alias("breadth_band")
    )
    agg = banded.groupBy("breadth_band").agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    tot = agg.agg(F.sum("n_customers").cast("bigint").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .withColumn("share_ppm", F.expr("CAST(n_customers * 1000000 div total AS BIGINT)"))
        .select("breadth_band", "n_customers", "share_ppm")
        .orderBy("breadth_band")
    )


def oracle_purchase_breadth_bands() -> str:
    return """
    WITH cb AS (
        SELECT DISTINCT o_custkey, p_brand
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN part ON p_partkey = l_partkey
    ), breadth AS (
        SELECT o_custkey, count(*) AS n_brands FROM cb GROUP BY o_custkey
    ), banded AS (
        SELECT CASE WHEN n_brands <= 2 THEN '1-2' WHEN n_brands <= 5 THEN '3-5'
                    WHEN n_brands <= 9 THEN '6-9' ELSE '10+' END AS breadth_band
        FROM breadth
    ), agg AS (
        SELECT breadth_band, CAST(count(*) AS BIGINT) AS n_customers
        FROM banded GROUP BY breadth_band
    ), tot AS (SELECT CAST(sum(n_customers) AS BIGINT) AS total FROM agg)
    SELECT breadth_band, n_customers,
           CAST(n_customers * 1000000 // total AS BIGINT) AS share_ppm
    FROM agg CROSS JOIN tot ORDER BY breadth_band
    """


def session_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-SESSION event-type affinity: for every event-type pair,
    how many sessions contain BOTH, with exact lift ppm against the
    independence expectation — basket_affinity's mechanics applied to
    the behavioral basket (a 30-min session) instead of the purchase
    basket; high-lift pairs are the flows product analytics turns into
    funnels.

    Scale shape: sessionization shares one hash(user) exchange
    (operators/sessionize.py); the distinct (session, type) relation is
    bounded by sessions × |types|; the pair self-join fans out per
    session by at most |types|² (constant), never corpus²; marginals
    and the session total are tiny broadcasts."""
    from northwind_warehouse_spark.operators.sessionize import sessionize

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800, tiebreak_cols=("event_id",))
    st = s.select("user_id", "session_idx", "event_type").distinct()
    n_sessions = st.select("user_id", "session_idx").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    marg = st.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = st.select("user_id", "session_idx", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "session_idx", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_idx"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cooccur"))
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(n_sessions))
        .withColumn(
            "lift_ppm",
            F.expr(
                "CAST(CAST(n_cooccur AS DECIMAL(38,0)) * n_sessions * 1000000 div (c_a * c_b) AS BIGINT)"
            ),
        )
        .select("type_a", "type_b", "n_cooccur", "c_a", "c_b", "lift_ppm")
        .orderBy("type_a", "type_b")
    )


def oracle_session_type_affinity() -> str:
    return """
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                        OR (epoch_us(ts) - epoch_us(prev_ts)) > 1800 * 1000000
                   THEN 1 ELSE 0 END AS is_new
        FROM seq
    ), sessions AS (
        SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM flagged
    ), st AS (
        SELECT DISTINCT user_id, session_idx, event_type FROM sessions
    ), ns AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sessions
        FROM (SELECT DISTINCT user_id, session_idx FROM st)
    ), marg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY event_type
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_cooccur
        FROM st a JOIN st b
          ON a.user_id = b.user_id AND a.session_idx = b.session_idx
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_cooccur, ma.c AS c_a, mb.c AS c_b,
           CAST(CAST(n_cooccur AS HUGEINT) * n_sessions * 1000000 // (ma.c * mb.c) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN marg ma ON ma.event_type = type_a
    JOIN marg mb ON mb.event_type = type_b
    CROSS JOIN ns
    ORDER BY type_a, type_b
    """


def quarter_end_loading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-end loading audit: the share of each quarter's revenue
    booked in its LAST 7 DAYS vs the uniform-calendar expectation
    (7 / days-in-quarter) — the hockey-stick / sandbagging detector a
    revenue-recognition audit runs. All ratios exact ppm; the excess is
    signed ppm.

    Scale shape: one map pass tags each order with its quarter and
    last-7-day flag (pure date arithmetic), one map-side-combined
    rollup to quarter grain."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("od"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    tagged = o.select(
        F.expr("year(od)").alias("yr"),
        F.expr("quarter(od)").alias("qtr"),
        F.expr("make_date(year(od), (quarter(od) - 1) * 3 + 1, 1)").alias("qstart"),
        "od",
        "cents",
    ).select(
        "yr", "qtr", "od", "cents",
        F.expr("date_sub(add_months(qstart, 3), 1)").alias("qend"),
        F.expr("datediff(date_sub(add_months(qstart, 3), 1), qstart) + 1").alias("days_in_q"),
    )
    return (
        tagged.groupBy("yr", "qtr")
        .agg(
            F.sum("cents").cast("bigint").alias("rev_cents"),
            F.sum(F.when(F.expr("od >= date_sub(qend, 6)"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("last7_cents"),
            F.max("days_in_q").cast("bigint").alias("days_in_q"),
        )
        .withColumn(
            "last7_share_ppm",
            F.expr("CAST(CAST(last7_cents AS DECIMAL(38,0)) * 1000000 div rev_cents AS BIGINT)"),
        )
        .withColumn("expected_ppm", F.expr("CAST(7000000 div days_in_q AS BIGINT)"))
        .withColumn("excess_ppm", F.expr("CAST(last7_share_ppm - expected_ppm AS BIGINT)"))
        .select(
            "yr", "qtr", "rev_cents", "last7_cents", "days_in_q",
            "last7_share_ppm", "expected_ppm", "excess_ppm",
        )
        .orderBy("yr", "qtr")
    )


def oracle_quarter_end_loading() -> str:
    return """
    WITH o AS (
        SELECT cast(o_orderdate AS DATE) AS od,
               CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), tagged AS (
        SELECT year(od) AS yr, quarter(od) AS qtr, od, cents,
               make_date(year(od), (quarter(od) - 1) * 3 + 1, 1)
                   + INTERVAL 3 MONTH - INTERVAL 1 DAY AS qend,
               date_diff('day', make_date(year(od), (quarter(od) - 1) * 3 + 1, 1),
                         make_date(year(od), (quarter(od) - 1) * 3 + 1, 1)
                             + INTERVAL 3 MONTH - INTERVAL 1 DAY) + 1 AS days_in_q
        FROM o
    ), agg AS (
        SELECT yr, qtr,
               CAST(sum(cents) AS BIGINT) AS rev_cents,
               CAST(sum(CASE WHEN od >= qend - INTERVAL 6 DAY THEN cents ELSE 0 END) AS BIGINT) AS last7_cents,
               CAST(max(days_in_q) AS BIGINT) AS days_in_q
        FROM tagged GROUP BY yr, qtr
    )
    SELECT yr, qtr, rev_cents, last7_cents, days_in_q,
           CAST(CAST(last7_cents AS HUGEINT) * 1000000 // rev_cents AS BIGINT) AS last7_share_ppm,
           CAST(7000000 // days_in_q AS BIGINT) AS expected_ppm,
           CAST(CAST(last7_cents AS HUGEINT) * 1000000 // rev_cents
                - 7000000 // days_in_q AS BIGINT) AS excess_ppm
    FROM agg ORDER BY yr, qtr
    """


def sole_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-risk audit: parts whose OBSERVED order history shows
    exactly one supplier — the single-point-of-failure list procurement
    reviews after every vendor incident (one supplier in the data means
    no proven alternative, whatever the catalog claims).

    Scale shape: one distinct (part, supplier) pre-aggregation over the
    fact (map-side expand), a part-grain count, and the part dim joined
    through the size gate AFTER aggregation."""
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_part = l.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.min("l_suppkey").cast("bigint").alias("sole_supplier_id"),
    )
    return (
        per_part.filter(F.col("n_suppliers") == 1)
        .join(maybe_broadcast(p), per_part.l_partkey == p.p_partkey)
        .select(
            F.col("p_partkey").alias("part_id"),
            "p_brand",
            "sole_supplier_id",
        )
        .orderBy("part_id")
    )


def oracle_sole_source_parts() -> str:
    return """
    WITH ps AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), per_part AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(min(l_suppkey) AS BIGINT) AS sole_supplier_id
        FROM ps GROUP BY l_partkey
    )
    SELECT p_partkey AS part_id, p_brand, sole_supplier_id
    FROM per_part JOIN part ON p_partkey = l_partkey
    WHERE n_suppliers = 1
    ORDER BY part_id
    """


def orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality: order count and revenue share per
    weekday (0=Sunday on both engines: Spark dayofweek()-1 ≡ DuckDB
    date_part('dow')), plus the revenue-vs-order-count excess — the
    signed ppm gap that shows whether some weekdays carry BIGGER orders,
    not just more of them (the monthly_seasonal_index twin at week
    grain).

    Scale shape: one map pass projects (dow, cents) straight off the
    scan, one 7-row map-side-combined rollup; the shares are a
    7-row window."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("dow"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    agg = o.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("rev_cents"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        agg.withColumn("_tot_n", F.sum("n_orders").over(w_all))
        .withColumn("_tot_rev", F.sum("rev_cents").over(w_all))
        .select(
            "dow", "n_orders", "rev_cents",
            F.expr("CAST(CAST(n_orders AS DECIMAL(38,0)) * 1000000 div _tot_n AS BIGINT)")
            .alias("order_share_ppm"),
            F.expr("CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000 div _tot_rev AS BIGINT)")
            .alias("rev_share_ppm"),
            F.expr(
                "CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000 div _tot_rev"
                " - CAST(n_orders AS DECIMAL(38,0)) * 1000000 div _tot_n AS BIGINT)"
            ).alias("size_excess_ppm"),
        )
        .orderBy("dow")
    )


def oracle_orders_dow_seasonality() -> str:
    return """
    WITH o AS (
        SELECT date_part('dow', o_orderdate) AS dow,
               CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), agg AS (
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM o GROUP BY 1
    )
    SELECT dow, n_orders, rev_cents,
           CAST(CAST(n_orders AS HUGEINT) * 1000000 // CAST(sum(n_orders) OVER () AS BIGINT) AS BIGINT) AS order_share_ppm,
           CAST(CAST(rev_cents AS HUGEINT) * 1000000 // CAST(sum(rev_cents) OVER () AS BIGINT) AS BIGINT) AS rev_share_ppm,
           CAST(CAST(rev_cents AS HUGEINT) * 1000000 // CAST(sum(rev_cents) OVER () AS BIGINT)
                - CAST(n_orders AS HUGEINT) * 1000000 // CAST(sum(n_orders) OVER () AS BIGINT) AS BIGINT) AS size_excess_ppm
    FROM agg ORDER BY dow
    """


def supplier_risk_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-risk screen: every supplier with its account balance,
    observed revenue exposure (discounted lineitem revenue routed
    through it), breadth (distinct parts), sole-source burden (parts
    for which it is the ONLY observed supplier), and a negative-balance
    flag — the procurement risk register combining finance
    (s_acctbal < 0) with operational criticality (sole-source parts).

    Scale shape: two fact rollups (supplier grain; distinct
    (part,supplier) → part grain → supplier grain), both map-side
    combined; the supplier dim joins through the size gate. Exposure
    sums exact decimals and floors to cents ONCE per supplier."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name",
        (dec2("s_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
    )
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey", disc_price().alias("dp"))
    per_supp = li.groupBy("l_suppkey").agg(
        # exact decimal sum, floored to cents ONCE (Spark's decimal→bigint
        # cast truncates while DuckDB's rounds — floor() is identical on both)
        F.expr("CAST(floor(sum(dp) * 100) AS BIGINT)").alias("exposure_cents"),
        F.count_distinct("l_partkey").cast("bigint").alias("n_parts"),
    )
    ps = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    sole = (
        ps.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("_ns"), F.min("l_suppkey").alias("_supp"))
        .filter(F.col("_ns") == 1)
        .groupBy("_supp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sole_parts"))
    )
    return (
        maybe_broadcast(s)
        .join(per_supp, s.s_suppkey == per_supp.l_suppkey, "inner")
        .join(sole, s.s_suppkey == sole._supp, "left")
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            "s_name",
            "acctbal_cents",
            "exposure_cents",
            "n_parts",
            F.coalesce(F.col("n_sole_parts"), F.lit(0)).cast("bigint").alias("n_sole_parts"),
            F.when(F.col("acctbal_cents") < 0, "Y").otherwise("N").alias("neg_balance"),
        )
        .orderBy("supplier_id")
    )


def oracle_supplier_risk_screen() -> str:
    return f"""
    WITH per_supp AS (
        SELECT l_suppkey,
               CAST(floor(sum({o_disc_price()}) * 100) AS BIGINT) AS exposure_cents,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem GROUP BY l_suppkey
    ), ps AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), sole AS (
        SELECT _supp, CAST(count(*) AS BIGINT) AS n_sole_parts FROM (
            SELECT l_partkey, count(*) AS _ns, min(l_suppkey) AS _supp
            FROM ps GROUP BY l_partkey
        ) WHERE _ns = 1 GROUP BY _supp
    )
    SELECT s_suppkey AS supplier_id, s_name,
           CAST(cast(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acctbal_cents,
           exposure_cents, n_parts,
           CAST(coalesce(n_sole_parts, 0) AS BIGINT) AS n_sole_parts,
           CASE WHEN cast(s_acctbal AS DECIMAL(12,2)) < 0 THEN 'Y' ELSE 'N' END AS neg_balance
    FROM supplier
    JOIN per_supp ON l_suppkey = s_suppkey
    LEFT JOIN sole ON _supp = s_suppkey
    ORDER BY supplier_id
    """


def part_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item affinity top-3: for every part, its 3 strongest basket
    companions by squared co-occurrence cosine — cos²(a,b) =
    co(a,b)² / (n_a · n_b) in exact integer ppm (squaring keeps the
    score in integers; it is order-equivalent to cosine). The
    recommendation-list complement to basket_affinity's global
    brand-pair lift table.

    Scale shape: pair fan-out is per-order (bounded by lines-per-order²,
    a small constant — never parts²); the (a,b) rollup is a TRIANGLE
    aggregation (round 12, the knn_graph pattern: co-occurrence is
    symmetric, so the join emits and the map-side-combined groupBy
    shuffles only a < b — HALF the pair rows — and the small
    post-min-support relation is persisted and mirrored back by a
    projection-only union before the marginals join; measured
    min-of-2, rows identical: 2.06→1.66s at sf0.1, 8.76→2.61s at 10×,
    25.06→3.28s at 30× — the 10×/30× regime was the pre-r13
    replication artifact where min-support stops pruning, exactly
    where halving the agg input matters most; under the r13
    disjoint-catalog replicator, post-prune pairs grow exactly
    ×factor — 3,573/10,719/35,730/107,190 at 1×/3×/10×/30× — and the
    SCALING row now grades real corpus growth); marginals join through
    the size gate (part-cardinality = SF-growing); min-support co ≥ 2
    prunes the noise tail before the per-part top-k window (partition
    bounded by a part's distinct companions)."""
    from pyspark.sql.window import Window

    # spread DECLINED with numbers (r13): A/B ratio 1.03 — the distinct
    # already exchanges the slim pair and the pair join dominates
    op = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    # read three times (both self-join sides + marginals): persist the slim
    # distinct relation so the scan+distinct runs once
    op = op.persist()
    marg = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    half = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .persist()
    )
    pairs = half.union(
        half.select(
            F.col("part_b").alias("part_a"), F.col("part_a").alias("part_b"),
            "n_co",
        )
    )
    ma = marg.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    scored = (
        pairs.join(maybe_broadcast(ma), "part_a")
        .join(maybe_broadcast(mb), "part_b")
        .withColumn(
            "cos2_ppm",
            F.expr(
                "CAST(CAST(n_co AS DECIMAL(38,0)) * n_co * 1000000"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("cos2_ppm"), F.desc("n_co"), F.col("part_b")
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 3)
        .select("part_a", "part_b", "n_co", "n_a", "n_b", "cos2_ppm", "nn_rank")
        .orderBy("part_a", "nn_rank")
    )


def oracle_part_cooccurrence_topk() -> str:
    return """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), marg AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY l_partkey
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, CAST(count(*) AS BIGINT) AS n_co
        FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), scored AS (
        SELECT part_a, part_b, n_co, ma.n AS n_a, mb.n AS n_b,
               CAST(CAST(n_co AS HUGEINT) * n_co * 1000000
                    // (CAST(ma.n AS HUGEINT) * mb.n) AS BIGINT) AS cos2_ppm
        FROM pairs
        JOIN marg ma ON ma.l_partkey = part_a
        JOIN marg mb ON mb.l_partkey = part_b
    )
    SELECT part_a, part_b, n_co, n_a, n_b, cos2_ppm, nn_rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY part_a ORDER BY cos2_ppm DESC, n_co DESC, part_b
        ) AS nn_rank
        FROM scored
    ) WHERE nn_rank <= 3
    ORDER BY part_a, nn_rank
    """


def order_status_drift_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-drift monitor on o_orderstatus: each month's status
    mix (exact ppm) against the all-time mix, with the signed per-cell
    deviation — the DQ alarm for upstream state-machine changes (a
    month where 'P' share jumps means fulfilment stalled or the feed
    started emitting a new lifecycle). Same TV-distance family as
    source_vocab_tv_distance, applied to a warehouse status column.

    Scale shape: one (month, status) map-side-combined rollup off the
    scan; shares are windows over the ≤ |months|·|statuses| aggregate,
    never over base rows."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("bigint").alias("ym"),
        F.col("o_orderstatus").alias("status"),
    )
    agg = o.groupBy("ym", "status").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_m = Window.partitionBy("ym")
    w_s = Window.partitionBy("status")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        agg.withColumn("_tot_m", F.sum("n").over(w_m))
        .withColumn("_tot_s", F.sum("n").over(w_s))
        .withColumn("_tot", F.sum("n").over(w_all))
        .select(
            "ym", "status", "n",
            F.expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div _tot_m AS BIGINT)")
            .alias("share_ppm"),
            F.expr("CAST(CAST(_tot_s AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)")
            .alias("global_share_ppm"),
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div _tot_m"
                " - CAST(_tot_s AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("ym", "status")
    )


def oracle_order_status_drift_monthly() -> str:
    return """
    WITH o AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
               o_orderstatus AS status
        FROM orders
    ), agg AS (
        SELECT ym, status, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY ym, status
    )
    SELECT ym, status, n,
           CAST(CAST(n AS HUGEINT) * 1000000
                // CAST(sum(n) OVER (PARTITION BY ym) AS BIGINT) AS BIGINT) AS share_ppm,
           CAST(CAST(sum(n) OVER (PARTITION BY status) AS HUGEINT) * 1000000
                // CAST(sum(n) OVER () AS BIGINT) AS BIGINT) AS global_share_ppm,
           CAST(CAST(n AS HUGEINT) * 1000000
                // CAST(sum(n) OVER (PARTITION BY ym) AS BIGINT)
                - CAST(sum(n) OVER (PARTITION BY status) AS HUGEINT) * 1000000
                // CAST(sum(n) OVER () AS BIGINT) AS BIGINT) AS dev_ppm
    FROM agg ORDER BY ym, status
    """


def acctbal_spend_quadrants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance-vs-behavior segmentation: per nation, customers placed in
    quadrants by account balance and observed spend relative to the
    NATION MEAN (integer cross-multiplication — acctbal·n > Σacctbal —
    so no division crosses the oracle), with each quadrant's customer
    count and exact-ppm share of nation revenue. The finance-meets-
    behavior view (e.g. 'low balance, high spend' = credit risk).

    Scale shape: customer-grain spend rollup (map-side combined), a
    bounded nation join (hard broadcast — 25 rows), nation totals as a
    ≤|nations| aggregate joined back through the size gate; no
    unbounded windows."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        (dec2("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    sp = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum((dec2("o_totalprice") * 100).cast("bigint")).cast("bigint")
            .alias("spend_cents")
        )
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pc = (
        c.join(sp, c.c_custkey == sp.o_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name", "bal_cents",
            F.coalesce(F.col("spend_cents"), F.lit(0)).cast("bigint").alias("spend_cents"),
        )
    )
    nat = pc.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("bal_cents").cast("bigint").alias("tot_bal"),
        F.sum("spend_cents").cast("bigint").alias("tot_spend"),
    )
    q = (
        # rows-gated (r13): nat is one row per nation — bounded by the
        # fixed 25-row nation table; the groupBy-over-join estimate
        # (~1.5e9) silently declined this into an SMJ.
        pc.join(maybe_broadcast_rows(nat, table_rows(sf_dir, "nation")), "n_name")
        .withColumn(
            "quadrant",
            F.expr(
                "concat(CASE WHEN CAST(bal_cents AS DECIMAL(38,0)) * n_cust > tot_bal"
                " THEN 'HB' ELSE 'LB' END, '-',"
                " CASE WHEN CAST(spend_cents AS DECIMAL(38,0)) * n_cust > tot_spend"
                " THEN 'HS' ELSE 'LS' END)"
            ),
        )
    )
    return (
        q.groupBy("n_name", "quadrant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("spend_cents").cast("bigint").alias("spend_cents"),
            F.min("tot_spend").alias("_ts"),
        )
        .select(
            "n_name", "quadrant", "n_customers", "spend_cents",
            F.expr("CAST(CAST(spend_cents AS DECIMAL(38,0)) * 1000000 div _ts AS BIGINT)")
            .alias("spend_share_ppm"),
        )
        .orderBy("n_name", "quadrant")
    )


def oracle_acctbal_spend_quadrants() -> str:
    return """
    WITH sp AS (
        SELECT o_custkey,
               CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS spend_cents
        FROM orders GROUP BY o_custkey
    ), pc AS (
        SELECT n_name,
               CAST(cast(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents,
               CAST(coalesce(spend_cents, 0) AS BIGINT) AS spend_cents
        FROM customer
        LEFT JOIN sp ON o_custkey = c_custkey
        JOIN nation ON n_nationkey = c_nationkey
    ), nat AS (
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(bal_cents) AS BIGINT) AS tot_bal,
               CAST(sum(spend_cents) AS BIGINT) AS tot_spend
        FROM pc GROUP BY n_name
    ), q AS (
        SELECT pc.n_name, pc.spend_cents, nat.tot_spend,
               concat(CASE WHEN CAST(bal_cents AS HUGEINT) * n_cust > tot_bal
                           THEN 'HB' ELSE 'LB' END, '-',
                      CASE WHEN CAST(pc.spend_cents AS HUGEINT) * n_cust > tot_spend
                           THEN 'HS' ELSE 'LS' END) AS quadrant
        FROM pc JOIN nat USING (n_name)
    )
    SELECT n_name, quadrant,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(spend_cents) AS BIGINT) AS spend_cents,
           CAST(CAST(sum(spend_cents) AS HUGEINT) * 1000000 // min(tot_spend) AS BIGINT) AS spend_share_ppm
    FROM q GROUP BY n_name, quadrant
    ORDER BY n_name, quadrant
    """


def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade balance per nation: discounted revenue
    flowing OUT (as the supplier's nation) and IN (as the customer's
    nation) across nation borders, with the signed net — the
    macro-level rollup q7's filtered nation-pair drilldown belongs to.
    Domestic flows (same nation both sides) are excluded on both
    engines.

    Scale shape: one fact pass through size-gated customer/supplier
    joins and the bounded nation dim; the union fans each flow row to
    its two nation roles BEFORE the ≤|nations| rollup (map-side
    combined); exact decimal sums floored to cents once per nation."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", disc_price().alias("dp"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flows = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s), l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select("c_nationkey", "s_nationkey", "dp")
    )
    sides = flows.select(
        F.col("s_nationkey").alias("nationkey"), F.col("dp").alias("exp_dp"),
        F.lit(None).cast("decimal(18,4)").alias("imp_dp"),
    ).unionByName(
        flows.select(
            F.col("c_nationkey").alias("nationkey"),
            F.lit(None).cast("decimal(18,4)").alias("exp_dp"),
            F.col("dp").alias("imp_dp"),
        )
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        sides.groupBy("nationkey")
        .agg(
            F.expr("CAST(floor(coalesce(sum(exp_dp), 0) * 100) AS BIGINT)").alias("export_cents"),
            F.expr("CAST(floor(coalesce(sum(imp_dp), 0) * 100) AS BIGINT)").alias("import_cents"),
        )
        .join(F.broadcast(n), F.col("nationkey") == F.col("n_nationkey"))
        .select(
            "n_name", "export_cents", "import_cents",
            F.expr("CAST(export_cents - import_cents AS BIGINT)").alias("net_cents"),
        )
        .orderBy("n_name")
    )


def oracle_nation_trade_balance() -> str:
    return f"""
    WITH flows AS (
        SELECT c_nationkey, s_nationkey, {o_disc_price()} AS dp
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey
    ), sides AS (
        SELECT s_nationkey AS nationkey, dp AS exp_dp, NULL AS imp_dp FROM flows
        UNION ALL
        SELECT c_nationkey AS nationkey, NULL AS exp_dp, dp AS imp_dp FROM flows
    ), agg AS (
        SELECT nationkey,
               CAST(floor(coalesce(sum(exp_dp), 0) * 100) AS BIGINT) AS export_cents,
               CAST(floor(coalesce(sum(imp_dp), 0) * 100) AS BIGINT) AS import_cents
        FROM sides GROUP BY nationkey
    )
    SELECT n_name, export_cents, import_cents,
           CAST(export_cents - import_cents AS BIGINT) AS net_cents
    FROM agg JOIN nation ON nationkey = n_nationkey
    ORDER BY n_name
    """


def spend_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year spend-tier migration matrix: each active customer
    is tiered High/Low against THAT YEAR'S mean spend (integer
    cross-multiplication — spend·n_active > Σspend — so no division
    crosses the oracle), then consecutive years are joined per customer
    to count H→H / H→L / L→H / L→L persistence plus churn-outs (tier_to
    'X' when the customer is absent the next year). The customer-equity
    counterpart of retention_cohorts' count-based matrix.

    Scale shape: one (customer, year) rollup off the orders scan;
    year totals are a ≤|years| aggregate joined back through the size
    gate; the migration join is customer-keyed equi (year+1), map-side
    combined rollup to the 4×|years| matrix."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cy = o.groupBy("o_custkey", "yr").agg(F.sum("cents").cast("bigint").alias("spend"))
    ytot = cy.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum("spend").cast("bigint").alias("tot_spend"),
    )
    tiers = cy.join(maybe_broadcast(ytot), "yr").select(
        "o_custkey", "yr",
        F.expr(
            "CASE WHEN CAST(spend AS DECIMAL(38,0)) * n_active > tot_spend THEN 'H' ELSE 'L' END"
        ).alias("tier"),
    )
    nxt = tiers.select(
        F.col("o_custkey").alias("ck"), (F.col("yr") - 1).alias("yr_from"),
        F.col("tier").alias("tier_to"),
    )
    moves = (
        tiers.join(nxt, (tiers.o_custkey == nxt.ck) & (tiers.yr == nxt.yr_from), "left")
        .select(
            F.col("yr").alias("year_from"),
            F.col("tier").alias("tier_from"),
            F.coalesce(F.col("tier_to"), F.lit("X")).alias("tier_to"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("year_from", "tier_from")
    return (
        moves.groupBy("year_from", "tier_from", "tier_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .withColumn("_tot", F.sum("n_customers").over(w))
        .select(
            "year_from", "tier_from", "tier_to", "n_customers",
            F.expr("CAST(CAST(n_customers AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)")
            .alias("share_ppm"),
        )
        .orderBy("year_from", "tier_from", "tier_to")
    )


def oracle_spend_tier_migration() -> str:
    return """
    WITH cy AS (
        SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS spend
        FROM orders GROUP BY o_custkey, 2
    ), ytot AS (
        SELECT yr, CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(spend) AS BIGINT) AS tot_spend
        FROM cy GROUP BY yr
    ), tiers AS (
        SELECT o_custkey, cy.yr,
               CASE WHEN CAST(spend AS HUGEINT) * n_active > tot_spend THEN 'H' ELSE 'L' END AS tier
        FROM cy JOIN ytot ON ytot.yr = cy.yr
    ), moves AS (
        SELECT a.yr AS year_from, a.tier AS tier_from,
               coalesce(b.tier, 'X') AS tier_to
        FROM tiers a
        LEFT JOIN tiers b ON b.o_custkey = a.o_custkey AND b.yr = a.yr + 1
    ), agg AS (
        SELECT year_from, tier_from, tier_to, CAST(count(*) AS BIGINT) AS n_customers
        FROM moves GROUP BY 1, 2, 3
    )
    SELECT year_from, tier_from, tier_to, n_customers,
           CAST(CAST(n_customers AS HUGEINT) * 1000000
                // CAST(sum(n_customers) OVER (PARTITION BY year_from, tier_from) AS BIGINT) AS BIGINT) AS share_ppm
    FROM agg ORDER BY year_from, tier_from, tier_to
    """


def retail_price_realization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-realization audit per brand: the exact-ppm ratio of sold
    value (Σ extendedprice) to list value (Σ quantity·retailprice),
    plus the count of lines sold ABOVE list — the merchandising view of
    how much of the catalog price the market actually pays (realization
    < 1e6 means systematic discounting off list; above-list lines mean
    stale catalog prices).

    Scale shape: the fact aggregates to brand grain after a size-gated
    part join (two columns read from part); both money sums are exact
    decimals floored to cents once per brand."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
        dec2("l_extendedprice").alias("ext"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", dec2("p_retailprice").alias("rp"))
    j = l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey).select(
        "p_brand", "qty", "ext",
        F.expr("CAST(qty AS DECIMAL(18,0)) * rp").alias("list_val"),
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.expr("CAST(floor(sum(ext) * 100) AS BIGINT)").alias("sold_cents"),
            F.expr("CAST(floor(sum(list_val) * 100) AS BIGINT)").alias("list_cents"),
            F.sum(F.when(F.col("ext") > F.col("list_val"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above_list"),
        )
        .withColumn(
            "realization_ppm",
            F.expr("CAST(CAST(sold_cents AS DECIMAL(38,0)) * 1000000 div list_cents AS BIGINT)"),
        )
        .select("p_brand", "n_lines", "sold_cents", "list_cents", "n_above_list", "realization_ppm")
        .orderBy("p_brand")
    )


def oracle_retail_price_realization() -> str:
    return """
    WITH j AS (
        SELECT p_brand,
               CAST(floor(l_quantity) AS BIGINT) AS qty,
               cast(l_extendedprice AS DECIMAL(12,2)) AS ext,
               CAST(CAST(floor(l_quantity) AS DECIMAL(18,0))
                    * cast(p_retailprice AS DECIMAL(12,2)) AS DECIMAL(32,2)) AS list_val
        FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(floor(sum(ext) * 100) AS BIGINT) AS sold_cents,
           CAST(floor(sum(list_val) * 100) AS BIGINT) AS list_cents,
           CAST(sum(CASE WHEN ext > list_val THEN 1 ELSE 0 END) AS BIGINT) AS n_above_list,
           CAST(CAST(CAST(floor(sum(ext) * 100) AS BIGINT) AS HUGEINT) * 1000000
                // CAST(floor(sum(list_val) * 100) AS BIGINT) AS BIGINT) AS realization_ppm
    FROM j GROUP BY p_brand ORDER BY p_brand
    """


def brand_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product loyalty per brand: of the (customer, part) pairs that
    ever transacted, the exact-ppm share that purchased the SAME part
    in two or more distinct orders — the repeat-purchase rate that
    separates staple brands from one-shot brands (basket_affinity finds
    what sells together; this finds what sells AGAIN).

    Scale shape: one distinct (customer, part, order) projection off
    the fact⋈orders join, a (customer, part) rollup, a size-gated part
    join for the brand, then a ≤|brands| aggregate."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cpo = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_partkey", "l_orderkey")
        .distinct()
    )
    cp = cpo.groupBy("o_custkey", "l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        cp.join(maybe_broadcast(p), cp.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repeat_pairs"),
        )
        .withColumn(
            "repeat_ppm",
            F.expr("CAST(CAST(n_repeat_pairs AS DECIMAL(38,0)) * 1000000 div n_pairs AS BIGINT)"),
        )
        .orderBy("p_brand")
    )


def oracle_brand_repeat_purchase() -> str:
    return """
    WITH cpo AS (
        SELECT DISTINCT o_custkey, l_partkey, l_orderkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), cp AS (
        SELECT o_custkey, l_partkey, CAST(count(*) AS BIGINT) AS n_orders
        FROM cpo GROUP BY o_custkey, l_partkey
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_pairs,
           CAST(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
                // count(*) AS BIGINT) AS repeat_ppm
    FROM cp JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY p_brand
    """


def part_supplier_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procurement price-spread audit: for every multi-sourced part,
    each supplier's observed unit price (Σ extendedprice cents · 1000
    div Σ quantity — exact integer milli-cents, no raw division crosses
    the oracle), rolled up to the part's min/max supplier price and
    the spread in ppm of the min — the savings-potential list a buyer
    works top-down (complement of sole_source_parts, which lists the
    parts with NO alternative).

    Scale shape: one (part, supplier) rollup off the scan (map-side
    combined), then a part-grain rollup; no windows, no dim join
    needed."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        dec2("l_extendedprice").alias("ext"),
        F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
    )
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.expr("CAST(floor(sum(ext) * 100) AS BIGINT)").alias("ext_cents"),
        F.sum("qty").cast("bigint").alias("qty"),
    ).withColumn(
        "price_milli",
        F.expr("CAST(CAST(ext_cents AS DECIMAL(38,0)) * 1000 div qty AS BIGINT)"),
    )
    return (
        ps.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.min("price_milli").cast("bigint").alias("min_price_milli"),
            F.max("price_milli").cast("bigint").alias("max_price_milli"),
        )
        .filter(F.col("n_suppliers") >= 2)
        .withColumn(
            "spread_ppm",
            F.expr(
                "CAST(CAST(max_price_milli - min_price_milli AS DECIMAL(38,0)) * 1000000"
                " div min_price_milli AS BIGINT)"
            ),
        )
        .select(
            F.col("l_partkey").alias("part_id"),
            "n_suppliers", "min_price_milli", "max_price_milli", "spread_ppm",
        )
        .orderBy("part_id")
    )


def oracle_part_supplier_price_spread() -> str:
    return """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(floor(sum(cast(l_extendedprice AS DECIMAL(12,2))) * 100) AS BIGINT) AS ext_cents,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), priced AS (
        SELECT l_partkey,
               CAST(CAST(ext_cents AS HUGEINT) * 1000 // qty AS BIGINT) AS price_milli
        FROM ps
    ), agg AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(min(price_milli) AS BIGINT) AS min_price_milli,
               CAST(max(price_milli) AS BIGINT) AS max_price_milli
        FROM priced GROUP BY l_partkey
    )
    SELECT l_partkey AS part_id, n_suppliers, min_price_milli, max_price_milli,
           CAST(CAST(max_price_milli - min_price_milli AS HUGEINT) * 1000000
                // min_price_milli AS BIGINT) AS spread_ppm
    FROM agg WHERE n_suppliers >= 2
    ORDER BY part_id
    """


def arpu_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly ARPU: revenue per active (ordering) customer — the
    revenue-side twin of events_stickiness_monthly, with the active
    base counted exactly (distinct custkeys per month) and ARPU as
    exact floor cents per customer.

    Scale shape: one (month, customer) pre-aggregation (map-side
    combined — the distinct rides the same shuffle), then a ≤|months|
    rollup; no windows."""
    o = load(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("bigint").alias("ym"),
        "o_custkey",
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        o.groupBy("ym")
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_active"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
        .withColumn("arpu_cents", F.expr("CAST(rev_cents div n_active AS BIGINT)"))
        .orderBy("ym")
    )


def oracle_arpu_monthly() -> str:
    return """
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
           CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents,
           CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                // count(DISTINCT o_custkey) AS BIGINT) AS arpu_cents
    FROM orders GROUP BY 1 ORDER BY ym
    """


def import_dependency_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-dependency concentration: per importing nation, the share
    of its cross-border inbound revenue concentrated in its single
    largest partner nation (exact ppm) plus the partner count — the
    risk view procurement pairs with nation_trade_balance (net flows)
    when a sanctions/logistics shock takes one partner offline.

    Scale shape: the same one-pass fact→nation-pair rollup as
    nation_trade_balance (≤|nations|² rows), then a per-importer max
    over the tiny pair aggregate."""
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", disc_price().alias("dp"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pair = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(maybe_broadcast(s), l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy("c_nationkey", "s_nationkey")
        .agg(F.expr("CAST(floor(sum(dp) * 100) AS BIGINT)").alias("flow_cents"))
    )
    w = Window.partitionBy("c_nationkey")
    top = (
        pair.withColumn("_tot", F.sum("flow_cents").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("c_nationkey").orderBy(
                    F.desc("flow_cents"), F.col("s_nationkey")
                )
            ),
        )
        .filter(F.col("_rk") == 1)
    )
    n = load(spark, sf_dir, "nation")
    imp = n.select(F.col("n_nationkey").alias("ik"), F.col("n_name").alias("importer"))
    exp = n.select(F.col("n_nationkey").alias("ek"), F.col("n_name").alias("top_partner"))
    return (
        top.join(F.broadcast(imp), F.col("c_nationkey") == F.col("ik"))
        .join(F.broadcast(exp), F.col("s_nationkey") == F.col("ek"))
        .select(
            "importer",
            "top_partner",
            F.col("_n").cast("bigint").alias("n_partners"),
            F.col("flow_cents").alias("top_flow_cents"),
            F.col("_tot").cast("bigint").alias("import_cents"),
            F.expr("CAST(CAST(flow_cents AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)")
            .alias("top_share_ppm"),
        )
        .orderBy("importer")
    )


def oracle_import_dependency_concentration() -> str:
    return f"""
    WITH pair AS (
        SELECT c_nationkey, s_nationkey,
               CAST(floor(sum({o_disc_price()}) * 100) AS BIGINT) AS flow_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey
        GROUP BY c_nationkey, s_nationkey
    ), top AS (
        SELECT * FROM (
            SELECT c_nationkey, s_nationkey, flow_cents,
                   CAST(sum(flow_cents) OVER (PARTITION BY c_nationkey) AS BIGINT) AS _tot,
                   CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS _n,
                   row_number() OVER (
                       PARTITION BY c_nationkey ORDER BY flow_cents DESC, s_nationkey) AS _rk
            FROM pair
        ) WHERE _rk = 1
    )
    SELECT ni.n_name AS importer, ne.n_name AS top_partner,
           _n AS n_partners,
           flow_cents AS top_flow_cents,
           _tot AS import_cents,
           CAST(CAST(flow_cents AS HUGEINT) * 1000000 // _tot AS BIGINT) AS top_share_ppm
    FROM top
    JOIN nation ni ON ni.n_nationkey = c_nationkey
    JOIN nation ne ON ne.n_nationkey = s_nationkey
    ORDER BY importer
    """


def props_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema profile: per (event_type, JSON key) in the
    events props payload — presence share, numeric-parse share, and the
    numeric value range — the schema-drift monitor for a column the
    warehouse does NOT model (a new key or a key going non-numeric
    shows up here the day the producer changes its payload). Spark
    explodes the payload as a map (from_json map<string,string>);
    the oracle re-derives keys via json_keys + dynamic-path extraction.

    Scale shape: one map-only explode of a tiny payload column, one
    (type, key)-grain map-side-combined rollup against broadcast
    per-type totals."""
    e = load(spark, sf_dir, "events").select("event_type", "props")
    tot = e.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    kv = e.select(
        "event_type",
        F.explode(F.expr("from_json(props, 'map<string,string>')")).alias("key", "val"),
    )
    prof = kv.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
        F.sum(F.when(F.expr("try_cast(val AS BIGINT)").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_numeric"),
        F.min(F.expr("try_cast(val AS BIGINT)")).cast("bigint").alias("min_v"),
        F.max(F.expr("try_cast(val AS BIGINT)")).cast("bigint").alias("max_v"),
    )
    return (
        prof.join(maybe_broadcast(tot), "event_type")
        .select(
            "event_type", "key", "n_present", "n_numeric", "min_v", "max_v",
            F.expr("CAST(CAST(n_present AS DECIMAL(38,0)) * 1000000 div n_events AS BIGINT)")
            .alias("presence_ppm"),
        )
        .orderBy("event_type", "key")
    )


def oracle_props_key_profile() -> str:
    return """
    WITH tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    ), kv AS (
        SELECT event_type, key, json_extract_string(props, '$.' || key) AS val
        FROM (SELECT event_type, props, unnest(json_keys(props)) AS key FROM events)
    ), prof AS (
        SELECT event_type, key,
               CAST(count(*) AS BIGINT) AS n_present,
               CAST(sum(CASE WHEN TRY_CAST(val AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
               CAST(min(TRY_CAST(val AS BIGINT)) AS BIGINT) AS min_v,
               CAST(max(TRY_CAST(val AS BIGINT)) AS BIGINT) AS max_v
        FROM kv GROUP BY event_type, key
    )
    SELECT event_type, key, n_present, n_numeric, min_v, max_v,
           CAST(CAST(n_present AS HUGEINT) * 1000000 // n_events AS BIGINT) AS presence_ppm
    FROM prof JOIN tot USING (event_type)
    ORDER BY event_type, key
    """


_DISC_CAPS = (2, 4, 6)  # what-if discount caps, in percent


def discount_cap_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-policy what-if grid: for each candidate cap c ∈
    {2%, 4%, 6%}, the exact revenue recovered if every discount above
    the cap had been clamped to it — Σ extendedprice·(discount − c)
    over the affected lines, in floor cents — plus the affected-line
    count. The grid generalization of TPC-H Q6's single-point
    forecast: one scan prices the whole policy menu.

    Scale shape: the caps array explodes ×3 on two numeric columns
    (never the full row), one ≤|caps| map-side-combined rollup."""
    # spread (r13, guide §2.5): the ×3 cap explode + decimal CASE
    # aggregation is map-only up to a ≤3-row exchange — single-task on
    # an under-split input. A/B alternating med-of-5: 1.45 → 0.70s
    # (ratio 0.48), checksums identical.
    l = spread_scan(load(spark, sf_dir, "lineitem"), spark, sf_dir,
                    "lineitem", "l_orderkey", "l_linenumber").select(
        dec2("l_extendedprice").alias("ext"), dec2("l_discount").alias("disc")
    )
    caps = F.array(*[F.lit(c) for c in _DISC_CAPS])
    exploded = l.select(
        "ext", "disc", F.explode(caps).alias("cap_pct")
    ).withColumn("cap", F.expr("CAST(cap_pct AS DECIMAL(12,2)) / 100"))
    return (
        exploded.groupBy(F.col("cap_pct").cast("bigint").alias("cap_pct"))
        .agg(
            F.sum(F.when(F.col("disc") > F.col("cap"), 1).otherwise(0))
            .cast("bigint").alias("n_affected_lines"),
            F.expr(
                "CAST(floor(sum(CASE WHEN disc > cap THEN ext * (disc - cap)"
                " ELSE CAST(0 AS DECIMAL(18,4)) END) * 100) AS BIGINT)"
            ).alias("recovered_cents"),
        )
        .orderBy("cap_pct")
    )


def oracle_discount_cap_whatif() -> str:
    selects = "\n        UNION ALL\n".join(
        f"""        SELECT CAST({c} AS BIGINT) AS cap_pct,
               CAST(sum(CASE WHEN cast(l_discount AS DECIMAL(12,2)) > {c / 100.0:.2f} THEN 1 ELSE 0 END) AS BIGINT) AS n_affected_lines,
               CAST(floor(sum(CASE WHEN cast(l_discount AS DECIMAL(12,2)) > {c / 100.0:.2f}
                    THEN cast(l_extendedprice AS DECIMAL(12,2)) * (cast(l_discount AS DECIMAL(12,2)) - {c / 100.0:.2f})
                    ELSE CAST(0 AS DECIMAL(18,4)) END) * 100) AS BIGINT) AS recovered_cents
        FROM lineitem"""
        for c in _DISC_CAPS
    )
    return f"""
    WITH grid AS (
{selects}
    )
    SELECT cap_pct, n_affected_lines, recovered_cents FROM grid ORDER BY cap_pct
    """


_CHURN_CUTOFF = "2000-01-01"  # feature/label split (point-in-time)


def churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML training-set export with POINT-IN-TIME correctness: per
    customer, behavioral features computed STRICTLY before the cutoff
    (order count, spend, recency/tenure days, floor-average order
    value) joined to dimension attributes, labeled by whether the
    customer ordered again in the 12 months AFTER the cutoff — the
    churn-model dataset a feature store materializes, with the leakage
    boundary (nothing at-or-after the cutoff leaks into a feature)
    enforced by construction in one conditional-aggregation pass.

    Scale shape: ONE orders scan computes features and label together
    (CASE-split aggregates around the cutoff), one size-gated customer
    join, bounded nation broadcast; no windows."""
    cutoff = F.lit(_CHURN_CUTOFF).cast("date")
    horizon = F.expr(f"add_months(to_date('{_CHURN_CUTOFF}'), 12)")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    feats = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("od") < cutoff, 1).otherwise(0)).cast("bigint")
            .alias("n_orders"),
            F.sum(F.when(F.col("od") < cutoff, F.col("cents")).otherwise(0)).cast("bigint")
            .alias("spend_cents"),
            F.max(F.when(F.col("od") < cutoff, F.col("od"))).alias("_last"),
            F.min(F.when(F.col("od") < cutoff, F.col("od"))).alias("_first"),
            F.sum(
                F.when((F.col("od") >= cutoff) & (F.col("od") < horizon), 1).otherwise(0)
            ).cast("bigint").alias("_n_after"),
        )
        .filter(F.col("n_orders") >= 1)
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        feats.join(maybe_broadcast(c), feats.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            "n_orders",
            "spend_cents",
            F.expr(f"CAST(datediff(to_date('{_CHURN_CUTOFF}'), _last) AS BIGINT)")
            .alias("recency_days"),
            F.expr(f"CAST(datediff(to_date('{_CHURN_CUTOFF}'), _first) AS BIGINT)")
            .alias("tenure_days"),
            F.expr("CAST(spend_cents div n_orders AS BIGINT)").alias("avg_order_cents"),
            F.when(F.col("_n_after") == 0, "Y").otherwise("N").alias("churned"),
        )
        .orderBy("customer_id")
    )


def oracle_churn_training_set() -> str:
    return f"""
    WITH feats AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderdate < DATE '{_CHURN_CUTOFF}' THEN 1 ELSE 0 END) AS BIGINT) AS n_orders,
               CAST(sum(CASE WHEN o_orderdate < DATE '{_CHURN_CUTOFF}'
                             THEN CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS spend_cents,
               max(CASE WHEN o_orderdate < DATE '{_CHURN_CUTOFF}' THEN cast(o_orderdate AS DATE) END) AS _last,
               min(CASE WHEN o_orderdate < DATE '{_CHURN_CUTOFF}' THEN cast(o_orderdate AS DATE) END) AS _first,
               CAST(sum(CASE WHEN o_orderdate >= DATE '{_CHURN_CUTOFF}'
                              AND o_orderdate < DATE '{_CHURN_CUTOFF}' + INTERVAL 12 MONTH
                             THEN 1 ELSE 0 END) AS BIGINT) AS _n_after
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS customer_id, n_name AS nation, c_mktsegment AS segment,
           n_orders, spend_cents,
           CAST(date_diff('day', _last, DATE '{_CHURN_CUTOFF}') AS BIGINT) AS recency_days,
           CAST(date_diff('day', _first, DATE '{_CHURN_CUTOFF}') AS BIGINT) AS tenure_days,
           CAST(spend_cents // n_orders AS BIGINT) AS avg_order_cents,
           CASE WHEN _n_after = 0 THEN 'Y' ELSE 'N' END AS churned
    FROM feats
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE n_orders >= 1
    ORDER BY customer_id
    """


def supplier_lead_time_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vendor-performance trend: per supplier, the exact least-squares
    slope of MONTHLY MEAN ship latency (order date → ship date) over
    the month index, in sign-split integer micro-units — the
    deteriorating-vendor detector procurement reviews quarterly
    (revenue_trend_slope's integer-regression discipline applied to an
    operational metric at supplier grain).

    Scale shape: fact collapses to (supplier, month) first (mean
    latency as floor milli-days — a ratio of two sums, floored once);
    the regression moments run on ≤ |suppliers|·|months| rows."""
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1 - 1995 * 12)
        .cast("bigint").alias("x"),
        F.expr("CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)").alias("lag_days"),
    )
    monthly = base.groupBy("l_suppkey", "x").agg(
        # sign-split: lag_days can be negative (ship-before-order rows exist
        # in this feed) and Spark div truncates while DuckDB // floors
        F.expr(
            "CASE WHEN sum(lag_days) >= 0"
            " THEN CAST(sum(lag_days) * 1000 div count(*) AS BIGINT)"
            " ELSE -CAST((-sum(lag_days)) * 1000 div count(*) AS BIGINT) END"
        ).alias("y")
    )
    moments = monthly.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").alias("sxy"),
    )
    return (
        moments.filter(F.col("n") >= 2)
        .select(
            F.col("l_suppkey").alias("supplier_id"),
            F.col("n").cast("bigint").alias("n_months"),
            F.expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))").alias("num"),
            F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("den"),
        )
        .select(
            "supplier_id", "n_months",
            F.expr(
                "CASE WHEN num >= 0 THEN CAST(num * 1000 div den AS BIGINT)"
                " ELSE -CAST((-num) * 1000 div den AS BIGINT) END"
            ).alias("slope_micro_days_per_month"),
        )
        .orderBy("supplier_id")
    )


def oracle_supplier_lead_time_trend() -> str:
    return """
    WITH base AS (
        SELECT l_suppkey,
               CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 - 1995 * 12 AS BIGINT) AS x,
               CAST(date_diff('day', cast(o_orderdate AS DATE), cast(l_shipdate AS DATE)) AS BIGINT) AS lag_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), monthly AS (
        SELECT l_suppkey, x,
               CASE WHEN sum(lag_days) >= 0
                    THEN CAST(sum(lag_days) * 1000 // count(*) AS BIGINT)
                    ELSE -CAST((-sum(lag_days)) * 1000 // count(*) AS BIGINT) END AS y
        FROM base GROUP BY l_suppkey, x
    ), moments AS (
        SELECT l_suppkey,
               count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM monthly GROUP BY l_suppkey
    )
    SELECT l_suppkey AS supplier_id,
           CAST(n AS BIGINT) AS n_months,
           CASE WHEN n * sxy - CAST(sx AS HUGEINT) * sy >= 0
                THEN CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000
                          // (n * sxx - sx * sx) AS BIGINT)
                ELSE -CAST((-(n * sxy - CAST(sx AS HUGEINT) * sy)) * 1000
                           // (n * sxx - sx * sx) AS BIGINT) END AS slope_micro_days_per_month
    FROM moments WHERE n >= 2
    ORDER BY supplier_id
    """


def sql_surface_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-surface parity demo: the nation×year revenue rollup
    expressed in PURE SQL over registered temp views (spark.sql), not
    the DataFrame builder — proving a reference user can keep writing
    SQL verbatim against this engine and Catalyst compiles both
    surfaces to the same plan (every other query here uses the
    DataFrame API; this one pins the SQL entry point).

    Scale shape: identical to the DataFrame twin — size-gated customer
    join is expressed as a plain join (AQE picks BHJ at demo scale),
    nation is bounded, one map-side-combined rollup."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("sqlv_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("sqlv_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("sqlv_nation")
    return spark.sql(
        """
        SELECT n_name,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM sqlv_orders
        JOIN sqlv_customer ON o_custkey = c_custkey
        JOIN sqlv_nation ON n_nationkey = c_nationkey
        GROUP BY n_name, year(o_orderdate)
        ORDER BY n_name, yr
        """
    )


def oracle_sql_surface_nation_revenue() -> str:
    return """
    SELECT n_name,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name, year(o_orderdate)
    ORDER BY n_name, yr
    """


def events_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adoption curve: users seen for the FIRST time each day, with the
    running cumulative — the top of the growth-accounting funnel at
    event grain (customer_growth_accounting tracks revenue states;
    this tracks the population the events stream acquires).

    Scale shape: one (user → first day) rollup (map-side combined min),
    one ≤|days| rollup, a running window over the day aggregate."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("d"))
    first = e.groupBy("user_id").agg(F.min("d").alias("first_day"))
    daily = first.groupBy("first_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.withColumn("cum_users", F.sum("n_new_users").over(w).cast("bigint"))
        .select("first_day", "n_new_users", "cum_users")
        .orderBy("first_day")
    )


def oracle_events_new_users_daily() -> str:
    return """
    WITH first AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ), daily AS (
        SELECT first_day, CAST(count(*) AS BIGINT) AS n_new_users FROM first GROUP BY first_day
    )
    SELECT first_day, n_new_users,
           CAST(sum(n_new_users) OVER (ORDER BY first_day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily ORDER BY first_day
    """


_HL_REF_DATE = "2002-12-31"  # decay reference (end of the order history)
_HL_DAYS = 30                # half-life: value halves every 30 days of age


def halflife_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted customer value with EXACT dyadic decay: each
    order's cents are halved once per 30 days of age (weight 2^-k via
    bigint shift — no floating decay crosses the oracle), rolled up per
    nation with the retention share of face value. The EWMA/half-life
    scoring every CRM uses, restated in integer arithmetic.

    Scale shape: map-only age→shift projection (shift capped at 60 —
    beyond that the value is exactly 0 anyway), one fact rollup through
    the size-gated customer join, bounded nation broadcast."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.expr(
            f"CAST(least(datediff(to_date('{_HL_REF_DATE}'), o_orderdate) div {_HL_DAYS}, 60) AS INT)"
        ).alias("k"),
    ).withColumn("decayed", F.expr("shiftright(cents, k)"))
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("raw_cents"),
            F.sum("decayed").cast("bigint").alias("decayed_cents"),
        )
        .withColumn(
            "retention_ppm",
            F.expr("CAST(CAST(decayed_cents AS DECIMAL(38,0)) * 1000000 div raw_cents AS BIGINT)"),
        )
        .orderBy("n_name")
    )


def oracle_halflife_weighted_value() -> str:
    return f"""
    WITH o AS (
        SELECT o_custkey,
               CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               CAST(least(date_diff('day', cast(o_orderdate AS DATE), DATE '{_HL_REF_DATE}')
                          // {_HL_DAYS}, 60) AS INT) AS k
        FROM orders
    ), d AS (
        SELECT o_custkey, cents, cents >> k AS decayed FROM o
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS raw_cents,
           CAST(sum(decayed) AS BIGINT) AS decayed_cents,
           CAST(CAST(sum(decayed) AS HUGEINT) * 1000000 // CAST(sum(cents) AS BIGINT) AS BIGINT)
               AS retention_ppm
    FROM d
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name ORDER BY n_name
    """


_SALT_N = 8


def events_salted_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation, value-identical to the naive rollup:
    the per-type event count and exact value sum computed in TWO
    phases — partial aggregation on (event_type, salt) so no single
    reducer ever sees a hot key's full volume, then a ≤ n_salts-rows-
    per-key merge (operators/skew.py's pattern as a first-class
    registry entry; the oracle is the PLAIN one-phase GROUP BY, so the
    equality of the two formulations is what the gate checks). The
    event-type column is exactly the celebrity-key shape (6 values
    across the whole corpus) that pins a reducer at 100 TB.

    Scale shape: salt = pmod(xxhash64(event_id), 8) — deterministic,
    no RNG; phase-1 is map-side combined on 6×8 groups; phase-2 sees
    ≤8 rows per key."""
    e = load(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v_micro"),
    )
    partial = (
        e.withColumn("_salt", F.pmod(F.xxhash64(F.col("event_id")), F.lit(_SALT_N)))
        .groupBy("event_type", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("v_micro").alias("_v"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("_n").cast("bigint").alias("n_events"),
            F.sum("_v").cast("bigint").alias("total_value_micro"),
        )
        .orderBy("event_type")
    )


def oracle_events_salted_type_rollup() -> str:
    return """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS total_value_micro
    FROM events GROUP BY event_type ORDER BY event_type
    """


_HOLIDAYS = ("01-01", "07-04", "12-25")


def holiday_order_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-event lift: for each recurring holiday (month-day across
    all years), orders and revenue per holiday DAY against the overall
    revenue-per-active-day baseline, with the lift in exact ppm — the
    event-calendar analysis a demand planner runs before staffing a
    promo (the generated dim_date carries no holiday flags; the
    month-day match is the portable stand-in).

    Scale shape: one (date-grain) map pass; holiday and baseline
    aggregates are ≤|holidays|- and 1-row relations; the baseline joins
    back via a broadcast cross join."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("od"),
        F.date_format("o_orderdate", "MM-dd").alias("mmdd"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    overall = o.agg(
        F.count_distinct("od").alias("n_days_total"),
        F.sum("cents").cast("bigint").alias("rev_total"),
    ).select(
        F.expr("CAST(rev_total div n_days_total AS BIGINT)").alias("baseline_cents_per_day")
    )
    hol = (
        o.filter(F.col("mmdd").isin(*_HOLIDAYS))
        .groupBy("mmdd")
        .agg(
            F.count_distinct("od").cast("bigint").alias("n_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
        .withColumn("cents_per_day", F.expr("CAST(rev_cents div n_days AS BIGINT)"))
    )
    return (
        hol.crossJoin(F.broadcast(overall))
        .select(
            F.col("mmdd").alias("holiday"),
            "n_days", "n_orders", "rev_cents", "cents_per_day", "baseline_cents_per_day",
            F.expr(
                "CAST(CAST(cents_per_day AS DECIMAL(38,0)) * 1000000"
                " div baseline_cents_per_day AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("holiday")
    )


def oracle_holiday_order_lift() -> str:
    hols = ", ".join(f"'{h}'" for h in _HOLIDAYS)
    return f"""
    WITH o AS (
        SELECT cast(o_orderdate AS DATE) AS od,
               strftime(cast(o_orderdate AS DATE), '%m-%d') AS mmdd,
               CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ), overall AS (
        SELECT CAST(CAST(sum(cents) AS BIGINT) // count(DISTINCT od) AS BIGINT)
                   AS baseline_cents_per_day
        FROM o
    ), hol AS (
        SELECT mmdd AS holiday,
               CAST(count(DISTINCT od) AS BIGINT) AS n_days,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM o WHERE mmdd IN ({hols})
        GROUP BY mmdd
    )
    SELECT holiday, n_days, n_orders, rev_cents,
           CAST(rev_cents // n_days AS BIGINT) AS cents_per_day,
           baseline_cents_per_day,
           CAST(CAST(rev_cents // n_days AS HUGEINT) * 1000000
                // baseline_cents_per_day AS BIGINT) AS lift_ppm
    FROM hol, overall ORDER BY holiday
    """


def events_value_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA decomposition of event value by event type, in
    EXACT integer arithmetic: between-group and within-group sums of
    squares from per-group (n, Σx, Σx²) moments on quantized micro
    values (DECIMAL(38,0) intermediates; the only divisions are
    floor-by-count, identical on both engines), published scaled back
    to value² units with the η² effect share in exact ppm — 'does event
    type explain value?' answered without a stats library (the
    continuous counterpart of segment_priority_chi2).

    Scale shape: one map-side-combined rollup to |event_types| moment
    rows; everything after runs on that tiny aggregate."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("v"),
    )
    # ⌊s²/n⌋ without a wide division: Spark's DECIMAL-div-BIGINT returns
    # BIGINT and silently WRAPS past 2^63, so the quotient is decomposed
    # as (s div n)·s + ⌊(s mod n)·s / n⌋ — every div here fits BIGINT,
    # every product stays DECIMAL(38,0), and the identity is exact.
    _S2N = (
        "(CAST({s} div {n} AS DECIMAL(38,0)) * {s}"
        " + ({s} - CAST({s} div {n} AS DECIMAL(38,0)) * {n}) * {s} div {n})"
    )
    g = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(v AS DECIMAL(38,0))")).alias("s"),
            F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("q"),
        )
        .withColumn("t", F.expr("CAST(" + _S2N.format(s="s", n="n") + " AS DECIMAL(38,0))"))
    )
    tot = g.agg(
        F.sum("n").alias("n_events"),
        F.sum("s").cast("decimal(38,0)").alias("s_all"),
        F.sum("q").cast("decimal(38,0)").alias("q_all"),
        F.sum("t").cast("decimal(38,0)").alias("sb_part"),
    ).withColumn("s2n_all", F.expr("CAST(" + _S2N.format(s="s_all", n="n_events") + " AS DECIMAL(38,0))"))
    return tot.select(
        F.col("n_events").cast("bigint").alias("n_events"),
        F.expr("CAST((q_all - s2n_all) div 1000000000000 AS BIGINT)").alias("ss_total_scaled"),
        F.expr("CAST((sb_part - s2n_all) div 1000000000000 AS BIGINT)").alias("ss_between_scaled"),
        F.expr("CAST((q_all - sb_part) div 1000000000000 AS BIGINT)").alias("ss_within_scaled"),
        F.expr(
            "CAST((sb_part - s2n_all) * 1000000 div (q_all - s2n_all) AS BIGINT)"
        ).alias("eta2_ppm"),
    )


def oracle_events_value_anova() -> str:
    return """
    WITH e AS (
        SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v FROM events
    ), g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
        FROM e GROUP BY event_type
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_events,
               CAST(sum(s) AS HUGEINT) AS s_all,
               CAST(sum(q) AS HUGEINT) AS q_all,
               CAST(sum(s * s // n) AS HUGEINT) AS sb_part
        FROM g
    )
    SELECT n_events,
           CAST((q_all - s_all * s_all // n_events) // 1000000000000 AS BIGINT) AS ss_total_scaled,
           CAST((sb_part - s_all * s_all // n_events) // 1000000000000 AS BIGINT) AS ss_between_scaled,
           CAST((q_all - sb_part) // 1000000000000 AS BIGINT) AS ss_within_scaled,
           CAST((sb_part - s_all * s_all // n_events) * 1000000
                // (q_all - s_all * s_all // n_events) AS BIGINT) AS eta2_ppm
    FROM tot
    """


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: the seasonal-naive model (predict month m
    with month m−12's actual) evaluated per nation over every month
    with a year-ago observation — WAPE in exact ppm (Σ|err| · 1e6 div
    Σactual, all integer cents) plus bias sign counts. The eval
    harness shape matters more than the model: any forecast column
    can replace the m−12 join and reuse the same exact-integer
    scorecard.

    Scale shape: fact → (nation, month) rollup first; the backtest
    join is a self-equi-join on (nation, month−12) over the tiny
    aggregate; the scorecard is ≤|nations| rows."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("m"),
        )
        .agg(F.sum((dec2("o_totalprice") * 100).cast("bigint")).cast("bigint").alias("cents"))
    )
    prev = monthly.select(
        F.col("n_name").alias("pn"), (F.col("m") + 12).alias("pm"),
        F.col("cents").alias("forecast_cents"),
    )
    bt = monthly.join(
        prev, (monthly.n_name == prev.pn) & (monthly.m == prev.pm)
    ).select("n_name", "cents", "forecast_cents")
    return (
        bt.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.sum("cents").cast("bigint").alias("actual_cents"),
            F.sum(F.expr("abs(cents - forecast_cents)")).cast("bigint").alias("abs_err_cents"),
            F.sum(F.when(F.col("forecast_cents") > F.col("cents"), 1).otherwise(0))
            .cast("bigint").alias("n_over_forecast"),
        )
        .withColumn(
            "wape_ppm",
            F.expr("CAST(CAST(abs_err_cents AS DECIMAL(38,0)) * 1000000 div actual_cents AS BIGINT)"),
        )
        .orderBy("n_name")
    )


def oracle_seasonal_naive_backtest() -> str:
    return """
    WITH monthly AS (
        SELECT n_name,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
               CAST(sum(CAST(cast(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY n_name, 2
    ), bt AS (
        SELECT a.n_name, a.cents, p.cents AS forecast_cents
        FROM monthly a JOIN monthly p ON p.n_name = a.n_name AND p.m = a.m - 12
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(cents) AS BIGINT) AS actual_cents,
           CAST(sum(abs(cents - forecast_cents)) AS BIGINT) AS abs_err_cents,
           CAST(sum(CASE WHEN forecast_cents > cents THEN 1 ELSE 0 END) AS BIGINT) AS n_over_forecast,
           CAST(CAST(sum(abs(cents - forecast_cents)) AS HUGEINT) * 1000000
                // CAST(sum(cents) AS BIGINT) AS BIGINT) AS wape_ppm
    FROM bt GROUP BY n_name ORDER BY n_name
    """


_HAZARD_CENSOR_MONTHS = 6


def customer_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis: the churn HAZARD per tenure
    month — customers at risk at tenure t (observed lifetime ≥ t),
    churn events at t (last order at tenure t, NOT right-censored),
    and the hazard in exact ppm. Right-censoring: a customer whose
    last order falls within 6 months of the dataset's horizon may
    still be alive, so it counts at-risk but never as a churn event —
    the Kaplan-Meier bookkeeping with the cumulative product (a float)
    left to the consumer; every published number is exact integer.

    Scale shape: one (customer → first/last month) rollup; the horizon
    is a 1-row broadcast; the curve is a ≤|months| aggregate with a
    suffix-sum window over itself."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("m"),
    )
    cust = o.groupBy("o_custkey").agg(
        F.min("m").alias("first_m"), F.max("m").alias("last_m")
    )
    horizon = o.agg(F.max("m").alias("max_m"))
    rows = (
        cust.crossJoin(F.broadcast(horizon))
        .select(
            (F.col("last_m") - F.col("first_m")).cast("bigint").alias("tenure"),
            (
                (F.col("max_m") - F.col("last_m")) >= _HAZARD_CENSOR_MONTHS
            ).alias("observed_churn"),
        )
    )
    grain = rows.groupBy("tenure").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
        F.sum(F.when(F.col("observed_churn"), 1).otherwise(0)).cast("bigint")
        .alias("n_churned"),
    )
    w = Window.orderBy(F.desc("tenure")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        grain.withColumn("n_at_risk", F.sum("n_ending").over(w).cast("bigint"))
        .select(
            "tenure", "n_at_risk", "n_churned",
            F.expr("CAST(CAST(n_churned AS DECIMAL(38,0)) * 1000000 div n_at_risk AS BIGINT)")
            .alias("hazard_ppm"),
        )
        .orderBy("tenure")
    )


def oracle_customer_hazard_curve() -> str:
    return f"""
    WITH o AS (
        SELECT o_custkey, CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
        FROM orders
    ), cust AS (
        SELECT o_custkey, min(m) AS first_m, max(m) AS last_m FROM o GROUP BY o_custkey
    ), horizon AS (
        SELECT max(m) AS max_m FROM o
    ), rows_c AS (
        SELECT CAST(last_m - first_m AS BIGINT) AS tenure,
               (max_m - last_m) >= {_HAZARD_CENSOR_MONTHS} AS observed_churn
        FROM cust, horizon
    ), grain AS (
        SELECT tenure,
               CAST(count(*) AS BIGINT) AS n_ending,
               CAST(sum(CASE WHEN observed_churn THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
        FROM rows_c GROUP BY tenure
    )
    SELECT tenure,
           CAST(sum(n_ending) OVER (ORDER BY tenure DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_at_risk,
           n_churned,
           CAST(CAST(n_churned AS HUGEINT) * 1000000
                // CAST(sum(n_ending) OVER (ORDER BY tenure DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS BIGINT) AS hazard_ppm
    FROM grain ORDER BY tenure
    """
