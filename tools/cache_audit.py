#!/usr/bin/env python3
"""Session cache lifecycle audit (r12 verdict #5 / What's-wrong #4).

Query-local ``.persist()`` sites (~50 across the plans: triangle
halves, capped cells, funnel explodes) never unpersist — the verdict
asks whether a long-lived serving session running the registry
accumulates cached blocks without bound, and for either adopted
unpersists or a measured decline.

Three measured passes over the FULL registry (same session):

1. **first pass** — every query materialized once; records wall clock
   and the cached-relation count + memory/disk bytes it leaves behind.
2. **second pass (accumulate policy)** — the registry again, nothing
   released. Two claims under test: (a) growth is BOUNDED — Spark's
   CacheManager registers persists by canonicalized plan, so a re-run
   of the same query against the same sf_dir REUSES the existing
   InMemoryRelation instead of adding one (the same mechanism the
   SCALING min-of-2 notes call "riding the plan cache"); (b) the
   second pass is FASTER because those hits skip the expensive
   upstream lineages.
3. **release-after-each pass** — cache cleared, then the registry with
   the naive fix applied: after each query's action, unpersist every
   RDD that became persistent during that query. This is what
   "unpersist query-local caches after materialization" means when
   applied mechanically; it also evicts the session-scoped caches
   (trained codebooks, probe routings) mid-pass, so the ANN serving
   family retrains per call.

The adopt/decline decision reads straight off the numbers: if pass 2
adds ~no new cached relations and is much faster than pass 3, the
accumulate policy is both bounded and the fastest steady state, and
the release policy is declined with numbers. Results → CACHE_AUDIT.json.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"


def storage_snapshot(spark) -> dict:
    """Cached-RDD count and byte totals from the JVM storage registry."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "cached_rdds": len(infos),
        "mem_bytes": int(sum(i.memSize() for i in infos)),
        "disk_bytes": int(sum(i.diskSize() for i in infos)),
    }


def persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_ids(spark, ids: set[int]) -> int:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for rid in list(ids):
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(True)
            n += 1
    return n


def run_pass(spark, registry, release_each: bool) -> tuple[float, dict]:
    t0 = time.perf_counter()
    for name, fn in registry.items():
        before = persistent_ids(spark) if release_each else None
        fn(spark, SF_DIR).count()
        if release_each:
            unpersist_ids(spark, persistent_ids(spark) - before)
    wall = round(time.perf_counter() - t0, 1)
    return wall, storage_snapshot(spark)


def main() -> None:
    from northwind_warehouse_spark.session import get_spark

    spark = get_spark("cache-audit")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    registry = entry.queries()
    print(f"registry: {len(registry)} queries at {SF_DIR}")

    wall1, snap1 = run_pass(spark, registry, release_each=False)
    print("pass 1 (first run, accumulate):", wall1, "s", snap1)
    wall2, snap2 = run_pass(spark, registry, release_each=False)
    print("pass 2 (re-run, accumulate):", wall2, "s", snap2)

    spark.catalog.clearCache()
    # the module-level session caches hold handles to now-cleared DFs;
    # drop them so the release pass retrains from a clean slate instead
    # of serving dangling unpersisted handles
    import northwind_warehouse_spark.plans.llm as L

    for cache in (L._STORED_ARTIFACTS, L._FLAT_CENTS, L._PROBE_ROUTINGS):
        cache.clear()
    wall3, snap3 = run_pass(spark, registry, release_each=True)
    print("pass 3 (release-after-each):", wall3, "s", snap3)

    out = {
        "sf_dir": SF_DIR,
        "n_queries": len(registry),
        "pass1_first_run": {"wall_s": wall1, **snap1},
        "pass2_rerun_accumulate": {
            "wall_s": wall2,
            **snap2,
            "new_cached_rdds_vs_pass1": snap2["cached_rdds"] - snap1["cached_rdds"],
        },
        "pass3_release_after_each": {"wall_s": wall3, **snap3},
    }
    (REPO / "CACHE_AUDIT.json").write_text(json.dumps(out, indent=2) + "\n")
    print("wrote CACHE_AUDIT.json")
    spark.stop()


if __name__ == "__main__":
    main()
