#!/usr/bin/env python3
"""Scaling smoke: run headline plans at 1×, 3×, and 10× synthetic data
and record wall-clock growth → SCALING.md.

The 10× tables are built by unioning the sf0.1 tables with shifted keys
(deterministic, no RNG), written once to /tmp. Near-linear growth is the
evidence that the plans are scan/shuffle-bound (healthy) rather than
driver- or skew-bound.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

BASE_SF = "/root/testdata/sf0.1"
WORK = "/tmp/nws_scale_smoke_v3"


def _drop_session_cache(spark) -> None:
    """Release every cached relation + nudge the JVM to collect the
    broadcasts they pinned. The sweep runs ~250 queries × 4 factors in
    ONE session and ~50 plans persist query-local relations that are
    never released (the r12-verdict cache-lifecycle class): the first
    r13 sweep died at the 30× tail leg with a broadcast-build OOM on
    the 8g driver — every live InMemoryRelation keeps its broadcast
    dependencies reachable, so the heap filled with measurement
    residue. Called at factor boundaries (within-factor warm min-of-2
    semantics untouched; cross-factor cache keys never collide — they
    embed the sf_dir).

    clearCache() unpersists the module-level serving caches' DataFrames
    but leaves the HANDLES in their dicts — a later query with the same
    corpus key would silently re-execute the uncached lineage on every
    use (the dangling-handle hazard cache_audit.py documents). Drop the
    handles too, so the next serving query retrains and re-persists."""
    spark.catalog.clearCache()
    import northwind_warehouse_spark.plans.llm as L

    for cache in (L._STORED_ARTIFACTS, L._FLAT_CENTS, L._PROBE_ROUTINGS):
        cache.clear()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def replicate(spark, table: str, factor: int, key_cols: dict[str, int], out_dir: str) -> None:
    """Union `factor` shifted copies (keys offset so joins stay 1:1)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{BASE_SF}/{table}.parquet")
    parts = []
    for i in range(factor):
        part = df
        for col, span in key_cols.items():
            part = part.withColumn(col, F.col(col) + F.lit(i * span))
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


# Round 13 (r12 verdict #1): lineitem now ALSO shifts l_partkey, and the
# part dim is replicated with the same span — the TPC-H-faithful growth
# model (the part catalog scales with SF, so pair density is constant).
# The former replicator shifted only l_orderkey: every basket repeated
# VERBATIM over the fixed catalog, each base part pair's count
# multiplied by the factor, min-support prunes stopped pruning, and the
# pair-grain rows (part_cooccurrence_topk, basket_affinity) measured
# DUPLICATE EXPLOSION (r7: post-prune pairs grew 335× at 10×). With
# copies disjoint in part space, within-copy pairs are preserved
# exactly and cross-copy pairs are impossible — post-prune pair counts
# grow EXACTLY ×factor (verified per factor in measure_pair_counts).
# A remap-WITHIN-the-fixed-catalog variant (per-copy affine bijection)
# was built first and MEASURED OUT: the 1× pair space is ~0.6% occupied
# (1.196M distinct pairs of C(20000,2)), so C(factor,2) birthday
# collisions between copies dominate the linear term — post-prune pairs
# 3,573 → 31,925 at 3× (8.9×, ~quadratic in the factor). That is a REAL
# statistical property of a fixed min-support threshold over a fixed
# catalog at growing volume (not a plan defect), but it measures the
# coincidence regime, not corpus growth; TPC-H itself scales the part
# catalog linearly with SF, so the disjoint-copy model is the faithful
# one.
#
# EMBEDDINGS are the third artifact class of the same family (r13): the
# former verbatim vec_id-shifted copies made every vector an exact
# duplicate, and the FIRST honest (non-seed, r12-protocol) publish-gate
# encounter with a scale corpus REFUSED it — 240k ppm < the 400k floor
# at x3 (k = 47, flat/P=4). Diagnosis (measured through
# tools/nprobe_probe.measure on the x3 corpus, non-seed batch): a
# duplicate-family corpus's truth@5 is 2 self-copies + 3 near-isotropic
# outsiders (base nearest-neighbor cos ≈ 0.4), and the flat probe
# disagrees with the two-level ASSIGNMENT exactly on those degenerate
# families — flat/P4 240k vs two_level/P4 520k on the SAME corpus and
# index: the refusal was a corpus artifact, not a broken index. Copies
# now carry full-rank deterministic hash noise (the nprobe_probe `jit`
# scheme) at σ = 0.10 — copy↔base cos ≈ 0.9, the NEAR-DUP regime real
# corpus growth has (noise norm ≈ 4.62σ ≈ 0.46 on unit vectors; NOT
# nprobe's σ = 0.375 stress setting, which is calibrated to make probe
# routes separate, i.e. deliberately hard). Under jit-0.10 every route
# clears the floor at the served points — x3 flat/P4 520k, x10
# hier_S8/P4 640k — so the gate passes HONESTLY and the r12 route
# policy (flat ≤ 64, hier_S8 beyond) stays consistent with what it was
# calibrated on.
_EMB_JIT_SIGMA = 0.10


def replicate_embeddings(spark, factor: int, out_dir: str) -> None:
    """`factor` copies with shifted vec_id and per-copy full-rank
    deterministic hash noise (see the module note): the embedding-grain
    analog of the document character cipher — de-collides the vector
    values so index/recall measurements grade corpus growth, not
    duplicate families."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    parts = []
    for i in range(factor):
        part = df.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        if i > 0:
            # xxhash64(vec_id, i, d) is keyed per (row, copy, element) —
            # per-element evaluation is inherent (depends on d), so this
            # is not the hoistable-lambda-body class the lint targets
            part = part.withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, d) -> cast(x + {_EMB_JIT_SIGMA} * "
                    f"(pmod(xxhash64(vec_id, {i}, d), 2001) / 1000.0 - 1.0) as float))"
                ),
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def replicate_part(spark, factor: int, out_dir: str) -> None:
    """`factor` disjoint copies of the part dim (p_partkey shifted by
    the same 10M span lineitem's l_partkey uses) — TPC-H scales part
    count linearly with SF, and the SF-growing part dim is exactly why
    the hard-broadcast lint treats it as unbroadcastable."""
    replicate(spark, "part", factor, {"p_partkey": 10_000_000}, out_dir)


def replicate_lineitem(spark, factor: int, out_dir: str) -> None:
    """Shifted l_orderkey AND l_partkey (same span as replicate_part's
    p_partkey shift, so FK integrity holds copy-by-copy): each copy's
    baskets draw from its own disjoint slice of the scaled catalog —
    basket sizes and within-basket structure preserved, pair growth
    exactly linear. See the module-level round-13 note for why the
    fixed-catalog remap variant was measured out."""
    replicate(
        spark, "lineitem", factor,
        {"l_orderkey": 10_000_000, "l_partkey": 10_000_000}, out_dir,
    )


def replicate_documents(spark, factor: int, out_dir: str) -> None:
    """Shifted doc_ids AND per-copy content perturbation: replicated
    copies must NOT share shingles OR char n-grams, otherwise every LSH
    bucket / fingerprint's document frequency grows `factor`-fold and
    pair work grows factor² — which would measure the (real, but
    different) duplicate-explosion regime instead of corpus growth.

    The perturbation is a per-copy CHARACTER CIPHER (alphabet rotated
    by the copy index via translate): a previous version suffixed each
    token with '_c{i}', which de-collided WORD-grain shingles but kept
    most CHAR 5-grams identical across copies — winnow fingerprints'
    df grew ~factor, their pair fan-out factor², and past the df≤20
    rarity cap the shared fingerprints vanished entirely (measured:
    winnow_overlap_pairs 7.7s at 10× under suffixes vs linear under
    the cipher). The cipher changes every letter/digit, so both grains
    de-collide; spaces and punctuation are left alone, so token
    boundaries, lengths and per-doc structure are exactly preserved."""
    import string

    from pyspark.sql import functions as F

    alphabet = string.ascii_lowercase + string.ascii_uppercase + string.digits
    # copy 0 (identity) plus len(alphabet)-1 distinct non-zero rotations:
    # at i = len(alphabet) the rotation formula wraps back to copy 1's,
    # which would silently resurrect the duplicate-explosion artifact
    # this cipher exists to avoid (round-11 advice — fail loudly instead)
    assert factor <= len(alphabet), (
        f"replicate_documents: factor {factor} exceeds the {len(alphabet)} "
        "distinct cipher rotations (copy 0 + 61 non-zero)"
    )
    df = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    parts = []
    for i in range(factor):
        part = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        if i > 0:
            # 1 + (i-1) % (len-1): every copy i > 0 gets a DISTINCT
            # NON-ZERO rotation for i up to len(alphabet) (r10 advice:
            # `i % len` is the identity at i = 62 — copies 62, 124, …
            # would be exact duplicates of copy 0, silently resurrecting
            # the duplicate-explosion artifact this cipher exists to
            # avoid). Current max factor is 30; this removes the latch.
            rot = 1 + (i - 1) % (len(alphabet) - 1)
            part = part.withColumn(
                "text", F.translate("text", alphabet, alphabet[rot:] + alphabet[:rot])
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def build_scaled(spark, factor: int) -> str:
    out_dir = f"{WORK}/x{factor}"
    if os.path.exists(f"{out_dir}/lineitem.parquet"):
        return out_dir
    spans = {"o_orderkey": 10_000_000, "o_custkey": 10_000_000, "l_orderkey": 10_000_000,
             "c_custkey": 10_000_000, "event_id": 10_000_000, "user_id": 10_000_000}
    replicate_lineitem(spark, factor, out_dir)
    replicate(spark, "orders", factor,
              {"o_orderkey": spans["o_orderkey"], "o_custkey": spans["o_custkey"]}, out_dir)
    replicate(spark, "customer", factor, {"c_custkey": spans["c_custkey"]}, out_dir)
    replicate(spark, "events", factor,
              {"event_id": spans["event_id"], "user_id": spans["user_id"]}, out_dir)
    replicate_documents(spark, factor, out_dir)
    replicate_embeddings(spark, factor, out_dir)
    replicate_part(spark, factor, out_dir)
    for t in ("supplier", "nation", "region"):
        spark.read.parquet(f"{BASE_SF}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    return out_dir


def measure_maintained_serving(spark, dirs: dict[int, str]) -> dict:
    """Round-10 verdict #7: the maintained-generation reader
    (gen 0 ∪ streamed appends) had lifecycle tests but no recorded
    serving number. Per factor: build the stored index under a PRIVATE
    root (isolation — the shared /tmp store and its catalog tables are
    untouched), run N micro-batch appends through the PRODUCTION
    maintain entry (ivfpq_maintain_from_stream — each appends one
    generation and lands one file per (batch, bucket)), measure
    maintained-view serving FRAGMENTED, compact (ivfpq_compact_index →
    one file per (gen, bucket), committed as the index's next version),
    measure again. Min-of-2 warm, same semantics as the
    graded tail's stored-index rows. Round 12 extends the table to 30×
    (r11 verdict #3): the fragmentation regime's file count grows with
    both corpus size and generation count — 30× × 8 generations is
    where per-file overhead would first show if it were going to."""
    import shutil

    from pyspark.sql import functions as F

    import northwind_warehouse_spark.plans.llm as L
    from northwind_warehouse_spark.catalog import load

    out: dict[int, dict] = {}
    saved = (L._IVF_CB_ROOT, L._PQ_CB_ROOT, L._IVFPQ_ROOT)
    maint_root = f"{WORK}/idx_maint"
    shutil.rmtree(maint_root, ignore_errors=True)
    L._IVF_CB_ROOT = f"{maint_root}/cb"
    L._PQ_CB_ROOT = f"{maint_root}/pq"
    L._IVFPQ_ROOT = f"{maint_root}/idx"
    try:
        for factor in (1, 10, 30):
            sf_dir = dirs[factor]

            def t(fn, n=2):
                best = None
                for _ in range(n):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).count()
                    w = time.perf_counter() - t0
                    best = w if best is None else min(best, w)
                return round(best, 2)

            t_gen0 = t(L.ann_ivfpq_from_index)  # run 1 builds, run 2 serves
            e = load(spark, sf_dir, "embeddings")
            n_batches = 8
            for i in range(n_batches):
                new = e.filter(F.col("vec_id") % 97 == i).limit(64).select(
                    (F.col("vec_id") + F.lit(100_000_000 * (i + 1))).alias("vec_id"),
                    "embedding",
                )
                src = f"{maint_root}/stream_src/{factor}_{i}"
                new.coalesce(1).write.mode("overwrite").parquet(src)
                incoming = spark.readStream.schema(new.schema).parquet(src)
                q, _gen = L.ivfpq_maintain_from_stream(
                    spark, sf_dir, incoming, f"{maint_root}/ckpt/{factor}_{i}"
                )
                q.awaitTermination(180)
            t_frag = t(L.ann_ivfpq_from_index_maintained)
            stats = L.ivfpq_compact_index(spark, sf_dir)
            t_comp = t(L.ann_ivfpq_from_index_maintained)
            out[factor] = {
                "gen0": t_gen0,
                "maintained_fragmented": t_frag,
                "maintained_compacted": t_comp,
                "files_before": stats["files_before"],
                "files_after": stats["files_after"],
                "generations": n_batches,
            }
            print("maintained-serving", factor, out[factor])
    finally:
        L._IVF_CB_ROOT, L._PQ_CB_ROOT, L._IVFPQ_ROOT = saved
        # drop the private-root catalog tables so later consumers
        # re-adopt the shared-store artifacts
        for row in spark.sql("SHOW TABLES").collect():
            if row.tableName.startswith("nws_ivfpq_index_"):
                spark.sql(f"DROP TABLE IF EXISTS {row.tableName}")
    return out


def measure_cold_serving(spark, sf_dir: str) -> float:
    """Round-11 verdict #6: the graded serving walls are min-of-2 WARM
    (deliberate, documented — steady-state re-serving), but a FRESH
    serving session's first query must also rebuild the session-keyed
    probe caches (`_trained_cb` persisted handle, `_flat_cents` /
    `_probe_routing`, the PQ codebook handle) and re-adopt the stored
    index's catalog table (DDL + bucket spec + partition recovery).
    Measure that cold first-query wall against an ALREADY-PUBLISHED
    index by evicting exactly the session-keyed state a new session
    would lack — the on-disk artifacts stay — then timing ONE serving
    call. Run AFTER the tail pass so the artifact exists and the cold
    number prices adoption, not the build."""
    import northwind_warehouse_spark.plans.llm as L

    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    for key in [k for k in L._STORED_ARTIFACTS if k[1] == path]:
        try:
            L._STORED_ARTIFACTS.pop(key)[2].unpersist(True)
        except Exception:
            pass
    for key in [k for k in L._FLAT_CENTS if k[0] == path]:
        try:
            L._FLAT_CENTS.pop(key)[1].unpersist(True)
        except Exception:
            pass
    for key in [k for k in L._PROBE_ROUTINGS if k[0] == path]:
        try:
            old = L._PROBE_ROUTINGS.pop(key)[1]
            old[0].unpersist(True)
            old[1].unpersist(True)
        except Exception:
            pass
    spark.sql(f"DROP TABLE IF EXISTS {L._ivfpq_table(spark, sf_dir)[1]}")
    t0 = time.perf_counter()
    L.ann_ivfpq_from_index(spark, sf_dir).count()
    return round(time.perf_counter() - t0, 2)


def measure_pair_counts(spark, dirs: dict[int, str], factors: tuple[int, ...]) -> dict:
    """Round-13 (r12 verdict #1/#3): the pair-count normalization the
    pair-grain annotations rest on — the dedup_prefix_filter_join proof
    shape, applied to the three rows whose growth story was previously
    artifact-bound. Mirrors each query's pair CTE exactly (same prunes)
    and counts it once per factor, untimed:

    - part_cooccurrence_topk: post-min-support (co ≥ 2) unordered part
      pairs — under the old verbatim-basket replicator this grew 335×
      at 10×; under the affine basket remap it should grow ~×factor.
    - basket_affinity: brand pairs with n_ab ≥ 5 (pre-top-20).
    - winnow_overlap_pairs: CANDIDATE pair rows (rare self-join output
      before the ≥2-shared groupBy) AND output pairs — the r12 verdict
      asks which term drives the 30× wall: candidates outpacing input
      via the absolute df ≤ 20 cap, or per-pair cost."""
    from pyspark.sql import functions as F

    import northwind_warehouse_spark.plans.llm as L
    from northwind_warehouse_spark.catalog import load

    out: dict[str, dict[int, int]] = {
        "part_pairs": {}, "brand_pairs": {},
        "winnow_candidates": {}, "winnow_pairs": {},
    }
    for f in factors:
        d = dirs[f]
        op = (
            spark.read.parquet(f"{d}/lineitem.parquet")
            .select("l_orderkey", "l_partkey").distinct().persist()
        )
        a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
        b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
        out["part_pairs"][f] = (
            a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("n_co"))
            .filter(F.col("n_co") >= 2).count()
        )
        op.unpersist()
        p = spark.read.parquet(f"{d}/part.parquet").select("p_partkey", "p_brand")
        ob = (
            spark.read.parquet(f"{d}/lineitem.parquet")
            .select("l_orderkey", "l_partkey")
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .select("l_orderkey", F.col("p_brand").alias("brand")).distinct().persist()
        )
        out["brand_pairs"][f] = (
            ob.alias("a").join(
                ob.alias("b"),
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.brand") < F.col("b.brand")),
            )
            .groupBy(F.col("a.brand"), F.col("b.brand"))
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= 5).count()
        )
        ob.unpersist()
        sel = L._winnow_sel(load(spark, d, "documents")).select(
            "doc_id", F.expr("CAST(size(sel) AS BIGINT)").alias("n_sel"), "sel"
        ).persist()
        x = sel.select("doc_id", F.explode("sel").alias("s"))
        rare = x.join(
            x.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
                F.col("df") <= L._WINNOW_MAX_DF
            ),
            "s",
        ).select("s", "doc_id")
        cand = (
            rare.select("s", F.col("doc_id").alias("doc_a"))
            .join(rare.select("s", F.col("doc_id").alias("doc_b")), "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .persist()
        )
        out["winnow_candidates"][f] = cand.count()
        out["winnow_pairs"][f] = (
            cand.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= 2).count()
        )
        cand.unpersist()
        sel.unpersist()
        print("pair-counts", f, {k: v.get(f) for k, v in out.items()})
    return out


def main() -> None:
    from northwind_warehouse_spark.plans import analytics, medallion
    from northwind_warehouse_spark.session import get_spark

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    from northwind_warehouse_spark.plans import llm

    queries = {
        "q1_pricing_summary": analytics.q1_pricing_summary,
        "q5_local_revenue": analytics.q5_local_revenue,
        "scd2_users": medallion.scd2_users,
        "events_sessionize": analytics.events_sessionize,
        "events_funnel": analytics.events_funnel,
        "dedup_minhash_lsh": llm.dedup_minhash_lsh,
        "dedup_clusters": llm.dedup_clusters,
        "bpe_pair_stats": llm.bpe_pair_stats,
        "ann_ivf_topk": llm.ann_ivf_topk,
        "ann_ivf_multiprobe_topk": llm.ann_ivf_multiprobe_topk,
        "interval_join_attribution": analytics.interval_join_attribution,
        "sequence_pack": llm.sequence_pack,
        "tfidf_top_terms": llm.tfidf_top_terms,
        "bigram_lm_quality": llm.bigram_lm_quality,
        "kmeans_iter": llm.kmeans_iter,
        "corpus_dedup_apply": llm.corpus_dedup_apply,
        "bpe_encode": llm.bpe_encode,
        "dup_ngram_fraction": llm.dup_ngram_fraction,
        "embedding_quantize_int8": llm.embedding_quantize_int8,
        "events_weekly_active": analytics.events_weekly_active,
        "basket_affinity": analytics.basket_affinity,
        "pareto_customers": analytics.pareto_customers,
        "interpurchase_intervals": analytics.interpurchase_intervals,
        "event_pagerank": analytics.event_pagerank,
        "twap_event_value": analytics.twap_event_value,
        "sketch_distinct_rollup": analytics.sketch_distinct_rollup,
        # round-4 de-globalized sampled-boundary family: growth here is
        # the direct evidence the former single-reducer sorts are gone
        "equi_depth_histogram": analytics.equi_depth_histogram,
        "customer_spend_deciles": analytics.customer_spend_deciles,
        "rfm_segments": analytics.rfm_segments,
        "abc_parts": analytics.abc_parts,
        "skyline_parts": analytics.skyline_parts,
        "dim_part_multisource": medallion.dim_part_multisource,
        "hierarchy_unroll": medallion.hierarchy_unroll,
        "boilerplate_prune": llm.boilerplate_prune,
        "winnow_fingerprint": llm.winnow_fingerprint,
        "ann_pq_topk": llm.ann_pq_topk,
        "curate_corpus": llm.curate_corpus,
        "winnow_overlap_pairs": llm.winnow_overlap_pairs,
        "pq_refine_stats": llm.pq_refine_stats,
        "pq_train_rounds": llm.pq_train_rounds,
        # second-wave round-4 additions
        "fact_order_lifecycle": medallion.fact_order_lifecycle,
        "fact_inventory_monthly": medallion.fact_inventory_monthly,
        "gaps_islands_orders": analytics.gaps_islands_orders,
        "revenue_alloc_largest_remainder": analytics.revenue_alloc_largest_remainder,
        "mad_outlier_orders": analytics.mad_outlier_orders,
        "dedup_prefix_truncation": llm.dedup_prefix_truncation,
        "ngram_novelty": llm.ngram_novelty,
        "tokenizer_fertility": llm.tokenizer_fertility,
        "simhash_hamming_pairs": llm.simhash_hamming_pairs,
        "embedding_outliers": llm.embedding_outliers,
        "ann_ivfpq_topk": llm.ann_ivfpq_topk,
        # round-8: persisted-index serving (build-once per (session,
        # dir) — the per-factor dirs differ, so each factor measures
        # one build + one stored-index serve)
        "ann_ivfpq_from_index": llm.ann_ivfpq_from_index,
        # round-9: multi-probe serving + recall gate on the stored path
        "ann_ivfpq_multiprobe_from_index": llm.ann_ivfpq_multiprobe_from_index,
        "ann_ivfpq_from_index_recall": llm.ann_ivfpq_from_index_recall,
        # third/fourth-wave additions
        "scd3_users": medallion.scd3_users,
        "asof_events_forward": medallion.asof_events_forward,
        "dedup_graph_triangles": llm.dedup_graph_triangles,
        "bloom_prefilter_audit": analytics.bloom_prefilter_audit,
        "attribution_models": analytics.attribution_models,
        "events_debounce": analytics.events_debounce,
        "dedup_containment": llm.dedup_containment,
        "vocab_coverage": llm.vocab_coverage,
        "bom_explosion": medallion.bom_explosion,
        "revenue_trend_slope": analytics.revenue_trend_slope,
        # minhash_recall_eval deliberately absent: its ground truth is an
        # all-pairs exact Jaccard, O(n²) BY DESIGN and documented as an
        # eval-sample-only gate — growth measurement would just re-measure
        # that intentional quadratic.
        "kmv_overlap_estimate": analytics.kmv_overlap_estimate,
        "events_session_window": analytics.events_session_window,
        "market_concentration_hhi": analytics.market_concentration_hhi,
        "cross_source_overlap_matrix": llm.cross_source_overlap_matrix,
        "embedding_power_iter": llm.embedding_power_iter,
        "dim_customer_inferred": medallion.dim_customer_inferred,
        "order_backlog_daily": analytics.order_backlog_daily,
        "dedup_savings_by_source": llm.dedup_savings_by_source,
        "dup_quality_correlation": llm.dup_quality_correlation,
        "score_lift_table": llm.score_lift_table,
        "lm_quality_terciles": llm.lm_quality_terciles,
        "dedup_canonical_by_quality": llm.dedup_canonical_by_quality,
        "dedup_prefix_filter_join": llm.dedup_prefix_filter_join,
        "events_funnel_timebound": analytics.events_funnel_timebound,
        "dedup_consensus_pairs": llm.dedup_consensus_pairs,
        "scd6_users": medallion.scd6_users,
        "multimodal_frame_manifest": llm.multimodal_frame_manifest,
        "customer_growth_accounting": analytics.customer_growth_accounting,
        "price_volume_mix": analytics.price_volume_mix,
        "order_fulfillment_sla": analytics.order_fulfillment_sla,
        "events_dow_hour_profile": analytics.events_dow_hour_profile,
        "dedup_cluster_size_histogram": llm.dedup_cluster_size_histogram,
        "vocab_growth_curve": llm.vocab_growth_curve,
        "doc_length_bands": llm.doc_length_bands,
        "monthly_seasonal_index": analytics.monthly_seasonal_index,
        "discount_effectiveness": analytics.discount_effectiveness,
        "next_click_latency_percentiles": analytics.next_click_latency_percentiles,
        "winsorized_event_value": analytics.winsorized_event_value,
        "fk_integrity_matrix": medallion.fk_integrity_matrix,
        "snapshot_diff_users": medallion.snapshot_diff_users,
        "jackknife_mean_ci": analytics.jackknife_mean_ci,
        "events_cusum_detect": analytics.events_cusum_detect,
        "asof_events_tolerance": medallion.asof_events_tolerance,
        "seasonal_residual_outliers": analytics.seasonal_residual_outliers,
        "supplier_share_shift": analytics.supplier_share_shift,
        "late_arrival_audit": medallion.late_arrival_audit,
        "knn_graph_cell_local": llm.knn_graph_cell_local,
        "discount_quantity_elasticity": analytics.discount_quantity_elasticity,
        "label_centroid_separation": llm.label_centroid_separation,
        "lsh_band_tuning": llm.lsh_band_tuning,
        "dedup_exact_normalized": llm.dedup_exact_normalized,
        "distinctive_terms_by_source": llm.distinctive_terms_by_source,
        "cohort_ltv_curve": analytics.cohort_ltv_curve,
        "xyz_parts_variability": analytics.xyz_parts_variability,
        "sample_extrapolation_error": analytics.sample_extrapolation_error,
        "dim_date_fiscal445": medallion.dim_date_fiscal445,
        "shingle_df_profile": llm.shingle_df_profile,
        "tax_reconciliation_annual": analytics.tax_reconciliation_annual,
        "ann_pq_rerank_topk": llm.ann_pq_rerank_topk,
        "dedup_incremental_new_batch": llm.dedup_incremental_new_batch,
        "event_type_user_overlap": analytics.event_type_user_overlap,
        "nation_quantile_bands": analytics.nation_quantile_bands,
        "lsh_bucket_occupancy": llm.lsh_bucket_occupancy,
        "sentence_stats": llm.sentence_stats,
        "events_burst_windows": analytics.events_burst_windows,
        "scd4_users": medallion.scd4_users,
        "drill_across_customer_360": analytics.drill_across_customer_360,
        "role_playing_date_latency": analytics.role_playing_date_latency,
        # round-6 additions
        "dim_customer_minidim": medallion.dim_customer_minidim,
        "revenue_rolling_28d": analytics.revenue_rolling_28d,
        "new_vs_returning_revenue": analytics.new_vs_returning_revenue,
        "price_point_bias": analytics.price_point_bias,
        "event_type_gini_by_user": analytics.event_type_gini_by_user,
        "supplier_on_time_ship": analytics.supplier_on_time_ship,
        "split_leakage_audit": llm.split_leakage_audit,
        "hapax_ratio_quality": llm.hapax_ratio_quality,
        "dedup_cluster_chain_audit": llm.dedup_cluster_chain_audit,
        "embedding_dim_variance": llm.embedding_dim_variance,
        "collocation_lift_top": llm.collocation_lift_top,
        "label_balance_audit": llm.label_balance_audit,
        "dead_stock_parts": analytics.dead_stock_parts,
        "revenue_by_customer_tenure_band": analytics.revenue_by_customer_tenure_band,
        "fiscal_period_sales": analytics.fiscal_period_sales,
        "order_size_value_matrix": analytics.order_size_value_matrix,
        "events_value_profile": analytics.events_value_profile,
        "candidate_jaccard_histogram": llm.candidate_jaccard_histogram,
        "token_length_profile": llm.token_length_profile,
        "int8_reconstruction_error": llm.int8_reconstruction_error,
        "fiscal_yoy_sales": analytics.fiscal_yoy_sales,
        "events_bot_heuristic": analytics.events_bot_heuristic,
        "brand_return_rates": analytics.brand_return_rates,
        "events_stickiness_monthly": analytics.events_stickiness_monthly,
        "band_agreement_histogram": llm.band_agreement_histogram,
        "curation_funnel_report": llm.curation_funnel_report,
        "stopword_profile_by_source": llm.stopword_profile_by_source,
        "purchase_breadth_bands": analytics.purchase_breadth_bands,
        "session_type_affinity": analytics.session_type_affinity,
        "doc_embedding_coverage": llm.doc_embedding_coverage,
        "source_vocab_tv_distance": llm.source_vocab_tv_distance,
        "knn_label_purity": llm.knn_label_purity,
        "quarter_end_loading": analytics.quarter_end_loading,
        "sole_source_parts": analytics.sole_source_parts,
        "orders_dow_seasonality": analytics.orders_dow_seasonality,
        "supplier_risk_screen": analytics.supplier_risk_screen,
        "part_cooccurrence_topk": analytics.part_cooccurrence_topk,
        "scd2_compaction": medallion.scd2_compaction,
        "ivf_cell_occupancy": llm.ivf_cell_occupancy,
        "simhash_bit_balance": llm.simhash_bit_balance,
        "dim_date_month_shrunken": medallion.dim_date_month_shrunken,
        "order_status_drift_monthly": analytics.order_status_drift_monthly,
        "acctbal_spend_quadrants": analytics.acctbal_spend_quadrants,
        "pq_code_utilization": llm.pq_code_utilization,
        "embedding_cosine_histogram": llm.embedding_cosine_histogram,
        "nation_trade_balance": analytics.nation_trade_balance,
        "spend_tier_migration": analytics.spend_tier_migration,
        "retail_price_realization": analytics.retail_price_realization,
        "charset_profile_by_source": llm.charset_profile_by_source,
        "fingerprint_collision_audit": llm.fingerprint_collision_audit,
        "inferred_member_repair": medallion.inferred_member_repair,
        "brand_repeat_purchase": analytics.brand_repeat_purchase,
        "part_supplier_price_spread": analytics.part_supplier_price_spread,
        "multimodal_audio_segments": llm.multimodal_audio_segments,
        "medallion_reconciliation": medallion.medallion_reconciliation,
        "dq_lineitem_ranges": medallion.dq_lineitem_ranges,
        "arpu_monthly": analytics.arpu_monthly,
        "minhash_seed_uniformity": llm.minhash_seed_uniformity,
        "shingle_kmv_error": llm.shingle_kmv_error,
        "embedding_exact_dup_audit": llm.embedding_exact_dup_audit,
        "import_dependency_concentration": analytics.import_dependency_concentration,
        "k_anonymity_audit": medallion.k_anonymity_audit,
        "props_key_profile": analytics.props_key_profile,
        "discount_cap_whatif": analytics.discount_cap_whatif,
        "context_fit_audit": llm.context_fit_audit,
        "churn_training_set": analytics.churn_training_set,
        "incremental_agg_maintenance": medallion.incremental_agg_maintenance,
        "hard_negative_mining": llm.hard_negative_mining,
        "template_family_profile": llm.template_family_profile,
        "span_corruption_manifest": llm.span_corruption_manifest,
        "supplier_lead_time_trend": analytics.supplier_lead_time_trend,
        "sql_surface_nation_revenue": analytics.sql_surface_nation_revenue,
        "sft_pair_manifest": llm.sft_pair_manifest,
        "events_new_users_daily": analytics.events_new_users_daily,
        "source_vocab_jaccard": llm.source_vocab_jaccard,
        "dv_sat_user_events": medallion.dv_sat_user_events,
        "dv_pit_users": medallion.dv_pit_users,
        "halflife_weighted_value": analytics.halflife_weighted_value,
        "lang_charset_consistency": llm.lang_charset_consistency,
        "events_salted_type_rollup": analytics.events_salted_type_rollup,
        "holiday_order_lift": analytics.holiday_order_lift,
        "quality_gate_ablation": llm.quality_gate_ablation,
        "events_value_anova": analytics.events_value_anova,
        "chunk_position_dup_profile": llm.chunk_position_dup_profile,
        "bitemporal_restatement": medallion.bitemporal_restatement,
        "seasonal_naive_backtest": analytics.seasonal_naive_backtest,
        "ann_margin_profile": llm.ann_margin_profile,
        "lineitem_linenumber_audit": medallion.lineitem_linenumber_audit,
        "name_format_expectations": medallion.name_format_expectations,
        "customer_hazard_curve": analytics.customer_hazard_curve,
        "kfold_assignment_audit": llm.kfold_assignment_audit,
        "events_autocorr_lag1": analytics.events_autocorr_lag1,
        "zipf_rank_frequency": llm.zipf_rank_frequency,
        "events_fano_factor": analytics.events_fano_factor,
        "pack_straddle_stats": llm.pack_straddle_stats,
        # round-7 addition
        "ivf_train_rounds": llm.ivf_train_rounds,
        # dedup_embedding_cosine is deliberately absent: replicated
        # vectors form per-base near-dup families (jit copies at
        # cos ≈ 0.9 — and verbatim copies before r13), so true dup
        # pairs grow C(factor,2) per base — quadratic in the factor by
        # construction. A dedup measurement over that corpus grades
        # family explosion (bounded by the bucket cap), not corpus
        # growth.
    }

    results: dict[int, dict[str, float]] = {}
    dirs: dict[int, str] = {}
    # untimed JVM warmup: the factor-1 leg runs FIRST in a cold JVM, so
    # its first rows otherwise carry JIT/codegen warmup (the first r13
    # sweep read q1 at 1.79s vs its steady 0.4s) — run one query
    # untimed, then start clean
    queries["q1_pricing_summary"](spark, BASE_SF).count()
    _drop_session_cache(spark)
    for factor in (1, 3, 10):
        sf_dir = BASE_SF if factor == 1 else build_scaled(spark, factor)
        dirs[factor] = sf_dir
        # warm the dirs' footers
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        timings = {}
        for name, fn in queries.items():
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 2)
        results[factor] = timings
        print(factor, timings, flush=True)
        _drop_session_cache(spark)

    # anomaly pass (round-6): a NON-MONOTONE row (3× slower than 10×) is
    # single-run noise until proven otherwise — re-measure all three
    # factors for those rows and keep the per-factor MIN (the
    # least-noise estimate of a deterministic workload). Rows that stay
    # non-monotone get a visible flag instead of shipping unexplained.
    flagged = [n for n in queries if results[3][n] > results[10][n]]
    # ALSO re-measure every row whose single-run ratio exceeds 2.5 — the
    # protocol threshold for "needs explanation": a single sweep reading
    # on a shared sandbox routinely inflates a flat row past 3×
    # (order_fulfillment_sla read 3.1× in one r7 sweep and min-of-2 FLAT
    # solo), and a ratio that survives the min-of-2 is real growth to
    # annotate, not noise to hand-wave.
    flagged += [
        n
        for n in queries
        if n not in flagged and results[10][n] / max(results[1][n], 0.01) > 2.5
    ]
    print("re-measuring non-monotone/high-ratio rows:", flagged, flush=True)
    for factor in (1, 3, 10):
        for name in flagged:
            t0 = time.perf_counter()
            queries[name](spark, dirs[factor]).count()
            results[factor][name] = min(
                results[factor][name], round(time.perf_counter() - t0, 2)
            )
        _drop_session_cache(spark)

    # 30× deep pass (round-6 verdict #7): ONLY the former weak tail —
    # the rows whose round-7/8 fixes (two-level coarse quantizer,
    # adaptive sample ppm) claim their growth ratios keep falling past
    # 10× — plus dedup_prefix_filter_join (round-7 verdict #4: its
    # linear-PAIR-growth annotation needs a measured 30× column with
    # pair-count normalization, not an r6-vintage narrative).
    # Measuring everything at 30× would cost ~an hour for no new
    # information; these are where the claims need proof. Round 9 adds
    # the vocabulary-join tail (round-8 verdict #8): tfidf_top_terms /
    # bigram_lm_quality / bpe_encode sat at ~2.4× @10× — just under the
    # 2.5 threshold — on term-grain joins whose hot keys (stopwords)
    # are the skew candidates at corpus scale, so the next reader
    # should see a measured 30× cell, not proximity to the line.
    # Round 10 adds the stored-index serving family vs its inline twin
    # (round-9 verdict #1 'done' criterion): with the occupancy-scaled
    # persisted index, the SERVING wall should stay ~flat at 10×/30×
    # (the query batch ADC-scans ~P·occupancy candidate rows regardless
    # of n) while the inline ann_ivfpq_topk keeps growing (it rebuilds
    # its index inside the query DAG every call). Min-of-2 per factor
    # makes the stored rows pure serving: the first run builds+publishes
    # once per factor corpus, the second adopts the stored artifact.
    # Round 10 adds the staged-lambda / single-pass-funnel fixes
    # (ngram_novelty, quality_gate_ablation) and winnow_overlap_pairs
    # (whose former superlinear growth was the suffix-perturbation
    # char-gram collision artifact the cipher replicator fixes).
    # Round 13 adds part_cooccurrence_topk (r12 verdict #4: its triangle
    # adoption cites 30× A/B numbers — the graded table must corroborate
    # them) and basket_affinity (r12 verdict #1: both pair-grain rows
    # re-measured under the affine basket replicator with pair counts).
    TAIL_30X = (
        "knn_graph_cell_local", "ivf_cell_occupancy", "equi_depth_histogram",
        "dedup_prefix_filter_join",
        "tfidf_top_terms", "bigram_lm_quality", "bpe_encode",
        "ann_ivfpq_from_index", "ann_ivfpq_multiprobe_from_index",
        "ann_ivfpq_topk",
        "ngram_novelty", "quality_gate_ablation", "winnow_overlap_pairs",
        "part_cooccurrence_topk", "basket_affinity",
    )
    dirs[30] = build_scaled(spark, 30)
    spark.read.parquet(f"{dirs[30]}/lineitem.parquet").count()
    # drop the ~250 persisted relations the main sweep accumulated:
    # by the tail pass the executor cache is full and GC/eviction
    # pressure inflates the graded 30× rows (r8: the prefix-filter
    # join read 21.2s min-of-2 inside the sweep vs 7.0s min-of-3 in a
    # quiet fresh session — the measurement must not price the sweep's
    # own memory residue)
    spark.catalog.clearCache()
    results[30] = {}
    # the graded tail rows get the same least-noise treatment as
    # non-monotone rows — min over a re-measure at EVERY factor (a
    # single sweep reading of a deterministic workload on a shared
    # sandbox can be several× off; r7 observed 13.96s vs a 3.86s
    # min-of-2 for the same query/factor). For dedup_prefix_filter_join
    # the OUTPUT PAIR count is captured per factor — the pairs/sec
    # normalization the exactly-linear-pair-growth annotation rests on.
    pfj_pairs: dict[int, int] = {}
    for factor in (1, 3, 10, 30):
        # factor boundary = cache boundary (r13): the tail pass
        # re-accumulates every query-local persist at each factor, and
        # by the 30× leg the DRIVER heap was full of live cache (each
        # InMemoryRelation pins its broadcast deps) — a broadcast build
        # OOM'd the first r13 sweep. Tail rows get TWO post-clear runs
        # at EVERY factor so the recorded min is warm (run 2 rides the
        # query's own persists — the "adoption" semantic) at 1×/3×/10×
        # exactly as at 30×: the first r13 re-sweep gave the 30× cell
        # its warm pair but left 1×-10× cells a single COLD post-clear
        # re-run, producing structural 10×>30× inversions. Before the
        # clears, 1×-10× tail re-runs rode SESSION-LIFETIME caches left
        # by the ~250-query main sweep — warmer than own-warm (pfj's
        # old 30× cell read 10.5s; a fresh session measures 34s warm)
        # — so tail cells re-baseline this round.
        _drop_session_cache(spark)
        for name in TAIL_30X:
            best = results.get(factor, {}).get(name)
            for _ in range(2):
                t0 = time.perf_counter()
                cnt = queries[name](spark, dirs[factor]).count()
                t = round(time.perf_counter() - t0, 2)
                best = t if best is None else min(best, t)
            if name == "dedup_prefix_filter_join":
                pfj_pairs[factor] = cnt
            results.setdefault(factor, {})[name] = best
    # least-noise rule at the 30× boundary: a 30× min BELOW the 10×
    # cell means the 10× reading is noise (the workload is
    # deterministic and work is monotone in the factor) — re-measure
    # the inverted cell once more and keep the min, so the table
    # doesn't ship a 10× wall the 30× run just disproved (r10: the
    # sweep's bpe_encode 10× read 9.9s against a 5.9s 30× min).
    tail_inverted: set[str] = set()
    for name in TAIL_30X:
        for lo, hi in ((10, 30), (3, 10), (1, 3)):
            if results[hi][name] < results[lo][name]:
                t0 = time.perf_counter()
                queries[name](spark, dirs[lo]).count()
                results[lo][name] = min(
                    results[lo][name], round(time.perf_counter() - t0, 2)
                )
                # visible flag when the pair is STILL inverted after the
                # re-measure (r10 advice: the non-monotone pass prints a
                # flag for surviving anomalies; this pass shipped them
                # silently)
                if results[hi][name] < results[lo][name]:
                    tail_inverted.add(name)
                    print(
                        f"STILL-INVERTED after re-measure: {name} "
                        f"{lo}x={results[lo][name]}s > {hi}x={results[hi][name]}s"
                    )
    print(30, results[30], "pfj_pairs", pfj_pairs, flush=True)

    _drop_session_cache(spark)
    pair_counts = measure_pair_counts(spark, dirs, (1, 3, 10, 30))
    _drop_session_cache(spark)

    # r12 verdict #7: the cold-vs-warm gap's SHAPE across k — 1× serves
    # the flat probe branch (k = 16 ≤ 64), 10×/30× the hier branch
    # (k = 157 / 469) — so the curve separates cache-rebuild cost
    # (grows with k) from catalog-table adoption (flat-ish).
    cold = {f: measure_cold_serving(spark, dirs[f]) for f in (1, 10, 30)}
    print("cold first-query serving per factor:", cold, flush=True)

    _drop_session_cache(spark)
    maintained = measure_maintained_serving(spark, dirs)

    # per-pair cost ratio 30× vs 1× for the pfj annotation: > 1 means a
    # pair costs MORE at 30× (adjudicated below, not hard-coded — the
    # pre-r13 warm-riding protocol measured it falling; the honest
    # post-clear protocol measures ~flat)
    _pfj_pp = round(
        (results[30]["dedup_prefix_filter_join"] / max(pfj_pairs[30], 1))
        / max(results[1]["dedup_prefix_filter_join"] / max(pfj_pairs[1], 1), 1e-9),
        2,
    )
    lines = [
        "# SCALING — measured wall-clock vs data volume",
        "",
        "Headline plans at 1×, 3×, 10× the sf0.1 tables (synthetic key-shifted",
        "replication — documents per-copy character-ciphered, and (round 13)",
        "the part catalog replicated alongside lineitem's l_partkey shift so",
        "pair-grain rows measure corpus growth, not duplicate explosion;",
        "generated by tools/scale_smoke.py on local[32]).",
        "",
        "Reading: 10× data costing ~1-2× time shows the sf0.1 timings are",
        "dominated by fixed per-stage overhead, not data — the single-file 1×",
        "inputs scan on one task while the replicated tables fan out across all",
        "cores. A super-linear ratio would flag a skew or driver bottleneck.",
        "Non-monotone rows AND rows whose single-run 10×/1× ratio exceeds",
        "2.5 are re-measured (per-factor min of two runs); non-monotone",
        "survivors are marked † as residual sandbox noise, and ratios that",
        "survive the min-of-2 are real growth, annotated below.",
        "The graded tail rows (knn_graph_cell_local, ivf_cell_occupancy,",
        "equi_depth_histogram, dedup_prefix_filter_join, the round-9",
        "vocabulary-join tail tfidf_top_terms / bigram_lm_quality /",
        "bpe_encode, and — round 10 — the stored-index serving family",
        "ann_ivfpq_from_index / ann_ivfpq_multiprobe_from_index beside its",
        "inline twin ann_ivfpq_topk) carry an extra 30× measurement proving",
        "their fixes and annotations hold past 10× (all other rows: —);",
        "those rows are min-of-2 at every factor, same least-noise rule as",
        "re-measures, and a factor-pair INVERSION (a higher factor's min",
        "below a lower one's — impossible for a deterministic monotone",
        "workload) re-measures the lower cell once more; a pair that",
        "STAYS inverted after that re-measure is marked ‡ (residual",
        "sandbox noise on the lower cell, never shipped silently).",
        "Min-of-2 semantics, stated plainly: the two runs",
        "share a session, so a row whose plan persists a relation (sel,",
        "per-round toks, the stored index) reads that cache on run 2 —",
        "the min measures STEADY-STATE re-serving (deliberate for the",
        "stored-index rows: run 1 pays the once-per-corpus build; run 2",
        "is adoption; same warm semantics for winnow_overlap_pairs,",
        "ngram_novelty, knn_graph_cell_local — whose 30× min rides its",
        "own persists: run 2 re-reads the triangle half-pair cache —",
        "and, r13, part_cooccurrence_topk and basket_affinity, whose",
        "persisted half-pair / order-brand relations ride the plan",
        "cache the same way). The",
        "cold single-pass cost is the main-sweep (non-tail) reading.",
        "The executor cache is cleared at FACTOR boundaries (r13): the",
        "sweep's ~250 queries re-persist ~50 query-local relations per",
        "factor and each live cache entry pins its broadcast deps — the",
        "accumulated residue OOM'd the first r13 sweep's 8g driver at",
        "the 30× tail leg. Tail rows get two post-clear runs at every",
        "factor, so each tail cell is warm w.r.t. the query's OWN",
        "persists only. This RE-BASELINES the tail cells vs pre-r13",
        "tables: the old 1×-10× tail re-runs rode SESSION-LIFETIME",
        "caches left by the main sweep (warmer than own-warm —",
        "dedup_prefix_filter_join's old 30× cell read 10.5s where a",
        "fresh cold session measures 34s warm-run),",
        "so pre-r13 tail cells",
        "UNDERSTATE steady-state cost — direction/ratio claims within",
        "one table remain comparable, cross-round tail absolutes are",
        "not. The module-level serving caches are dropped with the",
        "cache (dangling handles would re-execute uncached lineage).",
        "PROVENANCE (r11 verdict #4): numbers quoted in operator",
        "docstrings and SURVEY are the ADOPTION SESSION'S A/B min-of-2;",
        "this file's cells are THIS regeneration's sweep — two",
        "measurements of the same deterministic workload under",
        "different sandbox load, so small absolute drift between them",
        "(e.g. a 3.71s docstring vs a 4.7s cell) is session noise, not",
        "a contradiction; direction and ratios are the stable claims.",
        "",
        "| query | 1× (s) | 3× (s) | 10× (s) | 10×/1× ratio | 30× (s) | 30×/10× ratio |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for name in queries:
        t1, t3, t10 = results[1][name], results[3][name], results[10][name]
        mark = " †" if t3 > t10 else ""
        if name in tail_inverted:
            mark += " ‡"
        t30 = results[30].get(name)
        tail = (
            f" {t30} | {round(t30 / max(t10, 0.01), 1)} |"
            if t30 is not None
            else " — | — |"
        )
        lines.append(
            f"| {name}{mark} | {t1} | {t3} | {t10} | {round(t10 / max(t1, 0.01), 1)} |"
            + tail
        )
    SPECIFIC_ANNOTATED = {
        "dedup_prefix_filter_join", "part_cooccurrence_topk",
        "basket_affinity",
        "knn_graph_cell_local", "ivf_cell_occupancy",
        "equi_depth_histogram", "lm_quality_terciles",
        "tfidf_top_terms", "bigram_lm_quality", "bpe_encode",
        "ann_ivfpq_from_index", "ann_ivfpq_multiprobe_from_index",
        "ann_ivfpq_topk",
        "ngram_novelty", "quality_gate_ablation", "winnow_overlap_pairs",
    }
    linear_survivors = sorted(
        n for n in queries
        if n not in SPECIFIC_ANNOTATED
        and results[10][n] / max(results[1][n], 0.01) > 2.5
    )
    lines += [
        "",
        "## Annotations (measured explanations, rounds 6-7)",
        "",
        "- **dedup_prefix_filter_join** — work is EXACTLY LINEAR under",
        "  replication (measured r6: prefix rows 80,865 → 808,650, candidate",
        "  pairs 35,700 → 357,000 at 1×→10×). The wall-clock ratio therefore",
        "  prices more *output* work as well as input. Round-8 30× proof with",
        "  pair normalization (this run): output pairs "
        + "/".join(str(pfj_pairs[f]) for f in (1, 3, 10, 30))
        + " at 1×/3×/10×/30× —",
        "  exactly linear — against walls "
        + "/".join(str(results[f]["dedup_prefix_filter_join"]) for f in (1, 3, 10, 30))
        + "s — per-pair cost at 30×",
        "  is " + str(_pfj_pp) + "× the 1× per-pair cost ("
        + (
            "still falling past 10×"
            if _pfj_pp < 0.95
            else "~flat — the wall prices output volume, nothing worse"
            if _pfj_pp <= 1.15
            else "RISING — the residual term is scan/shuffle volume at the"
            " fixed 32-partition layout, not pair blow-up"
        )
        + "). The",
        "  exactness guarantee makes output-bound growth inherent; no plan",
        "  change needed.",
        "- **knn_graph_cell_local / ivf_cell_occupancy** — round-7 fix of",
        "  the round-6 quadratic tail: the occupancy-pinned policy",
        "  (n_centroids = ceil(n/128), 16/47/157/469 centroids at",
        "  1×/3×/10×/30×) previously made the flat map-only assignment cost",
        "  n·k with k ∝ n (measured 4.6×/5.8× wall at 10× in r6). The",
        "  TWO-LEVEL coarse quantizer (ivf_assign_two_level: vector →",
        "  nearest of ceil(sqrt(k)) super-cells → argmax over that super's",
        "  children) cuts it to n·2√k — still map-only, zero-UDF,",
        "  oracle-mirrored CTE by CTE. The 30× column is the proof the",
        "  ratio keeps falling: dot-product work per vector grows ~√10 ≈",
        "  3.2× per decade instead of 10×. Over-cap cells remain",
        "  lottery-sampled, never dropped (non-empty at every factor).",
        "  Round 8 adds the TRAINED codebook on these paths (one Lloyd",
        "  round over the 25% lottery sample = one extra n/4·2√k two-level",
        "  pass + a (cell, dim)-grain mean; the k-row codebook is persisted",
        "  so the training lineage runs once) — same asymptotics, and the",
        "  sf0.1 walls stayed flat vs r7 (knn 3.4s vs 3.6s).",
        "- **equi_depth_histogram** — round-7 fix (r6 verdict #4): the",
        "  boundary sample's lottery ppm now scales inversely with the",
        "  order count (ppm = min(500000, 75e9 // n), oracle-mirrored as a",
        "  scalar subquery), so the single-reducer exact percentile sees a",
        "  FLAT ~75k-row sample at any scale instead of a linearly growing",
        "  one; the 30× column proves the residual growth is the map-only",
        "  bucket-assign scan, not the boundary agg.",
        "- **part_cooccurrence_topk / basket_affinity under the basket",
        "  replicator (round 13, r12 verdict #1)** — the former replicator",
        "  repeated every basket verbatim (only l_orderkey shifted, part",
        "  catalog fixed), so each 1-count part pair became a factor-count",
        "  pair, the min-support prunes stopped pruning, and these rows",
        "  measured DUPLICATE EXPLOSION (r7: post-prune pairs 7,146 →",
        "  2,392,000 = 335× at 10×). The part catalog now replicates with",
        "  the same span as lineitem's l_partkey shift (TPC-H scales part",
        "  count linearly with SF), so copies are DISJOINT in part space",
        "  and the measured pair counts confirm the regime is gone —",
        "  post-prune (co ≥ 2) part pairs "
        + "/".join(str(pair_counts["part_pairs"][f]) for f in (1, 3, 10, 30))
        + " at 1×/3×/10×/30×"
        + f" ({round(pair_counts['part_pairs'][30] / max(pair_counts['part_pairs'][1], 1), 1)}×"
        + " at 30× — linear in the factor, constant",
        "  min-support selectivity), against",
        "  walls "
        + "/".join(str(results[f]["part_cooccurrence_topk"]) for f in (1, 3, 10, 30))
        + "s. basket_affinity's brand-pair count is CATALOG-bounded",
        "  (~25 brands → ≤ 300 unordered pairs; n_ab ≥ 5 passes "
        + "/".join(str(pair_counts["brand_pairs"][f]) for f in (1, 3, 10, 30))
        + "),",
        "  so its growth is pure scan/shuffle volume: walls "
        + "/".join(str(results[f]["basket_affinity"]) for f in (1, 3, 10, 30))
        + "s.",
        "  The r12 triangle-adoption A/B numbers (25.06→3.28s at 30×) were",
        "  measured inside the OLD artifact regime — these cells are the",
        "  rewrite's real-growth corroboration. A remap-WITHIN-the-fixed-",
        "  catalog variant was built first and measured out (post-prune",
        "  pairs 3,573 → 31,925 at 3×: the 1× pair space is ~0.6% occupied,",
        "  so C(factor,2) cross-copy birthday collisions dominate — a real",
        "  statistical property of fixed min-support over a fixed catalog",
        "  at growing volume, but the coincidence regime, not corpus",
        "  growth; see the module note in tools/scale_smoke.py).",
        "- **generic LINEAR-work survivors** (this run: "
        + (", ".join(linear_survivors) or "none")
        + "):",
        "  replication grows token-, shingle-, event- or per-doc-grain work",
        "  exactly 10× (document copies carry per-copy-ciphered tokens, so",
        "  postings AND vocabulary scale ~10×; events are key-shifted",
        "  rows; multimodal fan-out is per-asset), while the 1× baseline",
        "  is overhead-dominated at small absolutes. A ~3× wall for 10×",
        "  work is sub-linear per byte — scan/shuffle-bound, nothing to",
        "  fix. The member list is recomputed per run: borderline rows",
        "  cross the 2.5 threshold stochastically.",
        "- **lm_quality_terciles** — round-6 rewrite ranks inside score-bucket",
        "  partitions (≤1001 value-range buckets/source) with broadcast",
        "  prefix counts; the former per-source near-global sort is gone.",
        "- **vocabulary-join tail (tfidf_top_terms / bigram_lm_quality /",
        "  bpe_encode)** — round-9 30× grade (round-8 verdict #8): these sat",
        "  at ~2.4× @10× on term-grain joins where the stopword keys are the",
        "  hot-key candidates at corpus scale. Measured walls "
        + " / ".join(
            f"{n}: " + "/".join(str(results[f][n]) for f in (1, 3, 10, 30)) + "s"
            for n in ("tfidf_top_terms", "bigram_lm_quality", "bpe_encode")
        ),
        "  at 1×/3×/10×/30×. The work is postings-linear by construction",
        "  (replicated documents carry per-copy-ciphered tokens, so the",
        "  vocabulary AND the postings both scale with the factor), and the",
        "  hot-key side is BOUNDED: the stopword list is a fixed constant",
        "  (functions/text.py STOPWORDS) and bpe_encode joins a broadcast",
        "  learned-pair table, so per-key fan-in grows with corpus size but",
        "  the key COUNT of the skewed class does not — AQE skew-join",
        "  splitting (enabled session-wide) owns that regime. The 30×/10×",
        "  ratios "
        + "/".join(
            str(round(results[30][n] / max(results[10][n], 0.01), 1))
            for n in ("tfidf_top_terms", "bigram_lm_quality", "bpe_encode")
        )
        + " (vs 3× more data) are the proof the",
        "  growth stays at-or-below postings-linear past 10×.",
        "  Round 10 fixes bpe_encode's per-round lineage re-execution",
        "  (each round's re-indexed tokens are now persisted and the",
        "  predecessor released, so the per-round pair-count aggregate",
        "  reads the cache instead of re-running every prior round's",
        "  merge chain — O(rounds·corpus), not O(rounds²·corpus));",
        "  measured min-of-2: 9.2→4.9s at 10×, 14.6→7.9s at 30×.",
        "- **stored-index serving vs inline build (round-10 verdict #1)**",
        "  — ann_ivfpq_from_index / ann_ivfpq_multiprobe_from_index serve",
        "  the PERSISTED occupancy-scaled index (k = max(8, n/128):",
        "  16/47/157/469 cells at 1×/3×/10×/30×, two-level build route,",
        "  bucket count sized by table BYTES — a measured round-10",
        "  decision: k-tied buckets regressed 30× serving 3× on",
        "  footer/task overhead of 469 near-empty files, and a",
        "  literal-IN probe-cell scan prune was measured and DECLINED",
        "  (+0.6s collect overhead at every tested scale, wins only",
        "  once the gen-0 scan is I/O-bound): per-query work is the",
        "  broadcast LUT join against the gen-0 scan plus ~P·occupancy",
        "  candidate ADC rows — the serving walls "
        + " / ".join(
            f"{n}: " + "/".join(str(results[f][n]) for f in (1, 3, 10, 30)) + "s"
            for n in ("ann_ivfpq_from_index", "ann_ivfpq_multiprobe_from_index")
        ),
        "  at 1×/3×/10×/30× stay ~flat while the inline twin",
        "  ann_ivfpq_topk (index rebuilt inside the query DAG: "
        + "/".join(str(results[f]["ann_ivfpq_topk"]) for f in (1, 3, 10, 30))
        + "s) keeps",
        "  growing with the corpus — the dbt incremental-vs-full-refresh",
        "  gap, measured on the vector path. (Min-of-2 per factor: the",
        "  first run pays the once-per-corpus build+publish+recall-gate,",
        "  the second adopts the stored artifact — steady-state serving.)",
        "- **staged token arrays (round 10)** — a lambda body that says",
        "  split(text) re-tokenizes the whole document once per ELEMENT",
        "  (higher-order functions get no loop-invariant hoisting and",
        "  Catalyst's subexpression elimination skips lambda bodies —",
        "  measured 3.5× on the trigram extraction in isolation):",
        "  bpe_pair_stats, dup_ngram_fraction and ngram_novelty now",
        "  stage the split through their own projection and index the",
        "  attribute (pre-fix 10× walls 2.86/2.48/5.51s →",
        "  0.5/1.3/2.3s); quality_gate_ablation stages the token AND",
        "  trigram arrays (split was evaluated ~8× per row, the trigram",
        "  transform twice: 7.96s → 0.66s at 10×); ngram_novelty also",
        "  persists its exploded trigrams (they feed both the",
        "  first-occurrence aggregate and the join probe over an",
        "  otherwise-uncached extraction). Two companion candidates were",
        "  measured and DECLINED (3× A/B min-of-2 each): persisting",
        "  winnow_overlap_pairs' rare-fingerprint relation (upstream",
        "  already cached — the barrier's write cost exceeded the saved",
        "  recompute) and a single-pass algebraic-window rewrite of",
        "  curation_funnel_report (curate_corpus persists its dominant",
        "  explode, so the second consumer reads cache and the extra",
        "  window only added overhead).",
        "- **winnow_overlap_pairs under the cipher replicator (round",
        "  10)** — the former 7.9s @10× wall was a REPLICATION ARTIFACT:",
        "  suffix-perturbed copies de-collided word shingles but kept",
        "  most CHAR 5-grams identical, so fingerprint df grew ~factor,",
        "  pair fan-out factor², and past the df≤20 cap the shared",
        "  fingerprints vanished. The per-copy character cipher",
        "  de-collides char grams too; this run's row measures true",
        "  corpus growth (output pairs grow linearly — within-copy",
        "  pairs only). Round-13 pair normalization (r12 verdict #3 —",
        "  the 30× cell was the table's only unexplained super-linear",
        "  survivor): candidate pair rows "
        + "/".join(str(pair_counts["winnow_candidates"][f]) for f in (1, 3, 10, 30))
        + ",",
        "  output pairs "
        + "/".join(str(pair_counts["winnow_pairs"][f]) for f in (1, 3, 10, 30))
        + " at 1×/3×/10×/30× — 30×/10× candidate ratio "
        + str(round(
            pair_counts["winnow_candidates"][30]
            / max(pair_counts["winnow_candidates"][10], 1), 2,
        ))
        + " for 3× more data.",
        (
            "  Candidates track the corpus ~linearly, so the absolute"
            " df ≤ 20 rarity cap HOLDS under the cipher (per-hash"
            " fan-out stays copy-local) and any residual wall growth is"
            " scan/shuffle volume, not pair blow-up."
            if pair_counts["winnow_candidates"][30]
            <= 4 * pair_counts["winnow_candidates"][10]
            else "  Candidates OUTPACE the input — the absolute df ≤ 20"
            " cap is scale-variant here (doc families sitting just"
            " under the cap contribute ~cap² pairs each as the corpus"
            " grows); the cap needs the relative-df treatment"
            " (boilerplate_prune's discipline)."
        ),
        "  The work normalization rests on CANDIDATES, not outputs:",
        "  output pairs are hash-DRAW-sensitive near the rarity",
        "  threshold (~93% of each copy's selected fingerprints sit in",
        "  df > 20 template families, and the per-copy cipher re-rolls",
        "  which shared grams get selected and whether they land in a",
        "  sub-cap family — measured per-copy yields 134/27/6 at 3×",
        "  from near-identical rare-gram counts 79/83/68). That is",
        "  winnowing's sampling variance, not a replication artifact.",
        "- **embeddings replicate with jit noise (round 13)** — the former",
        "  verbatim vec_id-shifted copies made every scale-corpus vector an",
        "  exact duplicate, and the first honest non-seed publish-gate",
        "  encounter REFUSED the x3 index (240k ppm < 400k floor: a",
        "  duplicate-family corpus's truth@5 is 2 self-copies + 3",
        "  near-isotropic outsiders, and flat probing disagrees with the",
        "  two-level assignment exactly on those families — flat/P4 240k vs",
        "  two_level/P4 520k on the same index). Copies now carry",
        "  deterministic full-rank hash noise at σ = 0.10 (copy↔base",
        "  cos ≈ 0.9 — the near-dup regime of real corpus growth; NOT the",
        "  σ = 0.375 stress setting nprobe_probe uses to separate routes),",
        "  under which every probe route clears the floor at the served",
        "  points (x3 flat/P4 520k, x10 hier_S8/P4 640k) — the stored-index",
        "  rows below are gated HONESTLY, per-corpus, at build time. See",
        "  the module note in tools/scale_smoke.py for the full diagnosis.",
        "",
        "## Closed-gate two-level join (round-7 verdict #2, measured r8)",
        "",
        "When the parameter gate declines the children broadcast, the",
        "level-2 IVF join shuffles on super_id — only √k distinct values,",
        "so an unsalted exchange keeps ≤√k reducers busy. Round 8 salts",
        "the closed branch (_L2_SALT=8). The round-8 forced-closed probe",
        "(gate forced closed, min-of-2, multiset equality asserted; also",
        "recorded in SURVEY.md):",
        "10× (n=20k, k=157, √k=13 keys on 32 cores): unsalted 1.89s →",
        "salted 1.09s (−42% — the hot-key stall is real and the salt",
        "removes it); 30× (n=60k, k=469, √k=22): 1.90s → 1.84s (keys",
        "approach core count, residual skew small). The salt replicates",
        "only the SMALL children side (×8) and never changes the row",
        "multiset; oracle equality under the forced-closed gate is",
        "asserted in tests/test_plans.py.",
        "",
        "## Maintained-generation serving (round-11, r10 verdict #7)",
        "",
        "The maintained reader (gen 0 ∪ streamed appends) measured as a",
        "serving number, not just lifecycle tests: per factor, 8",
        "micro-batch appends through ivfpq_maintain_from_stream (each",
        "appends one generation and lands one file per",
        "(batch, bucket) — the fragmentation regime), then",
        "ivfpq_compact_index (one file per (gen, bucket), committed as",
        "the index's next version). Min-of-2 warm, private index",
        "root; gen-0 column = the registered serving wall for",
        "comparison.",
        "",
        "| factor | gen-0 (s) | maintained, 8-gen fragmented (s) | maintained, compacted (s) | files before → after |",
        "| --- | --- | --- | --- | --- |",
    ] + [
        f"| {factor}× | {m['gen0']} | {m['maintained_fragmented']} | "
        f"{m['maintained_compacted']} | {m['files_before']} → {m['files_after']} |"
        for factor, m in sorted(maintained.items())
    ] + [
        "",
        "## Cold first-query serving (round-12, r11 verdict #6; curve r13)",
        "",
        "The serving rows above are min-of-2 WARM. A fresh serving",
        "session's FIRST query additionally rebuilds the session-keyed",
        "probe caches (trained-codebook handle, flat centroid array /",
        "hier routing tables, PQ codebook) and re-adopts the stored",
        "index's catalog table (DDL + bucket spec + partition",
        "recovery). Round 13 completes the curve (r12 verdict #7):",
        "1× serves the FLAT probe branch (k = 16 ≤ 64), 10×/30× the",
        "HIER branch (k = 157 / 469) — the cold-warm gap's k-shape",
        "separates cache-rebuild cost (grows with k) from",
        "catalog-table adoption (≈flat). Index already published,",
        "session caches evicted, one serving call:",
        "",
        "| factor | probe branch (k) | cold first query (s) | warm steady-state (s) |",
        "| --- | --- | --- | --- |",
    ] + [
        f"| {f}× | {branch} | {cold[f]} | {results[f]['ann_ivfpq_from_index']} |"
        for f, branch in ((1, "flat (16)"), (10, "hier (157)"), (30, "hier (469)"))
    ]
    (REPO / "SCALING.md").write_text("\n".join(lines) + "\n")
    print("wrote SCALING.md")
    spark.stop()


if __name__ == "__main__":
    main()
