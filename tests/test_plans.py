"""Plan-shape assertions (SURVEY.md §4): broadcastable joins broadcast,
filters pushed to the scan, no Python row-UDFs in the §2 hot paths."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q5_broadcasts_dims(spark):
    from northwind_warehouse_spark.plans.analytics import q5_local_revenue

    plan = _plan(q5_local_revenue(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # nothing should fall back at this SF


def test_q6_filters_push_down(spark):
    from northwind_warehouse_spark.plans.analytics import q6_forecast_revenue

    plan = _explain_formatted(q6_forecast_revenue(spark, SF_SMOKE))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q1_reads_only_needed_columns(spark):
    from northwind_warehouse_spark.plans.analytics import q1_pricing_summary

    plan = _explain_formatted(q1_pricing_summary(spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema")[1][:600]
    assert "l_comment" not in read_schema  # no such col, but guard anyway
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert col not in read_schema, f"{col} read but unused"


def test_no_python_udfs_in_oracled_plans(registered_executed_plans):
    for name, plan in registered_executed_plans.items():
        if name == "multimodal_extract":  # the one intentional Pandas path
            continue
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} uses a Pandas UDF"


def test_incremental_hwm_pushes_predicate(spark):
    from northwind_warehouse_spark.plans.medallion import incremental_hwm

    plan = _explain_formatted(incremental_hwm(spark, SF_SMOKE))
    assert "PushedFilters" in plan


def test_whole_stage_codegen_in_q1(spark):
    from northwind_warehouse_spark.plans.analytics import q1_pricing_summary

    df = q1_pricing_summary(spark, SF_SMOKE)
    df.collect()  # finalize the adaptive plan
    plan = _plan(df)
    assert "*(" in plan  # WholeStageCodegen spans present


def test_sequence_pack_single_exchange(spark):
    """The packing cumsum is ONE hash exchange on source (plus the
    presentation sort) — the §4b 'one shuffle per logical stage' claim."""
    from northwind_warehouse_spark.plans.llm import sequence_pack

    plan = _plan(sequence_pack(spark, SF_SMOKE))
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, plan[:2000]


def test_knn_broadcasts_queries(spark):
    """kNN scans the corpus once with the query set broadcast — no
    corpus-sized shuffle before the tiny top-k window."""
    from northwind_warehouse_spark.plans.llm import knn_classify

    plan = _plan(knn_classify(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pii_redact_is_map_only(spark):
    """Redaction is pure map work: no hash exchange anywhere (only the
    final presentation range-sort)."""
    from northwind_warehouse_spark.plans.llm import pii_redact

    plan = _plan(pii_redact(spark, SF_SMOKE))
    assert "Exchange hashpartitioning" not in plan


def test_interval_join_copartitions_on_user(spark):
    """The time-bounded join is an equi-join on user_id (hash join with
    the range bound as residual condition), never a cross product."""
    from northwind_warehouse_spark.plans.analytics import interval_join_attribution

    plan = _plan(interval_join_attribution(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A fact partitioned on order_year joined to a selectively-filtered
    dim must plan a dynamicpruning expression in the fact scan's
    PartitionFilters — at 100 TB this is what keeps a dim-filtered join
    from scanning every year directory even though the qualifying years
    are only known at run time. (Note Spark's isLikelySelective gate:
    the dim filter must be a real predicate, e.g. EqualTo — a bare
    boolean column does NOT qualify.)"""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load

    fact_path = str(tmp_path / "fact_orders_part")
    o = load(spark, SF_SMOKE, "orders").withColumn(
        "order_year", F.year(F.col("o_orderdate").cast("date"))
    )
    o.write.partitionBy("order_year").parquet(fact_path)

    dim_path = str(tmp_path / "dim_years")
    (
        o.select("order_year").distinct()
        .withColumn(
            "tag",
            F.when(F.col("order_year") >= 1998, F.lit("recent")).otherwise(F.lit("old")),
        )
        .write.parquet(dim_path)
    )

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "recent")
    joined = fact.join(dim, "order_year").groupBy("order_year").agg(
        F.sum("o_totalprice").alias("s")
    )

    executed = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in executed.lower(), executed[:2000]

    got = {r["order_year"] for r in joined.collect()}
    assert got and all(y >= 1998 for y in got)


_DEGLOBALIZED = (
    "equi_depth_histogram",
    "customer_spend_deciles",
    "rfm_segments",
    "pareto_customers",
    "abc_parts",
    "skyline_parts",
)


def test_deglobalized_queries_have_no_unpartitioned_window(spark):
    """The round-4 sampled-boundary rewrites: none of these may plan a
    Window over an unpartitioned (single-reducer) ordering of
    entity-grain data. A windowspecdefinition whose first argument is an
    ordering expression (contains ASC/DESC) or a bare frame spec has no
    partition columns — that is the global-sort shape that OOMs at
    100 TB. Remaining windows (pareto per-nation threshold, skyline
    per-price-bucket running max) are partitioned and consume only
    sample-bounded or bucket-bounded input."""
    import re

    from northwind_warehouse_spark.plans import analytics as A

    for name in _DEGLOBALIZED:
        plan = _plan(getattr(A, name)(spark, SF_SMOKE))
        # \b so "percentile(" (the sampled-boundary agg) doesn't match
        assert not re.search(r"\bntile\(", plan), f"{name}: global ntile survived"
        for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
            first = spec.split(",")[0].strip()
            assert not first.startswith("specifiedwindowframe"), (
                f"{name}: unpartitioned, unordered window: {spec[:100]}"
            )
            assert " ASC" not in first and " DESC" not in first, (
                f"{name}: unpartitioned window: {spec[:100]}"
            )


def test_no_hard_broadcast_hint_on_growing_tables():
    """100-TB broadcast discipline (round-5 verdict #1): a hard
    F.broadcast hint OVERRIDES AQE's size check, so no plan may hard-hint
    an SF-growing base table (customer/part/supplier/orders/lineitem/
    events/documents/embeddings) or a projection of one — those sides go
    through operators.joins.maybe_broadcast (hint only under the
    optimizer's size estimate; bare join → AQE decides otherwise).
    Bounded relations (nation, region, date spines, aggregates,
    codebooks) may keep the plain hint."""
    from tools.broadcast_lint import find_violations

    v = find_violations()
    assert not v, "hard broadcast hints on growing tables:\n" + "\n".join(v)


def test_broadcast_lint_catches_seeded_violations(tmp_path):
    """The lint itself is tested (round-6 verdict #2): seed a file with
    the exact corpus-derived-broadcast patterns that slipped the round-5
    lint — a dup-id set derived from ``lsh_candidate_pairs``, a
    grain-growing ``groupBy("cell_id").agg`` count table, and growth
    propagated through a plain helper call — and assert every one is
    flagged; bounded idioms (global agg, nation-grain agg, pq_codebook
    output) must stay clean."""
    from tools.broadcast_lint import find_violations

    seeded = tmp_path / "seeded_plan.py"
    seeded.write_text(
        '''
def bad_pair_derived(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    dup_ids = pairs.select("doc_a").unionAll(pairs.select("doc_b")).distinct()
    return d.join(F.broadcast(dup_ids), "doc_id", "left")


def bad_grain_growing_agg(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    assigned = sim.ivf_assign(e, n_centroids=8)
    n_vec = assigned.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    return assigned.join(F.broadcast(n_vec), "cell_id")


def bad_helper_propagation(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    capped = _sample_to_cap(e)
    return e.join(F.broadcast(capped), "vec_id")


def bad_occupancy_scaled_codebook(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    n_cents = max(8, table_rows(sf_dir, "embeddings") // 128)
    el = e.select("vec_id", F.expr("posexplode(embedding)").alias("i", "x"))
    newc = el.groupBy("j", "i").agg(F.avg("x").alias("w"))
    return el.join(F.broadcast(newc), ["j", "i"])


def ok_param_gated_codebook(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    n_cents = max(8, table_rows(sf_dir, "embeddings") // 128)
    el = e.select("vec_id", F.expr("posexplode(embedding)").alias("i", "x"))
    newc = el.groupBy("j", "i").agg(F.avg("x").alias("w"))
    hinted = F.broadcast(newc) if n_cents * 64 * 64 <= MAX_BROADCAST_BYTES else newc
    return el.join(hinted, ["j", "i"])


def ok_constant_codebook_grain(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    el = e.select("vec_id", F.expr("posexplode(embedding)").alias("i", "x"))
    newc = el.groupBy("j", "i").agg(F.avg("x").alias("w"))
    return el.join(F.broadcast(newc), ["j", "i"])


def ok_bounded_aggregates(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    thresh = o.agg(F.max("o_totalprice").alias("mx"))
    by_nation = o.groupBy("nation").agg(F.count(F.lit(1)).alias("n"))
    cb = sim.pq_codebook(load(spark, sf_dir, "embeddings"))
    return o.crossJoin(F.broadcast(thresh)).join(
        F.broadcast(by_nation), "nation"
    ).crossJoin(F.broadcast(cb))


def bad_hint_parked_inside_gate_block(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    small = d.agg(F.count(F.lit(1)).alias("n"))
    if 8 * 64 * 64 <= MAX_BROADCAST_BYTES:
        hinted = F.broadcast(small)
        leaked = d.join(F.broadcast(pairs), "doc_id")
    else:
        hinted = small
        leaked = d
    return leaked.crossJoin(hinted)


def bad_flat_assign_occupancy_scaled(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    n_cents = max(8, table_rows(sf_dir, "embeddings") // 128)
    return sim.ivf_assign(e, n_centroids=n_cents)


def ok_two_level_assign_occupancy_scaled(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    n_cents = max(8, table_rows(sf_dir, "embeddings") // 128)
    return sim.ivf_assign_two_level(e, n_centroids=n_cents)
'''
    )
    v = find_violations([seeded])
    flagged_fns = {line.split(" in ")[1].split("(")[0] for line in v}
    assert flagged_fns == {
        "bad_pair_derived",
        "bad_grain_growing_agg",
        "bad_helper_propagation",
        # round-8: codebook-grain agg hard-hinted inside a function whose
        # centroid count is occupancy-scaled (table_rows) — flagged; the
        # same agg behind a parameter-derived MAX_BROADCAST_BYTES gate,
        # or under a CONSTANT centroid count, stays clean
        "bad_occupancy_scaled_codebook",
        # round-9: the gate exemption covers ONLY the gated expression —
        # an unrelated hard hint parked inside the gated If block is red
        "bad_hint_parked_inside_gate_block",
        # round-9: flat n·k ivf_assign under a table_rows-derived
        # centroid count resurrects the quadratic scan; two-level stays
        # clean under the same policy
        "bad_flat_assign_occupancy_scaled",
    }, f"lint flagged: {sorted(flagged_fns)}\n" + "\n".join(v)


def test_no_heavy_expression_inside_lambda_bodies():
    """Round-10 discipline: a lambda body that re-derives a whole-row
    value (split(text), md5(text), regexp_extract_all(text)) evaluates
    it once per array ELEMENT — higher-order functions get no
    loop-invariant hoisting and Catalyst's subexpression elimination
    skips lambda bodies (measured 3.5× on the trigram extraction;
    bpe_pair_stats 2.86→0.5s at 10× from staging the split). The tree
    must stay clean: stage the array in its own projection and index
    the attribute."""
    from tools.lambda_lint import find_violations

    v = find_violations()
    assert not v, "heavy expressions inside lambda bodies:\n" + "\n".join(v)


def test_lambda_lint_catches_seeded_violations(tmp_path):
    """The lambda lint itself is tested: seed the exact pre-round-10
    anti-patterns (split(text) re-evaluated per trigram / per pair) and
    assert they red; the legitimate idioms must stay clean — the heavy
    call as the HOF's ARGUMENT (once per row), the heavy call applied
    to the lambda's OWN variable (per-element work IS the semantics),
    DuckDB ``string_split`` inside an ``oracle_*`` function, and the
    staged-attribute form the fixes adopted."""
    from tools.lambda_lint import find_violations

    seeded = tmp_path / "seeded_lambda_plan.py"
    seeded.write_text(
        '''
def bad_trigram_resplit(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(F.expr(
        "transform(sequence(0, size(split(text, ' ')) - 3),"
        " i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))"
    ).alias("tri"))


def bad_pair_resplit_fstring(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    sep = " "
    return d.select(F.expr(
        f"transform(sequence(1, size(split(text, '{sep}')) - 1),"
        f" i -> struct(split(text, '{sep}')[i-1] AS a))"
    ).alias("p"))


def ok_heavy_as_hof_argument(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(F.expr(
        "size(filter(split(text, ' '), x -> x IN ('the', 'a')))"
    ).alias("n_stop"))


def ok_lambda_var_work(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(F.expr(
        "aggregate(transform(split(text, '\\\\. '), s -> size(split(s, ' '))),"
        " CAST(0 AS BIGINT), (a, v) -> a + v)"
    ).alias("n"))


def ok_staged_attribute(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(F.expr("split(text, ' ')").alias("w")).select(F.expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    ).alias("tri"))


def oracle_ok_duckdb_dialect():
    return """
    SELECT list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
        i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')) AS tri
    FROM documents
    """
'''
    )
    v = find_violations([seeded])
    flagged_fns = {line.split(" in ")[1].split("(")[0] for line in v}
    assert flagged_fns == {
        "bad_trigram_resplit",
        "bad_pair_resplit_fstring",
    }, f"lint flagged: {sorted(flagged_fns)}\n" + "\n".join(v)


def test_maybe_broadcast_gates_on_size(spark):
    """maybe_broadcast hints under the byte bound and returns the plan
    UNHINTED above it (so AQE, not the hint, decides at scale)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.joins import maybe_broadcast, plan_size_bytes

    c = load(spark, SF_SMOKE, "customer")
    size = plan_size_bytes(c)
    assert size and size > 0

    hinted = maybe_broadcast(c, max_bytes=size + 1)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()

    unhinted = maybe_broadcast(c, max_bytes=size - 1)
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString()


def test_smoke_sf_dims_still_broadcast_via_gate(spark):
    """At test SF every gated fact⋈dim still ENDS UP a
    BroadcastHashJoin: raw dims (q5's customer/supplier) are under the
    size bound so the gate hints them; derived dims (fact_lineitem's
    dim_part/dim_supplier) have useless non-CBO join estimates so the
    gate declines — and AQE converts the SMJ to BHJ from RUNTIME sizes,
    which is precisely the at-scale contract. Checked on the AQE-final
    plan (the section before '== Initial Plan ==')."""
    from northwind_warehouse_spark.plans.analytics import q5_local_revenue
    from northwind_warehouse_spark.plans.medallion import fact_lineitem

    for fn in (q5_local_revenue, fact_lineitem):
        df = fn(spark, SF_SMOKE)
        df.collect()  # finalize the adaptive plan
        final = _plan(df).split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final, fn.__name__
        assert "SortMergeJoin" not in final, fn.__name__


def test_broadcast_gate_closed_degrades_to_smj(spark):
    """The 100-TB boundary in the CLOSED direction (round-6 verdict #6):
    with AQE's own broadcast conversion disabled
    (autoBroadcastJoinThreshold=-1) and MAX_BROADCAST_BYTES shrunk to 0
    so maybe_broadcast withholds every hint, a representative fact⋈dim
    plan must degrade to SortMergeJoin WITHOUT error and stay
    oracle-identical — exactly what happens on a real cluster when the
    dims outgrow the gate. (The open direction — gate hints at demo
    scale, AQE converts the rest — is test_smoke_sf_dims_still_broadcast
    _via_gate.) Bounded-by-construction relations (nation/region) keep
    their hard hints, so some BroadcastHashJoin may legitimately remain;
    the assertion is that the GATED joins became SMJ."""
    import northwind_warehouse_spark.operators.joins as J
    import __spark_entry__ as E
    from northwind_warehouse_spark.plans.analytics import q5_local_revenue
    from tests.oracle_util import compare

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_bytes = J.MAX_BROADCAST_BYTES
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        J.MAX_BROADCAST_BYTES = 0
        df = q5_local_revenue(spark, SF_SMOKE)
        df.collect()  # must execute without error under the closed gate
        final = _plan(df).split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in final, "closed gate did not degrade to SMJ"
        probs = compare(
            q5_local_revenue(spark, SF_SMOKE),
            E.oracle_sql()["q5_local_revenue"],
            SF_SMOKE,
        )
        assert not probs, f"closed-gate results diverged: {probs}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        J.MAX_BROADCAST_BYTES = prev_bytes


def test_two_level_closed_gate_salts_and_stays_oracle_identical(spark):
    """Round-7 verdict #2: when the parameter-derived gate declines the
    children broadcast, ivf_assign_two_level's level-2 join shuffles on
    super_id — a key with only √k distinct values, a hot-key exchange
    at exactly the scale where the gate first closes. The closed branch
    now SALTS the key (probes hash-split into _L2_SALT slices, children
    replicated ×_L2_SALT). Forcing the gate closed must (a) actually
    take the salted branch (the _salt column appears in the executed
    join), (b) run without error, and (c) return the exact open-gate
    row multiset — the salt changes the partitioning, never the
    rows."""
    # vehicle (r11): the OPERATOR directly — every registered query
    # now reads the stored gen-0 assignment, so the level-2 join's
    # production consumer is the index BUILD (_ivfpq_table), which is
    # exactly where the gate first closes at scale. Equality target:
    # the OPEN-gate (broadcast) output of the same operator — the salt
    # changes partitioning, never the row multiset, and the open-gate
    # path is oracle-proven through every stored-index assign0 chain.
    from pyspark.sql import functions as F

    import northwind_warehouse_spark.operators.joins as J
    import northwind_warehouse_spark.operators.similarity as sim
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import _ivfpq_params, _trained_cb

    e = load(spark, SF_SMOKE, "embeddings")
    k, _ = _ivfpq_params(SF_SMOKE)
    cb = _trained_cb(spark, SF_SMOKE, k)
    open_rows = sorted(
        (r.vec_id, r.cell_id)
        for r in sim.ivf_assign_two_level(e, n_centroids=k, centroids=cb)
        .select("vec_id", "cell_id").collect()
    )
    prev_bytes = J.MAX_BROADCAST_BYTES
    try:
        J.MAX_BROADCAST_BYTES = 0
        df = sim.ivf_assign_two_level(e, n_centroids=k, centroids=cb).select(
            "vec_id", "cell_id"
        )
        closed_rows = sorted((r.vec_id, r.cell_id) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan, "closed gate did not take the salted branch"
        assert closed_rows == open_rows and closed_rows, (
            "closed-gate salted results diverged from the open-gate output"
        )
    finally:
        J.MAX_BROADCAST_BYTES = prev_bytes


def test_ivfpq_index_served_from_bucketed_storage(spark):
    """The persisted-index serving shape (round-7 verdict #7): the
    first ann_ivfpq_from_index call writes the (vec_id, cell_id, codes)
    index as a bucketed-by-cell table; serving then (a) reads the
    STORED table (its scan appears in the executed plan), (b) joins the
    broadcast per-query LUT rows against it with NO Exchange on the
    index side, and (c) supports shuffle-free cell-grain maintenance —
    a groupBy(cell_id) aggregate over the stored index plans ZERO
    Exchange because the bucketing already satisfies the distribution."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.plans.llm import ann_ivfpq_from_index

    df = ann_ivfpq_from_index(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "nws_ivfpq_index_" in plan, "serving plan does not read the stored index"
    idx_table = next(
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("nws_ivfpq_index_")
    )
    idx = spark.table(idx_table)
    # (b) candidate join: broadcast on the query side — the index-side
    # scan feeds the join directly (bucketed scan, no repartitioning)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    # (c) cell-grain maintenance over the stored index: zero Exchange
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = idx.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
        agg.collect()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, (
            "cell-grain aggregate over the bucketed index must not shuffle:\n"
            + agg_plan[:500]
        )
        assert agg.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivfpq_multiprobe_from_index_same_serving_shape(spark):
    """Multi-probe serving from the stored index (round-8 verdict #4)
    keeps the single-probe plan shape: the stored bucketed table is
    scanned once, the (query, probe)-grain LUT rows broadcast against
    it (BroadcastHashJoin — no Exchange on the index side), and the
    probe fan-out multiplies only the broadcast side, never the corpus
    scan."""
    from northwind_warehouse_spark.plans.llm import ann_ivfpq_multiprobe_from_index

    df = ann_ivfpq_multiprobe_from_index(spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "nws_ivfpq_index_" in plan, "multiprobe serving does not read the stored index"
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    # the index side feeds the join straight from the bucketed scan: the
    # only Exchanges in the final plan belong to the top-k window and
    # the broadcast itself, never a hash repartition of the index
    assert "hashpartitioning(cell_id" not in final, final[:800]


def test_ivfpq_registered_serving_prunes_to_generation_zero(spark):
    """Round-10 verdict #3 plan evidence: the registered serving query
    reads GENERATION 0 of the stored index via PARTITION PRUNING — the
    gen filter must reach the scan as a PartitionFilter (directory-level
    prune, so maintained-generation appends are never even read), not a
    post-scan Filter over all generations."""
    from northwind_warehouse_spark.plans.llm import _ivfpq_index

    df = _ivfpq_index(spark, SF_SMOKE)
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().toString()
    # the partitioned FileSourceScan advertises its partition predicate
    assert "PartitionFilters" in scan and "gen" in scan.split("PartitionFilters", 1)[1][:120], (
        "gen=0 did not reach the scan as a partition filter:\n" + scan[:1000]
    )


def test_no_cartesian_product_in_any_registered_plan(registered_executed_plans):
    """Global plan discipline: NO registered query may plan a
    CartesianProduct — the unbounded cross join that is always a
    100 TB killer. Intentional small-side cross joins (broadcast
    codebooks, LUTs, grouping scaffolds) plan as
    BroadcastNestedLoopJoin and are allowed; a CartesianProduct means
    both sides were big and unkeyed, which no operator here should
    ever need."""
    offenders = []
    for name, plan in registered_executed_plans.items():
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"CartesianProduct planned in: {offenders}"

def test_idx_query_probe_dispatches_hier_branch_past_the_super_bound(spark, monkeypatch):
    """The round-11 probe POLICY entry (_idx_query_probe) must
    actually take the HIERARCHICAL branch when S(k) no longer covers
    the codebook — the branch production only reaches at k > 64, so
    force it at the smoke SF by shrinking _IDX_SUPER_PROBE: the policy
    output must be row-identical to ivf_probe_cells_hier at the forced
    S (same codebook, same P), and the flat branch (default policy at
    this k) must be row-identical to ivf_probe_cells — i.e. the
    dispatch is a pure route choice, never a semantics change."""
    from pyspark.sql import functions as F

    import northwind_warehouse_spark.operators.similarity as sim
    import northwind_warehouse_spark.plans.llm as L
    from northwind_warehouse_spark.catalog import load

    e = load(spark, SF_SMOKE, "embeddings")
    k, _ = L._ivfpq_params(SF_SMOKE)
    cb = L._trained_cb(spark, SF_SMOKE, k)
    qb = e.filter(F.col("vec_id") < 10)
    p = L._idx_nprobe(k)
    cols = ["vec_id", "probe_rank", "cell_id"]

    def rows(df):
        return {(r.vec_id, r.probe_rank, r.cell_id) for r in df.select(cols).collect()}

    # default policy at this k: flat branch, ≡ ivf_probe_cells
    assert L._idx_super_probe(k) >= sim.ceil_isqrt(k)
    got_flat = rows(L._idx_query_probe(spark, SF_SMOKE, qb, k, p))
    want_flat = rows(sim.ivf_probe_cells(qb, n_centroids=k, n_probe=p, centroids=cb))
    assert got_flat == want_flat and got_flat

    # forced past the bound: hier branch, ≡ ivf_probe_cells_hier at S
    monkeypatch.setattr(L, "_IDX_SUPER_PROBE", 2)
    s = L._idx_super_probe(k)
    assert s == 2 < sim.ceil_isqrt(k)
    got_hier = rows(L._idx_query_probe(spark, SF_SMOKE, qb, k, p))
    want_hier = rows(sim.ivf_probe_cells_hier(qb, k, cb, n_probe=p, n_super_probe=s))
    assert got_hier == want_hier and got_hier
    # and the two branches genuinely differ at this S (the forced
    # partial probe is not vacuously equal to flat)
    assert got_hier != got_flat
    # routing-table session cache: second call reuses the persisted pair
    r1 = L._probe_routing(spark, SF_SMOKE, k)
    r2 = L._probe_routing(spark, SF_SMOKE, k)
    assert r1[0] is r2[0] and r1[1] is r2[1]
