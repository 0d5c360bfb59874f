"""Operator semantic invariants (SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_scd2_intervals_are_wellformed(spark):
    """Per key: contiguous, non-overlapping intervals; exactly one active
    version; version numbers dense from 1."""
    from northwind_warehouse_spark.plans.medallion import scd2_users

    rows = scd2_users(spark, SF_SMOKE).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r)
    assert by_key
    for _user, versions in by_key.items():
        versions.sort(key=lambda r: r.version_no)
        assert [v.version_no for v in versions] == list(range(1, len(versions) + 1))
        actives = [v for v in versions if v.is_active == "Y"]
        assert len(actives) == 1 and actives[-1] is versions[-1]
        assert versions[0].effective_date.year == 1900
        assert versions[-1].expiry_date.year == 2200
        for a, b in zip(versions, versions[1:]):
            assert a.expiry_date == b.updated_at  # contiguous
            assert a.row_hash != b.row_hash  # real change between versions


def test_asof_join_matches_bruteforce(spark):
    """asof_join_backward ≡ max-ts-≤ brute force (cross-join reference)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.medallion import asof_events

    got = {
        r.purchase_event_id: r.click_event_id
        for r in asof_events(spark, SF_SMOKE).collect()
    }

    e = load(spark, SF_SMOKE, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    brute = (
        p.join(c, (p.pu == c.cu) & (c.cts <= p.pts), "left")
        .groupBy("pid")
        .agg(F.max(F.struct("cts", "cid")).alias("m"))
        .select("pid", F.col("m.cid").alias("cid"))
    )
    want = {r.pid: r.cid for r in brute.collect()}
    assert got == want


def test_asof_null_payload_not_backfilled(spark):
    """A matched right row with a NULL payload value must yield NULL —
    not a back-filled value from an older right row (all payload columns
    must come from the SAME matched row)."""
    from northwind_warehouse_spark.operators.asof import asof_join_backward

    right = spark.createDataFrame(
        [(1, 10, "old", "keep"), (1, 20, None, "new")],
        "k int, t int, a string, b string",
    )
    left = spark.createDataFrame([(1, 25)], "k int, t int")
    row = asof_join_backward(
        left, right, "k", "k", "t", "t", ["a", "b"]
    ).collect()[0]
    assert row.asof_b == "new"
    assert row.asof_a is None  # NOT "old"


def test_exact_dedup_idempotent(spark):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.dedup import exact_dedup

    d = load(spark, SF_SMOKE, "documents")
    doubled = d.unionByName(d)  # force duplicates
    out = exact_dedup(doubled, F.md5("text"), [F.col("doc_id")])
    assert out.count() == d.select("text").distinct().count()
    again = exact_dedup(out.drop("fingerprint"), F.md5("text"), [F.col("doc_id")])
    assert again.count() == out.count()


def test_minhash_candidates_have_high_jaccard_recall(spark):
    """Crafted near-dups must be found; identical docs always collide."""
    from northwind_warehouse_spark.operators.similarity import (
        lsh_candidate_pairs, minhash_signatures, shingle_arrays,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    docs = [
        (1, base),
        (2, base),  # identical → must be a candidate
        (3, base.replace("lazy", "sleepy")),  # near-dup → likely candidate
        (4, "completely different words about spark shuffles and parquet files here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingle_arrays(df)
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(minhash_signatures(sh)).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_sessionize_gap_rule(spark):
    from northwind_warehouse_spark.operators.sessionize import sessionize

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),   # same session (10 min)
        (1, "2024-01-01 01:10:00"),   # new session (60 min gap)
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = sessionize(df, "user_id", "ts", gap_seconds=1800)
    got = {(r.user_id, str(r.ts)): r.session_idx for r in out.collect()}
    assert got[(1, "2024-01-01 00:00:00")] == 1
    assert got[(1, "2024-01-01 00:10:00")] == 1
    assert got[(1, "2024-01-01 01:10:00")] == 2
    assert got[(2, "2024-01-01 00:00:00")] == 1


def test_incremental_merge_by_key(spark):
    from northwind_warehouse_spark.operators.incremental import incremental_merge_by_key

    existing = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    incoming = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    out = {r.k: r.v for r in incremental_merge_by_key(existing, incoming, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c"}


def test_audit_control_roundtrip(spark, tmp_path):
    """The audit state is the latest manifest entry's watermark: absent
    until a version commits one, then that watermark (naive UTC)."""
    from datetime import datetime, timedelta, timezone

    import pytest

    from northwind_warehouse_spark.operators.incremental import AuditControl
    from northwind_warehouse_spark.sources.versioned import VersionedTable

    ac = AuditControl(spark, str(tmp_path / "_audit" / "audit_control"))
    ac.initialize("dim_users", "events", "user_id")  # stores nothing
    entry = ac.get("dim_users")
    assert not entry.is_initialized and not entry.is_processed
    assert entry.hwm_date == datetime(1900, 1, 1)
    assert not (tmp_path / "_audit").exists()

    vt = VersionedTable(spark, str(tmp_path), "dim_users")
    vt.write(spark.range(1))  # a version without a watermark
    entry = ac.get("dim_users")
    assert entry.is_initialized and not entry.is_processed
    assert entry.hwm_date == datetime(1900, 1, 1)

    cet = timezone(timedelta(hours=1))
    vt.write(spark.range(1), watermark=datetime(2024, 1, 15, 13, 0, 0, tzinfo=cet))
    entry = ac.get("dim_users")
    assert entry.is_processed
    assert entry.hwm_date == datetime(2024, 1, 15, 12, 0, 0)

    with pytest.raises(NotImplementedError, match="watermark="):
        ac.update("dim_users", datetime(2024, 2, 1))


def test_salted_join_equals_plain_join(spark):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.skew import salted_count_by_key, salted_join

    o = load(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey")
    c = load(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, "o_custkey").count()
    salted = salted_join(o, c, key="o_custkey", salt_src="o_orderkey").count()
    assert plain == salted

    counts = {r.o_custkey: r.n for r in salted_count_by_key(o, "o_custkey", "o_orderkey").collect()}
    want = {r.o_custkey: r["count"] for r in o.groupBy("o_custkey").count().collect()}
    assert counts == want


def test_sketch_distinct_within_tolerance(spark):
    """KMV estimate must land within 5% of the exact distinct count
    (exact below k=1024 distinct values by construction)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import sketch_distinct_users

    approx = {r.event_type: r.approx_users for r in sketch_distinct_users(spark, SF_SMOKE).collect()}
    e = load(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(1, 0.05 * n), (t, approx[t], n)


def test_q5_correct_without_broadcast(spark):
    """Correctness must not depend on the broadcast hints: with
    broadcasting disabled the same plan runs as SMJ and matches."""
    from northwind_warehouse_spark.plans.analytics import q5_local_revenue

    baseline = sorted(map(tuple, q5_local_revenue(spark, SF_SMOKE).collect()))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        no_bcast = sorted(map(tuple, q5_local_revenue(spark, SF_SMOKE).collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert baseline == no_bcast


def test_multimodal_extract_schema_and_determinism(spark):
    from northwind_warehouse_spark.plans.llm import multimodal_extract

    out = multimodal_extract(spark, SF_SMOKE)
    rows = out.limit(5).collect()
    assert out.columns == [
        "doc_id", "n_bytes", "content_md5", "f0_q", "f1_q", "f2_q", "f3_q",
    ]
    for r in rows:
        for i in range(4):
            q = getattr(r, f"f{i}_q")
            assert 0 <= q <= 255
            # quantized columns are the raw digest bytes
            assert q == int(r.content_md5[2 * i: 2 * i + 2], 16)
    rows2 = multimodal_extract(spark, SF_SMOKE).limit(5).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]


def test_multimodal_extract_array_variant(spark):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.multimodal import (
        documents_as_binary, extract_features,
    )

    corpus = documents_as_binary(load(spark, SF_SMOKE, "documents"))
    out = extract_features(corpus)
    rows = out.limit(5).collect()
    assert out.columns == ["doc_id", "n_bytes", "content_md5", "features"]
    assert all(len(r.features) == 4 for r in rows)
    assert all(0.0 <= f <= 1.0 for r in rows for f in r.features)


def test_multimodal_resize_and_frame_sample(spark):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.multimodal import (
        documents_as_binary, resize_images, sample_frames,
    )

    corpus = documents_as_binary(load(spark, SF_SMOKE, "documents"))
    n_docs = corpus.count()

    resized = resize_images(corpus, width=8, height=8)
    rows = resized.limit(3).collect()
    assert resized.count() == n_docs
    assert all(len(r.resized) == 64 for r in rows)

    frames = sample_frames(corpus, n_frames=4)
    assert frames.count() == n_docs * 4
    one = frames.filter(F.col("doc_id") == rows[0].doc_id).collect()
    assert sorted(r.frame_idx for r in one) == [0, 1, 2, 3]
    assert all(len(r.frame) == 16 for r in one)


def test_connected_components_transitivity(spark):
    from northwind_warehouse_spark.operators.components import connected_components

    # chain 1-2-3 + pair 10-11 + triangle 20-21-22 (21-22 redundant edge)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22), (21, 22)],
        ["src", "dst"],
    )
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain(spark):
    from northwind_warehouse_spark.operators.components import connected_components

    # diameter > 1: label must propagate across the whole chain
    edges = spark.createDataFrame([(i, i + 1) for i in range(8)], ["src", "dst"])
    comp = {r.node: r.comp for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}


def test_ivf_assign_cells(spark):
    from northwind_warehouse_spark.operators.similarity import ivf_assign
    from northwind_warehouse_spark.catalog import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = ivf_assign(e, n_centroids=8)
    rows = {r.vec_id: r.cell_id for r in a.collect()}
    assert set(rows) == {r.vec_id for r in e.select("vec_id").collect()}
    # every cell id is a centroid id; centroids assign to themselves (cos=1)
    assert all(0 <= c < 8 for c in rows.values())
    assert all(rows[i] == i for i in range(8))


def test_events_resample_gap_fill(spark):
    from northwind_warehouse_spark.plans.analytics import events_resample

    df = events_resample(spark, "/root/testdata/sf0.001").collect()
    by_type = {}
    for r in df:
        by_type.setdefault(r.event_type, []).append(r)
    hours = {len(v) for v in by_type.values()}
    assert len(hours) == 1  # every type has the identical, fully-dense spine
    n = hours.pop()
    for v in by_type.values():
        ts = sorted(r.hour_ts for r in v)
        assert all((b - a).total_seconds() == 3600 for a, b in zip(ts, ts[1:]))
        assert n == (ts[-1] - ts[0]).total_seconds() / 3600 + 1


def test_approx_quantiles_accuracy(spark):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import approx_order_quantiles

    got = {r.o_orderpriority: (r.p25, r.p50, r.p75)
           for r in approx_order_quantiles(spark, "/root/testdata/sf0.001").collect()}
    exact = {
        r.o_orderpriority: r.qs
        for r in load(spark, "/root/testdata/sf0.001", "orders")
        .groupBy("o_orderpriority")
        .agg(F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").alias("qs"))
        .collect()
    }
    assert set(got) == set(exact)
    # Sampled-quantile guarantees live in FRACTION space, not value space:
    # the estimate of the q-quantile must itself sit at some q±δ quantile
    # of the full data. With a 50% sample and ~300-row groups, σ≈0.04, so
    # δ=0.12 is a 3σ bound — and the md5 sample is deterministic, so this
    # is a fixed, non-flaky check.
    full = {
        r.o_orderpriority: sorted(v.o_totalprice for v in r.vals)
        for r in load(spark, "/root/testdata/sf0.001", "orders")
        .groupBy("o_orderpriority")
        .agg(F.collect_list(F.struct("o_totalprice")).alias("vals"))
        .collect()
    }
    import bisect

    for k, (p25, p50, p75) in got.items():
        arr = full[k]
        for q, est in zip((0.25, 0.5, 0.75), (p25, p50, p75)):
            frac = bisect.bisect_left(arr, est) / len(arr)
            assert abs(frac - q) <= 0.12, (k, q, est, frac)


def test_lsh_bucket_cap_defuses_degenerate_bucket(spark):
    from northwind_warehouse_spark.operators.similarity import (
        lsh_candidate_pairs, minhash_signatures, shingle_arrays,
    )

    # 20 identical boilerplate docs (one degenerate bucket) + 2 near-dups
    boiler = "a b c d e f g h i j"
    near1 = "x y z w v u t s r q"
    near2 = "x y z w v u t s r p"
    rows = [(i, boiler) for i in range(20)] + [(100, near1), (101, near2)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(shingle_arrays(d))
    uncapped = lsh_candidate_pairs(sig, max_bucket_size=None).collect()
    capped = lsh_candidate_pairs(sig, max_bucket_size=5).collect()
    # uncapped (research mode): 190 boilerplate pairs + the near-dup pair
    assert len(uncapped) == 191
    # capped: the degenerate bucket is dropped, the small bucket survives
    assert {(r.doc_a, r.doc_b) for r in capped} == {(100, 101)}
    # the DEFAULT is capped (round-4 verdict: production skew defuse ON,
    # mirroring the embedding-dedup twin); below the cap it's lossless
    from northwind_warehouse_spark.operators.similarity import LSH_MAX_BUCKET

    assert LSH_MAX_BUCKET is not None
    assert len(lsh_candidate_pairs(sig).collect()) == 191


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe IVF (round-6): probing the P nearest cells can only
    ADD candidates, so per-query recall@3 must dominate single-probe —
    and the gate must actually find neighbors (non-degenerate)."""
    from northwind_warehouse_spark.plans.llm import ann_ivf_multiprobe_recall

    rows = ann_ivf_multiprobe_recall(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.n_hits_multi >= r.n_hits_single for r in rows)
    assert sum(r.n_hits_multi for r in rows) > 0


def test_knn_cell_cap_samples_never_drops(spark):
    """The IVF-cell cap is a SAMPLE, not a drop (round-6 cap-policy
    audit): a cell is the population of a vector-space region, so an
    over-cap cell must keep exactly _KNN_CELL_CAP deterministic members
    — if the LSH drop policy were applied here the kNN graph would go
    EMPTY once cells fill (the round-5 scale cliff)."""
    from northwind_warehouse_spark.plans.llm import _KNN_CELL_CAP, _knn_sample_to_cap

    big, small = _KNN_CELL_CAP + 50, 5
    rows = [(0, i) for i in range(big)] + [(1, 10_000 + i) for i in range(small)]
    df = spark.createDataFrame(rows, ["cell_id", "vec_id"])
    out = _knn_sample_to_cap(df)
    by_cell = {
        r.cell_id: r.n for r in out.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    }
    assert by_cell == {0: _KNN_CELL_CAP, 1: small}  # sampled, NOT emptied
    # deterministic: the same lottery picks the same members
    ids1 = sorted(r.vec_id for r in out.collect())
    ids2 = sorted(r.vec_id for r in _knn_sample_to_cap(df).collect())
    assert ids1 == ids2


def test_topk_per_group_equals_plain_window(spark):
    from northwind_warehouse_spark.operators.dedup import topk_per_group
    from pyspark.sql.window import Window

    df = spark.range(0, 3000).select(
        (F.col("id") % 7).alias("g"), F.md5(F.col("id").cast("string")).alias("h"), "id"
    )
    got = {(r.g, r.h, r.rk) for r in topk_per_group(df, ["g"], "h", k=4).collect()}
    w = Window.partitionBy("g").orderBy("h")
    want = {
        (r.g, r.h, r.rk)
        for r in df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 4).collect()
    }
    assert got == want and len(want) == 28


def test_sequence_pack_invariants(spark):
    """Pack offsets are contiguous per source (each doc starts where the
    previous ended) and pack_id is nondecreasing in doc order."""
    from northwind_warehouse_spark.plans.llm import PACK_BUDGET, sequence_pack
    from tests.conftest import SF_SMOKE

    rows = sequence_pack(spark, SF_SMOKE).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert by_src
    for src, docs in by_src.items():
        offset = 0
        prev_pack = 0
        for r in docs:  # already ordered by doc_id within source
            assert r.pack_id == offset // PACK_BUDGET
            assert r.offset_in_pack == offset % PACK_BUDGET
            assert r.pack_id >= prev_pack
            prev_pack = r.pack_id
            offset += r.n_tok


def test_kmeans_iter_means_bounded(spark):
    """Every updated centroid component lies within the member min/max
    for that (cell, dim) — the defining property of a mean."""
    from northwind_warehouse_spark.operators.similarity import ivf_assign
    from northwind_warehouse_spark.plans.llm import IVF_N_CENTROIDS, kmeans_iter
    from northwind_warehouse_spark.catalog import load
    from tests.conftest import SF_SMOKE

    got = {(r.cell_id, r.dim_idx): r for r in kmeans_iter(spark, SF_SMOKE).collect()}
    e = load(spark, SF_SMOKE, "embeddings")
    assigned = ivf_assign(e, n_centroids=IVF_N_CENTROIDS)
    bounds = (
        assigned.select(
            "cell_id",
            F.posexplode(
                F.expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
            ).alias("dim_idx", "xq"),
        )
        .groupBy("cell_id", "dim_idx")
        .agg(F.min("xq").alias("lo"), F.max("xq").alias("hi"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got and len(bounds) == len(got)
    for b in bounds:
        r = got[(b.cell_id, b.dim_idx)]
        assert b.lo <= r.mean_q <= b.hi
        assert r.n_members == b.n


def test_knn_classify_mechanics(spark):
    """One prediction per query; the winning vote count is within [1, k];
    is_correct is consistent with the labels. (The synthetic embeddings'
    labels carry no geometric signal — accuracy ≈ chance — so the test
    pins the voting mechanics, not accuracy.)"""
    from northwind_warehouse_spark.plans.llm import _KNN_K, _KNN_QUERY_HI, _KNN_QUERY_LO, knn_classify
    from tests.conftest import SF_SMOKE

    rows = knn_classify(spark, SF_SMOKE).collect()
    assert len(rows) == _KNN_QUERY_HI - _KNN_QUERY_LO
    assert len({r.query_id for r in rows}) == len(rows)
    for r in rows:
        assert 1 <= r.n_votes <= _KNN_K
        assert r.is_correct == ("Y" if r.predicted_label == r.true_label else "N")


def test_pii_redact_scrubs_everything(spark):
    """After redaction no email/ip/phone pattern survives, and counts
    equal the synthetic augmentation (one of each per doc)."""
    import re

    from northwind_warehouse_spark.plans.llm import pii_redact
    from tests.conftest import SF_SMOKE

    rows = pii_redact(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_emails >= 1 and r.n_ips >= 1 and r.n_phones >= 1
        assert r.n_redactions == r.n_emails + r.n_ips + r.n_phones
        assert not re.search(r"[a-z0-9]+@[a-z0-9.]+[a-z]", r.redacted_text.replace("<EMAIL>", " "))
        assert not re.search(r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+", r.redacted_text)
        assert not re.search(r"[0-9]{3}-[0-9]{3}-[0-9]{4}", r.redacted_text)


def test_mixture_resample_respects_budget(spark):
    """Sources at/below the uniform budget keep every doc; over-budget
    sources are downsampled to roughly keep_ppm (binomial tolerance)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import mixture_resample
    from tests.conftest import SF_ORACLE

    kept = mixture_resample(spark, SF_ORACLE)
    per_src_kept = {
        r.source: (r.n_kept, r.keep_ppm)
        for r in kept.groupBy("source", "keep_ppm")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .collect()
    }
    totals = {
        r.source: r.n
        for r in load(spark, SF_ORACLE, "documents").groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_src_kept
    for src, (n_kept, keep_ppm) in per_src_kept.items():
        n_total = totals[src]
        if keep_ppm == 1_000_000:
            assert n_kept == n_total
        else:
            expect = n_total * keep_ppm / 1_000_000
            sd = (n_total * (keep_ppm / 1e6) * (1 - keep_ppm / 1e6)) ** 0.5
            assert abs(n_kept - expect) <= 5 * sd + 2


def test_bpe_merge_step_greedy_non_overlap(spark, tmp_path):
    """Self-pair merges are left-to-right non-overlapping: 'x x x x x'
    with top pair (x,x) becomes [x_x, x_x, x] — positions 0&2 merge,
    never 1&3."""
    from northwind_warehouse_spark.plans.llm import bpe_merge_step

    docs = spark.createDataFrame(
        [(1, "x x x x x", "en", "src0", 9), (2, "x x y", "en", "src0", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "mini")
    import os
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    rows = bpe_merge_step(spark, sf).collect()
    assert rows[0].merged_a == "x" and rows[0].merged_b == "x"
    got = {(r.pair_a, r.pair_b): r.cnt for r in rows}
    # doc1 -> [x_x, x_x, x]: pairs (x_x,x_x), (x_x,x); doc2 -> [x_x, y]: (x_x,y)
    assert got == {("x_x", "x_x"): 1, ("x_x", "x"): 1, ("x_x", "y"): 1}


def test_apply_expectations_split_and_reason_precedence(spark):
    """kept ∪ quarantined == input; reasons name the FIRST failing rule
    in declaration order; a NULL predicate outcome fails the row."""
    from northwind_warehouse_spark.operators.expectations import apply_expectations

    df = spark.createDataFrame(
        [(1, 10, "ok"), (2, None, "ok"), (3, -5, "bad"), (4, -1, None)],
        "id int, amount int, status string",
    )
    rules = [
        ("amount_not_null", F.col("amount").isNotNull()),
        ("amount_positive", F.col("amount") > 0),
        ("status_ok", F.col("status") == "ok"),
    ]
    kept, quarantined = apply_expectations(df, rules)
    assert [r["id"] for r in kept.orderBy("id").collect()] == [1]
    got = {r["id"]: r["dq_reason"] for r in quarantined.collect()}
    # id=2: first rule fails; id=3: amount ok-null but negative → positive
    # fails before status; id=4: amount_positive fails first (NULL status
    # never reached); NULL predicate (id=4 status) counts as failure.
    assert got == {2: "amount_not_null", 3: "amount_positive", 4: "amount_positive"}
    assert kept.count() + quarantined.count() == df.count()


def test_embedding_dedup_bucket_cap_prunes_degenerate_bucket(spark):
    """dedup_embedding_cosine's cap (default ON): a bucket over the cap
    emits no pairs; small buckets are untouched; and the capped
    self-join shuffles only id pairs (arrays re-attached post-prune)."""
    from northwind_warehouse_spark.operators.similarity import cap_buckets

    rows = [(i, 7) for i in range(12)] + [(100, 3), (101, 3)]
    df = spark.createDataFrame(rows, ["vec_id", "bucket_id"])
    capped = cap_buckets(df, ["bucket_id"], 5)
    assert {r.vec_id for r in capped.collect()} == {100, 101}

    # end-to-end: the default-capped plan still matches its oracle
    from northwind_warehouse_spark.plans.llm import (
        dedup_embedding_cosine, oracle_dedup_embedding_cosine,
    )
    from tests.oracle_util import compare

    assert compare(
        dedup_embedding_cosine(spark, SF_SMOKE), oracle_dedup_embedding_cosine(), SF_SMOKE
    ) == []


def test_multisource_dim_freshness_folds_all_sources(spark):
    """dim_part_multisource invariants: one row per part (bridge fan-out
    deduped), updated_at == greatest() of the four independently
    recomputed per-source pseudo process dates, every row clears the
    HWM, and the kept supplier variant is the freshest (rank-1 rule)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.medallion import (
        _MULTISOURCE_HWM, _pseudo_process_date, dim_part_multisource,
    )

    out = dim_part_multisource(spark, SF_SMOKE)
    rows = out.collect()
    assert rows
    ids = [r.part_id for r in rows]
    assert len(ids) == len(set(ids))  # fan-out fully deduped
    import datetime as dt

    hwm = dt.date.fromisoformat(_MULTISOURCE_HWM)
    assert all(r.updated_at > hwm for r in rows)

    # independently recompute each source's pseudo date and re-fold
    pd_part = {
        r.k: r.d for r in load(spark, SF_SMOKE, "part").select(
            F.col("p_partkey").alias("k"),
            _pseudo_process_date("pd|p|", "p_partkey").alias("d"),
        ).collect()
    }
    pd_supp = {
        r.k: r.d for r in load(spark, SF_SMOKE, "supplier").select(
            F.col("s_suppkey").alias("k"),
            _pseudo_process_date("pd|s|", "s_suppkey").alias("d"),
        ).collect()
    }
    supp_nation = {
        r.s_suppkey: r.s_nationkey
        for r in load(spark, SF_SMOKE, "supplier").select("s_suppkey", "s_nationkey").collect()
    }
    pd_nation = {
        r.k: r.d for r in load(spark, SF_SMOKE, "nation").select(
            F.col("n_nationkey").alias("k"),
            _pseudo_process_date("pd|n|", "n_nationkey").alias("d"),
        ).collect()
    }
    pd_bridge = {
        (r.l_partkey, r.l_suppkey): r.d
        for r in load(spark, SF_SMOKE, "lineitem").select("l_partkey", "l_suppkey").distinct()
        .withColumn("d", _pseudo_process_date(
            "pd|b|", F.concat_ws("~", F.col("l_partkey"), F.col("l_suppkey"))))
        .collect()
    }
    for r in rows[:50]:
        folded = max(
            pd_part[r.part_id],
            pd_bridge[(r.part_id, r.supplier_id)],
            pd_supp[r.supplier_id],
            pd_nation[supp_nation[r.supplier_id]],
        )
        assert r.updated_at == folded, (r.part_id, r.updated_at, folded)


def test_hierarchy_unroll_wellformed(spark):
    """Every node's path is a valid parent chain ending at a root:
    depth == path length, consecutive path elements follow the parent
    rule, and the last element is a root (< 10)."""
    from northwind_warehouse_spark.plans.medallion import hierarchy_unroll

    from northwind_warehouse_spark.catalog import load

    rows = hierarchy_unroll(spark, SF_SMOKE).collect()
    assert len(rows) == load(spark, SF_SMOKE, "customer").count()
    for r in rows:
        chain = [int(x) for x in r.path.split("/")]
        assert chain[0] == r.customer_id
        assert len(chain) == r.depth
        assert chain[-1] < 10  # root
        for child, parent in zip(chain, chain[1:]):
            assert parent == child // 10


def test_scd2_parts_multisource_intervals_wellformed(spark):
    """SCD2 invariants over the multi-source change stream: dense
    versions from 1, exactly one active row per part, 1900/2200
    sentinels, contiguous intervals, and a real attribute change
    between consecutive versions."""
    from northwind_warehouse_spark.plans.medallion import scd2_parts_multisource

    rows = scd2_parts_multisource(spark, SF_SMOKE).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.p_partkey, []).append(r)
    assert by_key
    multi = 0
    for _part, versions in by_key.items():
        versions.sort(key=lambda r: r.version_no)
        assert [v.version_no for v in versions] == list(range(1, len(versions) + 1))
        actives = [v for v in versions if v.is_active == "Y"]
        assert len(actives) == 1 and actives[-1] is versions[-1]
        assert versions[0].effective_date.year == 1900
        assert versions[-1].expiry_date.year == 2200
        for a, b in zip(versions, versions[1:]):
            assert a.expiry_date == b.updated_at  # contiguous
            assert a.row_hash != b.row_hash  # real change between versions
        multi += len(versions) > 1
    assert multi > 0  # the fold actually produces multi-version histories


def test_hierarchy_rollup_consistency(spark):
    """Subtree sums must be self-consistent: a parent's subtree revenue
    equals its own revenue plus its children's subtree revenues, and
    root subtree sizes sum to the node count."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.medallion import hierarchy_rollup

    rows = {r.customer_id: r for r in hierarchy_rollup(spark, SF_SMOKE).collect()}
    o = load(spark, SF_SMOKE, "orders")
    own = {
        r.o_custkey: r.cents
        for r in o.groupBy("o_custkey").agg(
            (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100).cast("bigint").alias("cents")
        ).collect()
    }
    children: dict[int, list[int]] = {}
    for k in rows:
        if k >= 10:
            children.setdefault(k // 10, []).append(k)
    for k, r in rows.items():
        kid_sum = sum(rows[c].subtree_cents for c in children.get(k, []))
        kid_n = sum(rows[c].n_subtree for c in children.get(k, []))
        assert r.subtree_cents == own.get(k, 0) + kid_sum, k
        assert r.n_subtree == 1 + kid_n, k
    roots = [r for k, r in rows.items() if k < 10]
    assert sum(r.n_subtree for r in roots) == len(rows)


def test_token_budget_sample_accuracy(spark):
    """Per source: kept tokens land within sampling error of the budget
    (binomial over docs: 3σ ≈ 3·avg_doc_tokens·sqrt(p·n)), and an
    under-budget source keeps every doc (threshold caps at 1e6)."""
    from northwind_warehouse_spark.plans.llm import _TOKEN_BUDGET, corpus_sample_token_budget

    kept = {
        r.source: r.kept
        for r in corpus_sample_token_budget(spark, SF_SMOKE)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("kept"))
        .collect()
    }
    assert kept
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.functions.text import n_tokens

    d = load(spark, SF_SMOKE, "documents")
    stats = {
        r.source: (r.T, r.n)
        for r in d.groupBy("source")
        .agg(F.sum(n_tokens("text")).alias("T"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    import math

    for src, (T, n) in stats.items():
        if T <= _TOKEN_BUDGET:
            assert kept.get(src) == T, (src, "under-budget source must keep all")
        else:
            p = _TOKEN_BUDGET / T
            avg = T / n
            tol = 3 * avg * math.sqrt(p * n) + avg  # 3σ + one-doc granularity
            assert abs(kept.get(src, 0) - _TOKEN_BUDGET) <= tol, (src, kept.get(src), tol)


def test_sampled_boundary_semantics(spark):
    """Value-monotonicity invariants of the sampled-boundary family:
    equi-depth buckets tile the cent axis in order (bucket k's max <
    bucket k+1's min... allowing equal-boundary ties), every customer
    in spend decile k out-spends every customer in decile k+1, and the
    ABC classes are value-separated (min rev in A >= max rev in B >=
    ... C)."""
    from northwind_warehouse_spark.plans.analytics import (
        customer_spend_deciles, equi_depth_histogram,
    )

    hist = equi_depth_histogram(spark, SF_SMOKE).orderBy("bucket").collect()
    assert [r.bucket for r in hist] == sorted(r.bucket for r in hist)
    for a, b in zip(hist, hist[1:]):
        assert a.hi_cents <= b.lo_cents, (a.bucket, a.hi_cents, b.lo_cents)
    assert sum(r.n_orders for r in hist) > 0

    decs = customer_spend_deciles(spark, SF_SMOKE).orderBy("decile").collect()
    for a, b in zip(decs, decs[1:]):
        # decile 1 = richest: its minimum spend must dominate decile 2's max
        assert a.min_spend >= b.max_spend, (a.decile, a.min_spend, b.max_spend)


def test_abc_classes_value_separated(spark):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.functions.money import disc_price
    from northwind_warehouse_spark.plans.analytics import abc_parts

    classes = {r.abc_class: r for r in abc_parts(spark, SF_SMOKE).collect()}
    assert set(classes) <= {"A", "B", "C"} and "A" in classes
    # recompute per-part revenue and check the class boundaries separate values
    li = load(spark, SF_SMOKE, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum((disc_price() * 10000).cast("bigint")).alias("rev")
    )
    n_parts = per_part.count()
    assert sum(r.n_parts for r in classes.values()) == n_parts
    # class A holds the majority of revenue (the 70% crossing by design)
    total = sum(r.rev_units for r in classes.values())
    assert classes["A"].rev_units * 10 >= 6 * total  # ~70% minus sampling slack


def test_quality_stratified_sample_gradient(spark):
    """Per-stratum retention follows the configured gradient: stratum 1
    keeps (exactly) all its docs, and observed keep rates for strata
    2-4 sit within binomial 3σ of 50/25/10%."""
    import math

    from northwind_warehouse_spark.plans.llm import (
        _STRATUM_KEEP_PCT, quality_stratified_sample,
    )

    kept = {
        r.stratum: r.n
        for r in quality_stratified_sample(spark, SF_SMOKE)
        .groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(kept) == {1, 2, 3, 4}
    # stratum populations before retention: ~N/4 each (boundary quartiles)
    n_docs = 500  # sf0.001 documents
    pop = n_docs / 4
    for stratum, pct in zip((1, 2, 3, 4), _STRATUM_KEEP_PCT):
        p = pct / 100
        sigma = math.sqrt(pop * p * (1 - p))
        tol = 3 * sigma + 0.1 * pop  # 3σ + quartile-population slack
        assert abs(kept[stratum] - pop * p) <= tol, (stratum, kept[stratum], pop * p)


def test_winnow_fingerprint_invariants(spark):
    """Winnowing picks at most one hash per window and is deterministic:
    density <= 1e6, selected set non-empty per doc, identical fp_xor
    across two runs."""
    from northwind_warehouse_spark.plans.llm import winnow_fingerprint

    a = winnow_fingerprint(spark, SF_SMOKE).collect()
    assert a
    for r in a:
        assert 0 < r.n_selected <= r.n_grams
        assert 0 <= r.density_ppm <= 1_000_000
    b = winnow_fingerprint(spark, SF_SMOKE).collect()
    assert [(r.doc_id, r.fp_xor) for r in a] == [(r.doc_id, r.fp_xor) for r in b]


def test_boilerplate_prune_bounds(spark):
    """Common-shingle coverage is a sub-count of total shingles and the
    flag fires exactly on the >50% boundary."""
    from northwind_warehouse_spark.plans.llm import boilerplate_prune

    rows = boilerplate_prune(spark, SF_SMOKE).collect()
    assert rows
    flagged = 0
    for r in rows:
        assert 0 <= r.n_common <= r.n_shingles
        assert r.is_boilerplate == (r.boiler_ppm > 500_000)
        flagged += int(r.is_boilerplate)
    assert 0 < flagged < len(rows)  # calibrated threshold separates the corpus


def test_ann_pq_codes_compact_and_ranked(spark):
    """PQ encodes to PQ_M in-range codes (the compressed index) and ADC
    returns a dense top-5 per query; ADC distance of the true nearest
    exact-cosine neighbor is finite and included in candidates scored."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators import similarity as sim
    from northwind_warehouse_spark.plans.llm import ann_pq_topk

    e = load(spark, SF_SMOKE, "embeddings")
    cb = sim.pq_codebook(e)
    codes = sim.pq_encode(e, cb).collect()
    assert codes and all(
        len(r.codes) == sim.PQ_M and all(0 <= c < sim.PQ_NC for c in r.codes) for r in codes
    )
    out = ann_pq_topk(spark, SF_SMOKE).collect()
    per_query: dict[int, list] = {}
    for r in out:
        assert r.adist >= 0
        per_query.setdefault(r.query_id, []).append(r.nn_rank)
    assert len(per_query) == 10
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_query.values())


def test_curate_corpus_funnel(spark):
    """The curation funnel's verdict respects stage precedence, covers
    every document exactly once, and keeps a non-empty admitted set."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import curate_corpus

    rows = curate_corpus(spark, SF_SMOKE).collect()
    n_docs = load(spark, SF_SMOKE, "documents").count()
    assert len(rows) == n_docs
    verdicts = {r.verdict for r in rows}
    assert verdicts <= {"exact_dup", "lang", "quality", "boilerplate", "over_budget", "kept"}
    kept = [r for r in rows if r.verdict == "kept"]
    assert kept  # the funnel admits something
    # stage-1 precedence: every non-minimal doc of a duplicate text group
    # must carry exact_dup regardless of later-stage failures
    d = load(spark, SF_SMOKE, "documents")
    dup_ids = {
        r.doc_id
        for r in d.selectExpr("md5(text) AS fp", "doc_id")
        .withColumn("keep", F.expr("min(doc_id) over (partition by fp)"))
        .filter("doc_id <> keep")
        .collect()
    }
    for r in rows:
        if r.doc_id in dup_ids:
            assert r.verdict == "exact_dup"


def test_winnow_overlap_pairs_symmetric_and_capped(spark):
    """Overlap pairs are canonical (doc_a < doc_b), shared counts are
    bounded by both fingerprint sets, and no pair rests on a fingerprint
    more common than the rarity cap."""
    from northwind_warehouse_spark.plans.llm import winnow_overlap_pairs

    rows = winnow_overlap_pairs(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 2 <= r.n_shared <= min(r.n_a, r.n_b)
        assert 0 < r.overlap_ppm <= 1_000_000


def test_pq_refine_descends(spark):
    """One Lloyd step of PQ codebook refinement must not increase total
    distortion (k-means descent; per-cell up to integer-floor slack of
    PQ_SUB per assigned vector)."""
    from northwind_warehouse_spark.operators import similarity as sim
    from northwind_warehouse_spark.plans.llm import pq_refine_stats

    rows = pq_refine_stats(spark, SF_SMOKE).collect()
    assert rows and len(rows) <= sim.PQ_M * sim.PQ_NC
    assert sum(r.dist_new for r in rows) < sum(r.dist_old for r in rows)
    for r in rows:
        assert r.n_assigned > 0
        assert r.dist_new <= r.dist_old + sim.PQ_SUB * r.n_assigned  # floor slack


def test_pq_train_rounds_monotone_descent(spark):
    """The looped Lloyd trainer descends monotonically: re-assignment
    against the updated codebook is EXACTLY <= the post-update
    distortion (min over codewords <= the previously-chosen one), and
    each update step descends up to the integer-floor slack of one per
    element row."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import _PQ_TRAIN_ROUNDS, pq_train_rounds

    rows = pq_train_rounds(spark, SF_SMOKE).collect()
    assert [r.round for r in rows] == list(range(_PQ_TRAIN_ROUNDS))
    n_el = load(spark, SF_SMOKE, "embeddings").count() * 64
    for r in rows:
        assert r.dist_updated <= r.dist_assign + n_el  # floor slack
    for prev, nxt in zip(rows, rows[1:]):
        assert nxt.dist_assign <= prev.dist_updated  # exact invariant
        assert nxt.dist_assign <= prev.dist_assign  # net per-round descent


def test_asof_forward_matches_bruteforce(spark):
    """asof_join_forward ≡ min-ts-≥ brute force (cross-join reference)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.medallion import asof_events_forward

    got = {
        r.purchase_event_id: r.next_click_event_id
        for r in asof_events_forward(spark, SF_SMOKE).collect()
    }
    e = load(spark, SF_SMOKE, "events")
    purchases = [
        (r.event_id, r.user_id, r.ts)
        for r in e.filter(F.col("event_type") == "purchase").collect()
    ]
    clicks = [
        (r.event_id, r.user_id, r.ts)
        for r in e.filter(F.col("event_type") == "click").collect()
    ]
    assert got
    for pid, uid, pts in purchases:
        following = [(ts, cid) for cid, cuid, ts in clicks if cuid == uid and ts >= pts]
        want = min(following)[1] if following else None
        assert got[pid] == want, f"purchase {pid}: forward asof {got[pid]} != brute {want}"


def test_largest_remainder_allocation_reconciles_exactly(spark):
    """Per-order invariant behind revenue_alloc_largest_remainder: the
    allocated cents sum back to the header total EXACTLY for every
    order, so the rollup equals the header-grain rollup."""
    from northwind_warehouse_spark.functions.money import dec2
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import revenue_alloc_largest_remainder

    alloc_total = (
        revenue_alloc_largest_remainder(spark, SF_SMOKE)
        .agg(F.sum("alloc_cents").alias("s"))
        .collect()[0]
        .s
    )
    # header totals, restricted to orders that have lines (inner join grain)
    o = load(spark, SF_SMOKE, "orders")
    l = load(spark, SF_SMOKE, "lineitem").select("l_orderkey").distinct()
    header_total = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .agg(F.sum((dec2("o_totalprice") * 100).cast("bigint")).alias("s"))
        .collect()[0]
        .s
    )
    assert alloc_total == header_total


def test_simhash_band_blocking_is_complete(spark):
    """Pigeonhole guarantee: every pair within hamming <= 3 of the 4-band
    split is found by the band-equi candidate join — compare against the
    brute-force all-pairs hamming filter on the fingerprint table."""
    from northwind_warehouse_spark.operators.similarity import simhash_fp
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import _SIMHASH_FP_BITS, simhash_hamming_pairs

    fps = [
        (r.doc_id, r.simhash)
        for r in simhash_fp(
            load(spark, SF_SMOKE, "documents"), n_bits=_SIMHASH_FP_BITS
        ).collect()
    ]
    brute = {
        (min(a_id, b_id), max(a_id, b_id))
        for i, (a_id, a_fp) in enumerate(fps)
        for b_id, b_fp in fps[i + 1:]
        if bin(a_fp ^ b_fp).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b) for r in simhash_hamming_pairs(spark, SF_SMOKE).collect()
    }
    assert got == brute
    assert brute, "fixture should contain at least one near-dup pair"


def test_prefix_truncation_pairs_are_real_prefixes(spark):
    """Every reported pair is a strict prefix relation, and a crafted
    truncation duplicate is found."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import dedup_prefix_truncation

    texts = {r.doc_id: r.text for r in load(spark, SF_SMOKE, "documents").collect()}
    pairs = dedup_prefix_truncation(spark, SF_SMOKE).collect()
    assert pairs, "fixture should contain truncation duplicates"
    for r in pairs:
        short, long = texts[r.short_doc_id], texts[r.long_doc_id]
        assert len(short) < len(long) and long.startswith(short)


def test_triangle_closure_on_crafted_graph(spark):
    """Triangle/wedge counting on a crafted graph with a known answer:
    a 4-clique (4 triangles, 12 wedges... exact values asserted) plus a
    disjoint path (0 triangles, 1 wedge)."""
    edges = spark.createDataFrame(
        # 4-clique on 1-4 + path 10-11-12
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (10, 11), (11, 12)],
        "doc_a long, doc_b long",
    )
    e1 = edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
    two_path = (
        e1.alias("p")
        .join(e1.alias("q"), F.col("p.y") == F.col("q.x"))
        .select(F.col("p.x").alias("a"), F.col("p.y").alias("b"), F.col("q.y").alias("c"))
    )
    tri = two_path.join(
        e1.select(F.col("x").alias("a"), F.col("y").alias("c")), ["a", "c"], "left_semi"
    )
    assert tri.count() == 4  # C(4,3) triangles in the clique, none on the path
    deg = (
        edges.select(F.col("doc_a").alias("n")).unionAll(edges.select(F.col("doc_b").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    )
    wedges = deg.agg(F.sum(F.expr("deg * (deg - 1) div 2")).alias("w")).collect()[0].w
    # clique: 4 nodes of degree 3 -> 4*3 = 12 wedges; path: middle node -> 1
    assert wedges == 13


def test_scd3_previous_differs_from_current(spark):
    """Type-3 invariant: previous_type is NULL or differs from
    current_type, and previous_ts < current_ts... (<= impossible since
    the previous pick excludes the current value at the same rank)."""
    from northwind_warehouse_spark.plans.medallion import scd3_users

    rows = scd3_users(spark, SF_SMOKE).collect()
    assert rows
    assert any(r.previous_type is not None for r in rows)
    for r in rows:
        if r.previous_type is not None:
            assert r.previous_type != r.current_type
            assert r.previous_ts <= r.current_ts


def test_bom_explosion_multiplicative_invariant(spark):
    """Depth-1 pairs carry exactly the child's qty_per; any deeper pair
    equals the product of its child's depth-1 qty and the parent pair's
    qty — i.e. the walk really multiplies along the path."""
    from northwind_warehouse_spark.plans.medallion import bom_explosion

    rows = bom_explosion(spark, SF_SMOKE).collect()
    assert rows
    by_pair = {(r.component_id, r.ancestor_id): r for r in rows}
    for r in rows:
        if r.levels == 1:
            assert r.effective_qty == r.component_id % 5 + 1
        else:
            # the one-step-up pair must exist and divide the product
            parent = r.component_id // 10 if r.levels >= 2 else None
            step1 = by_pair[(r.component_id, r.component_id // 10)]
            rest = by_pair[(r.component_id // 10, r.ancestor_id)]
            assert r.effective_qty == step1.effective_qty * rest.effective_qty


def test_kmv_overlap_exact_below_k(spark):
    """When the pair's union fits inside k, the sketch algebra is exact:
    est_union and est_intersection equal the true distinct counts."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import kmv_overlap_estimate

    e = load(spark, SF_SMOKE, "events")
    users = {
        t: {r.user_id for r in e.filter(f"event_type = '{t}'").select("user_id").distinct().collect()}
        for t in ("click", "view")
    }
    res = {
        (r.type_a, r.type_b): r for r in kmv_overlap_estimate(spark, SF_SMOKE).collect()
    }
    r = res[("click", "view")]
    true_union = len(users["click"] | users["view"])
    true_inter = len(users["click"] & users["view"])
    if r.k_eff < 64:  # exact path
        assert r.est_union == true_union and r.est_intersection == true_inter
    else:  # estimator path: within 25% at k=64 (bound loose on purpose)
        assert abs(r.est_union - true_union) <= true_union // 4
        assert abs(r.est_intersection - true_inter) <= max(true_inter // 4, 8)


def test_session_window_matches_lag_cumsum_sessions(spark):
    """The native session_window sessions coincide with the lag+cumsum
    sessionization: same per-user session count and the same event
    totals (end conventions differ by the gap; starts must match)."""
    from northwind_warehouse_spark.plans.analytics import (
        events_session_window, events_sessionize,
    )

    native = events_session_window(spark, SF_SMOKE).collect()
    classic = events_sessionize(spark, SF_SMOKE).collect()
    n_starts = {(r.user_id, r.session_start) for r in native}
    c_starts = {(r.user_id, r.session_start) for r in classic}
    assert n_starts == c_starts
    assert sum(r.n_events for r in native) == sum(r.n_events for r in classic)


def test_inferred_members_make_fact_join_total(spark):
    """Kimball inferred-members invariant: every distinct fact key
    resolves against conformed ∪ inferred — the join drops nothing."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.medallion import dim_customer_inferred

    dim = dim_customer_inferred(spark, SF_SMOKE)
    o = load(spark, SF_SMOKE, "orders").select("o_custkey").distinct()
    unresolved = o.join(dim, o.o_custkey == dim.c_custkey, "left_anti").count()
    assert unresolved == 0
    assert dim.filter("member_type = 'inferred'").count() > 0


def test_chi2_statistic_sane(spark):
    """chi2 >= 0, dof = (segments-1)(priorities-1), and the micro-unit
    statistic is stable across runs (determinism)."""
    from northwind_warehouse_spark.plans.analytics import segment_priority_chi2

    a = segment_priority_chi2(spark, SF_SMOKE).collect()[0]
    b = segment_priority_chi2(spark, SF_SMOKE).collect()[0]
    assert a.chi2_micro == b.chi2_micro >= 0
    assert a.dof == (a.n_segments - 1) * (a.n_priorities - 1)
    assert a.n_cells <= a.n_segments * a.n_priorities


def test_prefix_filter_join_is_exact(spark):
    """The prefix-filter theorem guarantee: the join returns EXACTLY the
    pairs with shingle-Jaccard >= 0.7 — verified against the brute-force
    all-pairs computation (no false negatives, no false positives)."""
    from northwind_warehouse_spark.operators.similarity import shingle_arrays
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import dedup_prefix_filter_join

    sh = {
        r.doc_id: set(r.sh)
        for r in shingle_arrays(load(spark, SF_SMOKE, "documents")).collect()
    }
    ids = sorted(sh)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if 1_000_000 * inter // union >= 700_000:
                brute.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in dedup_prefix_filter_join(spark, SF_SMOKE).collect()}
    assert got == brute and brute


def test_timebound_funnel_dominated_by_unbounded(spark):
    """Adding a step deadline can only LOSE conversions: every
    time-bounded step count is <= the unbounded funnel's count."""
    from northwind_warehouse_spark.plans.analytics import (
        events_funnel, events_funnel_timebound,
    )

    free = {r.step: r.n_users for r in events_funnel(spark, SF_SMOKE).collect()}
    tight = {r.step: r.n_users for r in events_funnel_timebound(spark, SF_SMOKE).collect()}
    assert set(free) == set(tight) == {1, 2, 3}
    assert tight[1] == free[1]  # step 1 has no deadline
    assert tight[2] <= free[2] and tight[3] <= free[3]


def test_scd6_overlay_matches_latest_version(spark):
    """Type-6 invariant: every row of a key carries the attrs of that
    key's LATEST version; exactly one row per key flags current."""
    from northwind_warehouse_spark.plans.medallion import scd6_users

    rows = scd6_users(spark, SF_SMOKE).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for _u, vs in by_user.items():
        latest = max(vs, key=lambda r: r.version_no)
        assert sum(1 for r in vs if r.is_current_version == "Y") == 1
        for r in vs:
            assert r.current_event_type == latest.event_type
            assert r.current_value == latest.value
            assert (r.is_current_version == "Y") == (r.version_no == latest.version_no)


def test_consensus_contains_every_detector_pair(spark):
    """The ensemble table is the UNION of the detectors: every MinHash
    pair and every SimHash pair appears, correctly flagged."""
    from northwind_warehouse_spark.plans.llm import (
        dedup_consensus_pairs, dedup_minhash_lsh, simhash_hamming_pairs,
    )

    cons = {(r.doc_a, r.doc_b): r for r in dedup_consensus_pairs(spark, SF_SMOKE).collect()}
    mh = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()}
    sh = {(r.doc_a, r.doc_b) for r in simhash_hamming_pairs(spark, SF_SMOKE).collect()}
    assert mh and sh
    for p in mh:
        assert p in cons and cons[p].by_minhash == 1
    for p in sh:
        assert p in cons and cons[p].by_simhash == 1
    assert any(r.n_detectors >= 2 for r in cons.values())


def test_lsh_band_tuning_containment_invariant(spark):
    """Stricter banding (2 bands x 4 rows) must produce a SUBSET of the
    looser 4x2 candidates: a 4-row band match implies both constituent
    2-row bands match. n_common == n_pairs_2x4 asserts it on real data."""
    from northwind_warehouse_spark.plans.llm import lsh_band_tuning

    r = lsh_band_tuning(spark, SF_SMOKE).collect()[0]
    assert r.n_common == r.n_pairs_2x4
    assert r.n_pairs_2x4 <= r.n_pairs_4x2


def test_pq_rerank_recall_not_worse_than_adc(spark):
    """Two-stage retrieval's whole point: exact rerank of the ADC
    top-20 shortlist must recover at least as many true top-5
    neighbors as trusting the raw ADC top-5."""
    from northwind_warehouse_spark.operators.similarity import (
        ann_bruteforce_topk, pq_adc_topk,
    )
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import ann_pq_rerank_topk

    e = load(spark, SF_SMOKE, "embeddings")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(e, n_queries=10, k=5).collect()
    }
    adc5 = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(e, n_queries=10, k=5).collect()
    }
    rerank5 = {
        (r.query_id, r.neighbor_id)
        for r in ann_pq_rerank_topk(spark, SF_SMOKE).collect()
    }
    assert len(rerank5 & truth) >= len(adc5 & truth)
    assert len(rerank5 & truth) > 0


def test_incremental_dedup_verdicts_partition_new_batch(spark):
    """Every new-batch doc gets exactly one verdict, and the exact-dup
    verdicts agree with an independent fingerprint check."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import (
        _INC_LOTTERY, dedup_incremental_new_batch,
    )

    out = dedup_incremental_new_batch(spark, SF_SMOKE)
    rows = out.collect()
    d = load(spark, SF_SMOKE, "documents")
    n_new = d.filter(F.expr(f"{_INC_LOTTERY} >= 800000")).count()
    assert len(rows) == n_new
    assert len({r.doc_id for r in rows}) == n_new
    verdicts = {r.verdict for r in rows}
    assert verdicts <= {"exact_dup_corpus", "near_dup_corpus", "near_dup_batch", "novel"}
    # independent exact-dup check
    fp = d.select("doc_id", F.md5("text").alias("fp"),
                  F.expr(f"{_INC_LOTTERY} >= 800000").alias("is_new"))
    corpus = {r.fp for r in fp.filter(~F.col("is_new")).collect()}
    new_fp = {r.doc_id: r.fp for r in fp.filter(F.col("is_new")).collect()}
    for r in rows:
        if new_fp[r.doc_id] in corpus:
            assert r.verdict == "exact_dup_corpus", r


def test_cusum_drawup_dominates_single_deviation(spark):
    """The CUSUM max drawup is >= the largest single positive scaled
    deviation (a one-hour drawup is itself a drawup), and >= 0."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import events_cusum_detect

    out = {r.event_type: r for r in events_cusum_detect(spark, SF_SMOKE).collect()}
    hourly = (
        load(spark, SF_SMOKE, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = (
        hourly.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("tot"), F.max("x").alias("mx"))
        .collect()
    )
    for s in stats:
        r = out[s.event_type]
        assert r.max_drawup_scaled >= 0
        assert r.max_drawup_scaled >= s.n * s.mx - s.tot  # best single hour


# ---------------------------------------------------------------------------
# Round-6 continuation-wave semantic invariants
# ---------------------------------------------------------------------------


def test_scd2_compaction_partitions_versions(spark):
    """Spans partition the SCD2 rows exactly (Σ n_versions = rows),
    adjacent spans per user change event_type, and validity stays
    contiguous across the compacted spans."""
    from northwind_warehouse_spark.plans.medallion import scd2_compaction, scd2_users

    spans = scd2_compaction(spark, SF_SMOKE).collect()
    n_versions_total = scd2_users(spark, SF_SMOKE).count()
    assert sum(r.n_versions for r in spans) == n_versions_total
    by_user: dict[int, list] = {}
    for r in spans:
        by_user.setdefault(r.user_id, []).append(r)
    for _u, ss in by_user.items():
        ss.sort(key=lambda r: r.span_no)
        assert [s.span_no for s in ss] == list(range(1, len(ss) + 1))
        for a, b in zip(ss, ss[1:]):
            assert a.event_type != b.event_type
            assert a.expiry_date == b.effective_date
        assert sum(1 for s in ss if s.is_active == "Y") == 1


def test_nation_trade_balance_nets_to_zero(spark):
    """Every cross-border flow is counted once as an export and once as
    an import, so the net over all nations must be exactly zero."""
    from northwind_warehouse_spark.plans.analytics import nation_trade_balance

    rows = nation_trade_balance(spark, SF_SMOKE).collect()
    assert rows
    # exports and imports are floored to cents PER NATION, so the global
    # net can be off zero by at most one sub-cent floor per nation-side
    assert abs(sum(r.net_cents for r in rows)) < len(rows)
    gap = sum(r.export_cents for r in rows) - sum(r.import_cents for r in rows)
    assert abs(gap) < len(rows)


def test_ivf_cell_occupancy_conserves_corpus(spark):
    """Band vector counts sum to the corpus size; shares are a valid
    ppm decomposition (≤ 1e6, off by at most one floor per band)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import ivf_cell_occupancy

    rows = ivf_cell_occupancy(spark, SF_SMOKE).collect()
    n = load(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n
    total_share = sum(r.vec_share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= total_share <= 1_000_000


def test_simhash_bit_balance_covers_all_bits(spark):
    """Exactly 32 bit rows, each over the full corpus, with set shares
    inside [0, 1e6]."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import simhash_bit_balance

    rows = simhash_bit_balance(spark, SF_SMOKE).collect()
    n = load(spark, SF_SMOKE, "documents").count()
    assert [r.bit for r in rows] == list(range(32))
    assert all(r.n_docs == n for r in rows)
    assert all(0 <= r.set_ppm <= 1_000_000 for r in rows)
    assert all(r.dev_ppm == r.set_ppm - 500_000 for r in rows)


def test_spend_tier_migration_conserves_customers(spark):
    """Every active (customer, year) is the source of exactly one
    transition, and each (year, tier) cell's shares sum to ~1e6."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import spend_tier_migration

    rows = spend_tier_migration(spark, SF_SMOKE).collect()
    cy = (
        load(spark, SF_SMOKE, "orders")
        .select("o_custkey", F.year("o_orderdate").alias("yr"))
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == cy
    cells: dict[tuple, int] = {}
    for r in rows:
        cells[(r.year_from, r.tier_from)] = cells.get((r.year_from, r.tier_from), 0) + r.share_ppm
    for _k, tot in cells.items():
        assert 1_000_000 - 3 <= tot <= 1_000_000


def test_medallion_reconciliation_stg_is_lossless(spark):
    """The map-only staging layer must carry every raw row through:
    stg deltas are zero for all three chains."""
    from northwind_warehouse_spark.plans.medallion import medallion_reconciliation

    rows = {(r.table_name, r.layer): r for r in medallion_reconciliation(spark, SF_SMOKE).collect()}
    for t in ("orders", "lineitem", "events"):
        assert rows[(t, "stg")].delta_vs_upstream == 0
        assert rows[(t, "raw")].delta_vs_upstream is None


def test_context_fit_audit_is_monotone(spark):
    """A longer context can only fit more docs and lose fewer tokens."""
    from northwind_warehouse_spark.plans.llm import context_fit_audit

    rows = sorted(context_fit_audit(spark, SF_SMOKE).collect(), key=lambda r: r.ctx_limit)
    for a, b in zip(rows, rows[1:]):
        assert b.n_fit >= a.n_fit
        assert b.tokens_lost <= a.tokens_lost
        assert a.tokens_total == b.tokens_total


def test_incremental_agg_maintenance_reconciles_every_month(spark):
    from northwind_warehouse_spark.plans.medallion import incremental_agg_maintenance

    rows = incremental_agg_maintenance(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.reconciled == "Y" for r in rows)
    assert all(r.old_cents + r.delta_cents == r.full_cents for r in rows)


def test_churn_training_set_has_no_feature_leakage(spark):
    """Features must derive only from strictly-pre-cutoff orders:
    recency/tenure positive, avg consistent with spend, and the label
    recomputed independently from the post-cutoff window."""
    import datetime as dt

    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import _CHURN_CUTOFF, churn_training_set

    rows = churn_training_set(spark, SF_SMOKE).collect()
    assert rows
    cutoff = dt.date.fromisoformat(_CHURN_CUTOFF)
    horizon = dt.date(cutoff.year + 1, cutoff.month, cutoff.day)
    after = {
        r.o_custkey
        for r in load(spark, SF_SMOKE, "orders")
        .filter((F.col("o_orderdate") >= F.lit(str(cutoff))) & (F.col("o_orderdate") < F.lit(str(horizon))))
        .select("o_custkey").distinct().collect()
    }
    for r in rows:
        assert r.recency_days >= 1 and r.tenure_days >= r.recency_days
        assert r.avg_order_cents * r.n_orders <= r.spend_cents < (r.avg_order_cents + 1) * r.n_orders
        assert (r.churned == "N") == (r.customer_id in after)


def test_hard_negatives_rank_below_positives(spark):
    """Every hard negative scores at or below the query's 3rd-best
    cell-local neighbor (the positive band ann_ivf_topk emits)."""
    from northwind_warehouse_spark.plans.llm import ann_ivf_topk, hard_negative_mining

    pos3 = {
        r.query_id: r.cosine
        for r in ann_ivf_topk(spark, SF_SMOKE).collect()
        if r.nn_rank == 3
    }
    negs = hard_negative_mining(spark, SF_SMOKE).collect()
    assert negs
    for r in negs:
        assert 1 <= r.hn_rank <= 5
        if r.query_id in pos3:
            assert r.cosine <= pos3[r.query_id]


def test_audio_segments_tile_each_document(spark):
    """Per doc: segment lengths sum to the doc length, indices are
    dense from 0, and the count is ceil(len/256)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import multimodal_audio_segments

    segs = multimodal_audio_segments(spark, SF_SMOKE).collect()
    lens = {r.doc_id: len(r.text) for r in load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()}
    by_doc: dict[int, list] = {}
    for r in segs:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {d for d, n in lens.items() if n > 0}
    for d, ss in by_doc.items():
        ss.sort(key=lambda r: r.seg_idx)
        assert [s.seg_idx for s in ss] == list(range(len(ss)))
        assert sum(s.n_chars for s in ss) == lens[d]
        assert len(ss) == (lens[d] + 255) // 256


def test_span_corruption_mask_rule_is_exact(spark):
    """n_masked recomputed independently from the position rule."""
    from northwind_warehouse_spark.plans.llm import (
        _SPAN_LEN, _SPAN_PHASE, _SPAN_STRIDE, span_corruption_manifest,
    )

    rows = span_corruption_manifest(spark, SF_SMOKE).collect()
    assert rows
    for r in rows[:200]:
        want = sum(
            1
            for i in range(1, r.n_tokens + 1)
            if _SPAN_PHASE - 1 <= (i - 1) % _SPAN_STRIDE < _SPAN_PHASE - 1 + _SPAN_LEN
        )
        assert r.n_masked == want


def test_shingle_kmv_exact_below_k(spark):
    """Sources with fewer than k distinct shingles must be estimated
    EXACTLY (the sketch holds the whole set below k)."""
    from northwind_warehouse_spark.plans.llm import _SHK_KMV, shingle_kmv_error

    rows = shingle_kmv_error(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.exact_distinct < _SHK_KMV:
            assert r.approx_distinct == r.exact_distinct and r.err_ppm == 0


def test_data_vault_artifacts_are_consistent(spark):
    """Hub = distinct business keys in the feed; link = one row per
    order; satellite rows = the SCD2 dimension's version rows (same
    change stream, same delta rule); PIT rows never point past their
    snapshot."""
    import datetime as dt

    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.medallion import (
        dv_hub_customer, dv_link_order_customer, dv_pit_users,
        dv_sat_user_events, scd2_users,
    )

    o = load(spark, SF_SMOKE, "orders")
    assert dv_hub_customer(spark, SF_SMOKE).count() == o.select("o_custkey").distinct().count()
    assert dv_link_order_customer(spark, SF_SMOKE).count() == o.count()
    assert dv_sat_user_events(spark, SF_SMOKE).count() == scd2_users(spark, SF_SMOKE).count()
    pit = dv_pit_users(spark, SF_SMOKE).collect()
    assert pit
    for r in pit:
        assert r.sat_load_ts < dt.datetime.combine(
            r.snapshot_date + dt.timedelta(days=1), dt.time()
        )


def test_halflife_decay_bounds(spark):
    """Decayed value is positive-bounded by face value, and the
    retention share is a valid ppm."""
    from northwind_warehouse_spark.plans.analytics import halflife_weighted_value

    rows = halflife_weighted_value(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.decayed_cents <= r.raw_cents
        assert 0 <= r.retention_ppm <= 1_000_000


def test_sft_pairs_partition_tokens(spark):
    """Every pair reconstructs its doc's token count exactly
    (prompt + completion = doc tokens), prompts are exactly 16 tokens,
    and the digests match an independent Python recomputation."""
    import hashlib

    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import (
        _SFT_MIN_COMPLETION_TOKENS, _SFT_PROMPT_TOKENS, sft_pair_manifest,
    )

    rows = {r.doc_id: r for r in sft_pair_manifest(spark, SF_SMOKE).collect()}
    assert rows
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    for d in docs[:100]:
        toks = d.text.split(" ")
        if len(toks) - _SFT_PROMPT_TOKENS < _SFT_MIN_COMPLETION_TOKENS:
            assert d.doc_id not in rows
            continue
        r = rows[d.doc_id]
        assert r.prompt_tokens == _SFT_PROMPT_TOKENS
        assert r.prompt_tokens + r.completion_tokens == len(toks)
        assert r.prompt_md5 == hashlib.md5(" ".join(toks[:_SFT_PROMPT_TOKENS]).encode()).hexdigest()
        assert r.completion_md5 == hashlib.md5(" ".join(toks[_SFT_PROMPT_TOKENS:]).encode()).hexdigest()


def test_source_vocab_jaccard_bounds(spark):
    """Jaccard is a valid ppm and n_common never exceeds either side."""
    from northwind_warehouse_spark.plans.llm import source_vocab_jaccard

    rows = source_vocab_jaccard(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_common <= min(r.n_a, r.n_b)
        assert 0 <= r.jaccard_ppm <= 1_000_000


def test_salted_rollup_equals_naive(spark):
    """The two-phase salted aggregation must be value-identical to the
    one-phase groupBy — only the partitioning may differ."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import events_salted_type_rollup

    got = {tuple(r) for r in events_salted_type_rollup(spark, SF_SMOKE).collect()}
    want = {
        tuple(r)
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(floor(value * 1000000) AS BIGINT)")).cast("bigint")
            .alias("total_value_micro"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_anova_decomposition_is_additive(spark):
    """ss_between + ss_within reconstructs ss_total up to the two
    independent scale-down floors, and η² is a valid ppm."""
    from northwind_warehouse_spark.plans.analytics import events_value_anova

    r = events_value_anova(spark, SF_SMOKE).collect()[0]
    assert 0 <= r.eta2_ppm <= 1_000_000
    assert r.ss_between_scaled >= 0 and r.ss_within_scaled >= 0
    assert abs(r.ss_between_scaled + r.ss_within_scaled - r.ss_total_scaled) <= 2


def test_bitemporal_known_is_bounded_by_final(spark):
    """Per day: known ≤ final, and the restatement share is a valid
    ppm that is 0 exactly when nothing arrived after the cut."""
    from northwind_warehouse_spark.plans.medallion import bitemporal_restatement

    rows = bitemporal_restatement(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.v_known_micro <= r.v_final_micro
        assert 0 <= r.restated_ppm <= 1_000_000
        assert (r.restated_ppm == 0) == (r.v_known_micro == r.v_final_micro)


def test_seasonal_naive_backtest_error_identity(spark):
    """WAPE recomputed from the published integer columns matches, and
    over-forecast counts never exceed the backtest months."""
    from northwind_warehouse_spark.plans.analytics import seasonal_naive_backtest

    rows = seasonal_naive_backtest(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.wape_ppm == r.abs_err_cents * 1_000_000 // r.actual_cents
        assert 0 <= r.n_over_forecast <= r.n_months


def test_hazard_curve_at_risk_is_monotone(spark):
    """At-risk counts are non-increasing in tenure, churn never exceeds
    at-risk, and tenure 0 covers every ordering customer."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import customer_hazard_curve

    rows = sorted(customer_hazard_curve(spark, SF_SMOKE).collect(), key=lambda r: r.tenure)
    assert rows
    n_cust = load(spark, SF_SMOKE, "orders").select("o_custkey").distinct().count()
    # every customer is at risk at the smallest observed tenure (the
    # suffix sum over the whole curve); tenure 0 itself need not occur
    assert rows[0].n_at_risk == n_cust
    for a, b in zip(rows, rows[1:]):
        assert b.n_at_risk <= a.n_at_risk
    for r in rows:
        assert 0 <= r.n_churned <= r.n_at_risk


def test_margin_profile_orders_top_two(spark):
    """top1 ≥ top2 for every query, and the floored margin is
    non-negative."""
    from northwind_warehouse_spark.plans.llm import ann_margin_profile

    rows = ann_margin_profile(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.cos_top1 >= r.cos_top2
        assert r.margin_ppm >= 0


def test_gate_ablation_unique_bounded_by_total(spark):
    """A gate's unique failures can never exceed its total failures,
    and totals are bounded by the corpus."""
    from northwind_warehouse_spark.plans.llm import quality_gate_ablation

    rows = quality_gate_ablation(spark, SF_SMOKE).collect()
    assert {r.gate for r in rows} == {"length_min20", "repetition_dup30", "stopword_share5"}
    for r in rows:
        assert 0 <= r.n_fail_unique <= r.n_fail <= r.n_docs


def test_name_format_contracts_hold(spark):
    """The synthetic feed conforms to all three name contracts —
    all-zero violations (the audit exists to catch regressions)."""
    from northwind_warehouse_spark.plans.medallion import name_format_expectations

    rows = name_format_expectations(spark, SF_SMOKE).collect()
    assert len(rows) == 3
    assert all(r.n_violations == 0 for r in rows)


def test_ivf_assign_two_level_degenerate_equals_flat(spark):
    """Two boundary settings where the hierarchical route provably
    equals the flat argmax: n_super = k (every super's child list is
    exactly itself — level 2 is a no-op) and n_super = 1 (super 0's
    child list is ALL centroids — level 1 is a no-op). Both must
    reproduce ivf_assign bit-for-bit; with the default ceil(sqrt(k))
    supers the assignments may legitimately differ near super
    boundaries (the documented hierarchical-quantizer trade)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
    )

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    flat = {r.vec_id: r.cell_id for r in ivf_assign(e, n_centroids=8).collect()}
    for ns in (8, 1):
        two = {
            r.vec_id: r.cell_id
            for r in ivf_assign_two_level(e, n_centroids=8, n_super=ns).collect()
        }
        assert two == flat, f"n_super={ns} diverged from flat argmax"


def test_ivf_assign_two_level_total_and_bounded(spark):
    """Default-supers invariants: every vector gets exactly one non-null
    cell, every cell id is a valid centroid id, and super-centroids keep
    routing to themselves (their own cell is their own id — self-cosine
    is exactly 1.0 in both engines)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.similarity import (
        ceil_isqrt,
        ivf_assign_two_level,
    )

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    k = 16
    rows = {r.vec_id: r.cell_id for r in ivf_assign_two_level(e, n_centroids=k).collect()}
    n = e.count()
    assert len(rows) == n
    assert all(c is not None and 0 <= c < k for c in rows.values())
    ns = ceil_isqrt(k)
    assert all(rows[i] == i for i in range(ns))


def test_ceil_isqrt_exact():
    """ceil_isqrt is the exact integer ceil(sqrt(n)) — the oracle's
    float-sqrt + CASE correction depends on this being right at perfect
    squares and off-by-one float roundings."""
    from northwind_warehouse_spark.operators.similarity import ceil_isqrt

    for n in list(range(1, 2000)) + [10**6, 10**6 + 1, 10**12, 10**12 - 1]:
        s = ceil_isqrt(n)
        assert s * s >= n and (s - 1) * (s - 1) < n, n


def test_ivf_train_rounds_monotone_descent(spark):
    """The trained IVF coarse quantizer descends like its PQ twin:
    re-assignment against the updated centroids is EXACTLY <= the
    post-update distortion, and each update descends up to the
    integer-floor slack of one per training element row. The training
    set is the deterministic 25% lottery, so the slack bound uses the
    SAMPLED element count."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import (
        _IVF_TRAIN_LOT,
        _IVF_TRAIN_PPM,
        _IVF_TRAIN_ROUNDS,
        ivf_train_rounds,
    )

    rows = ivf_train_rounds(spark, SF_SMOKE).collect()
    assert [r.round for r in rows] == list(range(_IVF_TRAIN_ROUNDS))
    n_train = (
        load(spark, SF_SMOKE, "embeddings")
        .filter(F.expr(_IVF_TRAIN_LOT) < _IVF_TRAIN_PPM)
        .count()
    )
    assert n_train > 0
    n_el = n_train * 64
    for r in rows:
        assert r.dist_updated <= r.dist_assign + n_el  # floor slack
    for prev, nxt in zip(rows, rows[1:]):
        assert nxt.dist_assign <= prev.dist_updated  # exact invariant
        assert nxt.dist_assign <= prev.dist_assign  # net per-round descent


def test_ivf_assign_two_level_matches_python_reference(spark):
    """Engine-independent semantic check of the hierarchical route: a
    pure-Python reimplementation of the exact arithmetic (floor-1e6
    quantization, int64 dots, IEEE-double cosine, max-cos/min-id ties,
    self-routing supers) must agree with the Spark expression pipeline
    on a deterministic synthetic corpus — catches expression-level bugs
    the DuckDB oracle could share if the SQL mirrored a wrong design."""
    import math

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from northwind_warehouse_spark.operators.similarity import (
        ceil_isqrt,
        ivf_assign_two_level,
    )

    # deterministic pseudo-random vectors via an integer LCG (no RNG
    # in tests either — reruns must be identical)
    def lcg(seed):
        x = seed
        while True:
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            yield x

    g = lcg(42)
    dim, n, k = 8, 60, 12
    vecs = [
        [((next(g) >> 16) % 2001 - 1000) / 1000.0 for _ in range(dim)]
        for _ in range(n)
    ]
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    df = spark.createDataFrame(rows, schema)

    # python reference with the IDENTICAL arithmetic (float32 narrowing
    # first, like the ArrayType(FloatType) column)
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    q = [[math.floor(f32(x) * 1_000_000.0) for x in v] for v in vecs]
    n2 = [sum(e * e for e in v) for v in q]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(q[a], q[b]))
        return float(dot) / math.sqrt(float(n2[a]) * float(n2[b]))

    def argbest(i, cands):
        return max(cands, key=lambda c: (cos(i, c), -c))

    s = ceil_isqrt(k)
    supers = list(range(s))
    route = {c: (c if c < s else argbest(c, supers)) for c in range(k)}
    children = {sid: [c for c in range(k) if route[c] == sid] for sid in supers}
    expected = {}
    for i in range(n):
        sid = argbest(i, supers)
        expected[i] = argbest(i, children[sid])

    got = {r.vec_id: r.cell_id for r in ivf_assign_two_level(df, n_centroids=k).collect()}
    assert got == expected


def test_ivf_train_codebook_matches_python_reference(spark):
    """Engine-independent semantic check of the TRAINED coarse
    quantizer (round-7 verdict #1): a pure-Python reimplementation of
    one Lloyd round — md5-lottery 25% training sample, two-level
    max-cosine assignment against the first-k seed codebook,
    OFF-shifted integer floor-mean update, empty cells keep their
    seed — followed by the production two-level assignment against the
    trained codebook, must agree with
    ivf_assign_two_level(centroids=ivf_train_codebook(...)) on a
    deterministic synthetic corpus. Catches expression-level bugs the
    DuckDB oracle could share if the SQL mirrored a wrong design."""
    import hashlib
    import math
    import struct

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from northwind_warehouse_spark.operators.similarity import (
        _CB_XQ_OFF,
        ceil_isqrt,
        ivf_assign_two_level,
        ivf_train_codebook,
    )

    def lcg(seed):
        x = seed
        while True:
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            yield x

    g = lcg(7)
    dim, n, k = 8, 80, 12
    vecs = [
        [((next(g) >> 16) % 2001 - 1000) / 1000.0 for _ in range(dim)]
        for _ in range(n)
    ]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], schema
    )

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    q = [[math.floor(f32(x) * 1_000_000.0) for x in v] for v in vecs]

    def n2_of(w):
        return sum(e * e for e in w)

    def cosq(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return float(dot) / math.sqrt(float(n2_of(a)) * float(n2_of(b)))

    def two_level_assign(probe_ids, cb):
        """cb: list of k quantized centroid vectors (index = cent_id)."""
        s = ceil_isqrt(len(cb))
        supers = list(range(s))

        def best(v, cands):
            return max(cands, key=lambda c: (cosq(v, cb[c]), -c))

        route = {c: (c if c < s else best(cb[c], supers)) for c in range(len(cb))}
        children = {sid: [c for c in range(len(cb)) if route[c] == sid] for sid in supers}
        out = {}
        for i in probe_ids:
            sid = best(q[i], supers)
            out[i] = best(q[i], children[sid])
        return out

    # one Lloyd round, exactly the operator's arithmetic
    train = [
        i for i in range(n)
        if int(hashlib.md5(f"ivfcb|{i}".encode()).hexdigest()[:8], 16) % 1_000_000
        < 250_000
    ]
    assert train, "lottery must pick a non-empty training sample"
    cb0 = [list(q[j]) for j in range(k)]
    t_assign = two_level_assign(train, cb0)
    cb1 = [list(c) for c in cb0]
    for j in range(k):
        members = [i for i in train if t_assign[i] == j]
        if members:
            cnt = len(members)
            cb1[j] = [
                (sum(q[i][d] for i in members) + _CB_XQ_OFF * cnt) // cnt - _CB_XQ_OFF
                for d in range(dim)
            ]
    expected = two_level_assign(range(n), cb1)

    cb = ivf_train_codebook(df, n_centroids=k, rounds=1)
    got = {
        r.vec_id: r.cell_id
        for r in ivf_assign_two_level(df, n_centroids=k, centroids=cb).collect()
    }
    assert got == expected


def test_ivf_trained_codebook_improves_quantization(spark):
    """The point of training (round-7 verdict #1's quality bar): the
    trained codebook must serve cells at least as TIGHT as the first-k
    seed on the quantizer's own objective — mean cosine of each vector
    to its assigned centroid (what bounds cell-local kNN quality).
    Occupancy BALANCE is deliberately not asserted: Lloyd optimizes
    distortion, not balance (measured r8: mean assigned-cosine +16% at
    sf0.01 / +11% at sf0.1 after one round, bands unchanged in
    structure)."""
    from northwind_warehouse_spark.catalog import load, table_rows
    from northwind_warehouse_spark.operators import similarity as sim

    e = load(spark, SF_SMOKE, "embeddings")
    n = table_rows(SF_SMOKE, "embeddings")
    k = max(8, (n + 127) // 128)

    def mean_assigned_cos(cb):
        a = sim.ivf_assign_two_level(e, n_centroids=k, centroids=cb)
        cents = (
            cb if cb is not None
            else sim._centroid_rows(
                sim._quantized_base(e, "vec_id", "embedding"), k, None, "vec_id"
            )
        )
        j = a.join(cents, a["cell_id"] == cents["cent_id"])
        dot = sim.IDOT.format(a=sim.QUANT.format(v="embedding"), b="cqvec")
        return j.select(
            (
                F.expr(f"CAST({dot} AS DOUBLE)")
                / F.sqrt(F.col("n2").cast("double") * F.col("cn2").cast("double"))
            ).alias("c")
        ).agg(F.avg("c")).collect()[0][0]

    base = mean_assigned_cos(None)
    trained = mean_assigned_cos(sim.ivf_train_codebook(e, n_centroids=k))
    assert trained >= base, f"training degraded the quantizer: {trained} < {base}"


def test_ivf_train_codebook_multi_round_shape(spark):
    """rounds>1 keeps the codebook contract every consumer relies on:
    exactly k centroids with ids 0..k-1 (the first √k stay the
    supers), dim-length quantized arrays, and cn2 consistent with the
    packed elements — and the downstream assignment stays total."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.similarity import (
        ivf_assign_two_level,
        ivf_train_codebook,
    )

    e = load(spark, SF_SMOKE, "embeddings")
    k = 8
    cb = ivf_train_codebook(e, n_centroids=k, rounds=2)
    rows = cb.collect()
    assert sorted(r.cent_id for r in rows) == list(range(k))
    for r in rows:
        assert len(r.cqvec) == 64
        assert r.cn2 == sum(w * w for w in r.cqvec)
    assigned = ivf_assign_two_level(e, n_centroids=k, centroids=cb)
    cells = {r.vec_id: r.cell_id for r in assigned.collect()}
    assert len(cells) == e.count()
    assert all(0 <= c < k for c in cells.values())


def test_probe_rank_one_reproduces_assignment_under_trained_cb(spark):
    """ivf_probe_cells' documented contract — probe_rank=1 equals the
    single-probe assignment — must hold under a TRAINED codebook too
    (both rank the same relation with the same tie rule)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_cells,
        ivf_train_codebook,
    )

    e = load(spark, SF_SMOKE, "embeddings")
    k = 16
    cb = ivf_train_codebook(e, n_centroids=k)
    want = {r.vec_id: r.cell_id for r in ivf_assign(e, n_centroids=k, centroids=cb).collect()}
    got = {
        r.vec_id: r.cell_id
        for r in ivf_probe_cells(e, n_centroids=k, n_probe=2, centroids=cb)
        .filter("probe_rank = 1")
        .collect()
    }
    assert got == want and len(got) > 0


def test_two_level_probe_rank_one_reproduces_two_level_assignment(spark):
    """ivf_probe_cells_two_level's contract (the stored-index serving
    route, round 10): probe_rank=1 must equal ivf_assign_two_level's
    cell for EVERY vector (same route, same argmax, same tie rule), so
    a corpus vector used as a query always probes the cell the stored
    index filed it under; probes 2..P are distinct sibling cells of the
    same routed super."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.similarity import (
        ivf_assign_two_level,
        ivf_probe_cells_two_level,
        ivf_train_codebook,
    )

    e = load(spark, SF_SMOKE, "embeddings")
    for k in (8, 16):
        cb = ivf_train_codebook(e, n_centroids=k)
        want = {
            r.vec_id: r.cell_id
            for r in ivf_assign_two_level(e, n_centroids=k, centroids=cb).collect()
        }
        probes = ivf_probe_cells_two_level(e, k, cb, n_probe=2).collect()
        got = {r.vec_id: r.cell_id for r in probes if r.probe_rank == 1}
        assert got == want and len(got) > 0, f"k={k}"
        # per-vector probe cells are distinct (cells partition the corpus,
        # so multi-probe candidate sets need no dedup)
        per_vec: dict[int, set[int]] = {}
        for r in probes:
            assert r.cell_id not in per_vec.setdefault(r.vec_id, set()), r
            per_vec[r.vec_id].add(r.cell_id)
        cb.unpersist()

def test_hier_probe_identities_and_bounds(spark):
    """ivf_probe_cells_hier is the scale-safe generalization of BOTH
    probe routes (round-10 verdict #1): at S ≥ ⌈√k⌉ (all supers) it
    must reproduce the FLAT probe row-for-row (every centroid is a
    child of exactly one super, so the probed union is the whole
    codebook and the tie rule matches at every stage); at S = 1 it
    must reproduce the within-super TWO-LEVEL probe row-for-row; and
    at intermediate S the probed cells must be exactly the top-P over
    the S routed supers' children — verified against a Python
    reference on the collected relations."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.similarity import (
        ceil_isqrt,
        ivf_probe_cells,
        ivf_probe_cells_hier,
        ivf_probe_cells_two_level,
        ivf_train_codebook,
    )

    e = load(spark, SF_SMOKE, "embeddings")
    cols = ["vec_id", "probe_rank", "cell_id"]
    for k, p in ((8, 4), (16, 3)):
        ns = ceil_isqrt(k)
        cb = ivf_train_codebook(e, n_centroids=k)
        qb = e.filter(F.col("vec_id") < 25)
        flat = {
            (r.vec_id, r.probe_rank, r.cell_id)
            for r in ivf_probe_cells(
                qb, n_centroids=k, n_probe=p, centroids=cb
            ).select(cols).collect()
        }
        hier_all = {
            (r.vec_id, r.probe_rank, r.cell_id)
            for r in ivf_probe_cells_hier(
                qb, k, cb, n_probe=p, n_super_probe=ns
            ).select(cols).collect()
        }
        assert hier_all == flat and len(flat) > 0, f"k={k}: hier(S=√k) != flat"
        two = {
            (r.vec_id, r.probe_rank, r.cell_id)
            for r in ivf_probe_cells_two_level(qb, k, cb, n_probe=p)
            .select(cols).collect()
        }
        hier_one = {
            (r.vec_id, r.probe_rank, r.cell_id)
            for r in ivf_probe_cells_hier(
                qb, k, cb, n_probe=p, n_super_probe=1
            ).select(cols).collect()
        }
        assert hier_one == two, f"k={k}: hier(S=1) != two_level"

        # intermediate S: per-query probed set == top-P over the union
        # of the S nearest supers' children, via a Python reference
        s_mid = 2
        assert s_mid < ns or k == 8  # k=8 → ns=3 → s_mid genuinely partial
        hier_mid = ivf_probe_cells_hier(
            qb, k, cb, n_probe=p, n_super_probe=s_mid
        ).select(cols).collect()
        # Python reference over the quantized relations
        import math

        cents = {
            r.cent_id: (list(r.cqvec), r.cn2)
            for r in cb.select("cent_id", "cqvec", "cn2").collect()
        }
        sup_of = {}
        for cid, (cq, cn2) in cents.items():
            if cid < ns:
                sup_of[cid] = cid
            else:
                best = max(
                    (
                        (
                            sum(a * b for a, b in zip(cq, cents[s][0]))
                            / math.sqrt(cn2 * cents[s][1]),
                            -s,
                        )
                        for s in range(ns)
                    )
                )
                sup_of[cid] = -best[1]
        rows = qb.select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
            ).alias("vq"),
        ).collect()
        want_mid = set()
        for r in rows:
            vq = list(r.vq)
            n2 = sum(x * x for x in vq)

            def cos(cid):
                cq, cn2 = cents[cid]
                return sum(a * b for a, b in zip(vq, cq)) / math.sqrt(n2 * cn2)

            top_s = sorted(range(ns), key=lambda s: (-cos(s), s))[:s_mid]
            children = [c for c in cents if sup_of[c] in top_s]
            top_p = sorted(children, key=lambda c: (-cos(c), c))[:p]
            for rank, cid in enumerate(top_p, 1):
                want_mid.add((r.vec_id, rank, cid))
        assert {(r.vec_id, r.probe_rank, r.cell_id) for r in hier_mid} == want_mid
        cb.unpersist()
