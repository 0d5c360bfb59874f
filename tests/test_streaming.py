"""Structured-streaming jobs on a file source (SURVEY.md §2D)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Events re-written (nanos → micros) into a streaming-source dir."""
    path = tmp_path_factory.mktemp("events_stream")
    yield str(path)
    shutil.rmtree(str(path), ignore_errors=True)


def _prepare(spark, events_dir: str):
    from northwind_warehouse_spark.catalog import load

    load(spark, SF_SMOKE, "events").coalesce(1).write.mode("overwrite").parquet(events_dir)


def test_windowed_counts_matches_batch(spark, events_dir, tmp_path):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import (
        run_to_memory, stream_events, windowed_counts,
    )

    _prepare(spark, events_dir)
    stream = windowed_counts(stream_events(spark, events_dir))
    run_to_memory(stream, "wc", str(tmp_path / "ckpt_wc"))
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.table("wc").collect()
    }

    batch = (
        load(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    want = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert got == want
    assert sum(got.values()) == load(spark, SF_SMOKE, "events").count()


def test_ingest_events_to_lake(spark, events_dir, tmp_path):
    """Bronze ingest: all rows land, partitioned by day, exactly-once on rerun."""
    import os

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import ingest_events_to_lake, stream_events

    _prepare(spark, events_dir)
    lake = str(tmp_path / "bronze_events")
    ckpt = str(tmp_path / "ckpt_ingest")
    ingest_events_to_lake(stream_events(spark, events_dir), lake, ckpt)

    want = load(spark, SF_SMOKE, "events").count()
    got = spark.read.parquet(lake).count()
    assert got == want

    days = [d for d in os.listdir(lake) if d.startswith("event_date=")]
    assert len(days) >= 25  # January's days

    # re-running against the same checkpoint must not duplicate rows
    ingest_events_to_lake(stream_events(spark, events_dir), lake, ckpt)
    assert spark.read.parquet(lake).count() == want


def test_dedup_stream_drops_replayed_batch(spark, events_dir, tmp_path):
    """Events written twice into the source dir must come out once."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import dedup_stream, stream_events

    path = str(tmp_path / "dup_src")
    e = load(spark, SF_SMOKE, "events")
    e.coalesce(1).write.mode("overwrite").parquet(path)
    e.coalesce(1).write.mode("append").parquet(path)  # replay → duplicates

    stream = dedup_stream(stream_events(spark, path))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("dedup_out").count() == e.count()


def test_stream_static_enrichment(spark, events_dir, tmp_path):
    from northwind_warehouse_spark.plans.medallion import snapshot_users
    from northwind_warehouse_spark.streaming.jobs import (
        enrich_stream_with_dim, stream_events,
    )

    _prepare(spark, events_dir)
    dim = snapshot_users(spark, SF_SMOKE).select("user_id", "last_event_type")
    enriched = enrich_stream_with_dim(stream_events(spark, events_dir), dim)
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("enriched")
    from northwind_warehouse_spark.catalog import load

    assert out.count() == load(spark, SF_SMOKE, "events").count()
    # every user in the dim must carry a non-default profile
    assert out.filter(F.col("profile_event_type") == "Not Found").count() == 0


def test_scd2_streaming_merge_equals_batch_build(spark, tmp_path):
    """Events split into 4 source files (≈4 micro-batches) folded by the
    streaming SCD2 job must equal the one-shot batch build."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.medallion import scd2_users
    from northwind_warehouse_spark.sources.versioned import VersionedTable
    from northwind_warehouse_spark.streaming.jobs import scd2_streaming_merge

    # micro-batches must respect event-time order for the merge
    # discipline, so split by time quartile into separate files
    e = load(spark, SF_SMOKE, "events")
    src = str(tmp_path / "scd2_src")
    bounds = ["2024-01-08", "2024-01-16", "2024-01-24"]
    slices = [
        e.filter(F.col("ts") < bounds[0]),
        e.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        e.filter((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
        e.filter(F.col("ts") >= bounds[2]),
    ]
    import time

    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mod-times → file source preserves batch order

    lake = str(tmp_path / "lake")
    events = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per slice
        .parquet(src)
    )
    scd2_streaming_merge(events, lake, "dim_users", str(tmp_path / "ckpt"))

    vt = VersionedTable(spark, lake, "dim_users")
    got = sorted(
        (r.user_id, r.version_no, str(r.effective_date), str(r.expiry_date), r.is_active, r.row_hash)
        for r in vt.read().collect()
    )
    want = sorted(
        (r.user_id, r.version_no, str(r.effective_date), str(r.expiry_date), r.is_active, r.row_hash)
        for r in scd2_users(spark, SF_SMOKE).collect()
    )
    assert got == want

    # the sink commits its watermark with the dim, like a batch run
    from datetime import datetime

    from northwind_warehouse_spark.operators.incremental import AuditControl

    wm = vt.versions()[-1]["watermark"]
    assert wm and datetime.fromisoformat(wm) == e.agg(F.max("ts")).collect()[0][0]
    assert AuditControl(spark, f"{lake}/_audit/audit_control").get("dim_users").is_processed


def test_sessionize_stream_runs(spark, events_dir, tmp_path):
    """An availableNow run terminates on its own and emits exactly the
    batch sessions that the final watermark has closed: every session
    followed by a later one of its user, plus each user's last session
    once its end plus the gap falls behind the watermark."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.sessionize import sessionize
    from northwind_warehouse_spark.streaming.jobs import sessionize_stream, stream_events

    gap_s = 1800
    _prepare(spark, events_dir)
    stream = sessionize_stream(
        stream_events(spark, events_dir).select("user_id", "ts"), gap_seconds=gap_s)
    q = (
        stream.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "availableNow sessionizer did not terminate"
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("sess").select(
        "user_id", "session_start", "session_end", "n_events").collect())

    events = load(spark, SF_SMOKE, "events")
    # the watermark's own arithmetic: newest event in epoch ms minus one gap
    final_wm_ms = events.select(F.unix_millis(F.max("ts"))).first()[0] - gap_s * 1000
    sessions = (
        sessionize(events, "user_id", "ts", gap_s)
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
        .withColumn("last_idx", F.max("session_idx").over(Window.partitionBy("user_id")))
    )
    closed = sessions.filter(
        (F.col("session_idx") < F.col("last_idx"))
        | (F.unix_millis("session_end") + gap_s * 1000 < final_wm_ms)
    )
    want = sorted(tuple(r) for r in closed.select(
        "user_id", "session_start", "session_end", "n_events").collect())
    # some last sessions must close by timeout alone, or that path is untested
    assert closed.filter(F.col("session_idx") == F.col("last_idx")).count() > 0
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import (
        join_clicks_to_purchases, run_to_memory, stream_events,
    )

    _prepare(spark, events_dir)
    joined = join_clicks_to_purchases(stream_events(spark, events_dir))
    run_to_memory(joined, "ssjoin", str(tmp_path / "ck"), output_mode="append")
    stream_pairs = {(r.click_id, r.purchase_id) for r in spark.table("ssjoin").collect()}

    e = load(spark, SF_SMOKE, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"))
    batch = c.join(
        p,
        F.expr("c_user = p_user AND purchase_ts >= click_ts "
               "AND purchase_ts <= click_ts + interval 30 minutes"),
    )
    batch_pairs = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert len(batch_pairs) > 0
    assert stream_pairs == batch_pairs


def test_stream_quality_scoring_matches_batch(spark, tmp_path):
    """The map-only quality transform applied to a stream produces
    exactly the batch text_quality result — batch/stream unification."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import quality_metrics
    from northwind_warehouse_spark.streaming.jobs import (
        run_to_memory, score_documents_stream, stream_documents,
    )

    docs_dir = str(tmp_path / "docs_stream")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(docs_dir)
    stream = score_documents_stream(stream_documents(spark, docs_dir))
    run_to_memory(stream, "doc_quality", str(tmp_path / "ckpt_dq"), output_mode="append")
    got = {tuple(r) for r in spark.table("doc_quality").collect()}
    want = {tuple(r) for r in quality_metrics(load(spark, SF_SMOKE, "documents")).collect()}
    assert got == want and len(got) > 0


def test_spike_alerts_stream_matches_batch(spark, events_dir, tmp_path):
    """Streamed hourly spike flags equal the batch computation of the
    same definition (stream-static join against the batch baseline)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import (
        hourly_baseline, run_to_memory, spike_alerts_stream, stream_events,
    )

    _prepare(spark, events_dir)
    batch_events = load(spark, SF_SMOKE, "events")
    baseline = hourly_baseline(batch_events)

    stream = spike_alerts_stream(stream_events(spark, events_dir), baseline)
    run_to_memory(stream, "spikes", str(tmp_path / "ckpt_spikes"))
    got = {
        (r.event_type, r.hour_ts): (r.cnt, r.avg_hourly_cnt, r.is_spike)
        for r in spark.table("spikes").collect()
    }

    want_df = (
        batch_events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(baseline, "event_type")
        .select(
            "event_type", "hour_ts", "cnt", "avg_hourly_cnt",
            F.when(F.col("cnt") > 2 * F.col("avg_hourly_cnt"), F.lit("Y")).otherwise(F.lit("N")).alias("is_spike"),
        )
    )
    want = {
        (r.event_type, r.hour_ts): (r.cnt, r.avg_hourly_cnt, r.is_spike)
        for r in want_df.collect()
    }
    assert got == want and len(got) > 0
    assert any(v[2] == "Y" for v in got.values()) or all(v[2] == "N" for v in got.values())


def test_stream_model_scoring_matches_batch(spark, tmp_path):
    """Batch/stream unification holds for the mapInPandas inference
    stage too: streamed model scores equal the batch run."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.multimodal import model_score_documents
    from northwind_warehouse_spark.streaming.jobs import run_to_memory, stream_documents

    docs_dir = str(tmp_path / "docs_stream_ms")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(docs_dir)
    stream = model_score_documents(stream_documents(spark, docs_dir))
    run_to_memory(stream, "ms", str(tmp_path / "ckpt_ms"), output_mode="append")
    got = {tuple(r) for r in spark.table("ms").collect()}
    want = {tuple(r) for r in model_score_documents(load(spark, SF_SMOKE, "documents")).collect()}
    assert got == want and len(got) > 0


def test_dedup_stream_vs_corpus_matches_batch(spark, tmp_path):
    """Streaming corpus-dedup ≡ the batch anti-join: stream half the
    docs against a corpus containing an overlapping half; only the truly
    novel docs survive."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import (
        dedup_stream_vs_corpus, run_to_memory, stream_documents,
    )

    docs = load(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") < 300)  # reference corpus
    incoming = docs.filter(F.col("doc_id") >= 150)  # overlaps 150..299
    src = str(tmp_path / "incoming")
    incoming.coalesce(1).write.mode("overwrite").parquet(src)

    fps = corpus.select(F.md5(F.col("text")).alias("fingerprint"))
    stream = dedup_stream_vs_corpus(stream_documents(spark, src), fps)
    run_to_memory(stream, "novel_docs", str(tmp_path / "ckpt_dvc"))

    got = {r["doc_id"] for r in spark.table("novel_docs").collect()}
    want = {
        r["doc_id"]
        for r in incoming.join(
            fps.distinct(),
            F.md5(incoming["text"]) == F.col("fingerprint"),
            "left_anti",
        ).collect()
    }
    assert got == want
    # every streamed-out doc is genuinely novel text vs the corpus
    corpus_texts = {r["text"] for r in corpus.collect()}
    survived = {r["text"] for r in spark.table("novel_docs").collect()}
    assert not (survived & corpus_texts)


def test_expectations_quarantine_streams_identically(spark, tmp_path):
    """The write-path expectations gate (operators/expectations.py) is
    two map-only filters, so the SAME rules deployed on the ingest
    stream quarantine exactly the rows the batch gate quarantines —
    batch/stream unification for data quality."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.expectations import apply_expectations
    from northwind_warehouse_spark.streaming.jobs import run_to_memory, stream_documents

    rules = [
        ("lang_known", F.col("lang").isin("en", "de", "es", "fr", "zh")),
        ("text_min_len", F.col("n_chars") >= 600),
    ]
    docs_dir = str(tmp_path / "docs_q_stream")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(docs_dir)

    _, q_stream = apply_expectations(stream_documents(spark, docs_dir), rules)
    run_to_memory(
        q_stream.select("doc_id", "dq_reason"), "doc_quarantine",
        str(tmp_path / "ckpt_q"), output_mode="append",
    )
    got = {tuple(r) for r in spark.table("doc_quarantine").collect()}
    _, q_batch = apply_expectations(load(spark, SF_SMOKE, "documents"), rules)
    want = {tuple(r) for r in q_batch.select("doc_id", "dq_reason").collect()}
    assert got == want and len(got) > 0


def test_kmv_distinct_stream_matches_batch(spark, tmp_path):
    """Bottom-k sketch state folded over 3 arbitrary micro-batches must
    equal the one-shot batch sketch exactly (merge associativity) —
    no watermark involved, state bounded at k hashes per group."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.analytics import sketch_distinct_users
    from northwind_warehouse_spark.sources.versioned import VersionedTable
    from northwind_warehouse_spark.operators import sketch
    from northwind_warehouse_spark.streaming.jobs import kmv_distinct_stream

    e = load(spark, SF_SMOKE, "events")
    src = str(tmp_path / "kmv_src")
    # arbitrary (non-time-ordered) split: sketches don't care about order
    import time

    for m in range(3):
        e.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    lake = str(tmp_path / "lake")
    events = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kmv_distinct_stream(events, lake, "kmv_users", str(tmp_path / "ckpt"))

    vt = VersionedTable(spark, lake, "kmv_users")
    assert len(vt.versions()) == 3  # one immutable fold per micro-batch
    got = {
        r.event_type: r.approx_distinct
        for r in sketch.kmv_estimate(vt.read(), ["event_type"]).collect()
    }
    want = {r.event_type: r.approx_users for r in sketch_distinct_users(spark, SF_SMOKE).collect()}
    assert got == want


def test_admit_stream_token_budget_matches_batch(spark, tmp_path):
    """Streaming token-budget admission ≡ the batch sampler: same
    thresholds, same lottery, same admitted set."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import (
        corpus_sample_token_budget, token_budget_thresholds,
    )
    from northwind_warehouse_spark.streaming.jobs import (
        admit_stream_token_budget, run_to_memory, stream_documents,
    )

    docs = load(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_tb")
    docs.coalesce(1).write.mode("overwrite").parquet(src)

    thr = token_budget_thresholds(docs)
    stream = admit_stream_token_budget(stream_documents(spark, src), thr)
    run_to_memory(stream, "admitted_tb", str(tmp_path / "ckpt_tb"))

    got = {tuple(r) for r in spark.table("admitted_tb").collect()}
    want = {tuple(r) for r in corpus_sample_token_budget(spark, SF_SMOKE).collect()}
    assert got == want and len(got) > 0


def test_winnow_stream_matches_batch(spark, tmp_path):
    """Streaming winnowing digests ≡ the batch fingerprint plan: same
    picks, same XOR digest per document."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import winnow_fingerprint
    from northwind_warehouse_spark.streaming.jobs import (
        run_to_memory, stream_documents, winnow_stream,
    )

    src = str(tmp_path / "docs_winnow")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(src)
    stream = winnow_stream(stream_documents(spark, src))
    run_to_memory(stream, "winnowed", str(tmp_path / "ckpt_winnow"))
    got = {tuple(r) for r in spark.table("winnowed").collect()}
    want = {tuple(r) for r in winnow_fingerprint(spark, SF_SMOKE).collect()}
    assert got == want and len(got) > 0


def test_simhash_stream_matches_batch(spark, tmp_path):
    """Streaming SimHash fingerprints ≡ the batch fingerprint fold —
    possible only because simhash_fp is map-only (the votes fold over
    each row's token array, no explode+groupBy)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.similarity import simhash_fp
    from northwind_warehouse_spark.plans.llm import _SIMHASH_FP_BITS
    from northwind_warehouse_spark.streaming.jobs import (
        run_to_memory, simhash_stream, stream_documents,
    )

    src = str(tmp_path / "docs_simhash")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(src)
    stream = simhash_stream(stream_documents(spark, src))
    run_to_memory(stream, "simhashed", str(tmp_path / "ckpt_simhash"))
    got = {tuple(r) for r in spark.table("simhashed").collect()}
    want = {
        tuple(r)
        for r in simhash_fp(
            load(spark, SF_SMOKE, "documents"), n_bits=_SIMHASH_FP_BITS
        ).collect()
    }
    assert got == want and len(got) > 0


def test_debounce_stream_matches_batch(spark, events_dir, tmp_path):
    """Stateful streaming debounce ≡ the batch lag-window rule: the same
    kept event_ids, computed with one-timestamp-per-key state."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import debounce_stream, stream_events

    _prepare(spark, events_dir)
    stream = debounce_stream(
        stream_events(spark, events_dir).select("event_id", "user_id", "event_type", "ts")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("debounced")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_debounce"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.event_id for r in spark.table("debounced").collect()}

    e = load(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    want = {
        r.event_id
        for r in e.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            F.col("prev_ts").isNull()
            | (F.unix_micros("ts") - F.unix_micros("prev_ts") > F.lit(3_600_000_000))
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_classify_late_stream_matches_batch(spark, tmp_path):
    """Streaming late-data tagging ≡ the batch classification: the
    incoming 20% tail streamed against the loaded batch's 1-row
    watermark yields exactly the batch audit's per-row labels."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import (
        classify_late_stream, run_to_memory, stream_events,
    )

    from northwind_warehouse_spark.plans.medallion import _LATE_LOTTERY

    e = load(spark, SF_SMOKE, "events").select("event_id", "ts", "event_type")
    wm = e.filter(F.expr(f"{_LATE_LOTTERY} < 800000")).agg(F.max("ts").alias("wm_ts"))
    incoming = e.filter(F.expr(f"{_LATE_LOTTERY} >= 800000"))
    src = str(tmp_path / "late_incoming")
    incoming.coalesce(1).write.mode("overwrite").parquet(src)

    stream = classify_late_stream(stream_events(spark, src), wm)
    run_to_memory(stream, "late_tagged", str(tmp_path / "ckpt_late"))

    got = {tuple(r) for r in spark.table("late_tagged").collect()}
    want = {
        tuple(r)
        for r in classify_late_stream(incoming, wm).collect()
    }
    assert got == want and len(got) > 0
    # the lottery split guarantees genuinely late rows (the loaded 80%
    # reaches the end of the time range, so most incoming rows precede it)
    assert any(r[3] for r in got)


def test_quality_band_stream_matches_batch(spark, tmp_path):
    """Streaming head/middle/tail banding with batch-published bounds ≡
    applying the same bounds in batch — the threshold-deployment
    invariant (rank terciles are corpus-relative; the stream applies
    the published numeric bounds)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import (
        quality_band_stream, run_to_memory, stream_documents,
    )

    docs = load(spark, SF_SMOKE, "documents")
    scored = docs.withColumn(
        "score_q",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("score|"), F.col("text"))), 1, 8), 16, 10)
            .cast("long") % 1000000
        ),
    )
    # batch-side bounds: min score of the top third / top two thirds per source
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.desc("score_q"), "doc_id")
    ranked = scored.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n_src", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    bounds = ranked.groupBy("source").agg(
        F.min(F.when(F.expr("3 * (rnk - 1) div n_src = 0"), F.col("score_q"))).alias("head_min"),
        F.min(F.when(F.expr("3 * (rnk - 1) div n_src <= 1"), F.col("score_q"))).alias("middle_min"),
    )
    src = str(tmp_path / "qband_docs")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = quality_band_stream(stream_documents(spark, src), bounds)
    run_to_memory(stream, "qband", str(tmp_path / "ckpt_qband"))

    got = {tuple(r) for r in spark.table("qband").collect()}
    want = {tuple(r) for r in quality_band_stream(docs, bounds).collect()}
    assert got == want and len(got) > 0
    bands = {r[3] for r in got}
    assert bands == {"head", "middle", "tail"}


def test_fk_orphan_stream_matches_batch(spark, tmp_path):
    """Streaming FK quarantine ≡ the batch anti-join: orders streamed
    against a customer dim missing half its keys quarantine exactly the
    batch-computed orphans."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.streaming.jobs import fk_orphan_stream, run_to_memory

    orders = load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    half_dim = load(spark, SF_SMOKE, "customer").filter(F.col("c_custkey") % 2 == 0)
    src = str(tmp_path / "fk_orders")
    orders.coalesce(1).write.mode("overwrite").parquet(src)
    stream_orders = (
        spark.readStream.schema(orders.schema).parquet(src)
    )
    stream = fk_orphan_stream(stream_orders, half_dim)
    run_to_memory(stream, "fk_orphans", str(tmp_path / "ckpt_fko"), output_mode="append")

    got = {r["o_orderkey"] for r in spark.table("fk_orphans").collect()}
    want = {r["o_orderkey"] for r in fk_orphan_stream(orders, half_dim).collect()}
    assert got == want and len(got) > 0


def test_charset_profile_stream_matches_batch(spark, tmp_path):
    """Streaming charset counts ≡ the batch per-doc transform — the
    map-only batch/stream-unification property, asserted per row."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import charset_counts
    from northwind_warehouse_spark.streaming.jobs import (
        charset_profile_stream, run_to_memory, stream_documents,
    )

    src = str(tmp_path / "docs_charset")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(src)
    stream = charset_profile_stream(stream_documents(spark, src))
    run_to_memory(stream, "charsetted", str(tmp_path / "ckpt_charset"))
    got = {tuple(r) for r in spark.table("charsetted").collect()}
    want = {tuple(r) for r in charset_counts(load(spark, SF_SMOKE, "documents")).collect()}
    assert got == want and len(got) > 0


def test_audio_segment_stream_matches_batch(spark, tmp_path):
    """Streaming audio segmentation ≡ the batch mapInPandas fan-out:
    identical (doc, segment, energy, digest) rows from both modes."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators.multimodal import (
        documents_as_binary, segment_audio,
    )
    from northwind_warehouse_spark.streaming.jobs import (
        audio_segment_stream, run_to_memory, stream_documents,
    )

    src = str(tmp_path / "docs_audio")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(src)
    stream = audio_segment_stream(stream_documents(spark, src))
    run_to_memory(stream, "audio_segs", str(tmp_path / "ckpt_audio"))
    got = {tuple(r) for r in spark.table("audio_segs").collect()}
    want = {
        tuple(r)
        for r in segment_audio(
            documents_as_binary(load(spark, SF_SMOKE, "documents"))
        ).collect()
    }
    assert got == want and len(got) > 0


def test_sft_pair_stream_matches_batch(spark, tmp_path):
    """Streaming SFT pair synthesis ≡ the batch manifest columns."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import sft_pair_manifest
    from northwind_warehouse_spark.streaming.jobs import (
        run_to_memory, sft_pair_stream, stream_documents,
    )

    src = str(tmp_path / "docs_sft")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(src)
    stream = sft_pair_stream(stream_documents(spark, src))
    run_to_memory(stream, "sft_pairs", str(tmp_path / "ckpt_sft"))
    got = {tuple(r) for r in spark.table("sft_pairs").collect()}
    want = {
        tuple(r)
        for r in sft_pair_manifest(spark, SF_SMOKE)
        .select("doc_id", "prompt_tokens", "completion_tokens", "prompt_md5", "completion_md5")
        .collect()
    }
    assert got == want and len(got) > 0


def test_span_corruption_stream_matches_batch(spark, tmp_path):
    """Streaming span corruption ≡ the batch masking manifest."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.plans.llm import span_corruption_manifest
    from northwind_warehouse_spark.streaming.jobs import (
        run_to_memory, span_corruption_stream, stream_documents,
    )

    src = str(tmp_path / "docs_span")
    load(spark, SF_SMOKE, "documents").coalesce(1).write.mode("overwrite").parquet(src)
    stream = span_corruption_stream(stream_documents(spark, src))
    run_to_memory(stream, "span_rows", str(tmp_path / "ckpt_span"))
    got = {tuple(r) for r in spark.table("span_rows").collect()}
    want = {
        tuple(r)
        for r in span_corruption_manifest(spark, SF_SMOKE)
        .select("doc_id", "n_tokens", "n_masked", "corrupted_md5")
        .collect()
    }
    assert got == want and len(got) > 0


def test_ivf_pq_ingest_stream_matches_batch_index(spark, tmp_path):
    """Streaming vector-ingest indexing ≡ the batch index build
    (round-7 verdict #6): embeddings streamed through
    ivf_pq_ingest_stream against the static TRAINED coarse codebook +
    PQ codebook must produce exactly the (vec_id, cell_id, codes) rows
    of ivf_assign_two_level ∘ pq_encode on the same vectors — the
    map-only packed-children reformulation is route-, tie- and
    arithmetic-identical to the batch shuffle-argmax operator."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators import similarity as sim
    from northwind_warehouse_spark.streaming.jobs import (
        ivf_pq_ingest_stream, run_to_memory,
    )

    e = load(spark, SF_SMOKE, "embeddings")
    k = 16
    cb = sim.ivf_train_codebook(e, n_centroids=k)
    pqcb = sim.pq_codebook(e)

    batch = sim.pq_encode(
        sim.ivf_assign_two_level(e, n_centroids=k, centroids=cb),
        pqcb, extra_cols=("cell_id",),
    )
    want = {
        (r.vec_id, r.cell_id, tuple(r.codes))
        for r in batch.select("vec_id", "cell_id", "codes").collect()
    }

    src = str(tmp_path / "vec_ingest")
    e.coalesce(1).write.mode("overwrite").parquet(src)
    incoming = spark.readStream.schema(e.schema).parquet(src)
    stream = ivf_pq_ingest_stream(incoming, k, cb, pqcb)
    assert stream.isStreaming
    run_to_memory(stream, "ivfpq_ingest", str(tmp_path / "ckpt_ivfpq"))
    got = {
        (r.vec_id, r.cell_id, tuple(r.codes))
        for r in spark.table("ivfpq_ingest").collect()
    }
    assert got == want and len(got) > 0


def test_ivf_assign_stream_equals_batch_two_level(spark):
    """The packed-children streaming reformulation run in BATCH mode is
    bit-identical to ivf_assign_two_level — same route, ties and
    arithmetic, only the argmax's physical shape differs (in-row over
    the packed array vs shuffle groupBy)."""
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators import similarity as sim

    e = load(spark, SF_SMOKE, "embeddings")
    for k in (8, 16):
        cb = sim.ivf_train_codebook(e, n_centroids=k)
        want = {
            (r.vec_id, r.cell_id)
            for r in sim.ivf_assign_two_level(e, n_centroids=k, centroids=cb).collect()
        }
        got = {
            (r.vec_id, r.cell_id)
            for r in sim.ivf_assign_stream(e, k, cb).collect()
        }
        assert got == want and len(got) > 0, f"k={k}"


def test_ivf_pq_index_maintain_stream_equals_rebuild(spark, tmp_path):
    """Maintained ≡ rebuilt (round-8 verdict #3): streaming new vectors
    into the STORED bucketed index through ivf_pq_index_maintain_stream
    must leave the table row-equal to a full batch rebuild over
    old ∪ new under the same FROZEN codebooks — and the appends must
    not break the bucketing contract (cell-grain aggregate still plans
    ZERO Exchange)."""
    from pyspark.sql import functions as F

    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.operators import similarity as sim
    from northwind_warehouse_spark.sources.bucketing import write_bucketed
    from northwind_warehouse_spark.streaming.jobs import ivf_pq_index_maintain_stream

    e = load(spark, SF_SMOKE, "embeddings")
    old, new = e.filter(F.col("vec_id") < 70), e.filter(F.col("vec_id") >= 70)
    k = 16
    # the FROZEN quantizer: trained at the last full refresh (old corpus)
    cb = sim.ivf_train_codebook(old, n_centroids=k)
    pqcb = sim.pq_codebook(old)

    def build(corpus):
        return sim.pq_encode(
            sim.ivf_assign_two_level(corpus, n_centroids=k, centroids=cb),
            pqcb, extra_cols=("cell_id",),
        ).select("vec_id", "cell_id", "codes")

    table = "ivfpq_maintained_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed(
        build(old), table, ["cell_id"], n_buckets=8,
        sort_cols=["cell_id", "vec_id"], path=str(tmp_path / "idx"),
    )

    src = str(tmp_path / "vec_stream")
    new.coalesce(1).write.mode("overwrite").parquet(src)
    incoming = spark.readStream.schema(e.schema).parquet(src)
    ivf_pq_index_maintain_stream(
        incoming, k, cb, pqcb, table, str(tmp_path / "ckpt_maint"), n_buckets=8
    )

    maintained = {
        (r.vec_id, r.cell_id, tuple(r.codes))
        for r in spark.table(table).collect()
    }
    rebuilt = {
        (r.vec_id, r.cell_id, tuple(r.codes)) for r in build(e).collect()
    }
    assert maintained == rebuilt and len(maintained) > len(
        {(r.vec_id,) for r in old.select("vec_id").collect()}
    ) // 2

    # the appended files keep the bucket contract: cell-grain
    # maintenance over the maintained table still plans zero Exchange
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = spark.table(table).groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
