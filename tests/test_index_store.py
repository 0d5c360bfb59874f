"""Cross-session index-artifact lifecycle (round-8 verdict #1/#2,
round-10 verdict #1-#5).

The stored IVF-PQ index, trained coarse codebook and PQ codebook are
artifacts of a CORPUS VERSION: built by whichever session first sees a
corpus (occupancy-scaled two-level assignment, recall-GATED before it
commits), adopted — with zero build jobs — by every later session,
maintained from the ingest stream as GENERATIONS, and compacted or
superseded by the next commit on the artifact's versioned-table log,
whose vacuum keeps a superseded version through its grace.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF_SMOKE = "/root/testdata/sf0.001"

# Runs ann_ivfpq_from_index in a FRESH process with instrumented
# builders; prints the build-call counts and the full result rows.
# The artifact root arrives via $SPARK_GRAFT_INDEX_ROOT — the round-10
# parameterization (verdict #4): no module-attribute surgery, the env
# var is the production configuration surface.
_SESSION_SCRIPT = r"""
import json, sys
sf_dir = sys.argv[1]
import northwind_warehouse_spark.operators.similarity as sim
import northwind_warehouse_spark.plans.llm as L
calls = {"train": 0, "pq_codebook": 0, "pq_encode": 0}
_train, _pqcb, _enc = sim.ivf_train_codebook, sim.pq_codebook, sim.pq_encode
sim.ivf_train_codebook = lambda *a, **k: (calls.__setitem__("train", calls["train"] + 1), _train(*a, **k))[1]
sim.pq_codebook = lambda *a, **k: (calls.__setitem__("pq_codebook", calls["pq_codebook"] + 1), _pqcb(*a, **k))[1]
sim.pq_encode = lambda *a, **k: (calls.__setitem__("pq_encode", calls["pq_encode"] + 1), _enc(*a, **k))[1]
from northwind_warehouse_spark.session import get_spark
spark = get_spark("nws-xsession", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
df = L.ann_ivfpq_from_index(spark, sf_dir)
rows = [[r.query_id, r.cell_id, r.neighbor_id, r.adist, r.nn_rank] for r in df.collect()]
print("RESULT::" + json.dumps({"calls": calls, "rows": rows, "root": L._INDEX_ROOT}))
spark.stop()
"""


def _run_session(sf_dir: str, index_root: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=index_root)
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_SCRIPT, sf_dir],
        cwd=REPO, capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, f"session failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT::"))
    return json.loads(line[len("RESULT::"):])


@pytest.mark.slow
def test_second_session_adopts_index_with_zero_build_jobs(tmp_path):
    """Round-8 verdict #1 'done' criterion: session 1 builds and
    publishes (trains exactly once, encodes exactly once); session 2 —
    a FRESH process, empty catalog — serves the same corpus with ZERO
    builder invocations (no training, no PQ-codebook scan, no corpus
    encode) and byte-identical results, because it adopts the stored
    artifacts by identity. Both sessions take the artifact root
    from $SPARK_GRAFT_INDEX_ROOT (round-10 verdict #4), proving the
    parameterized root end to end."""
    root = str(tmp_path / "idx_root")
    first = _run_session(SF_SMOKE, root)
    assert first["calls"] == {"train": 1, "pq_codebook": 1, "pq_encode": 1}, first["calls"]
    assert len(first["rows"]) > 0
    assert first["root"] == root
    # artifacts really landed under the parameterized root
    assert (tmp_path / "idx_root" / "nws_ivfpq_index").is_dir()
    assert (tmp_path / "idx_root" / "nws_ivf_cb").is_dir()

    second = _run_session(SF_SMOKE, root)
    assert second["calls"] == {"train": 0, "pq_codebook": 0, "pq_encode": 0}, (
        "second session re-ran index builders instead of adopting: "
        f"{second['calls']}"
    )
    assert second["rows"] == first["rows"]


def _write_corpus(dst_dir: Path, max_vec_id: int | None = None) -> str:
    import duckdb

    dst_dir.mkdir(parents=True, exist_ok=True)
    pred = "" if max_vec_id is None else f"WHERE vec_id < {max_vec_id}"
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{SF_SMOKE}/embeddings.parquet') {pred}) "
        f"TO '{dst_dir}/embeddings.parquet' (FORMAT PARQUET)"
    )
    return str(dst_dir)


def _patch_roots(monkeypatch, tmp_path) -> None:
    import northwind_warehouse_spark.plans.llm as L

    monkeypatch.setattr(L, "_IVF_CB_ROOT", str(tmp_path / "cb"))
    monkeypatch.setattr(L, "_PQ_CB_ROOT", str(tmp_path / "pq"))
    monkeypatch.setattr(L, "_IVFPQ_ROOT", str(tmp_path / "idx"))


def test_gate_eval_ids_are_non_seed(tmp_path):
    """Round 12: the publish gate's eval batch must avoid the codebook
    SEEDS (the first k vec_ids — a seed query sits at the center of
    its own cell/super and grades the index at its optimistic end).
    [k, k+10) for any normally-sized corpus; a corpus too small for
    10 non-seed ids falls back toward the tail of its id range
    instead of crashing or silently evaluating zero queries."""
    import northwind_warehouse_spark.plans.llm as L

    sf = _write_corpus(tmp_path / "corpus", max_vec_id=50)
    k, _ = L._ivfpq_params(sf)
    lo, hi = L._gate_eval_ids(sf, k)
    assert (lo, hi) == (k, k + 10)  # first 10 non-seed ids
    assert lo >= k  # no seed id in the batch

    tiny = _write_corpus(tmp_path / "tiny", max_vec_id=12)
    k2, _ = L._ivfpq_params(tiny)
    lo2, hi2 = L._gate_eval_ids(tiny, k2)
    assert hi2 - lo2 == 10 and lo2 == 2  # tail fallback: ids [2, 12)
    assert hi2 <= 12  # every eval id exists in the corpus
    # r13 (r12 advice): the tail fallback overlaps [0, k2) — sub-(k+10)
    # corpora are knowingly gated partly on seeds (documented in the
    # docstring), but a corpus with < 2 rows has NO (query, neighbor)
    # pair — recall is undefined and the gate must refuse, not
    # divide by zero inside _publish_recall_gate.
    assert lo2 < k2  # the documented seed-overlap regime is real here
    import pytest as _pytest

    one = _write_corpus(tmp_path / "one", max_vec_id=1)
    with _pytest.raises(L.IndexRecallGateError, match="ungradable"):
        L._gate_eval_ids(one, 8)
    empty = _write_corpus(tmp_path / "empty", max_vec_id=0)
    with _pytest.raises(L.IndexRecallGateError, match="ungradable"):
        L._gate_eval_ids(empty, 8)


def _index_table(idx_root: str, corpus_path: str):
    from northwind_warehouse_spark.sources import index_store

    return index_store.table(None, idx_root, corpus_path)


def _hours(h: float):
    return datetime.now(timezone.utc) + timedelta(hours=h)


def test_corpus_rewrite_vacuums_superseded_artifacts(spark, tmp_path, monkeypatch):
    """Round-8 verdict #2 (+ round-10 #2 retention grace): rewriting
    the corpus must (a) serve a NEW index version of the new identity,
    (b) drop the superseded catalog table while vacuum RETAINS its files
    through the grace period, and (c) unpersist + evict the stale
    trained-codebook handle instead of leaking its pinned lineage."""
    import northwind_warehouse_spark.plans.llm as L
    from northwind_warehouse_spark.sources import index_store

    _patch_roots(monkeypatch, tmp_path)
    sf_dir = _write_corpus(tmp_path / "corpus")
    rows1 = L.ann_ivfpq_from_index(spark, sf_dir).collect()
    assert rows1

    vt = _index_table(str(tmp_path / "idx"), f"{sf_dir}/embeddings.parquet")
    [v0] = vt.versions()
    _, table1 = L._ivfpq_table(spark, sf_dir)
    k1, _ = L._ivfpq_params(sf_dir)
    cb1 = L._trained_cb(spark, sf_dir, k1)
    assert cb1.storageLevel.useMemory

    # corpus refresh: fewer rows -> new (mtime, size) -> new identity
    _write_corpus(tmp_path / "corpus", max_vec_id=50)
    rows2 = L.ann_ivfpq_from_index(spark, sf_dir).collect()
    assert rows2 and rows2 != rows1  # the rebuilt index reflects the rewrite

    _, v1 = vt.versions()
    assert v1["identity"] == L._ivfpq_identity_tag(sf_dir) != v0["identity"]
    assert not spark.catalog.tableExists(table1), "superseded catalog table leaked"
    # retention grace: superseded a moment ago, so a reader that
    # resolved v0 may still be scanning it
    assert vt.vacuum(older_than=_hours(-1)) == []
    assert os.path.isdir(v0["path"]), "superseded index must stay servable through the grace"
    assert vt.vacuum(older_than=_hours(0.01)) == [0]
    assert not os.path.exists(v0["path"]) and os.path.isdir(v1["path"])
    # a fresh corpus version starts un-maintained
    assert index_store.generation(vt.latest()) == 0
    # stale codebook handle: unpersisted and evicted from the cache
    assert not cb1.storageLevel.useMemory, "stale trained-codebook still pinned"
    assert not any(df is cb1 for _, _, df in L._STORED_ARTIFACTS.values()), (
        "stale trained-codebook entry not evicted"
    )
    # cleanup: drop the served table so later tests see a clean catalog
    spark.sql(f"DROP TABLE IF EXISTS {L._ivfpq_table(spark, sf_dir)[1]}")


def test_vacuum_is_manifest_first_with_retention_grace(spark, tmp_path, monkeypatch):
    """An artifact's log is its manifest. Vacuum keeps a superseded
    version through the grace, counted from the commit that superseded
    it, and never the latest. It drops a version's log entry before its
    files: a vacuum that dies in between leaves unreferenced files that
    a later vacuum collects, never an entry without its data."""
    import shutil

    from northwind_warehouse_spark.sources import index_store, versioned

    vt = index_store.table(spark, str(tmp_path / "store"), "corpus")
    t1 = index_store.publish(vt, "t1", lambda: spark.range(3))
    t2 = index_store.publish(vt, "t2", lambda: spark.range(5))
    # t1 was the latest until t2 committed, so no grace counted from
    # then has passed, however old t1's own commit is
    superseded_at = datetime.fromisoformat(t2["committed_at"])
    assert vt.vacuum(older_than=superseded_at) == [], "collected inside its grace"
    assert vt.read(t1["version"]).count() == 3

    def crash(path, ignore_errors=False):
        raise OSError("crash between the entry and its data")

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", crash)
        with pytest.raises(OSError):
            vt.vacuum(older_than=_hours(0.01))
    assert vt.versions() == [t2] and os.path.isdir(t1["path"])
    old = time.time() - versioned.ORPHAN_AGE_S - 1
    os.utime(t1["path"], (old, old))
    assert vt.vacuum(older_than=_hours(1)) == []  # the latest is never dropped
    assert not os.path.exists(t1["path"])
    assert vt.read().count() == 5


def test_publish_parquet_is_atomic_and_idempotent(spark, tmp_path):
    """``publish`` writes a plain parquet artifact by default. A second
    publish of the served identity builds nothing, and a build or a
    write that fails commits nothing: the entry is the only commit
    point, so a half-written directory is never served."""
    from northwind_warehouse_spark.sources import index_store

    vt = index_store.table(spark, str(tmp_path / "store"), "key")
    entry = index_store.publish(vt, "ident", lambda: spark.range(0, 10).selectExpr("id AS vec_id"))
    assert index_store.publish(vt, "ident", lambda: pytest.fail("rebuilt a stored identity")) == entry
    assert vt.read(entry["version"]).count() == 10

    def fail_build():
        raise RuntimeError("build failed")

    def half_write(df, path):
        df.write.parquet(path)
        raise RuntimeError("died after writing")

    with pytest.raises(RuntimeError, match="build failed"):
        index_store.publish(vt, "next", fail_build)
    with pytest.raises(RuntimeError, match="died after writing"):
        index_store.publish(vt, "next", lambda: spark.range(99), half_write)
    assert vt.versions() == [entry]
    assert index_store.publish(vt, "ident", lambda: pytest.fail("rebuilt")) == entry


# Publishes one identity from a fresh process. Both processes build
# before either commits (a file barrier), so their commits race for the
# same version id; each builds rows naming itself, so the rows show
# whose version a process serves.
_PUBLISH_SCRIPT = r"""
import json, os, sys, time
from northwind_warehouse_spark.session import get_spark
from northwind_warehouse_spark.sources import index_store
root, me, barrier = sys.argv[1:4]
spark = get_spark(f"nws-publish-{me}", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
vt = index_store.table(spark, root, "corpus|k=8")

def build():
    open(os.path.join(barrier, me), "w").close()
    deadline = time.time() + 300
    while len(os.listdir(barrier)) < 2 and time.time() < deadline:
        time.sleep(0.05)
    return spark.range(20).selectExpr("id AS vec_id", f"'{me}' AS builder")

entry = index_store.publish(vt, "same-identity", build)
rows = sorted(map(list, vt.read(entry["version"]).collect()))
print("RESULT::" + json.dumps({"path": entry["path"], "rows": rows}))
spark.stop()
"""


def test_concurrent_publishers_of_one_identity_commit_once(tmp_path):
    """Two processes publish the same identity at once. Exactly one
    version commits, the loser's writer directory is removed, and both
    serve the winner's rows from the committed directory."""
    import glob

    root, barrier = str(tmp_path / "store"), tmp_path / "barrier"
    barrier.mkdir()
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _PUBLISH_SCRIPT, root, f"p{i}", str(barrier)],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for i in range(2)
    ]
    results = []
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, err[-2000:]
        line = next(l for l in out.splitlines() if l.startswith("RESULT::"))
        results.append(json.loads(line[len("RESULT::"):]))

    [entry] = _index_table(root, "corpus|k=8").versions()
    assert [r["path"] for r in results] == [entry["path"]] * 2
    assert results[0]["rows"] == results[1]["rows"]
    assert len({builder for _, builder in results[0]["rows"]}) == 1
    assert glob.glob(os.path.join(os.path.dirname(entry["path"]), "*")) == [entry["path"]]


def _append_generation(spark, table: str, gen: int, n_buckets: int, rows_df) -> None:
    (
        rows_df.write.mode("append").format("parquet")
        .partitionBy("gen")
        .bucketBy(n_buckets, "cell_id")
        .sortBy("cell_id", "vec_id")
        .saveAsTable(table)
    )


def _fragment(spark, sf_dir: str) -> None:
    """Append two one-row files to one bucket of generation 1 of the
    stored index, so a compaction has a rewrite to do: an index that
    already holds one file per (generation, bucket) compacts to no new
    version."""
    from pyspark.sql import functions as F

    import northwind_warehouse_spark.plans.llm as L

    _, table = L._ivfpq_table(spark, sf_dir)
    _, nb = L._ivfpq_params(sf_dir)
    one = spark.table(table).limit(1)
    for i in (1, 2):
        _append_generation(spark, table, 1, nb, one.select(
            (F.col("vec_id") + F.lit(1_000_000 * i)).alias("vec_id"), "cell_id", "codes",
            F.lit(1).alias("gen")))


def test_compaction_restores_one_file_per_bucket(spark, tmp_path, monkeypatch):
    """The OPTIMIZE step of the maintenance story: streaming appends
    leave one file per (micro-batch, bucket); compact_bucketed_table
    must rewrite the stored index to ONE file per (generation, bucket)
    — committed as the NEXT version of the same identity (round-10
    verdict #2: no in-place directory swap) — with rows, generations,
    serving results, and the zero-Exchange bucket contract all
    preserved. Compacting it again commits nothing."""
    from pyspark.sql import functions as F

    import northwind_warehouse_spark.plans.llm as L

    _patch_roots(monkeypatch, tmp_path)
    sf_dir = _write_corpus(tmp_path / "corpus")
    vt = _index_table(str(tmp_path / "idx"), f"{sf_dir}/embeddings.parquet")

    rows_before_appends = L.ann_ivfpq_from_index(spark, sf_dir).collect()
    _, table = L._ivfpq_table(spark, sf_dir)
    _, nb = L._ivfpq_params(sf_dir)

    # simulate streaming maintenance residue: several tiny bucketed
    # appends of already-indexed-shape rows with UNSEEN vec_ids, in a
    # maintained generation (gen=1) exactly as the maintain stream
    # writes them
    base = spark.table(table)
    n0 = base.count()
    for i in range(8):
        _append_generation(
            spark, table, 1, nb,
            base.limit(5).select(
                (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias("vec_id"),
                "cell_id", "codes", F.lit(1).alias("gen"),
            ),
        )
    want_rows = {
        (r.vec_id, r.cell_id, tuple(r.codes), r.gen)
        for r in spark.table(table).collect()
    }
    assert len(want_rows) == n0 + 40

    stats = L.ivfpq_compact_index(spark, sf_dir)
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["files_after"] <= 2 * nb, stats  # one file per (gen, bucket)
    assert stats["old_table"] == table
    new_table = stats["new_table"]
    assert new_table != table

    # the rewrite is the next version of the same identity, never an
    # in-place rewrite: old table dropped, new one served; the old
    # files stay for vacuum's grace (a concurrent adopted reader must
    # never lose its directory mid-scan)
    v0, v1 = vt.versions()
    assert v0["identity"] == v1["identity"]
    assert L._ivfpq_table(spark, sf_dir)[1] == new_table
    assert not spark.catalog.tableExists(table)
    assert vt.vacuum(older_than=_hours(-1)) == [] and os.path.isdir(v0["path"])
    assert vt.vacuum(older_than=_hours(0.01)) == [0] and not os.path.exists(v0["path"])
    got_rows = {
        (r.vec_id, r.cell_id, tuple(r.codes), r.gen)
        for r in spark.table(new_table).collect()
    }
    assert got_rows == want_rows

    # compacting a compacted index adds no version and serves the same table
    again = L.ivfpq_compact_index(spark, sf_dir)
    assert again["old_table"] == again["new_table"] == new_table
    assert again["files_before"] == again["files_after"] == stats["files_after"]
    assert [v["version"] for v in vt.versions()] == [1]

    # bucket contract survives the rewrite: zero-Exchange cell-grain agg
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = spark.table(new_table).groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
        agg.collect()
        assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # registered serving is gen-0 by contract: appended vec_ids are in
    # gen=1, so the query output is EXACTLY what it was before appends
    rows_after = L.ann_ivfpq_from_index(spark, sf_dir).collect()
    assert rows_after == rows_before_appends
    spark.sql(f"DROP TABLE IF EXISTS {new_table}")


def test_compaction_crash_windows_leave_servable_index(spark, tmp_path, monkeypatch):
    """Round-9/10 verdict #2 'done' criterion: a compaction that dies at
    its log link, after writing, leaves the old version fully served
    and its own files an unreferenced writer directory that vacuum
    collects once old; a compaction that commits serves the new
    version while the old one stays complete until vacuum's grace has
    passed — never an entry pointing at a missing or half-written
    directory, never a directory vanishing under a concurrent adopted
    reader."""
    import glob

    import northwind_warehouse_spark.plans.llm as L
    from northwind_warehouse_spark.sources import versioned

    _patch_roots(monkeypatch, tmp_path)
    sf_dir = _write_corpus(tmp_path / "corpus")
    vt = _index_table(str(tmp_path / "idx"), f"{sf_dir}/embeddings.parquet")

    rows0 = L.ann_ivfpq_from_index(spark, sf_dir).collect()
    [v0] = vt.versions()
    _fragment(spark, sf_dir)

    def crash(*args, **kwargs):
        raise OSError("injected crash at the log link")

    with monkeypatch.context() as m:
        m.setattr(os, "link", crash)
        with pytest.raises(OSError, match="injected crash"):
            L.ivfpq_compact_index(spark, sf_dir)
    assert vt.versions() == [v0]
    assert L.ann_ivfpq_from_index(spark, sf_dir).collect() == rows0
    [orphan] = glob.glob(os.path.join(vt.dir, "v=1", "*"))
    old = time.time() - versioned.ORPHAN_AGE_S - 1
    os.utime(orphan, (old, old))
    assert vt.vacuum() == [] and not os.path.exists(orphan)

    L.ivfpq_compact_index(spark, sf_dir)
    _, v1 = vt.versions()
    assert L.ann_ivfpq_from_index(spark, sf_dir).collect() == rows0
    superseded_at = datetime.fromisoformat(v1["committed_at"])
    assert vt.vacuum(older_than=superseded_at) == [] and os.path.isdir(v0["path"]), (
        "the grace must count from the supersession, not from the publish"
    )
    assert vt.vacuum(older_than=_hours(0.01)) == [0] and os.path.isdir(v1["path"])
    spark.sql(f"DROP TABLE IF EXISTS {L._ivfpq_table(spark, sf_dir)[1]}")


def test_concurrent_reader_of_superseded_tag_survives_vacuum(spark, tmp_path, monkeypatch):
    """Round-10 verdict #2 'done' criterion, two sessions: a reader
    process resolves the index's latest version, then the writer
    compacts (committing the next version) and vacuums, and ONLY THEN
    does the reader scan the directory it resolved — the scan must
    succeed, because vacuum ages a version from its supersession and
    keeps it through the grace. Once the grace has passed, vacuum
    collects it."""
    import northwind_warehouse_spark.plans.llm as L

    _patch_roots(monkeypatch, tmp_path)
    sf_dir = _write_corpus(tmp_path / "corpus")
    idx_root = str(tmp_path / "idx")
    corpus_path = f"{sf_dir}/embeddings.parquet"
    vt = _index_table(idx_root, corpus_path)

    L.ann_ivfpq_from_index(spark, sf_dir).collect()  # build + commit
    [v0] = vt.versions()
    _fragment(spark, sf_dir)

    flags = tmp_path / "flags"
    flags.mkdir()
    reader_script = (
        "import os, sys, time\n"
        "import duckdb\n"
        "from northwind_warehouse_spark.sources import index_store\n"
        "idx_root, key, flags = sys.argv[1], sys.argv[2], sys.argv[3]\n"
        "adopted_dir = index_store.table(None, idx_root, key).latest()['path']\n"
        # atomic flag write: the parent polls for this file's EXISTENCE,
        # and a plain open(...).write() creates it before the buffered
        # content is flushed at close — under suite load the parent can
        # read an empty string (observed r13). Write-then-rename closes
        # that window.
        "with open(os.path.join(flags, 'adopted.tmp'), 'w') as fh:\n"
        "    fh.write(adopted_dir)\n"
        "os.replace(os.path.join(flags, 'adopted.tmp'), os.path.join(flags, 'adopted'))\n"
        "for _ in range(600):\n"
        "    if os.path.exists(os.path.join(flags, 'vacuumed')):\n"
        "        break\n"
        "    time.sleep(0.1)\n"
        "else:\n"
        "    raise SystemExit('writer never vacuumed')\n"
        "n = duckdb.sql(\n"
        "    f\"SELECT count(*) FROM read_parquet('{adopted_dir}/**/*.parquet')\"\n"
        ").fetchone()[0]\n"
        "print(f'READER::{adopted_dir}::{n}')\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", reader_script, idx_root, corpus_path, str(flags)],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        for _ in range(600):
            if (flags / "adopted").exists():
                break
            time.sleep(0.1)
        else:
            pytest.fail("reader never resolved a version")
        assert (flags / "adopted").read_text() == v0["path"]

        # writer: compact → next version committed, then vacuum with a
        # grace counted from that commit; the reader resolved v0 before it
        L.ivfpq_compact_index(spark, sf_dir)
        superseded_at = datetime.fromisoformat(vt.latest()["committed_at"])
        assert vt.vacuum(older_than=superseded_at) == []
        (flags / "vacuumed").touch()

        stdout, stderr = proc.communicate(timeout=120)
        assert proc.returncode == 0, f"reader died:\n{stdout[-2000:]}\n{stderr[-2000:]}"
        line = next(l for l in stdout.splitlines() if l.startswith("READER::"))
        _, read_dir, n_rows = line.split("::")
        assert read_dir == v0["path"] and int(n_rows) > 0, (
            "reader's post-vacuum scan of the superseded version failed"
        )
    finally:
        if proc.poll() is None:
            proc.kill()

    # once the grace has passed, the superseded version is collectable
    assert vt.vacuum(older_than=_hours(0.01)) == [0]
    assert not os.path.exists(v0["path"])
    spark.sql(f"DROP TABLE IF EXISTS {L._ivfpq_table(spark, sf_dir)[1]}")


def test_maintenance_is_a_generation_and_registered_serving_stays_build_identical(
    spark, tmp_path, monkeypatch
):
    """Round-10 verdict #3 'done' criterion, against the PRODUCTION
    root layout (tmp-monkeypatched roots, same code path): a
    maintain-stream run must (a) append a new GENERATION, (b) land
    its appends in the gen=<N> partition so the maintained view serves
    them, and (c) leave the REGISTERED serving query oracle-green —
    the stored version's gen-0 content remains exactly build(corpus
    file), which is what the DuckDB oracle computes."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    import northwind_warehouse_spark.plans.llm as L
    from northwind_warehouse_spark.catalog import load
    from northwind_warehouse_spark.sources import index_store
    from tests.oracle_util import compare

    _patch_roots(monkeypatch, tmp_path)
    sf_dir = SF_SMOKE  # real corpus: the oracle needs every table
    vt = _index_table(str(tmp_path / "idx"), f"{sf_dir}/embeddings.parquet")

    base_rows = L._ivfpq_index(spark, sf_dir).count()
    assert index_store.generation(vt.latest()) == 0

    e = load(spark, sf_dir, "embeddings")
    new = e.filter(F.col("vec_id") >= 490).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    src = str(tmp_path / "stream_src")
    new.coalesce(1).write.mode("overwrite").parquet(src)
    incoming = spark.readStream.schema(new.schema).parquet(src)
    q, gen = L.ivfpq_maintain_from_stream(
        spark, sf_dir, incoming, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    n_new = new.count()

    # (a) the served version holds the maintenance run's generation
    assert gen == 1
    assert index_store.generation(vt.latest()) == 1
    # (b) the maintained view serves the appends; gen 0 is untouched
    assert L._ivfpq_index_maintained(spark, sf_dir).count() == base_rows + n_new
    assert L._ivfpq_index(spark, sf_dir).count() == base_rows
    # ...and the appended rows are in the gen=1 partition
    tbl, name = L._ivfpq_table(spark, sf_dir)
    assert tbl.filter(F.col("gen") == 1).count() == n_new
    # (c) the registered query still matches its oracle AFTER maintenance
    probs = compare(
        L.ann_ivfpq_from_index(spark, sf_dir),
        E.oracle_sql()["ann_ivfpq_from_index"],
        sf_dir,
    )
    assert not probs, f"registered serving diverged after maintenance: {probs}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_publish_refuses_planted_low_recall_index(spark, tmp_path, monkeypatch):
    """Round-10 verdict #5 'done' criterion: the publish-time accept
    gate must REFUSE an index whose assignment is broken (every corpus
    vector mis-filed into a cell no query probes ⇒ candidate recall 0)
    — nothing written, no version committed, no table registered —
    while the production publish (the other tests in this file) stays
    green."""
    import glob

    import northwind_warehouse_spark.operators.similarity as sim
    import northwind_warehouse_spark.plans.llm as L
    from pyspark.sql import functions as F

    _patch_roots(monkeypatch, tmp_path)
    sf_dir = _write_corpus(tmp_path / "corpus")
    vt = _index_table(str(tmp_path / "idx"), f"{sf_dir}/embeddings.parquet")
    tables_before = {t.name for t in spark.catalog.listTables()}

    real = sim.ivf_assign_two_level

    def mis_assign(*a, **k):
        return real(*a, **k).withColumn("cell_id", F.lit(1_000_000).cast("bigint"))

    monkeypatch.setattr(L.sim, "ivf_assign_two_level", mis_assign)
    with pytest.raises(L.IndexRecallGateError, match="publish refused"):
        L._ivfpq_table(spark, sf_dir)
    # nothing leaked: no version, no written files, no catalog table
    assert vt.versions() == []
    assert glob.glob(os.path.join(vt.dir, "v=*", "*")) == []
    assert {t.name for t in spark.catalog.listTables()} == tables_before


def test_gate_recall_matches_sweep_measurement(spark, tmp_path, monkeypatch):
    """Round 12: the floor `_ivfpq_min_recall_ppm` is CALIBRATED by
    tools/nprobe_probe.py::measure() and ENFORCED by
    `_publish_recall_gate` — two independent implementations of the
    same candidate-recall@5 measurement (different candidate-join and
    truth plumbing). If they ever drift, the gate enforces a floor its
    calibration never measured. Build a fresh index (capturing the ppm
    the gate actually computed), run the sweep's measure() on the same
    corpus at the gate's own protocol (non-seed [k, k+10) queries,
    flat route, P(k)), and assert the IDENTICAL ppm."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import nprobe_probe as NP

    import northwind_warehouse_spark.plans.llm as L

    _patch_roots(monkeypatch, tmp_path)
    sf_dir = _write_corpus(tmp_path / "corpus")
    k, _ = L._ivfpq_params(sf_dir)

    gate_ppm: dict = {}
    real_gate = L._publish_recall_gate

    def capture(spark_, sf, assigned, k_):
        gate_ppm["v"] = real_gate(spark_, sf, assigned, k_)
        return gate_ppm["v"]

    monkeypatch.setattr(L, "_publish_recall_gate", capture)
    L._ivfpq_table(spark, sf_dir)  # fresh root → builds → gate runs
    assert "v" in gate_ppm, "fresh build did not run the publish gate"

    p = L._idx_nprobe(k)
    m = NP.measure(
        spark, sf_dir, probes=(p,), supers=(),
        query_ids=L._gate_eval_ids(sf_dir, k),
    )
    assert gate_ppm["v"] == m["routes"]["flat"][str(p)]["recall_ppm"]


# Session A: build + publish, absorb a stream of new vectors into the
# stored table as a GENERATION, compact bucket-locally (committing the
# next version), serve. Session B (fresh process): adopt
# everything with zero builder invocations and serve the SAME results —
# registered serving from gen 0, maintained serving including the
# appends.
_LIFECYCLE_SCRIPT = r"""
import json, sys
sf_dir, phase = sys.argv[1:3]
import northwind_warehouse_spark.operators.similarity as sim
import northwind_warehouse_spark.plans.llm as L
calls = {"train": 0, "pq_codebook": 0}
_train, _pqcb = sim.ivf_train_codebook, sim.pq_codebook
sim.ivf_train_codebook = lambda *a, **k: (calls.__setitem__("train", calls["train"] + 1), _train(*a, **k))[1]
sim.pq_codebook = lambda *a, **k: (calls.__setitem__("pq_codebook", calls["pq_codebook"] + 1), _pqcb(*a, **k))[1]
from northwind_warehouse_spark.session import get_spark
spark = get_spark("nws-lifecycle", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
idx_root = L._IVFPQ_ROOT
out = {"calls": calls}
if phase == "build_absorb_compact":
    from pyspark.sql import functions as F
    from northwind_warehouse_spark.catalog import load
    L.ann_ivfpq_from_index(spark, sf_dir).collect()   # build + publish
    e = load(spark, sf_dir, "embeddings")
    src = f"{idx_root}/_stream_src"
    # two micro-batches of the same vectors under new ids: each adds a
    # file to the same buckets, so the compaction has a rewrite to do
    for shift in (1_000_000, 2_000_000):
        new = e.filter(F.col("vec_id") >= 90).select(
            (F.col("vec_id") + F.lit(shift)).alias("vec_id"), "embedding")
        new.coalesce(1).write.mode("append").parquet(src)
    incoming = spark.readStream.schema(new.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q, gen = L.ivfpq_maintain_from_stream(spark, sf_dir, incoming, f"{idx_root}/_ckpt")
    q.awaitTermination(120)
    out["gen"] = gen
    out["compact"] = {k: v for k, v in L.ivfpq_compact_index(spark, sf_dir).items()}
out["maintained_rows"] = L._ivfpq_index_maintained(spark, sf_dir).count()
out["gen0_rows"] = L._ivfpq_index(spark, sf_dir).count()
rows = [list(r) for r in L.ann_ivfpq_multiprobe_from_index(spark, sf_dir).collect()]
out["rows"] = rows
print("RESULT::" + json.dumps(out))
spark.stop()
"""


@pytest.mark.slow
def test_full_lifecycle_outlives_session_absorbs_stream_serves_multiprobe(tmp_path):
    """The round-8 verdict's closing sentence, as one flow: the stored
    artifact OUTLIVES the session, ABSORBS the stream (maintain appends
    as a generation), CLEANS UP after itself (compaction committed as
    the next version), and SERVES MULTI-PROBE
    — a fresh process then adopts all of it with zero builder
    invocations, sees the same maintained row count, and returns the
    identical multi-probe results (gen-0 serving, so maintenance never
    silently changes a registered query's output)."""
    root = str(tmp_path / "idx_root")
    sf_dir = _write_corpus(tmp_path / "corpus")

    def run(phase: str) -> dict:
        env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=root)
        proc = subprocess.run(
            [sys.executable, "-c", _LIFECYCLE_SCRIPT, sf_dir, phase],
            cwd=REPO, capture_output=True, text=True, timeout=600, env=env,
        )
        assert proc.returncode == 0, f"{phase} failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
        line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT::"))
        return json.loads(line[len("RESULT::"):])

    a = run("build_absorb_compact")
    assert a["calls"]["train"] == 1 and a["calls"]["pq_codebook"] == 1, a["calls"]
    assert a["gen"] == 1
    assert a["compact"]["new_table"] != a["compact"]["old_table"], a["compact"]
    assert a["maintained_rows"] > a["gen0_rows"] > 0
    assert len(a["rows"]) > 0

    b = run("serve_only")
    assert b["calls"] == {"train": 0, "pq_codebook": 0}, (
        "fresh session re-ran builders instead of adopting the "
        f"maintained+compacted index: {b['calls']}"
    )
    assert b["rows"] == a["rows"], "adopted serving diverged from the maintaining session"
    assert b["maintained_rows"] == a["maintained_rows"]
    assert b["gen0_rows"] == a["gen0_rows"]


def test_manifest_invariants_under_random_publish_vacuum_sequences(tmp_path):
    """Property, with an artifact's log as its manifest: under ANY
    interleaving of publishes and vacuums across keys, (a) each key's
    latest version holds the identity last published for it, (b) a
    publish builds only when that identity is not the latest, (c) every
    logged version's files exist — vacuum drops an entry before its
    files — and (d) a vacuum whose grace has not passed drops nothing,
    while one past it leaves only each key's latest version."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql.types import StructType

    from northwind_warehouse_spark.sources import index_store

    class Built:  # the part of a DataFrame ``publish`` touches
        schema = StructType([])

        def unpersist(self):
            pass

    def write(_df, path):
        os.makedirs(path)

    ops = st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),
            st.integers(0, 3),
            st.sampled_from([None, "inside", "past"]),  # vacuum after this publish?
        ),
        min_size=1, max_size=25,
    )
    counter = [0]

    @settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(ops)
    def run(seq):
        counter[0] += 1
        root = str(tmp_path / f"store{counter[0]}")
        latest: dict[str, str] = {}
        for key, n, vacuum in seq:
            vt, ident, builds = index_store.table(None, root, key), f"{key}-t{n}", []
            index_store.publish(vt, ident, lambda: builds.append(1) or Built(), write)
            assert builds == ([] if latest.get(key) == ident else [1])
            latest[key] = ident
            if vacuum == "inside":
                assert vt.vacuum(older_than=_hours(-1)) == []
            elif vacuum == "past":
                vt.vacuum(older_than=_hours(0.01))
                assert len(vt.versions()) == 1
            for k2, i2 in latest.items():
                t2 = index_store.table(None, root, k2)
                assert t2.latest()["identity"] == i2
                assert all(os.path.isdir(v["path"]) for v in t2.versions())

    run()
