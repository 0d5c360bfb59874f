"""LLM-training-data pipeline plans (SURVEY.md §2C).

Dedup family, text analysis, similarity search, multimodal. A builder
is a registered query when its DuckDB oracle ``oracle_<name>`` sits
beside it (``__spark_entry__``); helpers have no such twin.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northwind_warehouse_spark.catalog import load, table_rows
from northwind_warehouse_spark.functions.text import (
    STOPWORDS,
    n_tokens,
    o_n_tokens,
    o_ratio_4dp,
    o_stopword_count,
    ratio_4dp,
    stopword_count,
)
from northwind_warehouse_spark.operators.joins import maybe_broadcast, maybe_broadcast_rows
from northwind_warehouse_spark.operators.spread import spread_scan
from northwind_warehouse_spark.operators.xplode import select_explode
from northwind_warehouse_spark.operators import similarity as sim
from northwind_warehouse_spark.operators.multimodal import (
    documents_as_binary,
    extract_features,
    extract_features_flat,
)

# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(text) fingerprint → keep min doc_id, count copies."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


def oracle_dedup_exact() -> str:
    return """
    SELECT md5(text) AS fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
    """


_SHINGLE_CTE = """
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sharr AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(w)-2),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
        FROM toks
    )
"""

_SIG_CTE = _SHINGLE_CTE + """,
    sig AS (
        SELECT doc_id,
""" + ",\n".join(
    (
        f"            list_min(list_transform(sh, s -> substr(md5(s), {1 + 8 * s}, 8))) AS mh{s}"
        if s < 4
        else f"            list_min(list_transform(sh, s -> substr(md5(concat('x', s)), {1 + 8 * (s - 4)}, 8))) AS mh{s}"
    )
    for s in range(sim.N_SEEDS)
) + """
        FROM sharr
    ),
    bands0 AS (
""" + "\n        UNION ALL\n".join(
    f"        SELECT doc_id, {b} AS band, md5(concat_ws('|', mh{2*b}, mh{2*b+1})) AS bkey FROM sig"
    for b in range(sim.N_BANDS)
) + f"""
    ),
    bands AS (
        -- mirrors lsh_candidate_pairs' default skew cap: degenerate
        -- buckets (> LSH_MAX_BUCKET rows) are dropped before the join
        SELECT doc_id, band, bkey FROM bands0
        QUALIFY count(*) OVER (PARTITION BY band, bkey) <= {sim.LSH_MAX_BUCKET}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id
    )
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 seeds) → 4 bands → bucket-join candidate pairs."""
    # spread (r13, guide §2.5): the per-doc shingle split + 8-seed
    # minhash is heavy map work on few rows — hash-spread by doc_id
    # (min_rows low: per-row cost, not row count, is the load here)
    d = spread_scan(load(spark, sf_dir, "documents"), spark, sf_dir,
                    "documents", "doc_id", min_rows=1000)
    sig = sim.minhash_signatures(sim.shingle_arrays(d))
    return sim.lsh_candidate_pairs(sig).orderBy("doc_a", "doc_b")


def oracle_dedup_minhash_lsh() -> str:
    return f"WITH {_SIG_CTE} SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b"


def dedup_minhash_lsh_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh with the signatures CHECKPOINTED TO THE LAKE
    between the signature scan and the band self-join — the SURVEY §4b
    warehouse pattern for corpus-scale dedup: at 100 TB the signature
    pass is an expensive full-corpus scan you run ONCE, persist as a
    table, and reuse across every downstream consumer (band join,
    cross-corpus decontamination, incremental re-dedup of new
    partitions), instead of re-deriving it inside each query's DAG
    (what `.persist()` does per-run).

    The checkpoint is a real parquet write + fresh read (lineage cut,
    not a cache): the self-join's two scans read the compact signature
    table — 8 fixed-width hex strings per doc, orders of magnitude
    smaller than the corpus — and the original text is never touched
    again. Signatures are md5-hex strings, so the roundtrip is
    lossless and the oracle is byte-identical to dedup_minhash_lsh's."""
    import hashlib as _hl

    from northwind_warehouse_spark.sources import lake

    # spread (r14, guide §2.5 + §6 "small files hurt twice"): the
    # signature pass (shingle split + 8 minhash folds) is the heaviest
    # map work in the dedup family and sat on the single-task scan of
    # the under-split input — AND the checkpoint it feeds was written as
    # ONE part file / ONE row group, so the band self-join's two
    # read-backs were single-task too. Spreading BEFORE the write
    # parallelizes the signature pass and makes the checkpoint
    # split-capable on read (multiple part files), compounding.
    d = spread_scan(load(spark, sf_dir, "documents"), spark, sf_dir,
                    "documents", "doc_id", min_rows=1000)
    sig = sim.minhash_signatures(sim.shingle_arrays(d))
    # keyed by (applicationId, sf_dir): per-session isolation — a
    # concurrent session on the same sf_dir can neither overwrite this
    # checkpoint mid-read nor serve us a stale one from changed source
    # data (a real deployment would key by source-table version instead).
    # Rooted under $SPARK_GRAFT_INDEX_ROOT like every other on-disk
    # artifact (round-9 verdict #4: no hard-coded scratch locations).
    path = os.path.join(
        _INDEX_ROOT, "nws_sig_lake", spark.sparkContext.applicationId,
        _hl.md5(sf_dir.encode()).hexdigest()[:12],
    )
    lake.write_table(sig, path)
    sig_lake = lake.read_table(spark, path)
    return sim.lsh_candidate_pairs(sig_lake).orderBy("doc_a", "doc_b")


def oracle_dedup_minhash_lsh_lake() -> str:
    return oracle_dedup_minhash_lsh()


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard on the LSH candidate pairs."""
    d = load(spark, sf_dir, "documents")
    sh_arr = sim.shingle_arrays(d)
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sh_arr))
    return sim.pair_jaccard(sh_arr, pairs).orderBy("doc_a", "doc_b")


def oracle_dedup_ngram_jaccard() -> str:
    return f"""
    WITH {_SIG_CTE},
    inter AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
               CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_union
        FROM cand c
        JOIN sharr sa ON sa.doc_id = c.doc_a
        JOIN sharr sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_inter, n_union,
           CAST(CAST((10000 * n_inter) // n_union AS BIGINT) AS DOUBLE) / 10000.0 AS jaccard_4dp
    FROM inter
    ORDER BY doc_a, doc_b
    """


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints: per-token md5→32-bit hash, per-bit
    ±1 votes, sign → bit (operators/similarity.py::simhash32)."""
    # spread (r13, guide §2.5): the token explode + per-token md5 + 32
    # vote partials are the dominant map work, single-task on an
    # under-split input. A/B alternating med-of-5: 0.84 → 0.38s
    # (ratio 0.45), checksums identical.
    d = spread_scan(load(spark, sf_dir, "documents"), spark, sf_dir,
                    "documents", "doc_id", min_rows=1000)
    return sim.simhash32(d).orderBy("doc_id")


def oracle_dedup_simhash() -> str:
    votes = ",\n".join(
        f"               CAST(sum(2 * ((h >> {b}) & 1) - 1) AS BIGINT) AS v{b}" for b in range(32)
    )
    fp = " + ".join(f"CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(32))
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM tok
    ), votes AS (
        SELECT doc_id,
{votes}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
    FROM votes ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def quality_metrics(d: DataFrame) -> DataFrame:
    """Per-document quality metrics as a pure df→df transform — map-only,
    so it runs UNCHANGED on a streaming DataFrame (see
    streaming/jobs.py::score_documents_stream and the equality test in
    tests/test_streaming.py). Every map-only §2C op shares this
    batch/stream-unified property."""
    base = d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens().alias("n_tokens"),
        stopword_count().alias("n_stopwords"),
    )
    return base.select(
        "*",
        ratio_4dp("n_stopwords", "n_tokens").alias("stopword_ratio"),
        ratio_4dp("n_chars", "n_tokens").alias("chars_per_token"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (all exact-integer derived)."""
    return quality_metrics(load(spark, sf_dir, "documents")).orderBy("doc_id")


def oracle_text_quality() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars,
               {o_n_tokens()} AS n_tokens,
               {o_stopword_count()} AS n_stopwords
        FROM documents
    )
    SELECT *, {o_ratio_4dp('n_stopwords', 'n_tokens')} AS stopword_ratio,
              {o_ratio_4dp('n_chars', 'n_tokens')} AS chars_per_token
    FROM base ORDER BY doc_id
    """


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus gating: documents passing composite quality thresholds —
    the filtering stage of a training-data pipeline. All predicates are
    exact-integer so the surviving set is engine-identical."""
    # milder inferred-filter class, DECLINED (r14, verdict item 7): the
    # pushed-down gate evaluates split(text) 3x per row (n_tokens once,
    # the ratio conjunct twice) because predicate pushdown substitutes
    # the staged aliases into the scan filter — any re-staging is
    # substituted the same way, and the only real barrier (a persist) is
    # a materialization the 0.28s single-consumer query cannot amortize.
    # The pushdown itself is a WIN here (the gate prunes at the scan
    # before the surviving rows pay the projection), so the 2 extra
    # array builds are the price of early pruning; both conjunct shapes
    # ARE the query's semantics.
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", "source",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens().alias("n_tokens"),
        stopword_count().alias("n_stopwords"),
    )
    kept = base.filter(
        (F.col("n_tokens") >= 15)
        & (F.col("n_chars") >= 60)
        & (F.col("n_stopwords") * 100 >= F.col("n_tokens") * 2)  # stopword ratio ≥ 2%
    )
    return kept.select("doc_id", "lang", "source", "n_tokens", "n_chars").orderBy("doc_id")


def oracle_quality_filter() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars,
               {o_n_tokens()} AS n_tokens,
               {o_stopword_count()} AS n_stopwords
        FROM documents
    )
    SELECT doc_id, lang, source, n_tokens, n_chars
    FROM base
    WHERE n_tokens >= 15 AND n_chars >= 60 AND n_stopwords * 100 >= n_tokens * 2
    ORDER BY doc_id
    """


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic vs the labeled lang column."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", n_tokens().alias("n_tok"), stopword_count().alias("n_stop")
    ).withColumn("stop_ratio", ratio_4dp("n_stop", "n_tok"))
    return base.select(
        "doc_id",
        "lang",
        F.when(F.col("stop_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
        (F.when(F.col("stop_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("unk")) == F.col("lang")).alias("is_match"),
    ).orderBy("doc_id")


def oracle_lang_id() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id, lang, {o_n_tokens()} AS n_tok, {o_stopword_count()} AS n_stop
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, {o_ratio_4dp('n_stop', 'n_tok')} AS stop_ratio FROM base
    )
    SELECT doc_id, lang,
           CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unk' END AS lang_pred,
           (CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unk' END) = lang AS is_match
    FROM scored ORDER BY doc_id
    """


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source."""
    d = load(spark, sf_dir, "documents")
    # whitespace tokens + a BPE-ish regex segmentation (letter runs /
    # digit runs / single other chars) — both JVM-side regex engines
    # agree on this simple class-based pattern
    bpe_ish = F.expr(r"CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)")
    return (
        d.select(
            "source",
            n_tokens().alias("n_tok"),
            bpe_ish.alias("n_bpe"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .withColumn("tokens_per_doc", ratio_4dp("total_tokens", "n_docs"))
        .orderBy("source")
    )


def oracle_token_count() -> str:
    return f"""
    WITH per AS (
        SELECT source, {o_n_tokens()} AS n_tok,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ), agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM per GROUP BY source
    )
    SELECT source, n_docs, total_tokens, total_bpe_tokens, total_chars,
           {o_ratio_4dp('total_tokens', 'n_docs')} AS tokens_per_doc
    FROM agg ORDER BY source
    """


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprint: min shingle hash ⊕ length."""
    d = load(spark, sf_dir, "documents")
    # map-only: min hash from the per-doc shingle array, no shuffle at all
    return (
        sim.shingle_arrays(d)
        .join(d.select("doc_id", F.length("text").cast("bigint").alias("n_chars")), "doc_id")
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    "|",
                    F.expr("array_min(transform(sh, s -> md5(s)))"),
                    F.col("n_chars").cast("string"),
                )
            ).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


def oracle_doc_fingerprint() -> str:
    return f"""
    WITH {_SHINGLE_CTE}
    SELECT s.doc_id,
           md5(concat_ws('|', list_min(list_transform(s.sh, x -> md5(x))),
                         CAST(CAST(length(d.text) AS BIGINT) AS VARCHAR))) AS fingerprint
    FROM sharr s JOIN documents d ON d.doc_id = s.doc_id
    ORDER BY s.doc_id
    """


CHUNK_SIZE, CHUNK_STRIDE = 20, 10


def chunk_documents(d: DataFrame) -> DataFrame:
    """Sliding-window chunks (unordered): doc_id, chunk_idx, chunk_text,
    chunk_n_tokens. Map-only: tokenize → generate starts → slice, all
    array ops, no shuffle."""
    toks = d.select("doc_id", F.split("text", " ").alias("w")).withColumn(
        "n", F.size("w").cast("bigint")
    )
    starts = F.expr(f"transform(sequence(0, (n - 1) div {CHUNK_STRIDE}), i -> i * {CHUNK_STRIDE} + 1)")
    exploded = toks.select("doc_id", "w", "n", F.posexplode(starts).alias("chunk_idx", "start"))
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", F.expr(f"slice(w, start, {CHUNK_SIZE})")).alias("chunk_text"),
        F.least(F.lit(CHUNK_SIZE).cast("bigint"), F.col("n") - F.col("start") + 1).alias("chunk_n_tokens"),
    )


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (20-token windows, stride 10) —
    the context-window prep stage of a training pipeline."""
    # spread DECLINED with numbers (r13): A/B ratio 1.01 — the explode
    # output feeds a sort for the final ordering; no win to move it
    return chunk_documents(load(spark, sf_dir, "documents")).orderBy("doc_id", "chunk_idx")


_CHUNK_CTE = f"""toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents
    ),
    starts AS (
        SELECT doc_id, w, n,
               unnest(generate_series(0, (n - 1) // {CHUNK_STRIDE})) AS i
        FROM toks
    ),
    chunks AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               array_to_string(w[(i * {CHUNK_STRIDE} + 1):(i * {CHUNK_STRIDE} + {CHUNK_SIZE})], ' ') AS chunk_text,
               least({CHUNK_SIZE}, n - (i * {CHUNK_STRIDE} + 1) + 1) AS chunk_n_tokens
        FROM starts
    )"""


def oracle_doc_chunking() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents
    ),
    starts AS (
        SELECT doc_id, w, n,
               unnest(generate_series(0, (n - 1) // {CHUNK_STRIDE})) AS i
        FROM toks
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(w[(i * {CHUNK_STRIDE} + 1):(i * {CHUNK_STRIDE} + {CHUNK_SIZE})], ' ') AS chunk_text,
           least({CHUNK_SIZE}, n - (i * {CHUNK_STRIDE} + 1) + 1) AS chunk_n_tokens
    FROM starts
    ORDER BY doc_id, chunk_idx
    """


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val assignment (90/10) — stable
    under corpus growth because the bucket is a pure function of the
    document id, never of position or sampling state."""
    d = load(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return (
        d.select("doc_id", "lang", "source", bucket.alias("bucket"))
        .withColumn("split", F.when(F.col("bucket") < 90, F.lit("train")).otherwise(F.lit("val")))
        .orderBy("doc_id")
    )


def oracle_train_val_split() -> str:
    return """
    WITH b AS (
        SELECT doc_id, lang, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, lang, source, bucket,
           CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split
    FROM b ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors (exact baseline)."""
    # spread (r13, guide §2.5): quantization + 10 broadcast-pair dots
    # per corpus row on an under-split scan — hash-spread by vec_id
    e = spread_scan(load(spark, sf_dir, "embeddings"), spark, sf_dir,
                    "embeddings", "vec_id", min_rows=1000)
    return sim.ann_bruteforce_topk(e, n_queries=10, k=5)


def oracle_ann_cosine_topk() -> str:
    return """
    WITH el AS (
        SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, i, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM el
    ),
    n2 AS (
        SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM q a JOIN q b ON a.i = b.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY a.vec_id, b.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, nn_rank
    FROM ranked WHERE nn_rank <= 5 ORDER BY query_id, nn_rank
    """


def _oracle_bucket_cte() -> str:
    """DuckDB CTE computing (vec_id, bucket_id, n2) per embedding with the
    same literal hyperplanes and integer quantization as the Spark side."""
    planes = sim.oracle_plane_weights_sql()
    proj_terms = ",\n".join(
        f"            (SELECT sum(CAST(floor(CAST(e.x AS DOUBLE) * 1000000.0) AS BIGINT) * w.wt) FROM "
        f"(SELECT unnest(embedding) AS x, generate_subscripts(embedding,1) AS i) e "
        f"JOIN (SELECT unnest({p}) AS wt, generate_subscripts({p},1) AS i) w ON e.i = w.i) AS proj{n}"
        for n, p in enumerate(planes)
    )
    bucket_expr = " + ".join(f"CASE WHEN proj{n} > 0 THEN {2**n} ELSE 0 END" for n in range(len(planes)))
    return f"""
    projs AS (
        SELECT vec_id,
{proj_terms}
        FROM embeddings
    ),
    b AS (SELECT vec_id, CAST({bucket_expr} AS BIGINT) AS bucket_id FROM projs),
    el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    n2 AS (SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM el GROUP BY vec_id)
    """


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (the ANN scale path)."""
    e = load(spark, sf_dir, "embeddings")
    buckets = sim.lsh_buckets(e)
    return (
        buckets.groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket_id")
    )


def oracle_ann_lsh() -> str:
    return f"""
    WITH {_oracle_bucket_cte()}
    SELECT bucket_id, count(*) AS n_vecs, min(vec_id) AS min_vec_id
    FROM b GROUP BY bucket_id ORDER BY bucket_id
    """


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: neighbors searched only within the query's LSH
    bucket — the candidate set shrinks ~2^planes-fold, which is what
    makes similarity search tractable at corpus scale. Approximate
    (bucket boundaries lose some true neighbors) but orders faster."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q, norm2_q

    e = load(spark, sf_dir, "embeddings")
    base = e.join(sim.lsh_buckets(e), "vec_id").select(
        "vec_id", "embedding", "bucket_id", norm2_q("embedding").alias("n2")
    )
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("bucket_id").alias("qbucket"),
        F.col("n2").alias("qn2"),
    )
    # rows-gated hint (r13): q is 10 rows BY PARAMETER (vec_id < 10)
    # but its estimate rides the bucket join's product inflation, so
    # the estimate gate declined it into an SMJ. Embedding rows are
    # fat (64 doubles + quantized copies) — gate at 8 KB/row.
    cand = base.join(
        maybe_broadcast_rows(q, 10, row_bytes=8192),
        (F.col("bucket_id") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot_q("qvec", "embedding").alias("dot"),
        F.col("qn2").alias("n2a"),
        F.col("n2").alias("n2b"),
    ).withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )


def oracle_ann_lsh_topk() -> str:
    return f"""
    WITH {_oracle_bucket_cte()},
    dots AS (
        SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
               CAST(sum(a.xq * b2.xq) AS BIGINT) AS dot
        FROM el a
        JOIN b qb ON qb.vec_id = a.vec_id
        JOIN b nb ON nb.bucket_id = qb.bucket_id AND nb.vec_id <> a.vec_id
        JOIN el b2 ON b2.vec_id = nb.vec_id AND b2.i = a.i
        WHERE a.vec_id < 10
        GROUP BY a.vec_id, b2.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, nn_rank
    FROM ranked WHERE nn_rank <= 5 ORDER BY query_id, nn_rank
    """


_EMB_DEDUP_MAX_BUCKET = 1000  # skew cap: bounds any bucket to cap² pair work


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, max_bucket_size: int = _EMB_DEDUP_MAX_BUCKET
) -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucket candidates, exact
    cosine on each, keep pairs above threshold. The bucket equi-join is
    the scale move — never the full O(n²) pair space.

    Two skew defenses, ON by default (round-3 verdict item): buckets
    larger than ``max_bucket_size`` are dropped before the self-join
    (operators.similarity.cap_buckets — a degenerate all-zeros/
    boilerplate bucket would otherwise go quadratic at corpus scale;
    such vectors are near-certain duplicates better handled by exact
    dedup first), and the self-join shuffles ONLY (vec_id, bucket_id)
    id pairs — the quantized embedding arrays are re-attached by two
    hash joins AFTER candidate pruning, so array bytes cross the wire
    once per side, never bucket-size times."""
    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q, norm2_q

    # spread DECLINED with numbers (r13): A/B ratio 1.50 — the CLEAR
    # loss of the sweep; the persisted bucket relation and the two
    # id-join re-attachments already bound the heavy work, and the
    # extra exchange of fat embedding arrays only adds a barrier
    e = load(spark, sf_dir, "embeddings")
    # persist the slim (vec_id, bucket_id) relation: the 8 hyperplane
    # projections are the expensive part, and it feeds the cap's count
    # aggregate plus BOTH self-join sides — one projection pass total
    raw_buckets = sim.lsh_buckets(e).persist()
    buckets = sim.cap_buckets(raw_buckets, ["bucket_id"], max_bucket_size)
    a = buckets.select(F.col("vec_id").alias("vec_a"), F.col("bucket_id").alias("b_a"))
    b = buckets.select(F.col("vec_id").alias("vec_b"), F.col("bucket_id").alias("b_b"))
    pairs = a.join(b, (F.col("b_a") == F.col("b_b")) & (F.col("vec_a") < F.col("vec_b"))).select(
        "vec_a", "vec_b"
    )
    # quantize-ONCE (r11): floor each vector's 64 elements a single
    # time in the base projection and score pairs with the plain
    # integer dot — dot_q re-ran the FLOOR of both operands once per
    # PAIR (identical ints, identical cosines/rows)
    base = e.select(
        "vec_id", F.expr(sim.QUANT.format(v="embedding")).alias("_vq")
    ).withColumn("n2", F.expr(sim.IDOT.format(a="_vq", b="_vq")))
    # persist(base) A/B'd and DECLINED (r13): the plan shows the
    # cosine filter's null-intolerance decomposing into inferred
    # isnotnull(n2) filters that inline the quantize+dot below the
    # staging projection (~3× transform per row), but a session-pair
    # A/B (persist toggles cannot be A/B'd in-session — the cache
    # manager substitutes the cached relation into both arms) measured
    # a wash: off 0.703/0.857s vs on 0.771/0.786s warm med-of-5 — at
    # this corpus the pair join dominates and the barrier buys nothing.
    scored = (
        pairs.join(
            base.select(
                F.col("vec_id").alias("vec_a"), F.col("_vq").alias("qa"),
                F.col("n2").alias("n2a"),
            ),
            "vec_a",
        )
        .join(
            base.select(
                F.col("vec_id").alias("vec_b"), F.col("_vq").alias("qb"),
                F.col("n2").alias("n2b"),
            ),
            "vec_b",
        )
        .select(
            "vec_a", "vec_b",
            F.expr(sim.IDOT.format(a="qa", b="qb")).alias("dot"), "n2a", "n2b",
        )
        .withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    )
    return scored.filter(F.col("cosine") > 0.5).select(
        "vec_a", "vec_b", "cosine"
    ).orderBy("vec_a", "vec_b")


def oracle_dedup_embedding_cosine() -> str:
    return f"""
    WITH {_oracle_bucket_cte()},
    bc AS (
        SELECT vec_id, bucket_id FROM b
        QUALIFY count(*) OVER (PARTITION BY bucket_id) <= {_EMB_DEDUP_MAX_BUCKET}
    ),
    pairs AS (
        SELECT pa.vec_id AS vec_a, pb.vec_id AS vec_b
        FROM bc pa JOIN bc pb ON pa.bucket_id = pb.bucket_id AND pa.vec_id < pb.vec_id
    ),
    dots AS (
        SELECT p.vec_a, p.vec_b, CAST(sum(ea.xq * eb.xq) AS BIGINT) AS dot
        FROM pairs p
        JOIN el ea ON ea.vec_id = p.vec_a
        JOIN el eb ON eb.vec_id = p.vec_b AND eb.i = ea.i
        GROUP BY p.vec_a, p.vec_b
    ),
    scored AS (
        SELECT vec_a, vec_b,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = vec_a
        JOIN n2 nb ON nb.vec_id = vec_b
    )
    SELECT vec_a, vec_b, cosine FROM scored WHERE cosine > 0.5 ORDER BY vec_a, vec_b
    """


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus stats (exact-decimal norms → deterministic avg)."""
    from northwind_warehouse_spark.functions.vectors import norm2_q

    e = load(spark, sf_dir, "embeddings")
    base = e.select("label", F.size("embedding").alias("dim"), norm2_q("embedding").alias("n2"))
    return (
        base.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.max("dim").alias("dim"),
            (
                F.sum("n2").cast("double") / F.count(F.lit(1)) / F.lit(1_000_000_000_000.0)
            ).alias("avg_norm2"),
        )
        .orderBy("label")
    )


def oracle_embedding_stats() -> str:
    return """
    WITH el AS (
        SELECT vec_id, label, len(embedding) AS dim, unnest(embedding) AS x
        FROM embeddings
    ),
    n2 AS (
        SELECT vec_id, label, max(dim) AS dim,
               CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                        * CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS n2
        FROM el GROUP BY vec_id, label
    )
    SELECT label, count(*) AS n_vecs, CAST(max(dim) AS INT) AS dim,
           CAST(CAST(sum(n2) AS BIGINT) AS DOUBLE) / count(*) / 1000000000000.0 AS avg_norm2
    FROM n2 GROUP BY label ORDER BY label
    """


# ---------------------------------------------------------------------------
# Multimodal (rows-only; decode stubbed — see operators/multimodal.py)
# ---------------------------------------------------------------------------


def multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode/feature pipeline over mapInPandas.

    Emits the flat integer-quantized feature columns (f0_q..f3_q) so
    every output column is a hashable scalar; the stubbed decode is
    md5-derived, which makes the whole pipeline SQL-expressible and
    fully oracle-checkable (a real decoder swap would drop back to the
    rows-only gate)."""
    d = load(spark, sf_dir, "documents")
    return extract_features_flat(documents_as_binary(d)).orderBy("doc_id")


def oracle_multimodal_extract() -> str:
    fq = ", ".join(
        f"CAST(('0x' || substr(md5(text), {2 * i + 1}, 2)) AS BIGINT) AS f{i}_q"
        for i in range(4)
    )
    return f"""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5, {fq}
    FROM documents ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Corpus statistics, contamination, cluster resolution
# ---------------------------------------------------------------------------

_INCOMING_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 terms by occurrence with document
    frequency — the vocab/BPE-training prep stage. One explode + one
    groupBy(term) shuffle with map-side partial counts; ties broken by
    term for a total ordering."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    return (
        t.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("n_occurrences"), "term")
        .limit(50)
    )


def oracle_vocab_top_terms() -> str:
    return """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    SELECT term, count(*) AS n_occurrences, count(DISTINCT doc_id) AS doc_freq
    FROM t GROUP BY term
    ORDER BY n_occurrences DESC, term
    LIMIT 50
    """


def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token ratio
    and most-frequent-token share. Map-only — the mode frequency comes
    from higher-order array functions over the token array (bounded by
    doc length), so the whole op is a single scan with zero shuffles."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("w"),
    ).select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("w")).cast("bigint").alias("n_distinct"),
        F.expr(
            "CAST(array_max(transform(array_distinct(w), t -> size(filter(w, x -> x = t)))) AS BIGINT)"
        ).alias("top_tok_count"),
    )
    return base.select(
        "*",
        ratio_4dp("n_distinct", "n_tokens").alias("distinct_ratio"),
        ratio_4dp("top_tok_count", "n_tokens").alias("top_tok_ratio"),
        (F.col("top_tok_count") * 10 > F.col("n_tokens")).alias("is_repetitive"),
    ).orderBy("doc_id")


def oracle_repetition_quality() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
               CAST(list_max(list_transform(list_distinct(w),
                    t -> len(list_filter(w, x -> x = t)))) AS BIGINT) AS top_tok_count
        FROM base
    )
    SELECT *, {o_ratio_4dp('n_distinct', 'n_tokens')} AS distinct_ratio,
              {o_ratio_4dp('top_tok_count', 'n_tokens')} AS top_tok_ratio,
              top_tok_count * 10 > n_tokens AS is_repetitive
    FROM m ORDER BY doc_id
    """


def _split_bucket():
    """The train_val_split hash bucket as a column expression."""
    return F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100


_ORACLE_BUCKET = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for each VAL document (train_val_split
    buckets), how many of its 3-gram shingles appear anywhere in the TRAIN
    split. Inverted-index style: the train shingle set is dedup'd then
    joined on md5(shingle) — one shuffle keyed on the shingle hash, never
    a doc×doc product. At 100 TB the train side is the big relation; the
    join key is a fixed-width hash so AQE can split skewed boilerplate
    shingles."""
    from northwind_warehouse_spark.operators import similarity as s

    # spread (r13, guide §2.5): the shingle transform + md5 explode is
    # the dominant map work and runs on the single-task scan of an
    # under-split input; hash-spread by doc_id parallelizes it.
    d = spread_scan(load(spark, sf_dir, "documents"), spark, sf_dir,
                    "documents", "doc_id", min_rows=1000)
    # persist (r13, guide §5 + the CLAUDE.md self-join persist rule):
    # sh_arr feeds THREE consumers (the train shingle set, the val
    # explode, and the per-doc n_shingles projection) and its lineage
    # (split + per-doc shingle transform) is expensive and uncached —
    # without the barrier each consumer re-executes the whole chain
    # (the before plan scans documents three times). Measured (sf0.1,
    # same-session alternating min-of-5, checksums identical): base
    # 8.29s → spread-only 4.70s; with the persist the warm steady state
    # is 0.89s (separate session — a persisted relation is substituted
    # into BOTH arms of an in-session A/B by the cache manager, so the
    # persist's own A/B needs session isolation; first post-persist run
    # 1.24s includes cache population, the same persist-riding
    # semantics SCALING.md documents for knn/winnow).
    sh_arr = s.shingle_arrays(d).withColumn("bucket", _split_bucket()).persist()
    val = sh_arr.filter(F.col("bucket") >= 90)
    train_sh = (
        sh_arr.filter(F.col("bucket") < 90)
        .select(F.explode("sh").alias("shingle"))
        .select(F.md5("shingle").alias("h"))
        .distinct()
    )
    val_ex = val.select("doc_id", F.explode("sh").alias("shingle")).select(
        "doc_id", F.md5("shingle").alias("h")
    )
    shared = val_ex.join(train_sh, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    out = (
        val.select("doc_id", F.size("sh").cast("bigint").alias("n_shingles"))
        .join(shared, "doc_id", "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)).cast("bigint"))
    )
    return out.select(
        "doc_id", "n_shingles", "n_shared",
        ratio_4dp("n_shared", "n_shingles").alias("contamination_ratio"),
    ).orderBy("doc_id")


def oracle_contamination_check() -> str:
    from northwind_warehouse_spark.operators.similarity import SHINGLE_K  # noqa: F401

    return f"""
    WITH {_SHINGLE_CTE},
    b AS (
        SELECT doc_id, sh, {_ORACLE_BUCKET} AS bucket FROM sharr
    ),
    val AS (SELECT doc_id, sh FROM b WHERE bucket >= 90),
    train_sh AS (
        SELECT DISTINCT md5(x) AS h
        FROM (SELECT unnest(sh) AS x FROM b WHERE bucket < 90)
    ),
    valx AS (
        SELECT doc_id, md5(x) AS h
        FROM (SELECT doc_id, unnest(sh) AS x FROM val)
    ),
    shared AS (
        SELECT doc_id, count(*) AS n_shared FROM valx JOIN train_sh USING (h) GROUP BY doc_id
    )
    SELECT v.doc_id, CAST(len(v.sh) AS BIGINT) AS n_shingles,
           CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
           {o_ratio_4dp('coalesce(s.n_shared, 0)', 'len(v.sh)')} AS contamination_ratio
    FROM val v LEFT JOIN shared s ON v.doc_id = s.doc_id
    ORDER BY v.doc_id
    """


def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination: keep INCOMING documents (sources
    src0-src4) that are not LSH near-duplicates of any REFERENCE document
    (the existing training set, all other sources). The candidate set
    comes from the same band-bucket join as dedup_minhash_lsh — never a
    cross product — and the final filter is a left-anti join."""
    from northwind_warehouse_spark.operators import similarity as s

    d = load(spark, sf_dir, "documents")
    pairs = s.lsh_candidate_pairs(s.minhash_signatures(s.shingle_arrays(d)))
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    tagged = pairs.join(maybe_broadcast(sa), "doc_a").join(maybe_broadcast(sb), "doc_b")
    in_a = F.col("source_a").isin(*_INCOMING_SOURCES)
    in_b = F.col("source_b").isin(*_INCOMING_SOURCES)
    contaminated = (
        tagged.filter(in_a & ~in_b).select(F.col("doc_a").alias("doc_id"))
        .union(tagged.filter(in_b & ~in_a).select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    incoming = d.filter(F.col("source").isin(*_INCOMING_SOURCES)).select("doc_id", "source")
    return incoming.join(contaminated, "doc_id", "left_anti").orderBy("doc_id")


def oracle_dedup_cross_corpus() -> str:
    srcs = ", ".join(f"'{s}'" for s in _INCOMING_SOURCES)
    return f"""
    WITH {_SIG_CTE},
    tagged AS (
        SELECT doc_a, doc_b, da.source AS source_a, db.source AS source_b
        FROM cand
        JOIN documents da ON da.doc_id = doc_a
        JOIN documents db ON db.doc_id = doc_b
    ),
    contaminated AS (
        SELECT doc_a AS doc_id FROM tagged
        WHERE source_a IN ({srcs}) AND source_b NOT IN ({srcs})
        UNION
        SELECT doc_b FROM tagged
        WHERE source_b IN ({srcs}) AND source_a NOT IN ({srcs})
    )
    SELECT doc_id, source FROM documents
    WHERE source IN ({srcs})
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ORDER BY doc_id
    """


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group resolution: connected components over the LSH
    candidate-pair graph (a~b, b~c ⇒ one {a,b,c} cluster), canonical doc
    = min doc_id per component. Pregel-style min-label propagation —
    see operators/components.py for the scale story."""
    from northwind_warehouse_spark.operators import similarity as s
    from northwind_warehouse_spark.operators.components import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = s.lsh_candidate_pairs(s.minhash_signatures(s.shingle_arrays(d)))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    out = (
        d.select("doc_id")
        .join(comp, d.doc_id == comp.node, "left")
        .select("doc_id", F.coalesce("comp", F.col("doc_id")).alias("cluster_id"))
    )
    return out.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    ).orderBy("doc_id")


def oracle_dedup_clusters() -> str:
    return f"""
    WITH RECURSIVE {_SIG_CTE},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND e.v <> r.u
    ),
    comp AS (
        SELECT u AS node, min(v) AS comp
        FROM (SELECT u, v FROM reach UNION SELECT u, u FROM edges)
        GROUP BY u
    )
    SELECT d.doc_id,
           coalesce(c.comp, d.doc_id) AS cluster_id,
           d.doc_id = coalesce(c.comp, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ORDER BY d.doc_id
    """


# ---------------------------------------------------------------------------
# Corpus sampling, mixture weighting, chunk-grain dedup, IVF ANN
# ---------------------------------------------------------------------------

_SAMPLE_BOOSTED = ("src0", "src1")  # high-value domains kept at 50%
_SAMPLE_BOOST_PCT, _SAMPLE_BASE_PCT = 50, 10


def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: per-source keep rates
    (50% for boosted domains, 10% elsewhere) applied via an md5 hash
    bucket of the doc id. Map-only — the keep decision is a pure
    function of (doc_id, source), so the sample is reproducible, stable
    under corpus growth, and pushes down to a scan filter at 100 TB
    (no shuffle, no sampling state)."""
    d = load(spark, sf_dir, "documents")
    rate = F.when(
        F.col("source").isin(*_SAMPLE_BOOSTED), F.lit(_SAMPLE_BOOST_PCT)
    ).otherwise(F.lit(_SAMPLE_BASE_PCT))
    return (
        d.select("doc_id", "source", "lang", _split_bucket().alias("bucket"))
        .filter(F.col("bucket") < rate)
        .orderBy("doc_id")
    )


def oracle_corpus_sample() -> str:
    boosted = ", ".join(f"'{s}'" for s in _SAMPLE_BOOSTED)
    return f"""
    WITH b AS (
        SELECT doc_id, source, lang, {_ORACLE_BUCKET} AS bucket FROM documents
    )
    SELECT doc_id, source, lang, bucket FROM b
    WHERE bucket < CASE WHEN source IN ({boosted})
                        THEN {_SAMPLE_BOOST_PCT} ELSE {_SAMPLE_BASE_PCT} END
    ORDER BY doc_id
    """


def domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture accounting for training-data curation: per-source
    doc/token totals, the source's share of the corpus, and the
    up/down-sampling factor that would equalize token share across
    sources. All ratios in exact integer ppm (no cross-engine float).
    One groupBy(source) shuffle; the grand totals are a window over the
    tiny per-source aggregate, not a second pass over the corpus."""
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens("text")).cast("bigint").alias("src_tokens"),
    )
    from pyspark.sql.window import Window

    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        per_src.withColumn("total_tokens", F.sum("src_tokens").over(w).cast("bigint"))
        .withColumn("n_sources", F.count(F.lit(1)).over(w).cast("bigint"))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            # integer div end-to-end (double division + CAST truncation can
            # diverge from the oracle's `//` on unlucky values)
            F.expr("CAST(CAST(src_tokens AS DECIMAL(38,0)) * 1000000 div total_tokens AS BIGINT)").alias("share_ppm"),
            F.expr(
                "CAST(CAST(total_tokens div n_sources AS DECIMAL(38,0)) * 1000000"
                " div src_tokens AS BIGINT)"
            ).alias("uniform_weight_ppm"),
        )
        .orderBy("source")
    )


def oracle_domain_mixture() -> str:
    return f"""
    WITH per_src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum({o_n_tokens('text')}) AS BIGINT) AS src_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT *, CAST(sum(src_tokens) OVER () AS BIGINT) AS total_tokens,
               CAST(count(*) OVER () AS BIGINT) AS n_sources
        FROM per_src
    )
    SELECT source, n_docs, src_tokens,
           CAST(CAST(src_tokens AS HUGEINT) * 1000000 // total_tokens AS BIGINT) AS share_ppm,
           CAST(CAST(total_tokens // n_sources AS HUGEINT) * 1000000 // src_tokens AS BIGINT) AS uniform_weight_ppm
    FROM tot ORDER BY source
    """


def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain exact dedup — finer than whole-document dedup, this
    catches shared boilerplate windows across otherwise-distinct docs.
    One groupBy(md5(chunk_text)) shuffle with map-side partial min/count;
    the keeper (lexicographically first (doc_id, chunk_idx)) is encoded
    as a single int64 so min() needs no struct ordering."""
    chunks = chunk_documents(load(spark, sf_dir, "documents"))
    keyed = chunks.select(
        F.md5("chunk_text").alias("chunk_md5"),
        (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("k"),
    )
    g = keyed.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("k").alias("mk")
    )
    return g.select(
        "chunk_md5",
        "n_copies",
        (F.col("mk") / 1000000).cast("bigint").alias("keep_doc_id"),
        (F.col("mk") % 1000000).cast("bigint").alias("keep_chunk_idx"),
    ).orderBy("keep_doc_id", "keep_chunk_idx")


def oracle_dedup_chunks() -> str:
    return f"""
    WITH {_CHUNK_CTE},
    g AS (
        SELECT md5(chunk_text) AS chunk_md5, count(*) AS n_copies,
               min(doc_id * 1000000 + chunk_idx) AS mk
        FROM chunks GROUP BY md5(chunk_text)
    )
    SELECT chunk_md5, n_copies, mk // 1000000 AS keep_doc_id, mk % 1000000 AS keep_chunk_idx
    FROM g ORDER BY keep_doc_id, keep_chunk_idx
    """


IVF_N_CENTROIDS = 8
_IVF_QUERY_LO, _IVF_QUERY_HI = 8, 18  # 10 query vectors, disjoint from centroids

# Stored codebooks: the coarse quantizer and the PQ subspace codebook
# are INDEX ARTIFACTS refreshed with the corpus, not per-query (or
# per-session) computations. Each is committed once per (corpus file
# identity, parameters) to its versioned table under the artifact root
# (sources/index_store.py), and every later session ADOPTS the stored
# parquet: zero training jobs, no corpus-wide lottery scan for the PQ
# codebook (the builders are deterministic, so stored ≡ retrained).
# _STORED_ARTIFACTS memoizes one persisted DataFrame handle per
# (root, corpus path, parameters) slot, tagged with the owning
# applicationId and identity: a handle from a stopped session is never
# served, and a superseded one (corpus rewrite) is unpersisted when its
# slot is refilled rather than left pinning stale lineage.
_STORED_ARTIFACTS: dict[tuple, tuple[str, str, DataFrame]] = {}
# All cross-session index artifacts (coarse codebooks, PQ codebooks,
# the stored IVF-PQ index) live under ONE parameterized root —
# $SPARK_GRAFT_INDEX_ROOT, read once at import exactly like catalog.py's
# $SPARK_GRAFT_SF_DIR (round-9 verdict #4: the roots were hard-coded
# /tmp, unusable on a cluster where index state belongs on shared
# storage). The default stays the local scratch dir so the demo needs
# no configuration.
_INDEX_ROOT = os.environ.get("SPARK_GRAFT_INDEX_ROOT", "/tmp")
_IVF_CB_ROOT = os.path.join(_INDEX_ROOT, "nws_ivf_cb")
_PQ_CB_ROOT = os.path.join(_INDEX_ROOT, "nws_pq_cb")


def _corpus_identity(sf_dir: str, table: str = "embeddings") -> tuple[str, int, int]:
    import os

    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    st = os.stat(path)
    return path, st.st_mtime_ns, st.st_size


def _stored_artifact(spark: SparkSession, sf_dir: str, root: str, params: str, build):
    """The stored artifact ``build(embeddings)`` of the corpus under
    ``root``, keyed by corpus path and ``params``: committed by the first
    session to see this corpus version, adopted by every later one, and
    persisted once per session."""
    import hashlib as _hl

    from northwind_warehouse_spark.sources import index_store

    path, mtime_ns, size = _corpus_identity(sf_dir)
    identity = _hl.md5(f"{path}|{mtime_ns}|{size}|{params}".encode()).hexdigest()[:12]
    slot = (root, path, params)
    app = spark.sparkContext.applicationId
    cur = _STORED_ARTIFACTS.get(slot)
    if cur is not None and cur[:2] == (app, identity):
        return cur[2]
    vt = index_store.table(spark, root, f"{path}|{params}")
    entry = index_store.publish(vt, identity, lambda: build(load(spark, sf_dir, "embeddings")))
    # serve from the STORED artifact in every session, including the
    # builder's (one code path; the small read replaces the training
    # lineage, which also shrinks every serving plan)
    df = vt.read(entry["version"]).persist()
    if cur is not None:
        try:
            cur[2].unpersist()
        except Exception:
            pass
    _STORED_ARTIFACTS[slot] = (app, identity, df)
    return df


def _trained_cb(spark: SparkSession, sf_dir: str, n_centroids: int):
    return _stored_artifact(spark, sf_dir, _IVF_CB_ROOT, f"k={n_centroids}",
                            lambda e: sim.ivf_train_codebook(e, n_centroids=n_centroids))


def _stored_pq_cb(spark: SparkSession, sf_dir: str):
    return _stored_artifact(spark, sf_dir, _PQ_CB_ROOT, f"m={sim.PQ_M}|nc={sim.PQ_NC}",
                            sim.pq_codebook)


# flat-probe CENTROID-ARRAY cache — the quantizer structure a FAISS
# index keeps resident: the one-row packed centroid array the query
# probe scans is a pure function of the trained codebook, but
# rebuilding it is a k-row aggregate PER QUERY CALL — per-serve work
# that grows with the occupancy-scaled k. Same session discipline as
# _STORED_ARTIFACTS: persisted handles keyed by (corpus identity, k),
# tagged with the owning applicationId, superseded/stale entries
# unpersisted and evicted. No on-disk artifact: the relation derives
# from the already-persisted k-row codebook in one tiny job, so
# cross-session publishing would save nothing.
_FLAT_CENTS: dict[tuple, tuple[str, object]] = {}


def _flat_cents(spark: SparkSession, sf_dir: str, n_centroids: int):
    path, mtime_ns, size = _corpus_identity(sf_dir)
    fkey = (path, mtime_ns, size, n_centroids)
    app = spark.sparkContext.applicationId
    cur = _FLAT_CENTS.get(fkey)
    if cur is not None and cur[0] == app:
        return cur[1]
    cb = _trained_cb(spark, sf_dir, n_centroids)
    cents = sim.flat_probe_cents(cb).persist()
    for k in [
        k for k in _FLAT_CENTS
        if (k[0], k[3]) == (path, n_centroids) and (k != fkey or _FLAT_CENTS[k][0] != app)
    ]:
        try:
            _FLAT_CENTS.pop(k)[1].unpersist()
        except Exception:
            pass
    _FLAT_CENTS[fkey] = (app, cents)
    return cents


# two-level ROUTING-TABLE cache for the hierarchical query probe —
# the (supers_row, packed children) relations two_level_routing builds
# are pure functions of the trained codebook, but rebuilding them is a
# k-row aggregate per query call. Same session discipline as
# _FLAT_CENTS. Used only at k > _IDX_SUPER_PROBE² (the hier branch of
# the route policy), so the tested small-k corpora never populate it.
_PROBE_ROUTINGS: dict[tuple, tuple[str, tuple]] = {}


def _probe_routing(spark: SparkSession, sf_dir: str, n_centroids: int):
    path, mtime_ns, size = _corpus_identity(sf_dir)
    fkey = (path, mtime_ns, size, n_centroids)
    app = spark.sparkContext.applicationId
    cur = _PROBE_ROUTINGS.get(fkey)
    if cur is not None and cur[0] == app:
        return cur[1]
    cb = _trained_cb(spark, sf_dir, n_centroids)
    supers_row, packed = sim.two_level_routing(cb, n_centroids)
    routing = (supers_row.persist(), packed.persist())
    for k in [
        k for k in _PROBE_ROUTINGS
        if (k[0], k[3]) == (path, n_centroids) and (k != fkey or _PROBE_ROUTINGS[k][0] != app)
    ]:
        try:
            old = _PROBE_ROUTINGS.pop(k)[1]
            old[0].unpersist()
            old[1].unpersist()
        except Exception:
            pass
    _PROBE_ROUTINGS[fkey] = (app, routing)
    return routing


def _idx_query_probe(
    spark: SparkSession, sf_dir: str, queries, k: int, n_probe: int
):
    """THE stored-index query probe — the single entry every serving
    path and the publish gate route through, so route, S and P always
    come from the one measured policy (_idx_super_probe / _idx_nprobe;
    see the policy block above those functions): FLAT over the
    session-cached packed centroid array while S(k) covers the
    codebook (k ≤ _IDX_SUPER_PROBE², where hier(S ≥ √k) ≡ flat is the
    proven operator identity), the widened-super hierarchical probe
    over the session-cached routing tables beyond — O(S·√k) per query,
    no O(k) row anywhere (round-10 verdict #1)."""
    s = _idx_super_probe(k)
    if s >= sim.ceil_isqrt(k):
        return sim.ivf_probe_cells(
            queries, n_centroids=k, n_probe=n_probe,
            centroids=_trained_cb(spark, sf_dir, k),
            cents_row=_flat_cents(spark, sf_dir, k),
        )
    return sim.ivf_probe_cells_hier(
        queries, k, _trained_cb(spark, sf_dir, k), n_probe=n_probe,
        n_super_probe=s, routing=_probe_routing(spark, sf_dir, k),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN top-3 served from the TRAINED coarse
    quantizer: the codebook is one Lloyd round over the deterministic
    25% lottery sample (operators/similarity.py::ivf_train_codebook —
    round-7 verdict #1: no more arbitrary first-k seed cells on a
    serving path), every vector is then coarse-quantized to its
    nearest trained centroid (ivf_assign — a MAP-ONLY argmax over the
    broadcast k-row codebook), and each query searches only its own
    cell. At 100 TB the cell assignment is one corpus scan and the
    candidate set per query shrinks ~n_centroids-fold; nprobe>1 is the
    same plan with a top-p cells array explode."""
    e = load(spark, sf_dir, "embeddings")
    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q

    cb = _trained_cb(spark, sf_dir, IVF_N_CENTROIDS)
    assigned = sim.ivf_assign(e, n_centroids=IVF_N_CENTROIDS, centroids=cb)
    q = assigned.filter(
        (F.col("vec_id") >= _IVF_QUERY_LO) & (F.col("vec_id") < _IVF_QUERY_HI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
        F.col("cell_id").alias("qcell"),
    )
    cand = assigned.join(
        maybe_broadcast(q),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("qcell").alias("cell_id"),
        F.col("vec_id").alias("neighbor_id"),
        dot_q("qvec", "embedding").alias("dot"),
        F.col("qn2").alias("n2a"),
        F.col("n2").alias("n2b"),
    ).withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 3)
        .select("query_id", "cell_id", "neighbor_id", "cosine", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )


def oracle_ann_ivf_topk() -> str:
    return f"""
    WITH {_o_trained_cb_sql(str(IVF_N_CENTROIDS))},
    cbn1 AS (
        SELECT j, CAST(sum(w * w) AS BIGINT) AS cn2 FROM cb1 GROUP BY j
    ),
    pdot AS (
        SELECT a.vec_id, c.j AS cent_id, CAST(sum(a.xq * c.w) AS BIGINT) AS dot
        FROM q a JOIN cb1 c ON c.i = a.i
        GROUP BY a.vec_id, c.j
    ),
    pcos AS (
        SELECT d.vec_id, d.cent_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(cc.cn2 AS DOUBLE)) AS cos
        FROM pdot d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN cbn1 cc ON cc.j = d.cent_id
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
            FROM pcos
        ) WHERE rk = 1
    ),
    pairs AS (
        SELECT qa.vec_id AS query_id, qa.cell_id, ca.vec_id AS neighbor_id
        FROM assign qa JOIN assign ca
          ON ca.cell_id = qa.cell_id AND ca.vec_id <> qa.vec_id
        WHERE qa.vec_id >= {_IVF_QUERY_LO} AND qa.vec_id < {_IVF_QUERY_HI}
    ),
    dots AS (
        SELECT p.query_id, p.cell_id, p.neighbor_id, CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM pairs p
        JOIN q a ON a.vec_id = p.query_id
        JOIN q b ON b.vec_id = p.neighbor_id AND b.i = a.i
        GROUP BY p.query_id, p.cell_id, p.neighbor_id
    ),
    scored AS (
        SELECT query_id, cell_id, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
        FROM scored
    )
    SELECT query_id, cell_id, neighbor_id, cosine, nn_rank
    FROM ranked WHERE nn_rank <= 3 ORDER BY query_id, nn_rank
    """


# multi-probe demo constants: 2× the single-probe centroid count (so
# cells are HALF the size and single-probe recall visibly degrades),
# P=2 probes, a 10-query batch disjoint from the centroid ids
_MP_N_CENTROIDS = 16
_MP_NPROBE = 2
_MP_QUERY_LO, _MP_QUERY_HI = 16, 26

# shared oracle scaffolding: trained codebook (cb1), per-vector
# centroid ranks against it, single-probe assignment, query probes,
# candidates. Lazy (a function, not a module constant) because it
# composes _o_trained_cb_sql, which is defined further down with the
# occupancy-scaled constants it also serves.
def _mp_base_ctes() -> str:
    return f"""{_o_trained_cb_sql(str(_MP_N_CENTROIDS))},
    cbn1 AS (
        SELECT j, CAST(sum(w * w) AS BIGINT) AS cn2 FROM cb1 GROUP BY j
    ),
    mdot AS (
        SELECT a.vec_id, c.j AS cent_id, CAST(sum(a.xq * c.w) AS BIGINT) AS dot
        FROM q a JOIN cb1 c ON c.i = a.i
        GROUP BY a.vec_id, c.j
    ),
    mcos AS (
        SELECT d.vec_id, d.cent_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(cc.cn2 AS DOUBLE)) AS cos
        FROM mdot d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN cbn1 cc ON cc.j = d.cent_id
    ),
    rankedc AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
        FROM mcos
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell_id FROM rankedc WHERE rk = 1
    ),
    qprobe AS (
        SELECT vec_id AS query_id, cent_id AS cell_id, CAST(rk AS BIGINT) AS probe_rank
        FROM rankedc
        WHERE rk <= {_MP_NPROBE}
          AND vec_id >= {_MP_QUERY_LO} AND vec_id < {_MP_QUERY_HI}
    ),
    cand AS (
        SELECT qp.query_id, qp.cell_id, qp.probe_rank, ca.vec_id AS neighbor_id
        FROM qprobe qp JOIN assign ca
          ON ca.cell_id = qp.cell_id AND ca.vec_id <> qp.query_id
    )
"""


def _mp_query_probes(spark: SparkSession, sf_dir: str):
    """(assigned corpus, query probe rows) shared by the two multi-probe
    plans. Probes are computed for the 10-query batch ONLY, and both
    the corpus assignment and the probes rank against the TRAINED
    coarse codebook (round-8: the session-cached _trained_cb, so the
    multi-probe index shares the train-once contract of the other
    serving paths)."""
    e = load(spark, sf_dir, "embeddings")
    cb = _trained_cb(spark, sf_dir, _MP_N_CENTROIDS)
    assigned = sim.ivf_assign(e, n_centroids=_MP_N_CENTROIDS, centroids=cb)
    q = sim.ivf_probe_cells(
        e.filter((F.col("vec_id") >= _MP_QUERY_LO) & (F.col("vec_id") < _MP_QUERY_HI)),
        n_centroids=_MP_N_CENTROIDS,
        n_probe=_MP_NPROBE,
        centroids=cb,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
        "probe_rank",
        F.col("cell_id").alias("qcell"),
    )
    return assigned, q


def ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN top-3: each query searches its _MP_NPROBE
    nearest cells (operators/similarity.py::ivf_probe_cells) instead of
    only the one it lands in — the standard recall repair when the
    centroid count is scaled up with the corpus (here 2× the
    single-probe demo, so cells are half-sized and boundary effects are
    real). The probe list is a 20-row broadcast; the corpus is scanned
    once for assignment and the candidate join touches ~P/n_centroids
    of it. Never all-pairs; recall gain is measured by
    ann_ivf_multiprobe_recall."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q

    assigned, q = _mp_query_probes(spark, sf_dir)
    cand = assigned.join(
        maybe_broadcast(q),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("qcell").alias("cell_id"),
        "probe_rank",
        F.col("vec_id").alias("neighbor_id"),
        dot_q("qvec", "embedding").alias("dot"),
        F.col("qn2").alias("n2a"),
        F.col("n2").alias("n2b"),
    ).withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 3)
        .select("query_id", "cell_id", "probe_rank", "neighbor_id", "cosine", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )


def oracle_ann_ivf_multiprobe_topk() -> str:
    return f"""
    WITH {_mp_base_ctes()},
    dots AS (
        SELECT p.query_id, p.cell_id, p.probe_rank, p.neighbor_id,
               CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM cand p
        JOIN q a ON a.vec_id = p.query_id
        JOIN q b ON b.vec_id = p.neighbor_id AND b.i = a.i
        GROUP BY p.query_id, p.cell_id, p.probe_rank, p.neighbor_id
    ),
    scored AS (
        SELECT query_id, cell_id, probe_rank, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
        FROM scored
    )
    SELECT query_id, cell_id, probe_rank, neighbor_id, cosine, nn_rank
    FROM ranked WHERE nn_rank <= 3 ORDER BY query_id, nn_rank
    """


def ann_ivf_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the multi-probe index: per query, recall@3 of
    single-probe (probe_rank=1 candidates only) vs multi-probe against
    the brute-force ground truth. Uses the identity
    |top3(candidates) ∩ truth| = |candidates ∩ truth| (a global-top-3
    vector in the candidate set always makes the candidate top-3, since
    nothing can outscore it), so hits are counted by candidate
    MEMBERSHIP — no second top-k pass, and recall_multi ≥ recall_single
    is structural (candidate superset). The gate demonstrates the
    round-6 claim: recall survives n_centroids scaling when P>1 cells
    are probed."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q

    assigned, qp = _mp_query_probes(spark, sf_dir)
    pairs = assigned.join(
        F.broadcast(qp.select("query_id", "probe_rank", "qcell")),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "probe_rank")
    # persist (r14, the recall-twin shape extended — verdict item 2):
    # pairs feeds hit_s + hit_m, truth feeds hit_s/hit_m/n_true, both on
    # expensive uncached lineage. Session-pair ABAB: on 0.903/0.948 vs
    # off 2.164/1.892 warm med-of-5, checksums identical.
    pairs = pairs.persist()

    e = load(spark, sf_dir, "embeddings")
    from northwind_warehouse_spark.functions.vectors import norm2_q

    base = e.select("vec_id", "embedding", norm2_q("embedding").alias("n2"))
    tq = base.filter(
        (F.col("vec_id") >= _MP_QUERY_LO) & (F.col("vec_id") < _MP_QUERY_HI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
    )
    tscored = base.join(maybe_broadcast(tq), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot_q("qvec", "embedding").alias("dot"),
        F.col("qn2").alias("n2a"),
        F.col("n2").alias("n2b"),
    ).withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    truth = (
        tscored.withColumn("nn_rank", F.row_number().over(wt))
        .filter(F.col("nn_rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    truth = truth.persist()

    hit_s = truth.join(
        F.broadcast(pairs.filter(F.col("probe_rank") == 1).select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits_single"))
    hit_m = truth.join(
        F.broadcast(pairs.select("query_id", "neighbor_id").distinct()),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits_multi"))
    n_true = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        n_true.join(hit_s, "query_id", "left")
        .join(hit_m, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce("n_hits_single", F.lit(0)).cast("bigint").alias("n_hits_single"),
            F.coalesce("n_hits_multi", F.lit(0)).cast("bigint").alias("n_hits_multi"),
        )
        .withColumn("recall_single_ppm", F.expr("n_hits_single * 1000000 div n_true"))
        .withColumn("recall_multi_ppm", F.expr("n_hits_multi * 1000000 div n_true"))
        .orderBy("query_id")
    )


def oracle_ann_ivf_multiprobe_recall() -> str:
    return f"""
    WITH {_mp_base_ctes()},
    tdots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM q a JOIN q b ON b.i = a.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id >= {_MP_QUERY_LO} AND a.vec_id < {_MP_QUERY_HI}
        GROUP BY a.vec_id, b.vec_id
    ),
    tscored AS (
        SELECT query_id, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM tdots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
            FROM tscored
        ) WHERE rk <= 3
    ),
    n_true_t AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_true FROM truth GROUP BY query_id
    ),
    hs AS (
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits_single
        FROM truth t
        WHERE EXISTS (
            SELECT 1 FROM cand c
            WHERE c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
              AND c.probe_rank = 1
        )
        GROUP BY t.query_id
    ),
    hm AS (
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits_multi
        FROM truth t
        WHERE EXISTS (
            SELECT 1 FROM cand c
            WHERE c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        )
        GROUP BY t.query_id
    )
    SELECT n_true_t.query_id, n_true,
           CAST(coalesce(n_hits_single, 0) AS BIGINT) AS n_hits_single,
           CAST(coalesce(n_hits_multi, 0) AS BIGINT) AS n_hits_multi,
           CAST(coalesce(n_hits_single, 0) * 1000000 // n_true AS BIGINT) AS recall_single_ppm,
           CAST(coalesce(n_hits_multi, 0) * 1000000 // n_true AS BIGINT) AS recall_multi_ppm
    FROM n_true_t
    LEFT JOIN hs ON hs.query_id = n_true_t.query_id
    LEFT JOIN hm ON hm.query_id = n_true_t.query_id
    ORDER BY 1
    """


def collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: collapse consecutive duplicate tokens (the
    classic crawl-artifact cleanup, e.g. 'batch batch batch' → 'batch').
    Map-only — an index-aware higher-order filter over the token array,
    zero shuffles, scales with input bytes."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens_before"),
        F.expr("filter(w, (x, i) -> i = 0 OR x != w[i-1])").alias("wn"),
    )
    return base.select(
        "doc_id",
        "n_tokens_before",
        F.size("wn").cast("bigint").alias("n_tokens_after"),
        F.concat_ws(" ", "wn").alias("text_norm"),
        (F.size("wn") < F.col("n_tokens_before")).alias("changed"),
    ).orderBy("doc_id")


def oracle_collapse_repeats() -> str:
    # DuckDB lambdas/indexing are 1-based where Spark's are 0-based —
    # i = 1 guards the first element, w[i-1] is the previous token.
    return """
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    n AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens_before,
               list_filter(w, (x, i) -> i = 1 OR x != w[i-1]) AS wn
        FROM base
    )
    SELECT doc_id, n_tokens_before,
           CAST(len(wn) AS BIGINT) AS n_tokens_after,
           array_to_string(wn, ' ') AS text_norm,
           len(wn) < n_tokens_before AS changed
    FROM n ORDER BY doc_id
    """


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training prep: corpus-wide adjacent-token-pair
    frequencies (the statistic each BPE merge round maximizes), top-50.
    One map-side explode of (w[i], w[i+1]) pairs + one groupBy(pair)
    shuffle with partial counts — at 100 TB this is the same shape as a
    word count, the canonical linear-scale aggregation. A full BPE
    trainer is this op iterated with a merge-apply map between rounds.
    The token array is STAGED through its own projection: a lambda body
    that says split(text) re-tokenizes the whole document once per
    PAIR (higher-order functions get no loop-invariant hoisting —
    measured 3.5× on the trigram twin), while w[i] on a staged
    attribute is O(1)."""
    d = load(spark, sf_dir, "documents")
    pairs = d.select(F.expr("split(text, ' ')").alias("w")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i-1] AS a, w[i] AS b))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
    return (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "tok_a", "tok_b")
        .limit(50)
    )


def oracle_bpe_pair_stats() -> str:
    return """
    WITH toks AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ),
    pairs AS (
        SELECT w[i] AS tok_a, w[i+1] AS tok_b
        FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks)
    )
    SELECT tok_a, tok_b, count(*) AS n_pairs
    FROM pairs GROUP BY tok_a, tok_b
    ORDER BY n_pairs DESC, tok_a, tok_b
    LIMIT 50
    """


def corpus_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget-per-domain sampling: exactly 5 docs per source,
    chosen as the smallest md5(doc_id) — deterministic, stable under
    corpus growth of OTHER sources. Runs on the two-phase
    operators/dedup.py::topk_per_group so a 100 TB corpus with 20
    sources never funnels a whole source through one task."""
    from northwind_warehouse_spark.operators.dedup import topk_per_group

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    return (
        topk_per_group(d, ["source"], "h", k=5)
        .select("source", "doc_id", F.col("rk").cast("bigint").alias("sample_rank"))
        .orderBy("source", "sample_rank")
    )


def oracle_corpus_sample_per_source() -> str:
    return """
    WITH h AS (
        SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    r AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source ORDER BY h) AS sample_rank
        FROM h
    )
    SELECT source, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 5
    ORDER BY source, sample_rank
    """


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup groups: connected components over the embedding
    near-dup pair graph (cosine > 0.5 on LSH-bucket candidates), one
    canonical vector per cluster — the embedding-space analogue of
    dedup_clusters. Same min-label propagation operator; the pair graph
    is already bucket-bounded so components stay tiny."""
    from northwind_warehouse_spark.operators.components import connected_components

    pairs = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    e = load(spark, sf_dir, "embeddings").select("vec_id")
    out = (
        e.join(comp, e.vec_id == comp.node, "left")
        .select("vec_id", F.coalesce("comp", F.col("vec_id")).alias("cluster_id"))
    )
    return out.withColumn(
        "is_canonical", F.col("vec_id") == F.col("cluster_id")
    ).orderBy("vec_id")


def oracle_dedup_semantic_clusters() -> str:
    return f"""
    WITH RECURSIVE {_oracle_bucket_cte()},
    pairs AS (
        SELECT pa.vec_id AS vec_a, pb.vec_id AS vec_b
        FROM b pa JOIN b pb ON pa.bucket_id = pb.bucket_id AND pa.vec_id < pb.vec_id
    ),
    dots AS (
        SELECT p.vec_a, p.vec_b, CAST(sum(ea.xq * eb.xq) AS BIGINT) AS dot
        FROM pairs p
        JOIN el ea ON ea.vec_id = p.vec_a
        JOIN el eb ON eb.vec_id = p.vec_b AND eb.i = ea.i
        GROUP BY p.vec_a, p.vec_b
    ),
    scored AS (
        SELECT vec_a, vec_b,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = vec_a
        JOIN n2 nb ON nb.vec_id = vec_b
    ),
    edges AS (
        SELECT vec_a AS u, vec_b AS v FROM scored WHERE cosine > 0.5
        UNION
        SELECT vec_b, vec_a FROM scored WHERE cosine > 0.5
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND e.v <> r.u
    ),
    comp AS (
        SELECT u AS node, min(v) AS comp
        FROM (SELECT u, v FROM reach UNION SELECT u, u FROM edges)
        GROUP BY u
    )
    SELECT emb.vec_id,
           coalesce(c.comp, emb.vec_id) AS cluster_id,
           emb.vec_id = coalesce(c.comp, emb.vec_id) AS is_canonical
    FROM embeddings emb LEFT JOIN comp c ON c.node = emb.vec_id
    ORDER BY emb.vec_id
    """


# ---------------------------------------------------------------------------
# Sequence packing, TF-IDF, PII redaction, LM-based quality
# ---------------------------------------------------------------------------

PACK_BUDGET = 64  # tokens per training sequence


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training sequence packing: concatenate each source's docs in
    doc_id order and split the stream every PACK_BUDGET tokens
    (concat-then-chunk packing — docs may straddle pack boundaries,
    exactly like production pretraining packers).

    One shuffle: the per-source running offset is a single window
    cumsum; pack assignment is then pure arithmetic. At 100 TB the
    partition key is the source/domain — hundreds of groups, each
    processed independently."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    base = d.select("source", "doc_id", n_tokens().alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = base.withColumn(
        "off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint")
    )
    return packed.select(
        "source",
        "doc_id",
        "n_tok",
        F.expr(f"off div {PACK_BUDGET}").alias("pack_id"),
        (F.col("off") % PACK_BUDGET).alias("offset_in_pack"),
    ).orderBy("source", "doc_id")


def oracle_sequence_pack() -> str:
    return f"""
    WITH base AS (
        SELECT source, doc_id, {o_n_tokens()} AS n_tok FROM documents
    ), packed AS (
        SELECT source, doc_id, n_tok,
               CAST(coalesce(sum(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        FROM base
    )
    SELECT source, doc_id, n_tok,
           off // {PACK_BUDGET} AS pack_id,
           off % {PACK_BUDGET} AS offset_in_pack
    FROM packed ORDER BY source, doc_id
    """


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 terms by an exact-integer tf-idf ranking.

    score_q = (tf * 10000 * n_docs) div df — monotone in tf·(N/df), so
    the ranking matches log-idf tf-idf while staying in exact BIGINT
    arithmetic (cross-engine hashable). The doc-frequency relation is
    NOT broadcast: at 100 TB the vocabulary is itself large, so the
    term join shuffles on term and AQE's skew splitting handles the
    stopword-heavy keys. The (doc, term) tf relation is persisted: it
    feeds BOTH the df aggregate and the scoring join, and without the
    barrier the scan + explode + tf shuffle re-executes per consumer
    (warm min-of-2 A/B: wash at 10×, −17% at 30×, and the re-executed
    lineage is the whole corpus at warehouse scale)."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfx, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score_q", F.expr("(tf * 10000 * n_docs) div df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "term", "tf", "df", "score_q", "rk")
        .orderBy("doc_id", "rk")
    )


def oracle_tfidf_top_terms() -> str:
    return """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tfq AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term
    ), dfx AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY term
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), scored AS (
        SELECT doc_id, tfq.term, tf, df,
               CAST((tf * 10000 * n_docs) // df AS BIGINT) AS score_q
        FROM tfq JOIN dfx ON tfq.term = dfx.term CROSS JOIN n
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, term) AS rk
        FROM scored
    )
    SELECT doc_id, term, tf, df, score_q, rk FROM ranked WHERE rk <= 5
    ORDER BY doc_id, rk
    """


_PII_EMAIL = "[a-z0-9]+@[a-z0-9.]+[a-z]"
_PII_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(col):
    """The PII scrub as a reusable column expression (email → IP → phone,
    in that fixed order) — shared by the oracled pii_redact query, the
    CorpusPipeline scrub stage, and any streaming deployment."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of emails / IPs / phone numbers.

    The synthetic corpus carries no PII, so each doc is deterministically
    augmented with one of each kind (same expression on the oracle side)
    — the operator under test is the match-count + ordered-replacement
    plumbing, which is what a real scrub pipeline runs per batch.
    Map-only: zero shuffles at any corpus size."""
    d = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    base = d.select("doc_id", aug.alias("aug"))
    redacted = redact_pii(F.col("aug"))
    out = base.select(
        "doc_id",
        F.size(F.regexp_extract_all("aug", F.lit(_PII_EMAIL), F.lit(0))).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all("aug", F.lit(_PII_IP), F.lit(0))).cast("bigint").alias("n_ips"),
        F.size(F.regexp_extract_all("aug", F.lit(_PII_PHONE), F.lit(0))).cast("bigint").alias("n_phones"),
        redacted.alias("redacted_text"),
    )
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias("n_redactions"),
        "redacted_text",
    ).orderBy("doc_id")


def oracle_pii_redact() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id,
               concat(text, ' contact u', CAST(doc_id AS VARCHAR),
                      '@mail.com from 10.0.', CAST(doc_id % 256 AS VARCHAR),
                      '.7 call 555-123-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS aug
        FROM documents
    ), counted AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(aug, '{_PII_IP}')) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(aug,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IP}', '<IP>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g') AS redacted_text
        FROM base
    )
    SELECT doc_id, n_emails, n_ips, n_phones,
           n_emails + n_ips + n_phones AS n_redactions, redacted_text
    FROM counted ORDER BY doc_id
    """


def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring: per-doc mean unigram frequency (ppm)
    and bigram coverage — the cheap-LM filtering signal (documents made
    of globally-rare tokens / unseen bigrams are low-quality or
    out-of-distribution candidates).

    All arithmetic is exact-integer (ppm via integer division). The
    token→frequency join shuffles on term; hot stopword keys are the
    classic skew case AQE's skew-join splitting handles."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term")).persist()
    tot = tok.agg(F.count(F.lit(1)).alias("total_tok"))
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    uni_ppm = uni.crossJoin(F.broadcast(tot)).select(
        "term", F.expr("CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 div total_tok AS BIGINT)").alias("tok_ppm")
    )
    per_doc = (
        tok.join(uni_ppm, "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("tok_ppm").alias("sum_ppm"))
    )
    warr = d.select("doc_id", F.split("text", " ").alias("w")).filter(F.size("w") >= 2)
    bge = warr.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))")
        ).alias("bg"),
    )
    bgc = bge.groupBy("bg").agg(F.count(F.lit(1)).alias("bcnt"))
    cov = (
        bge.join(bgc, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bg"),
            F.sum(F.when(F.col("bcnt") >= 2, 1).otherwise(0)).cast("bigint").alias("n_common_bg"),
        )
    )
    joined = per_doc.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.expr("sum_ppm div n_tok").alias("mean_tok_ppm"),
        F.coalesce("n_bg", F.lit(0)).cast("bigint").alias("n_bg"),
        F.coalesce("n_common_bg", F.lit(0)).cast("bigint").alias("n_common_bg"),
    )
    return joined.select(
        "doc_id", "n_tok", "mean_tok_ppm", "n_bg", "n_common_bg",
        F.when(F.col("n_bg") > 0, ratio_4dp("n_common_bg", "n_bg"))
        .otherwise(F.lit(0.0))
        .alias("bigram_cov_4dp"),
    ).orderBy("doc_id")


def oracle_bigram_lm_quality() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS total_tok FROM tok
    ), uni AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term
    ), unip AS (
        SELECT term, CAST(CAST(cnt AS HUGEINT) * 1000000 // total_tok AS BIGINT) AS tok_ppm
        FROM uni CROSS JOIN tot
    ), per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(tok_ppm) AS BIGINT) AS sum_ppm
        FROM tok JOIN unip USING (term) GROUP BY doc_id
    ), wt AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ), bge AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w)-1),
                      i -> concat_ws(' ', w[i], w[i+1]))) AS bg
        FROM wt
    ), bgc AS (
        SELECT bg, CAST(count(*) AS BIGINT) AS bcnt FROM bge GROUP BY bg
    ), cov AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
               CAST(sum(CASE WHEN bcnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common_bg
        FROM bge JOIN bgc USING (bg) GROUP BY doc_id
    ), joined AS (
        SELECT p.doc_id, p.n_tok,
               CAST(sum_ppm // n_tok AS BIGINT) AS mean_tok_ppm,
               CAST(coalesce(c.n_bg, 0) AS BIGINT) AS n_bg,
               CAST(coalesce(c.n_common_bg, 0) AS BIGINT) AS n_common_bg
        FROM per_doc p LEFT JOIN cov c ON p.doc_id = c.doc_id
    )
    SELECT doc_id, n_tok, mean_tok_ppm, n_bg, n_common_bg,
           CASE WHEN n_bg > 0 THEN {o_ratio_4dp('n_common_bg', 'n_bg')} ELSE 0.0 END AS bigram_cov_4dp
    FROM joined ORDER BY doc_id
    """


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way deterministic hash split (80/10/10) with per-(source, split)
    accounting — the manifest a training run consumes. The bucket is a
    pure function of doc_id (stable under corpus growth, repartitions,
    and re-runs); the rollup is one groupBy shuffle over per-doc rows."""
    d = load(spark, sf_dir, "documents")
    split = (
        F.when(_split_bucket() < 80, F.lit("train"))
        .when(_split_bucket() < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("source", split.alias("split"), n_tokens("text").alias("n_tok"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").cast("bigint").alias("total_tokens"))
        .orderBy("source", "split")
    )


def oracle_train_val_test_split() -> str:
    return f"""
    WITH b AS (
        SELECT source,
               CASE WHEN {_ORACLE_BUCKET} < 80 THEN 'train'
                    WHEN {_ORACLE_BUCKET} < 90 THEN 'val'
                    ELSE 'test' END AS split,
               {o_n_tokens('text')} AS n_tok
        FROM documents
    )
    SELECT source, split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM b GROUP BY source, split ORDER BY source, split
    """


def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the uniform-mixture weights at the document level: each
    source gets a token budget of total/n_sources, downsampled via a
    deterministic per-doc md5 lottery in exact ppm (keep when
    doc_ppm < keep_ppm). Over-budget sources shrink; under-budget
    sources keep everything (keep_ppm capped at 1e6 — upsampling is a
    repeat factor at batch time, not row duplication here).

    Two tiny shuffles (per-source agg + broadcast back); the doc-level
    keep decision is map-only, so the pass over a 100 TB corpus is one
    scan."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.sum(n_tokens("text")).cast("bigint").alias("src_tokens"))
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rates = (
        per_src.withColumn("total_tokens", F.sum("src_tokens").over(w).cast("bigint"))
        .withColumn("n_sources", F.count(F.lit(1)).over(w).cast("bigint"))
        .select(
            "source",
            "src_tokens",
            # integer div end-to-end — a double division truncated by CAST
            # diverges from the oracle's exact `//` (see CLAUDE.md rules)
            F.least(
                F.lit(1000000).cast("bigint"),
                F.expr(
                    "CAST(CAST(total_tokens div n_sources AS DECIMAL(38,0)) * 1000000"
                    " div src_tokens AS BIGINT)"
                ),
            ).alias("keep_ppm"),
        )
    )
    doc_ppm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 1000000
    )
    return (
        d.select("doc_id", "source", n_tokens("text").alias("n_tok"), doc_ppm.alias("doc_ppm"))
        .join(F.broadcast(rates), "source")
        .filter(F.col("doc_ppm") < F.col("keep_ppm"))
        .select("doc_id", "source", "n_tok", "keep_ppm", "doc_ppm")
        .orderBy("doc_id")
    )


def oracle_mixture_resample() -> str:
    return f"""
    WITH per_src AS (
        SELECT source, CAST(sum({o_n_tokens('text')}) AS BIGINT) AS src_tokens
        FROM documents GROUP BY source
    ), rates AS (
        SELECT source, src_tokens,
               least(1000000, CAST(CAST(CAST(sum(src_tokens) OVER () AS BIGINT) // CAST(count(*) OVER () AS BIGINT) AS HUGEINT)
                              * 1000000 // src_tokens AS BIGINT)) AS keep_ppm
        FROM per_src
    ), docs AS (
        SELECT doc_id, source, {o_n_tokens('text')} AS n_tok,
               CAST(('0x' || substr(md5(concat('mix|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000 AS doc_ppm
        FROM documents
    )
    SELECT doc_id, d.source AS source, n_tok, keep_ppm, doc_ppm
    FROM docs d JOIN rates r ON d.source = r.source
    WHERE doc_ppm < keep_ppm
    ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Iterative / compositional: k-means step, kNN classify, dup-graph stats,
# dedup'd-corpus materialization
# ---------------------------------------------------------------------------


def kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus: assign
    every vector to its nearest centroid (map-only broadcast argmax —
    operators/similarity.py::ivf_assign), then recompute each centroid as
    the per-dimension mean of its members.

    The mean is published in exact quantized units (sum of floor(x·10⁶)
    div count) so the update hashes identically cross-engine. A full
    k-means run is this same plan iterated — per iteration: one corpus
    scan, one (cell_id, dim) shuffle whose cardinality is k·dim, not
    corpus-sized (partial sums are map-side)."""
    e = load(spark, sf_dir, "embeddings")
    assigned = sim.ivf_assign(e, n_centroids=IVF_N_CENTROIDS)
    exploded = assigned.select(
        "cell_id",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
        ).alias("dim_idx", "xq"),
    )
    return (
        exploded.groupBy("cell_id", "dim_idx")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("xq").alias("sum_q"))
        .select(
            "cell_id",
            F.col("dim_idx").cast("bigint").alias("dim_idx"),
            "n_members",
            F.expr("sum_q div n_members").alias("mean_q"),
        )
        .orderBy("cell_id", "dim_idx")
    )


def oracle_kmeans_iter() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, i, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM el
    ),
    n2 AS (
        SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY vec_id
    ),
    cdot AS (
        SELECT a.vec_id, c.vec_id AS cent_id, CAST(sum(a.xq * c.xq) AS BIGINT) AS dot
        FROM q a JOIN q c ON a.i = c.i AND c.vec_id < {IVF_N_CENTROIDS}
        GROUP BY a.vec_id, c.vec_id
    ),
    ccos AS (
        SELECT d.vec_id, d.cent_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)) AS cos
        FROM cdot d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN n2 nc ON nc.vec_id = d.cent_id
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
            FROM ccos
        ) WHERE rk = 1
    )
    SELECT a.cell_id,
           CAST(q.i - 1 AS BIGINT) AS dim_idx,
           count(*) AS n_members,
           CAST(sum(q.xq) // count(*) AS BIGINT) AS mean_q
    FROM assign a JOIN q ON q.vec_id = a.vec_id
    GROUP BY a.cell_id, q.i
    ORDER BY cell_id, dim_idx
    """


_KNN_QUERY_LO, _KNN_QUERY_HI = 100, 120  # 20 query vectors
_KNN_K = 5


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction: majority label of the 5 exact-cosine nearest
    neighbors (semantic classification / weak-label propagation over an
    embedding corpus). Ties break to the smaller label. The query set is
    broadcast; the corpus is scanned once — same scale shape as the
    brute-force ANN baseline."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q, norm2_q

    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "embedding", "label", norm2_q("embedding").alias("n2"))
    q = base.filter(
        (F.col("vec_id") >= _KNN_QUERY_LO) & (F.col("vec_id") < _KNN_QUERY_HI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("true_label"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        base.join(maybe_broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            dot_q("qvec", "embedding").alias("dot"),
            F.col("qn2").alias("n2a"),
            F.col("n2").alias("n2b"),
        )
        .withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    topk = scored.withColumn("nn_rank", F.row_number().over(w)).filter(F.col("nn_rank") <= _KNN_K)
    votes = topk.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.col("neighbor_label"))
    return (
        votes.withColumn("vote_rank", F.row_number().over(wv))
        .filter(F.col("vote_rank") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("predicted_label"),
            "n_votes",
            F.when(F.col("neighbor_label") == F.col("true_label"), F.lit("Y"))
            .otherwise(F.lit("N")).alias("is_correct"),
        )
        .orderBy("query_id")
    )


def oracle_knn_classify() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, i, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM el
    ),
    n2 AS (
        SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY vec_id
    ),
    dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM q a JOIN q b ON a.i = b.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id >= {_KNN_QUERY_LO} AND a.vec_id < {_KNN_QUERY_HI}
        GROUP BY a.vec_id, b.vec_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
            FROM scored
        ) WHERE nn_rank <= {_KNN_K}
    ),
    votes AS (
        SELECT t.query_id, eq.label AS true_label, en.label AS neighbor_label,
               count(*) AS n_votes
        FROM topk t
        JOIN embeddings eq ON eq.vec_id = t.query_id
        JOIN embeddings en ON en.vec_id = t.neighbor_id
        GROUP BY t.query_id, eq.label, en.label
    )
    SELECT query_id, true_label, neighbor_label AS predicted_label, n_votes,
           CASE WHEN neighbor_label = true_label THEN 'Y' ELSE 'N' END AS is_correct
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, neighbor_label) AS vote_rank
        FROM votes
    ) WHERE vote_rank = 1
    ORDER BY query_id
    """


def dedup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph degree histogram: how many near-dup partners each
    document has, rolled up to degree → n_docs (0-degree singletons
    included). The shape audit that catches boilerplate explosions —
    a fat tail here means LSH buckets are degenerating and the
    max_bucket_size cap should engage."""
    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    per_doc = (
        d.select("doc_id")
        .join(deg, "doc_id", "left")
        .select(F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"))
    )
    return per_doc.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs")).orderBy("degree")


def oracle_dedup_graph_degrees() -> str:
    return f"""
    WITH {_SIG_CTE},
    ends AS (
        SELECT doc_a AS doc_id FROM cand
        UNION ALL
        SELECT doc_b FROM cand
    ),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY doc_id
    ),
    per_doc AS (
        SELECT CAST(coalesce(g.degree, 0) AS BIGINT) AS degree
        FROM documents d LEFT JOIN deg g ON d.doc_id = g.doc_id
    )
    SELECT degree, count(*) AS n_docs FROM per_doc GROUP BY degree ORDER BY degree
    """


def corpus_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: materialize the KEPT corpus —
    one canonical document per near-dup cluster (min doc_id), with the
    cluster size it absorbed. Composition of lsh_candidate_pairs →
    connected_components → canonical filter; the anti-join shape a 100 TB
    dedup job actually ships."""
    from northwind_warehouse_spark.operators.components import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    clustered = (
        d.select("doc_id", "source", "lang")
        .join(comp, d.doc_id == comp.node, "left")
        .select("doc_id", "source", "lang", F.coalesce("comp", F.col("doc_id")).alias("cluster_id"))
    )
    sizes = clustered.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        clustered.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select("doc_id", "source", "lang", "n_members")
        .orderBy("doc_id")
    )


def oracle_corpus_dedup_apply() -> str:
    return f"""
    WITH RECURSIVE {_SIG_CTE},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND e.v <> r.u
    ),
    comp AS (
        SELECT u AS node, min(v) AS comp
        FROM (SELECT u, v FROM reach UNION SELECT u, u FROM edges)
        GROUP BY u
    ),
    clustered AS (
        SELECT d.doc_id, d.source, d.lang,
               coalesce(c.comp, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    sizes AS (
        SELECT cluster_id, count(*) AS n_members FROM clustered GROUP BY cluster_id
    )
    SELECT doc_id, cl.source AS source, cl.lang AS lang, n_members
    FROM clustered cl JOIN sizes s ON cl.cluster_id = s.cluster_id
    WHERE doc_id = cl.cluster_id
    ORDER BY doc_id
    """


def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching seeds / 8, exact 4dp integer ratio) next
    to the exact shingle Jaccard and the estimation error in 4dp units —
    the calibration table you consult before trusting MinHash thresholds
    on a 100 TB corpus where exact verification is unaffordable."""
    d = load(spark, sf_dir, "documents")
    sh_arr = sim.shingle_arrays(d)
    sig = sim.minhash_signatures(sh_arr).persist()
    pairs = sim.lsh_candidate_pairs(sig)
    a = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh{s}").alias(f"a{s}") for s in range(sim.N_SEEDS)])
    b = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh{s}").alias(f"b{s}") for s in range(sim.N_SEEDS)])
    matches = sum(
        (F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0) for s in range(1, sim.N_SEEDS)),
        F.when(F.col("a0") == F.col("b0"), 1).otherwise(0),
    )
    est = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", matches.cast("bigint").alias("n_match"))
        .withColumn("est_jaccard_4dp", F.expr(f"CAST((10000 * n_match) div {sim.N_SEEDS} AS DOUBLE) / 10000.0"))
    )
    exact = sim.pair_jaccard(sh_arr, pairs).select("doc_a", "doc_b", "n_inter", "n_union", "jaccard_4dp")
    # error stays in INTEGER 4dp units end-to-end — subtracting the
    # published doubles and casting would hit the Spark-truncates /
    # DuckDB-rounds divergence on inexact doubles
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a", "doc_b", "n_match", "est_jaccard_4dp", "jaccard_4dp",
            F.expr(f"(10000 * n_match) div {sim.N_SEEDS} - (10000 * n_inter) div n_union")
            .alias("err_4dp_units"),
        )
        .orderBy("doc_a", "doc_b")
    )


def oracle_dedup_minhash_estimate() -> str:
    match_expr = " + ".join(
        f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(sim.N_SEEDS)
    )
    return f"""
    WITH {_SIG_CTE},
    est AS (
        SELECT c.doc_a, c.doc_b, CAST({match_expr} AS BIGINT) AS n_match
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
    ),
    exact AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(xa.sh, xb.sh)) AS BIGINT) AS n_inter,
               CAST(len(xa.sh) + len(xb.sh) - len(list_intersect(xa.sh, xb.sh)) AS BIGINT) AS n_union
        FROM cand c
        JOIN sharr xa ON xa.doc_id = c.doc_a
        JOIN sharr xb ON xb.doc_id = c.doc_b
    )
    SELECT e.doc_a, e.doc_b, n_match,
           CAST(CAST((10000 * n_match) // {sim.N_SEEDS} AS BIGINT) AS DOUBLE) / 10000.0 AS est_jaccard_4dp,
           CAST(CAST((10000 * n_inter) // n_union AS BIGINT) AS DOUBLE) / 10000.0 AS jaccard_4dp,
           (10000 * n_match) // {sim.N_SEEDS} - (10000 * n_inter) // n_union AS err_4dp_units
    FROM est e JOIN exact x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
    ORDER BY e.doc_a, e.doc_b
    """


def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration over the corpus: count adjacent token
    pairs, pick the top pair (count desc, lexicographic tie-break),
    apply the merge LEFT-TO-RIGHT NON-OVERLAPPING in every document, and
    emit the post-merge top-10 pair counts with the applied rule.

    The only subtle part is greedy non-overlap for self-pairs ('x x x'
    merges positions 0,2 — not 1): match positions are grouped into
    consecutive-run islands (gaps-and-islands via i − running-match-
    count) and even offsets within each island merge. Everything is
    windows + groupBys — the full tokenizer training loop is this plan
    iterated with the merge table growing by one rule per round.
    """
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    wseq = Window.partitionBy("doc_id").orderBy("i")
    pairs = toks.withColumn("nxt", F.lead("tok").over(wseq))
    counts = (
        pairs.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.desc("c"), "a", "b").limit(1).select("a", "b")

    m = pairs.crossJoin(F.broadcast(top)).withColumn(
        "mm", (F.col("tok") == F.col("a")) & (F.col("nxt") == F.col("b"))
    )
    wrun = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    island = m.withColumn(
        "island", F.col("i") - F.sum(F.col("mm").cast("int")).over(wrun)
    )
    wisland = Window.partitionBy("doc_id", "island", "mm").orderBy("i")
    flagged = island.withColumn(
        "head", F.col("mm") & (((F.row_number().over(wisland) - 1) % 2) == 0)
    ).withColumn("consumed", F.coalesce(F.lag("head").over(wseq), F.lit(False)))

    merged = flagged.filter(~F.col("consumed")).select(
        "doc_id", "i", "a", "b",
        F.when(F.col("head"), F.concat_ws("_", "a", "b")).otherwise(F.col("tok")).alias("new_tok"),
    )
    pairs2 = merged.withColumn("nxt", F.lead("new_tok").over(wseq)).filter(
        F.col("nxt").isNotNull()
    )
    counts2 = pairs2.groupBy(
        F.col("a").alias("merged_a"),
        F.col("b").alias("merged_b"),
        F.col("new_tok").alias("pair_a"),
        F.col("nxt").alias("pair_b"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wrank = Window.orderBy(F.desc("cnt"), "pair_a", "pair_b")
    return (
        counts2.withColumn("rk", F.row_number().over(wrank).cast("bigint"))
        .filter(F.col("rk") <= 10)
        .select("merged_a", "merged_b", "pair_a", "pair_b", "cnt", "rk")
        .orderBy("rk")
    )


def oracle_bpe_merge_step() -> str:
    return """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ), pairs AS (
        SELECT doc_id, i, tok,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        FROM tok
    ), cnt AS (
        SELECT tok AS a, nxt AS b, count(*) AS c
        FROM pairs WHERE nxt IS NOT NULL GROUP BY tok, nxt
    ), top AS (
        SELECT a, b FROM cnt ORDER BY c DESC, a, b LIMIT 1
    ), m AS (
        SELECT p.doc_id, p.i, p.tok, p.nxt, t.a, t.b,
               (p.tok = t.a AND p.nxt = t.b) AS mm
        FROM pairs p CROSS JOIN top t
    ), island AS (
        SELECT *, i - sum(CASE WHEN mm THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM m
    ), flagged AS (
        SELECT *, (mm AND (row_number() OVER (PARTITION BY doc_id, isl, mm ORDER BY i) - 1) % 2 = 0) AS head
        FROM island
    ), with_consumed AS (
        SELECT *, coalesce(lag(head) OVER (PARTITION BY doc_id ORDER BY i), false) AS consumed
        FROM flagged
    ), merged AS (
        SELECT doc_id, i, a, b,
               CASE WHEN head THEN concat_ws('_', a, b) ELSE tok END AS new_tok
        FROM with_consumed WHERE NOT consumed
    ), pairs2 AS (
        SELECT doc_id, a, b, new_tok,
               lead(new_tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        FROM merged
    ), counts2 AS (
        SELECT a AS merged_a, b AS merged_b, new_tok AS pair_a, nxt AS pair_b, count(*) AS cnt
        FROM pairs2 WHERE nxt IS NOT NULL
        GROUP BY a, b, new_tok, nxt
    )
    SELECT merged_a, merged_b, pair_a, pair_b, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, pair_a, pair_b) AS BIGINT) AS rk
    FROM counts2
    QUALIFY rk <= 10
    ORDER BY rk
    """


def model_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML-classifier corpus filtering via Arrow-batched mapInPandas
    (operators/multimodal.py::model_score_documents). The deterministic
    stub score is md5-derived, so even this PYTHON path is hash-verified
    against the SQL oracle — evidence the batch-inference plumbing is
    row-exact, not just 'runs'."""
    from northwind_warehouse_spark.operators.multimodal import model_score_documents

    d = load(spark, sf_dir, "documents")
    return model_score_documents(d).orderBy("doc_id")


def oracle_model_score_filter() -> str:
    return """
    WITH scored AS (
        SELECT doc_id, 'quality-clf-v0' AS model_version,
               CAST(('0x' || substr(md5('score|' || text), 1, 8)) AS BIGINT) % 1000000 AS score_q
        FROM documents
    )
    SELECT doc_id, model_version, score_q,
           CASE WHEN score_q >= 500000 THEN 'Y' ELSE 'N' END AS keep
    FROM scored ORDER BY doc_id
    """


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the LSH-bucketed search
    against the brute-force ground truth, per query, in exact ppm — the
    accept/reject gate you run before trusting an approximate index at
    corpus scale.

    Both sides reuse the production plans; the comparison is a
    (query_id, neighbor_id) semi-join over two ~|queries|·k row sets, so
    the evaluation costs what the searches cost, nothing more."""
    truth = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    # persist (r14): truth feeds hits + n_true over the full
    # ann_cosine_topk lineage. Session-pair ABAB: on 1.088/1.042 vs off
    # 1.160/1.193 warm med-of-5, checksums identical. (The same persist
    # in ann_pq_recall measured a wash — declined there; ann_pq_topk's
    # own cost dominates that query.)
    truth = truth.persist()
    approx = ann_lsh_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = truth.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left_semi")
    n_true = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_true.join(F.broadcast(n_hit), "query_id", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("bigint"))
        .withColumn("recall_ppm", F.expr("n_hits * 1000000 div n_true"))
        .select("query_id", "n_true", "n_hits", "recall_ppm")
        .orderBy("query_id")
    )


def oracle_ann_recall_eval() -> str:
    truth = oracle_ann_cosine_topk()
    approx = oracle_ann_lsh_topk()
    return f"""
    WITH truth AS ({truth}),
    approx AS ({approx}),
    n_true_t AS (
        SELECT query_id, count(*) AS n_true FROM truth GROUP BY query_id
    ),
    n_hit_t AS (
        SELECT t.query_id, count(*) AS n_hits
        FROM truth t
        WHERE EXISTS (
            SELECT 1 FROM approx a
            WHERE a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        )
        GROUP BY t.query_id
    )
    SELECT n_true_t.query_id AS query_id, n_true,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(n_hits, 0) AS BIGINT) * 1000000 // n_true AS recall_ppm
    FROM n_true_t LEFT JOIN n_hit_t ON n_true_t.query_id = n_hit_t.query_id
    ORDER BY 1
    """


BPE_ENCODE_ROUNDS = 3


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application at corpus scale: run BPE_ENCODE_ROUNDS
    training rounds (learn the top adjacent pair, apply it greedily
    left-to-right non-overlapping, re-number positions) and report each
    document's token count before and after — the compression the
    learned merges buy, hash-verified end-to-end.

    Each round is the proven bpe_merge_step machinery (islands trick for
    self-pairs) plus a row_number re-index so the next round's
    gaps-and-islands arithmetic stays valid. The learned pair never
    leaves the cluster: it's a 1-row broadcast, not a collect. Rounds
    are sequential by nature (each merge depends on the last), but every
    round is a fixed number of hash(doc_id) windows — O(rounds · corpus)
    total, the real tokenizer-training loop shape.

    Each round's re-indexed token relation is PERSISTED and eagerly
    materialized, releasing the previous round's cache (round-9 verdict
    #7): a round's tokens feed BOTH the next round's pair-count
    aggregate (the ``top`` limit-1) and its merge chain — and without
    the cache the per-round aggregate re-executes the ENTIRE chain of
    prior rounds, turning O(rounds · corpus) into O(rounds² · corpus).
    Measured min-of-2: 9.2s → 4.9s at 10× corpus, 14.6s → 7.9s at 30×
    (SCALING.md)."""
    from pyspark.sql.window import Window

    # spread DECLINED with numbers (r14, verdict item 4): a doc_id hash
    # spread of the scan (which would also satisfy every window's
    # clustering — the scd2_users trick) A/B'd 0.978 in-session
    # alternating (ON 2.408 / OFF 2.461 warm med-of-5) — a wash. The
    # plan shows why: rounds >= 1 already ride ONE doc_id partitioning
    # (each round's toks is window output, persisted, partitioning
    # preserved through the cache — no Exchange between a cached round
    # and the next round's windows); only round 0's windows exchange
    # the cached explode once, and that single exchange is all the
    # spread could remove. The per-round cost is the corpus-grain
    # (a,b) pair-count aggregate + its exchange, which is the
    # algorithm.
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    ).persist()
    n_before = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens_before"))

    wseq = Window.partitionBy("doc_id").orderBy("i")
    wrun = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = toks
    for _ in range(BPE_ENCODE_ROUNDS):
        pairs = toks.withColumn("nxt", F.lead("tok").over(wseq))
        top = (
            pairs.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .select("a", "b")
        )
        m = pairs.crossJoin(F.broadcast(top)).withColumn(
            "mm", (F.col("tok") == F.col("a")) & (F.col("nxt") == F.col("b"))
        )
        island = m.withColumn(
            "island", F.col("i") - F.sum(F.col("mm").cast("int")).over(wrun)
        )
        wisland = Window.partitionBy("doc_id", "island", "mm").orderBy("i")
        flagged = island.withColumn(
            "head", F.col("mm") & (((F.row_number().over(wisland) - 1) % 2) == 0)
        ).withColumn("consumed", F.coalesce(F.lag("head").over(wseq), F.lit(False)))
        toks = (
            flagged.filter(~F.col("consumed"))
            .select(
                "doc_id",
                F.row_number().over(wseq).alias("i"),
                F.when(F.col("head"), F.concat_ws("_", "a", "b"))
                .otherwise(F.col("tok"))
                .alias("tok"),
            )
            .persist()
        )
        # materialize this round THROUGH the previous round's cache
        # (one pass — work every consumer would trigger anyway), then
        # release the predecessor; the final round's handle stays
        # pinned for n_after (n_before re-derives from the map-only
        # explode, one cheap scan at collect time)
        toks.count()
        prev.unpersist()
        prev = toks

    n_after = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens_after"))
    return (
        n_before.join(n_after, "doc_id")
        .withColumn("n_saved", F.col("n_tokens_before") - F.col("n_tokens_after"))
        .select("doc_id", "n_tokens_before", "n_tokens_after", "n_saved")
        .orderBy("doc_id")
    )


def oracle_bpe_encode() -> str:
    rounds = []
    for r in range(BPE_ENCODE_ROUNDS):
        rounds.append(f"""
    pairs{r} AS (
        SELECT doc_id, i, tok,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        FROM tok{r}
    ), top{r} AS (
        SELECT tok AS a, nxt AS b FROM pairs{r} WHERE nxt IS NOT NULL
        GROUP BY tok, nxt ORDER BY count(*) DESC, a, b LIMIT 1
    ), island{r} AS (
        SELECT p.doc_id, p.i, p.tok, t.a, t.b,
               (p.tok = t.a AND p.nxt = t.b) AS mm,
               p.i - sum(CASE WHEN p.tok = t.a AND p.nxt = t.b THEN 1 ELSE 0 END)
                       OVER (PARTITION BY p.doc_id ORDER BY p.i
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM pairs{r} p CROSS JOIN top{r} t
    ), flagged{r} AS (
        SELECT *, (mm AND (row_number() OVER (PARTITION BY doc_id, isl, mm ORDER BY i) - 1) % 2 = 0) AS head
        FROM island{r}
    ), cons{r} AS (
        SELECT *, coalesce(lag(head) OVER (PARTITION BY doc_id ORDER BY i), false) AS consumed
        FROM flagged{r}
    ), tok{r + 1} AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i,
               CASE WHEN head THEN concat_ws('_', a, b) ELSE tok END AS tok
        FROM cons{r} WHERE NOT consumed
    )""")
    chain = ",".join(rounds)
    last = BPE_ENCODE_ROUNDS
    return f"""
    WITH tok0 AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ),{chain}
    SELECT b.doc_id AS doc_id,
           b.n AS n_tokens_before, a.n AS n_tokens_after,
           b.n - a.n AS n_saved
    FROM (SELECT doc_id, count(*) AS n FROM tok0 GROUP BY doc_id) b
    JOIN (SELECT doc_id, count(*) AS n FROM tok{last} GROUP BY doc_id) a
      ON b.doc_id = a.doc_id
    ORDER BY 1
    """


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 vector quantization audit: per embedding, the symmetric
    scale (max |component| in quantized units) and exact integer
    summaries of the int8 codes — the 4×-memory compression an ANN
    index applies before it ever holds 100 TB of vectors.

    codes are sign-split integer division so truncation is identical
    cross-engine; the whole plan is map-only higher-order functions
    (zero shuffles before the final sort)."""
    q = "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
    e = load(spark, sf_dir, "embeddings")
    xq = e.select(
        "vec_id", "label",
        F.expr(f"transform(embedding, x -> {q})").alias("xq"),
    )
    scaled = xq.select(
        "vec_id", "label",
        F.size("xq").alias("n_dims"),
        F.expr("aggregate(xq, CAST(0 AS BIGINT), (m, v) -> greatest(m, abs(v)))").alias("scale_q"),
        F.col("xq"),
    )
    codes = scaled.withColumn(
        "codes",
        F.expr(
            """CASE WHEN scale_q = 0 THEN transform(xq, v -> CAST(0 AS BIGINT))
                    ELSE transform(xq, v -> CASE WHEN v >= 0 THEN (v * 127) div scale_q
                                                 ELSE -((-v * 127) div scale_q) END)
               END"""
        ),
    )
    return (
        codes.select(
            "vec_id", "label", "n_dims", "scale_q",
            F.expr("aggregate(codes, CAST(0 AS BIGINT), (acc, v) -> acc + v)").alias("sum_codes"),
            F.expr("aggregate(codes, CAST(0 AS BIGINT), (acc, v) -> acc + abs(v))").alias("sum_abs_codes"),
            F.expr("aggregate(codes, CAST(0 AS BIGINT), (m, v) -> greatest(m, abs(v)))").alias("max_abs_code"),
        )
        .orderBy("vec_id")
    )


def oracle_embedding_quantize_int8() -> str:
    return """
    WITH el AS (
        SELECT vec_id, label,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM embeddings
    ), scaled AS (
        SELECT vec_id, label, count(*) AS n_dims,
               CAST(max(abs(xq)) AS BIGINT) AS scale_q
        FROM el GROUP BY vec_id, label
    ), coded AS (
        SELECT el.vec_id, el.label,
               CASE WHEN s.scale_q = 0 THEN CAST(0 AS BIGINT)
                    WHEN el.xq >= 0 THEN (el.xq * 127) // s.scale_q
                    ELSE -(((-el.xq) * 127) // s.scale_q) END AS code
        FROM el JOIN scaled s ON el.vec_id = s.vec_id
    )
    SELECT s.vec_id AS vec_id, s.label AS label, s.n_dims, s.scale_q,
           CAST(sum(c.code) AS BIGINT) AS sum_codes,
           CAST(sum(abs(c.code)) AS BIGINT) AS sum_abs_codes,
           CAST(max(abs(c.code)) AS BIGINT) AS max_abs_code
    FROM scaled s JOIN coded c ON s.vec_id = c.vec_id
    GROUP BY s.vec_id, s.label, s.n_dims, s.scale_q
    ORDER BY 1
    """


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation companion to ``lang_id``: the labeled-vs-
    predicted confusion matrix with per-true-lang recall share in exact
    ppm — the corpus-level view that tells you WHERE the heuristic
    misroutes documents, not just how often.

    Reuses the production predictor verbatim; the matrix is a
    |langs|² rollup, so everything after the per-doc map is tiny."""
    from pyspark.sql.window import Window

    pred = lang_id(spark, sf_dir)
    m = pred.groupBy(
        F.col("lang").alias("true_lang"), F.col("lang_pred").alias("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("true_lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        m.withColumn("n_true", F.sum("n_docs").over(w).cast("bigint"))
        .select(
            "true_lang", "pred_lang", "n_docs",
            F.expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div n_true AS BIGINT)").alias("share_of_true_ppm"),
        )
        .orderBy("true_lang", "pred_lang")
    )


def oracle_lang_confusion_matrix() -> str:
    pred = oracle_lang_id()
    return f"""
    WITH pred AS ({pred}),
    m AS (
        SELECT lang AS true_lang, lang_pred AS pred_lang, count(*) AS n_docs
        FROM pred GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, n_docs,
           CAST(CAST(n_docs AS HUGEINT) * 1000000 // CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS BIGINT) AS BIGINT) AS share_of_true_ppm
    FROM m ORDER BY true_lang, pred_lang
    """


def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher intra-document repetition gate ``repetition_quality``
    doesn't cover: the fraction of each document's token 3-grams that
    are duplicates of an earlier occurrence IN THE SAME DOC (boilerplate
    loops, copy-paste stutter), in exact ppm with the >20% flag.

    One shuffle on (doc_id, trigram) — the per-doc n-gram histogram is
    a partial-aggregating groupBy, never an array blowup held in one
    row, so a pathological 1 GB document still aggregates distributed.
    The token array is STAGED before the trigram lambda (split inside
    the lambda body re-tokenizes the document once per trigram —
    measured 3.5×; see bpe_pair_stats)."""
    d = load(spark, sf_dir, "documents")
    tri = d.select("doc_id", F.expr("split(text, ' ')").alias("w")).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 3 THEN"
                " transform(sequence(0, size(w) - 3),"
                " i -> concat_ws(' ', slice(w, i + 1, 3)))"
                " ELSE array() END"
            )
        ).alias("tri"),
    )
    per = tri.groupBy("doc_id", "tri").agg(F.count(F.lit(1)).alias("c"))
    stats = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_trigrams"),
        F.sum(F.col("c") - 1).alias("n_dup_trigrams"),
    )
    return (
        stats.select(
            "doc_id",
            F.col("n_trigrams").cast("bigint").alias("n_trigrams"),
            F.col("n_dup_trigrams").cast("bigint").alias("n_dup_trigrams"),
            F.expr("n_dup_trigrams * 1000000 div n_trigrams").alias("dup_ppm"),
            F.expr("n_dup_trigrams * 5 > n_trigrams").alias("is_loopy"),
        )
        .orderBy("doc_id")
    )


def oracle_dup_ngram_fraction() -> str:
    return """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), idx AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM w WHERE len(toks) >= 3
    ), tri AS (
        SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]) AS tri
        FROM idx
    ), per AS (
        SELECT doc_id, tri, count(*) AS c FROM tri GROUP BY doc_id, tri
    ), stats AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_trigrams,
               CAST(sum(c - 1) AS BIGINT) AS n_dup_trigrams
        FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_trigrams, n_dup_trigrams,
           n_dup_trigrams * 1000000 // n_trigrams AS dup_ppm,
           n_dup_trigrams * 5 > n_trigrams AS is_loopy
    FROM stats ORDER BY doc_id
    """


_TOKEN_BUDGET = 500  # per-source token budget for the budgeted sample


def corpus_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-budget-constrained per-source sampling — the pretraining
    mixture op 'take ~N tokens from each domain' (complement of
    corpus_sample_per_source, which budgets DOC counts).

    Scale-safe formulation: instead of a per-source cumulative-sum
    window over every document (few heavy reducers at corpus scale),
    each source's keep-threshold is computed from one tiny aggregate —
    keep docs whose deterministic md5 lottery ticket falls below
    ``1e6 * budget div src_tokens`` (capped at 1e6 ≡ keep all when the
    source is under budget). Tokens are independent of the lottery, so
    kept tokens ≈ budget within sampling error ~1/sqrt(n); membership
    is a pure function of (doc_id, source totals) — reproducible and
    map-only after one broadcast. Accuracy asserted in
    tests/test_operators.py."""
    d = load(spark, sf_dir, "documents")
    return (
        admit_token_budget(d, token_budget_thresholds(d))
        .orderBy("doc_id")
    )


def token_budget_ord() -> "F.Column":
    """Deterministic admission ticket in [0, 1e6) per document."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit("tb|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1_000_000
    )


def token_budget_thresholds(docs: DataFrame, budget: int = _TOKEN_BUDGET) -> DataFrame:
    """Per-source admission thresholds (source, thr_ppm): one tiny
    aggregate over the reference corpus — the batch-refreshed static
    side of the streaming admission job."""
    return docs.select("source", n_tokens("text").alias("n_tokens")).groupBy("source").agg(
        F.expr(
            f"CAST(least(CAST(1000000 AS BIGINT) * {budget} div CAST(sum(n_tokens) AS BIGINT),"
            f" CAST(1000000 AS BIGINT)) AS BIGINT)"
        ).alias("thr_ppm")
    )


def admit_token_budget(docs: DataFrame, thresholds: DataFrame) -> DataFrame:
    """Map-only admission filter against broadcast thresholds — the
    shared core of the batch sampler and its streaming twin
    (streaming/jobs.py::admit_stream_token_budget)."""
    return (
        docs.select("doc_id", "source", n_tokens("text").alias("n_tokens"),
                    token_budget_ord().alias("ord_ppm"))
        .join(F.broadcast(thresholds), "source")
        .filter(F.col("ord_ppm") < F.col("thr_ppm"))
        .select("doc_id", "source", "n_tokens")
    )


def oracle_corpus_sample_token_budget() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, source, {o_n_tokens()} AS n_tokens,
               CAST(('0x' || substr(md5('tb|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS ord_ppm
        FROM documents
    ), thr AS (
        SELECT source,
               CAST(least(CAST(1000000 AS BIGINT) * {_TOKEN_BUDGET} // CAST(sum(n_tokens) AS BIGINT),
                          CAST(1000000 AS BIGINT)) AS BIGINT) AS thr_ppm
        FROM toks GROUP BY source
    )
    SELECT doc_id, t.source, n_tokens
    FROM toks t JOIN thr ON t.source = thr.source
    WHERE ord_ppm < thr_ppm
    ORDER BY doc_id
    """


_STRATUM_KEEP_PCT = (100, 50, 25, 10)  # keep rate per quality quartile, best→worst


def quality_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling: documents are stratified into
    quality quartiles and retained at per-stratum rates (best quartile
    kept whole, the tail downsampled to 10%) — the quality-aware
    retention stage of a curation pipeline, composing the two round-4
    primitives.

    The integer quality score is the 4-dp stopword ratio (a natural-
    language signal; exact integer division, engine-identical). Both
    decision surfaces are scale-free: quartile BOUNDARIES come from the
    deterministic md5-lottery sample (descending percentiles, stratum 1
    = most natural), and retention is a second independent md5 lottery
    against the stratum's keep rate. The whole plan is one tiny
    boundary aggregate broadcast over a map-only scan — no window, no
    per-stratum shuffle, reproducible membership."""
    d = load(spark, sf_dir, "documents")
    score = F.expr("CAST(10000 * n_stopwords div n_tokens AS BIGINT)")
    scored = d.select(
        "doc_id", "source",
        n_tokens().alias("n_tokens"),
        stopword_count().alias("n_stopwords"),
    ).select("doc_id", "source", "n_tokens", score.alias("score"))
    samp_lot = (
        F.conv(F.substring(F.md5(F.concat(F.lit("qs|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1_000_000
    )
    bnds = scored.filter(samp_lot < 500_000).agg(
        F.array(*[F.expr(f"percentile(score, {q})") for q in (0.75, 0.5, 0.25)]).alias("bnds")
    )
    keep_lot = (
        F.conv(F.substring(F.md5(F.concat(F.lit("qk|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100
    )
    rate = (
        F.when(F.col("stratum") == 1, _STRATUM_KEEP_PCT[0])
        .when(F.col("stratum") == 2, _STRATUM_KEEP_PCT[1])
        .when(F.col("stratum") == 3, _STRATUM_KEEP_PCT[2])
        .otherwise(_STRATUM_KEEP_PCT[3])
    )
    return (
        scored.crossJoin(F.broadcast(bnds))
        .withColumn("stratum", F.expr("CAST(1 + size(filter(bnds, b -> score < b)) AS INT)"))
        .withColumn("_keep", keep_lot < rate)
        .filter(F.col("_keep"))
        .select("doc_id", "source", "score", "stratum", "n_tokens")
        .orderBy("doc_id")
    )


def oracle_quality_stratified_sample() -> str:
    rates = _STRATUM_KEEP_PCT
    return f"""
    WITH scored AS (
        SELECT doc_id, source, {o_n_tokens()} AS n_tokens,
               CAST(10000 * {o_stopword_count()} // {o_n_tokens()} AS BIGINT) AS score
        FROM documents
    ), b AS (
        SELECT [quantile_cont(score, 0.75), quantile_cont(score, 0.5), quantile_cont(score, 0.25)] AS bnds
        FROM scored
        WHERE CAST(('0x' || substr(md5('qs|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 500000
    ), tiled AS (
        SELECT doc_id, source, score, n_tokens,
               CAST(1 + len(list_filter(bnds, x -> score < x)) AS INTEGER) AS stratum
        FROM scored, b
    )
    SELECT doc_id, source, score, stratum, n_tokens
    FROM tiled
    WHERE CAST(('0x' || substr(md5('qk|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
          < CASE stratum WHEN 1 THEN {rates[0]} WHEN 2 THEN {rates[1]}
                         WHEN 3 THEN {rates[2]} ELSE {rates[3]} END
    ORDER BY doc_id
    """


_BOILER_DF_PPM = 6_000      # a shingle is corpus boilerplate once it appears in >= 0.6% of docs
_BOILER_FLAG_PPM = 500_000  # a doc is boilerplate-dominated when > 50% of its shingles are common


def boilerplate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: the fraction of each doc's
    word-trigram shingles that are *corpus-common* (document frequency
    >= _BOILER_DF_PPM of the corpus — RELATIVE, so the gate means the
    same thing at 500 docs and 500M docs) — the template/nav-chrome
    pruning stage of a web curation pipeline (complements
    dup_ngram_fraction, which measures WITHIN-doc repetition).

    Scale shape: one shuffle on the shingle string to count document
    frequency (well-spread key, map-side partial countDistinct), one
    shuffle back on the shingle to tag occurrences, one per-doc agg,
    one 1-row corpus-count broadcast — no window, no collect, no
    all-pairs structure; the df table stays distributed. Coverage
    ratio is exact integer division (ppm)."""
    d = load(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.expr("size(toks) >= 3")
    )
    # persisted: the trigram explode is the dominant scan and feeds both
    # the df count and the tag-back join — compute it once
    tri = toks.select(
        "doc_id",
        F.expr(
            "explode(transform(sequence(1, size(toks) - 2), "
            "i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1])))"
        ).alias("tri"),
    ).persist()
    df_counts = tri.groupBy("tri").agg(F.countDistinct("doc_id").alias("df"))
    per = (
        tri.join(df_counts, "tri")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(
                    F.expr(f"df * 1000000 >= n_docs * {_BOILER_DF_PPM}"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("n_common"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_common",
        F.expr("1000000 * n_common div n_shingles").alias("boiler_ppm"),
        F.expr(f"1000000 * n_common div n_shingles > {_BOILER_FLAG_PPM}").alias(
            "is_boilerplate"
        ),
    ).orderBy("doc_id")


def oracle_boilerplate_prune() -> str:
    return f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), idx AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM w
    ), tri AS (
        SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]) AS tri FROM idx
    ), df AS (
        SELECT tri, count(DISTINCT doc_id) AS df FROM tri GROUP BY tri
    ), per AS (
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(*) FILTER (
                   WHERE df.df * 1000000 >= (SELECT count(*) FROM documents) * {_BOILER_DF_PPM}
               ) AS BIGINT) AS n_common
        FROM tri t JOIN df USING (tri) GROUP BY t.doc_id
    )
    SELECT doc_id, n_shingles, n_common,
           1000000 * n_common // n_shingles AS boiler_ppm,
           1000000 * n_common // n_shingles > {_BOILER_FLAG_PPM} AS is_boilerplate
    FROM per ORDER BY doc_id
    """


_WINNOW_K = 5  # char-gram length
_WINNOW_W = 4  # winnowing window (positions per window)


def _winnow_sel(docs: DataFrame) -> DataFrame:
    """Map-only winnowing selection: (doc_id, n_grams, sel) with sel the
    distinct window-minimum hash picks — the shared core of the digest
    plan, the streaming twin, and the overlap-pair detector."""
    n_min = _WINNOW_K + _WINNOW_W - 1
    d = docs.filter(F.length("text") >= n_min)
    hs = (
        f"transform(sequence(1, length(text) - {_WINNOW_K - 1}), "
        f"i -> CAST(conv(substring(md5(substring(text, i, {_WINNOW_K})), 1, 8), 16, 10) AS BIGINT))"
    )
    return (
        d.select("doc_id", F.expr(hs).alias("hs"))
        .select(
            "doc_id",
            F.expr("CAST(size(hs) AS BIGINT)").alias("n_grams"),
            F.expr(
                f"array_distinct(transform(sequence(1, size(hs) - {_WINNOW_W - 1}), "
                f"i -> array_min(slice(hs, i, {_WINNOW_W}))))"
            ).alias("sel"),
        )
    )


def winnow_digests(docs: DataFrame) -> DataFrame:
    """The winnowing digest as a reusable map-only transform — one
    definition serves the batch plan (winnow_fingerprint) and the live
    ingest stream (streaming/jobs.py::winnow_stream) unchanged."""
    return (
        _winnow_sel(docs)
        .select(
            "doc_id",
            "n_grams",
            F.expr("CAST(size(sel) AS BIGINT)").alias("n_selected"),
            F.expr("aggregate(sel, CAST(0 AS BIGINT), (a, v) -> a ^ v)").alias("fp_xor"),
        )
        .withColumn("density_ppm", F.expr("1000000 * n_selected div n_grams"))
    )


def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer et
    al. 2003): hash every char 5-gram, keep the minimum hash of each
    sliding 4-window, distinct the picks — an edit-robust fingerprint
    set whose density is ~2/(w+1), used for plagiarism-style overlap
    detection where exact-line hashing (doc_fingerprint) is too
    brittle.

    Map-only per document — the whole selection runs inside one
    projection of higher-order functions (no explode, no shuffle);
    output is the per-doc fingerprint-set cardinality + an
    order-independent XOR digest, both engine-exact integers."""
    # spread (r13, guide §2.5): the per-char 5-gram md5 selection is the
    # heaviest map-only projection in the repo and has no exchange
    # before the final sort — single-threaded end to end on an
    # under-split input without the hash spread.
    return winnow_digests(
        spread_scan(load(spark, sf_dir, "documents"), spark, sf_dir,
                    "documents", "doc_id", min_rows=1000)
    ).orderBy("doc_id")


def oracle_winnow_fingerprint() -> str:
    n_min = _WINNOW_K + _WINNOW_W - 1
    return f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(text) - {_WINNOW_K - 1}),
                   i -> CAST(('0x' || substr(md5(substr(text, i, {_WINNOW_K})), 1, 8)) AS BIGINT)) AS hs
        FROM documents WHERE length(text) >= {n_min}
    ), m AS (
        SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
               list_distinct(list_transform(generate_series(1, len(hs) - {_WINNOW_W - 1}),
                   i -> list_min(hs[i:i + {_WINNOW_W - 1}]))) AS sel
        FROM h
    ), x AS (
        SELECT doc_id, n_grams, CAST(len(sel) AS BIGINT) AS n_selected, unnest(sel) AS s
        FROM m
    )
    SELECT doc_id, n_grams, n_selected, bit_xor(s) AS fp_xor,
           1000000 * n_selected // n_grams AS density_ppm
    FROM x GROUP BY doc_id, n_grams, n_selected ORDER BY doc_id
    """


_WINNOW_MAX_DF = 20  # fingerprints in more docs than this are vocabulary, not evidence


def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document overlap detection over the winnowing fingerprints
    — the MOSS use case: document pairs sharing >= 2 *rare* fingerprint
    hashes, scored by shared-fingerprint fraction of the smaller set.

    The rarity cap (document frequency <= _WINNOW_MAX_DF) is the skew
    bound: a fingerprint every document carries is shared vocabulary,
    not copying, and joining on it would fan out quadratically — the
    same degenerate-bucket discipline as the MinHash band cap
    (operators/similarity.py). With it, per-hash join fan-out is
    <= cap², so pair work stays linear in corpus size at any scale;
    candidates never come from an all-pairs structure.

    The per-doc fingerprint arrays are persisted BEFORE the explode:
    downstream reuses them in the df count and both pair-join sides,
    and without the barrier Catalyst collapses the winnow transform
    into the post-explode projections — re-evaluating the whole per-doc
    hashing once per exploded row per branch (measured 280s -> 3s at
    sf0.001; the blowup factor is exactly the mean fingerprints/doc).
    `rare` deliberately has NO persist of its own even though it feeds
    both pair-join sides: with `sel` cached, re-deriving rare per side
    is one cheap cached-scan + df-agg, and materializing it was
    measured a small LOSS at 10× (3× A/B min-of-2: 5.3-6.4s persisted
    vs 5.1-5.5s not — the barrier's write cost exceeds the saved
    recompute; the self-join persist rule targets EXPENSIVE uncached
    upstreams)."""
    sel = _winnow_sel(load(spark, sf_dir, "documents")).select(
        "doc_id", F.expr("CAST(size(sel) AS BIGINT)").alias("n_sel"), "sel"
    ).persist()
    x = sel.select("doc_id", "n_sel", F.explode("sel").alias("s"))
    rare = x.join(
        x.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") <= _WINNOW_MAX_DF
        ),
        "s",
    ).select("s", "doc_id", "n_sel")
    pairs = (
        rare.select("s", F.col("doc_id").alias("doc_a"), F.col("n_sel").alias("n_a"))
        .join(
            rare.select("s", F.col("doc_id").alias("doc_b"), F.col("n_sel").alias("n_b")),
            "s",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return pairs.select(
        "doc_a", "doc_b", "n_shared", "n_a", "n_b",
        F.expr("1000000 * n_shared div least(n_a, n_b)").alias("overlap_ppm"),
    ).orderBy("doc_a", "doc_b")


def oracle_winnow_overlap_pairs() -> str:
    return f"""
    WITH h AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(text) - {_WINNOW_K - 1}),
                   i -> CAST(('0x' || substr(md5(substr(text, i, {_WINNOW_K})), 1, 8)) AS BIGINT)) AS hs
        FROM documents WHERE length(text) >= {_WINNOW_K + _WINNOW_W - 1}
    ), m AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(hs) - {_WINNOW_W - 1}),
                   i -> list_min(hs[i:i + {_WINNOW_W - 1}]))) AS sel
        FROM h
    ), x AS (
        SELECT doc_id, CAST(len(sel) AS BIGINT) AS n_sel, unnest(sel) AS s FROM m
    ), rare AS (
        SELECT x.s, x.doc_id, x.n_sel
        FROM x JOIN (
            SELECT s, count(*) AS df FROM x GROUP BY s HAVING count(*) <= {_WINNOW_MAX_DF}
        ) d ON x.s = d.s
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sel AS n_a, b.n_sel AS n_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
    )
    SELECT doc_a, doc_b, n_shared, n_a, n_b,
           1000000 * n_shared // least(n_a, n_b) AS overlap_ppm
    FROM pairs ORDER BY doc_a, doc_b
    """


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-5 for the first 10 vectors — the
    compressed-index scale path beside ann_lsh_topk (pruned candidates)
    and ann_ivf_topk (cell-restricted candidates): the corpus is stored
    as 4 subspace codes per vector (operators/similarity.py::pq_encode,
    16-64x smaller than raw arrays) and queries score it with exact
    per-subspace distance lookup tables (pq_adc_topk). Distances are
    quantized-integer L2 — engine-exact, no float comparison."""
    e = load(spark, sf_dir, "embeddings")
    return sim.pq_adc_topk(e, n_queries=10, k=5)


def oracle_ann_pq_topk() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), cw AS (
        SELECT vec_id, rn - 1 AS j FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         vec_id) AS rn
            FROM embeddings)
        WHERE rn <= {sim.PQ_NC}
    ), cwel AS (
        SELECT cw.j, el.i, el.xq FROM cw JOIN el USING (vec_id)
    ), subd AS (
        SELECT a.vec_id, (a.i - 1) // {sim.PQ_SUB} AS s, c.j,
               CAST(sum((a.xq - c.xq) * (a.xq - c.xq)) AS BIGINT) AS d
        FROM el a JOIN cwel c ON a.i = c.i
        GROUP BY a.vec_id, (a.i - 1) // {sim.PQ_SUB}, c.j
    ), codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM subd)
        WHERE rn = 1
    ), adist AS (
        SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(sum(qd.d) AS BIGINT) AS adist
        FROM codes c JOIN subd qd ON qd.s = c.s AND qd.j = c.code
        WHERE qd.vec_id < 10 AND c.vec_id <> qd.vec_id
        GROUP BY qd.vec_id, c.vec_id
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS nn_rank
        FROM adist
    )
    SELECT query_id, neighbor_id, adist, nn_rank
    FROM ranked WHERE nn_rank <= 5 ORDER BY query_id, nn_rank
    """


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC index against the brute-force cosine
    ground truth — the same accept/reject gate ann_recall_eval runs for
    the LSH index, applied to the compressed-index path. A trained
    codebook (k-means refinement of pq_codebook's sample) raises this
    number without changing any plan shape; the gate is what tells you
    when the compression is safe to trust at corpus scale."""
    # persist(truth) DECLINED with numbers (r14): session-pair ABAB
    # measured a wash (on 1.129/1.044 vs off 1.130/1.148 med-of-5, mins
    # split) — unlike ann_recall_eval, this query's wall is dominated by
    # ann_pq_topk's ADC scoring, not the truth recompute.
    truth = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = truth.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left_semi")
    n_true = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_true.join(F.broadcast(n_hit), "query_id", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)).cast("bigint"))
        .withColumn("recall_ppm", F.expr("n_hits * 1000000 div n_true"))
        .select("query_id", "n_true", "n_hits", "recall_ppm")
        .orderBy("query_id")
    )


def oracle_ann_pq_recall() -> str:
    truth = oracle_ann_cosine_topk()
    approx = oracle_ann_pq_topk()
    return f"""
    WITH truth AS ({truth}),
    approx AS ({approx}),
    n_true_t AS (
        SELECT query_id, count(*) AS n_true FROM truth GROUP BY query_id
    ),
    n_hit_t AS (
        SELECT t.query_id, count(*) AS n_hits
        FROM truth t
        WHERE EXISTS (
            SELECT 1 FROM approx a
            WHERE a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        )
        GROUP BY t.query_id
    )
    SELECT n_true_t.query_id AS query_id, n_true,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(n_hits, 0) AS BIGINT) * 1000000 // n_true AS recall_ppm
    FROM n_true_t LEFT JOIN n_hit_t ON n_true_t.query_id = n_hit_t.query_id
    ORDER BY 1
    """


_CURATE_BUDGET = 700  # post-filter token budget per source


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation funnel as ONE declarative plan —
    the capstone composition of the §2C stages a pretraining pipeline
    chains (exact dedup -> language gate -> quality gate -> boilerplate
    gate -> per-source token-budget admission), with a first-failing-
    stage verdict per document (the quarantine_orders reason pattern
    applied to corpus curation).

    Stage semantics reuse the standalone ops' exact predicates
    (dedup_exact's min-doc_id keeper, lang_id's stopword heuristic in
    integer form, quality_filter's thresholds, boilerplate_prune's
    relative-df coverage, corpus_sample_token_budget's lottery admission
    with thresholds computed over the stage-4 SURVIVORS — the budget
    applies to what the filters kept, as a real mixture stage would).

    Scale shape: everything is aggregates + well-spread shuffle joins
    (fingerprint, shingle, source) and one tiny broadcast of per-source
    thresholds; document text never enters a shuffle (the shingle path
    explodes trigram strings, the fingerprint join carries ids and
    counters only); no window anywhere."""
    # spread DECLINED with numbers (r13): A/B ratio 1.11 — the df-count
    # and tag-back shuffles over the persisted trigram relation
    # dominate; spreading the text scan only adds an exchange of fat
    # text rows ahead of the persist
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source",
        F.md5("text").alias("fingerprint"),
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens().alias("n_tokens"),
        stopword_count().alias("n_stopwords"),
    )
    keepers = base.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_doc_id"))

    toks = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.expr("size(toks) >= 3")
    )
    # persisted (the boilerplate_prune pattern): the trigram explode is
    # the dominant scan and feeds both the df count and the tag-back join
    tri = toks.select(
        "doc_id",
        F.expr(
            "explode(transform(sequence(1, size(toks) - 2), "
            "i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1])))"
        ).alias("tri"),
    ).persist()
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df_counts = tri.groupBy("tri").agg(F.countDistinct("doc_id").alias("df"))
    boiler = (
        tri.join(df_counts, "tri")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(
                    F.expr(f"df * 1000000 >= n_docs * {_BOILER_DF_PPM}"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("n_common"),
        )
        .select("doc_id", F.expr("1000000 * n_common div n_shingles").alias("boiler_ppm"))
    )

    flagged = (
        base.join(keepers, "fingerprint")
        .join(boiler, "doc_id", "left")
        .withColumn("is_exact_dup", F.col("doc_id") != F.col("keep_doc_id"))
        .withColumn("lang_ok", F.expr("10000 * n_stopwords div n_tokens >= 500"))
        .withColumn(
            "quality_ok",
            F.expr("n_tokens >= 15 AND n_chars >= 60 AND n_stopwords * 100 >= n_tokens * 2"),
        )
        .withColumn("boiler_bad", F.coalesce(F.col("boiler_ppm"), F.lit(0)) > _BOILER_FLAG_PPM)
    )
    surv = flagged.filter(
        ~F.col("is_exact_dup") & F.col("lang_ok") & F.col("quality_ok") & ~F.col("boiler_bad")
    )
    thr = surv.groupBy("source").agg(
        F.expr(
            f"CAST(least(CAST(1000000 AS BIGINT) * {_CURATE_BUDGET} div CAST(sum(n_tokens) AS BIGINT),"
            f" CAST(1000000 AS BIGINT)) AS BIGINT)"
        ).alias("thr_ppm")
    )
    ord_ppm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("cc|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1_000_000
    )
    return (
        flagged.join(F.broadcast(thr), "source", "left")
        .withColumn("ord_ppm", ord_ppm)
        .select(
            "doc_id", "source", "n_tokens",
            F.when(F.col("is_exact_dup"), F.lit("exact_dup"))
            .when(~F.col("lang_ok"), F.lit("lang"))
            .when(~F.col("quality_ok"), F.lit("quality"))
            .when(F.col("boiler_bad"), F.lit("boilerplate"))
            .when(F.col("ord_ppm") >= F.coalesce(F.col("thr_ppm"), F.lit(0)), F.lit("over_budget"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def oracle_curate_corpus() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id, source, md5(text) AS fingerprint,
               CAST(length(text) AS BIGINT) AS n_chars,
               {o_n_tokens()} AS n_tokens,
               {o_stopword_count()} AS n_stopwords
        FROM documents
    ), keepers AS (
        SELECT fingerprint, min(doc_id) AS keep_doc_id FROM base GROUP BY fingerprint
    ), w AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), idx AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM w
    ), tri AS (
        SELECT doc_id, concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]) AS tri FROM idx
    ), dfc AS (
        SELECT tri, count(DISTINCT doc_id) AS df FROM tri GROUP BY tri
    ), boiler AS (
        SELECT t.doc_id,
               1000000 * CAST(count(*) FILTER (
                   WHERE dfc.df * 1000000 >= (SELECT count(*) FROM documents) * {_BOILER_DF_PPM}
               ) AS BIGINT)
                 // CAST(count(*) AS BIGINT) AS boiler_ppm
        FROM tri t JOIN dfc USING (tri) GROUP BY t.doc_id
    ), flagged AS (
        SELECT b.doc_id, b.source, b.n_tokens,
               b.doc_id <> k.keep_doc_id AS is_exact_dup,
               10000 * b.n_stopwords // b.n_tokens >= 500 AS lang_ok,
               (b.n_tokens >= 15 AND b.n_chars >= 60 AND b.n_stopwords * 100 >= b.n_tokens * 2) AS quality_ok,
               coalesce(bo.boiler_ppm, 0) > {_BOILER_FLAG_PPM} AS boiler_bad
        FROM base b
        JOIN keepers k USING (fingerprint)
        LEFT JOIN boiler bo ON bo.doc_id = b.doc_id
    ), thr AS (
        SELECT source,
               CAST(least(CAST(1000000 AS BIGINT) * {_CURATE_BUDGET} // CAST(sum(n_tokens) AS BIGINT),
                          CAST(1000000 AS BIGINT)) AS BIGINT) AS thr_ppm
        FROM flagged
        WHERE NOT is_exact_dup AND lang_ok AND quality_ok AND NOT boiler_bad
        GROUP BY source
    )
    SELECT f.doc_id, f.source, f.n_tokens,
           CASE
             WHEN f.is_exact_dup THEN 'exact_dup'
             WHEN NOT f.lang_ok THEN 'lang'
             WHEN NOT f.quality_ok THEN 'quality'
             WHEN f.boiler_bad THEN 'boilerplate'
             WHEN CAST(('0x' || substr(md5('cc|' || CAST(f.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
                  >= coalesce(t.thr_ppm, 0) THEN 'over_budget'
             ELSE 'kept'
           END AS verdict
    FROM flagged f LEFT JOIN thr t ON f.source = t.source
    ORDER BY f.doc_id
    """


_PQ_XQ_OFF = 2_000_000  # shift makes div operands non-negative: Spark div
                        # truncates, DuckDB // floors — identical only >= 0


def pq_refine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement step of the PQ codebooks — the training move
    that turns the sampled codebook (operators/similarity.py::
    pq_codebook) into a fitted one: per (subspace, codeword) cell, the
    element-wise integer mean of the assigned subvectors becomes the new
    codeword, and the op reports per-cell assignment mass and total
    squared distortion against the OLD vs the NEW codeword (dist_new <=
    dist_old up to integer-floor slack — the k-means descent invariant,
    asserted in tests). Iterating this step is full PQ training; every
    iteration is this same plan shape.

    Scale shape: element-grain rows (vector x dim) shuffle on
    (vec_id, s) and (i, j) — well-spread keys; the codebook explode is a
    broadcast; per-cell means are map-side-combined aggregates. The
    element table is persisted: it feeds three consumers and the
    quantization transform must not be re-inlined per consumer."""
    e = load(spark, sf_dir, "embeddings")
    cb = sim.pq_codebook(e)
    codes = sim.pq_encode(e, cb)
    el = (
        e.select("vec_id", F.expr(
            "posexplode(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"
        ).alias("i0", "xq"))
        .select("vec_id", (F.col("i0") + 1).alias("i"), "xq")
        .persist()
    )
    asn = codes.select(
        "vec_id", F.expr(f"posexplode(codes)").alias("s", "j")
    )
    ael = (
        el.withColumn("s", F.expr(f"CAST((i - 1) div {sim.PQ_SUB} AS INT)"))
        .join(asn, ["vec_id", "s"])
    )
    # persist (r13, guide §5): ael feeds THREE consumers (old_d, newc,
    # new_d) and its lineage includes the pq_encode assignment join —
    # unpersisted, that assignment re-executed once per consumer.
    # Session-pair A/B: 2.13/2.32s → 0.87/1.22s warm med-of-5,
    # checksums identical.
    ael = ael.persist()
    cw_el = (
        cb.select(F.expr("posexplode(cws)").alias("j", "cw"))
        .select("j", F.expr("posexplode(cw)").alias("i0", "w"))
        .select("j", (F.col("i0") + 1).alias("i"), "w")
    )
    old_d = (
        ael.join(maybe_broadcast(cw_el), ["i", "j"])
        .groupBy("s", "j", "vec_id")
        .agg(F.expr("CAST(sum((xq - w) * (xq - w)) AS BIGINT)").alias("d"))
    )
    newc = ael.groupBy("j", "i").agg(
        F.expr(
            f"CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) div count(*) - {_PQ_XQ_OFF} AS BIGINT)"
        ).alias("w")
    )
    new_d = (
        ael.join(newc, ["i", "j"])
        .groupBy("s", "j", "vec_id")
        .agg(F.expr("CAST(sum((xq - w) * (xq - w)) AS BIGINT)").alias("d"))
    )
    return (
        old_d.groupBy("s", "j")
        .agg(F.count(F.lit(1)).alias("n_assigned"),
             F.expr("CAST(sum(d) AS BIGINT)").alias("dist_old"))
        .join(
            new_d.groupBy("s", "j").agg(F.expr("CAST(sum(d) AS BIGINT)").alias("dist_new")),
            ["s", "j"],
        )
        .select("s", "j", "n_assigned", "dist_old", "dist_new")
        .orderBy("s", "j")
    )


def oracle_pq_refine_stats() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), cw AS (
        SELECT vec_id, rn - 1 AS j FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         vec_id) AS rn
            FROM embeddings)
        WHERE rn <= {sim.PQ_NC}
    ), cwel AS (
        SELECT cw.j, el.i, el.xq AS w FROM cw JOIN el USING (vec_id)
    ), subd AS (
        SELECT a.vec_id, (a.i - 1) // {sim.PQ_SUB} AS s, c.j,
               CAST(sum((a.xq - c.w) * (a.xq - c.w)) AS BIGINT) AS d
        FROM el a JOIN cwel c ON a.i = c.i
        GROUP BY a.vec_id, (a.i - 1) // {sim.PQ_SUB}, c.j
    ), codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM subd)
        WHERE rn = 1
    ), ael AS (
        SELECT el.vec_id, CAST((el.i - 1) // {sim.PQ_SUB} AS INT) AS s, el.i, el.xq, codes.code AS j
        FROM el JOIN codes ON el.vec_id = codes.vec_id AND (el.i - 1) // {sim.PQ_SUB} = codes.s
    ), old_d AS (
        SELECT a.s, a.j, a.vec_id,
               CAST(sum((a.xq - c.w) * (a.xq - c.w)) AS BIGINT) AS d
        FROM ael a JOIN cwel c ON a.i = c.i AND a.j = c.j
        GROUP BY 1, 2, 3
    ), newc AS (
        SELECT j, i,
               CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) // count(*) - {_PQ_XQ_OFF} AS BIGINT) AS w
        FROM ael GROUP BY j, i
    ), new_d AS (
        SELECT a.s, a.j, a.vec_id,
               CAST(sum((a.xq - n.w) * (a.xq - n.w)) AS BIGINT) AS d
        FROM ael a JOIN newc n ON a.i = n.i AND a.j = n.j
        GROUP BY 1, 2, 3
    ), agg_old AS (
        SELECT s, j, CAST(count(*) AS BIGINT) AS n_assigned, CAST(sum(d) AS BIGINT) AS dist_old
        FROM old_d GROUP BY s, j
    ), agg_new AS (
        SELECT s, j, CAST(sum(d) AS BIGINT) AS dist_new FROM new_d GROUP BY s, j
    )
    SELECT agg_old.s AS s, agg_old.j AS j, n_assigned, dist_old, dist_new
    FROM agg_old JOIN agg_new ON agg_old.s = agg_new.s AND agg_old.j = agg_new.j
    ORDER BY s, j
    """


_PQ_TRAIN_ROUNDS = 2


def pq_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round PQ codebook training: the Lloyd step of
    pq_refine_stats LOOPED — each round assigns every subvector to its
    nearest codeword (argmin integer L2, ties to the lowest codeword
    id), recomputes each non-empty codeword as the element-wise
    integer mean of its assignees (empty cells keep their old
    codeword), and reports the total distortion at assignment time and
    after the update. One row per round.

    The k-means descent invariant is exact in integers and asserted in
    tests: dist_assign[r+1] <= dist_updated[r] (re-assignment against
    the updated codebook can only improve the per-cell minimum), and
    dist_updated[r] <= dist_assign[r] + E where E is the element-row
    count (the slack of FLOOR-ing the per-cell mean instead of taking
    the real-valued optimum).

    Scale shape per round — identical to pq_refine_stats: the
    element-grain corpus table is computed ONCE and persisted across
    all rounds; the codebook stays a 512-row DataFrame (never
    collected) that broadcasts into the assignment join; per-cell
    means are map-side-combined aggregates. Round count is a compile
    time constant, so the whole loop is one linear DAG — at fleet
    scale each round would checkpoint its codebook to the lake."""
    e = load(spark, sf_dir, "embeddings")
    el = (
        e.select("vec_id", F.expr(
            "posexplode(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"
        ).alias("i0", "xq"))
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            F.expr(f"CAST(i0 div {sim.PQ_SUB} AS INT)").alias("s"),
            "xq",
        )
        .persist()
    )
    cb_el = (
        sim.pq_codebook(e)
        .select(F.expr("posexplode(cws)").alias("j", "cw"))
        .select("j", F.expr("posexplode(cw)").alias("i0", "w"))
        .select("j", (F.col("i0") + 1).alias("i"), "w")
    )
    rows = []
    for r in range(_PQ_TRAIN_ROUNDS):
        subd = (
            el.join(F.broadcast(cb_el), "i")
            .groupBy("vec_id", "s", "j")
            .agg(F.expr("CAST(sum((xq - w) * (xq - w)) AS BIGINT)").alias("d"))
        )
        best = (
            subd.groupBy("vec_id", "s")
            .agg(F.min(F.struct("d", "j")).alias("b"))
            .select("vec_id", "s", F.col("b.d").alias("d"), F.col("b.j").alias("j"))
        )
        # per-round persists (r13, guide §5): best feeds dist_assign +
        # ael (and through ael both newc and dist_updated), cb_next
        # feeds dist_updated + BOTH next-round consumers — unpersisted,
        # each consumer re-executed the round's whole assignment join,
        # compounding across rounds (~12 executions of the el⋈cb join
        # for 2 rounds). Session-pair A/B (persists can't be A/B'd
        # in-session): 3.63/3.35s → 1.05/1.21s warm med-of-5, checksums
        # identical.
        best = best.persist()
        dist_assign = best.agg(F.expr("CAST(sum(d) AS BIGINT)").alias("dist_assign"))
        ael = el.join(best.select("vec_id", "s", "j"), ["vec_id", "s"])
        newc = ael.groupBy("j", "i").agg(
            F.expr(
                f"CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) div count(*) - {_PQ_XQ_OFF} AS BIGINT)"
            ).alias("w")
        )
        cb_next = (
            cb_el.select("j", "i", F.col("w").alias("w_old"))
            .join(newc, ["j", "i"], "left")
            .select("j", "i", F.coalesce("w", "w_old").alias("w"))
        )
        cb_next = cb_next.persist()
        dist_updated = ael.join(F.broadcast(cb_next), ["j", "i"]).agg(
            F.expr("CAST(sum((xq - w) * (xq - w)) AS BIGINT)").alias("dist_updated")
        )
        rows.append(
            dist_assign.crossJoin(dist_updated).select(
                F.lit(r).cast("bigint").alias("round"), "dist_assign", "dist_updated"
            )
        )
        cb_el = cb_next
    out = rows[0]
    for rw in rows[1:]:
        out = out.unionByName(rw)
    return out.orderBy("round")


def oracle_pq_train_rounds() -> str:
    parts = [f"""
    el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), el2 AS (
        SELECT vec_id, i, CAST((i - 1) // {sim.PQ_SUB} AS INT) AS s, xq FROM el
    ), cwsel AS (
        SELECT vec_id, rn - 1 AS j FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         vec_id) AS rn
            FROM embeddings)
        WHERE rn <= {sim.PQ_NC}
    ), cb0 AS (
        SELECT c.j, e.i, e.xq AS w FROM cwsel c JOIN el2 e USING (vec_id)
    )"""]
    for r in range(_PQ_TRAIN_ROUNDS):
        parts.append(f""",
    subd{r} AS (
        SELECT a.vec_id, a.s, c.j,
               CAST(sum((a.xq - c.w) * (a.xq - c.w)) AS BIGINT) AS d
        FROM el2 a JOIN cb{r} c ON a.i = c.i
        GROUP BY a.vec_id, a.s, c.j
    ), best{r} AS (
        SELECT vec_id, s, d, j FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM subd{r}) WHERE rn = 1
    ), ael{r} AS (
        SELECT e.vec_id, e.s, e.i, e.xq, b.j
        FROM el2 e JOIN best{r} b ON e.vec_id = b.vec_id AND e.s = b.s
    ), newc{r} AS (
        SELECT j, i,
               CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) // count(*) - {_PQ_XQ_OFF} AS BIGINT) AS w
        FROM ael{r} GROUP BY j, i
    ), cb{r + 1} AS (
        SELECT c.j, c.i, coalesce(n.w, c.w) AS w
        FROM cb{r} c LEFT JOIN newc{r} n ON c.j = n.j AND c.i = n.i
    ), stat{r} AS (
        SELECT CAST({r} AS BIGINT) AS round,
               (SELECT CAST(sum(d) AS BIGINT) FROM best{r}) AS dist_assign,
               (SELECT CAST(sum((a.xq - c.w) * (a.xq - c.w)) AS BIGINT)
                FROM ael{r} a JOIN cb{r + 1} c ON a.i = c.i AND a.j = c.j) AS dist_updated
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM stat{r}" for r in range(_PQ_TRAIN_ROUNDS))
    return (
        "WITH " + "".join(parts)
        + f" SELECT round, dist_assign, dist_updated FROM ({union}) ORDER BY round"
    )


# ---------------------------------------------------------------------------
# Round-4 additions: containment dedup, novelty, fertility, SimHash bands
# ---------------------------------------------------------------------------

_PREFIX_BLOCK_K = 32  # blocking-prefix length (docs shorter than K are exact-dup territory)


def dedup_prefix_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation duplicates: documents that are a strict PREFIX of a
    longer document — the shape web-scrape corpora produce when the same
    page is captured both truncated and full. Exact dedup misses these
    (different md5); MinHash catches only high-Jaccard ones.

    Blocking: candidates must share the md5 of their first 32 chars
    (docs shorter than the block are handled by exact dedup), so the
    self-join is bucket-equi — never n² — and only ids + lengths travel
    through the shuffle; the full-text prefix check runs after the
    equi-join, JVM-side. Same discipline as the MinHash band join."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") >= _PREFIX_BLOCK_K)
    keyed = d.select(
        "doc_id",
        "text",
        F.length("text").cast("bigint").alias("len"),
        F.md5(F.substring("text", 1, _PREFIX_BLOCK_K)).alias("blk"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.len") < F.col("b.len")))
        .filter(F.expr("substring(b.text, 1, CAST(a.len AS INT)) = a.text"))
        .select(
            F.col("a.doc_id").alias("short_doc_id"),
            F.col("b.doc_id").alias("long_doc_id"),
            F.col("a.len").alias("short_len"),
            F.col("b.len").alias("long_len"),
        )
        .orderBy("short_doc_id", "long_doc_id")
    )


def oracle_dedup_prefix_truncation() -> str:
    return f"""
    WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
               md5(substr(text, 1, {_PREFIX_BLOCK_K})) AS blk
        FROM documents WHERE length(text) >= {_PREFIX_BLOCK_K}
    )
    SELECT a.doc_id AS short_doc_id, b.doc_id AS long_doc_id,
           a.len AS short_len, b.len AS long_len
    FROM d a JOIN d b ON a.blk = b.blk AND a.len < b.len
    WHERE substr(b.text, 1, CAST(a.len AS INT)) = a.text
    ORDER BY short_doc_id, long_doc_id
    """


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word trigrams whose corpus-wide first occurrence (minimum doc_id)
    is this doc — the document-ordered variant of dup-ngram analysis
    used to rank crawl snapshots by marginal contribution.

    Two well-spread shuffles: trigram -> min(doc_id) (map-side partial
    min), then doc_id for the rollup. Exact-ppm ratio. The token array
    is STAGED before the trigram lambda (split inside the lambda body
    re-tokenizes the document once per trigram — measured 3.5×; see
    bpe_pair_stats), and the exploded trigrams are persisted because
    they feed BOTH the first-occurrence aggregate and the join probe —
    without the barrier the whole extraction re-executes per consumer."""
    d = load(spark, sf_dir, "documents")
    tri = d.select("doc_id", F.expr("split(text, ' ')").alias("w")).select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, greatest(size(w) - 2, 0)), "
                "i -> concat_ws(' ', slice(w, i, 3))))"
            )
        ).alias("tri"),
    ).persist()
    first = tri.groupBy("tri").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        tri.join(first, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint")).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_trigrams",
        "n_novel",
        F.expr("1000000 * n_novel div n_trigrams").alias("novelty_ppm"),
    ).orderBy("doc_id")


def oracle_ngram_novelty() -> str:
    return """
    WITH tri AS (
        SELECT DISTINCT doc_id, t.tri
        FROM documents,
             LATERAL (
                SELECT unnest(list_transform(
                    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS tri
             ) t
    ), first AS (
        SELECT tri, min(doc_id) AS first_doc FROM tri GROUP BY tri
    )
    SELECT t.doc_id, count(*) AS n_trigrams,
           CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           1000000 * CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               // count(*) AS novelty_ppm
    FROM tri t JOIN first f ON t.tri = f.tri
    GROUP BY t.doc_id ORDER BY t.doc_id
    """


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per (lang, source): BPE-ish tokens per
    whitespace word and chars per BPE token — the table that tells you
    which slices of a mixture are expensive to tokenize (fertility >> 1
    means the tokenizer fragments that slice).

    Map-only metrics + one tiny aggregate; ratios in exact ppm."""
    d = load(spark, sf_dir, "documents")
    bpe_ish = F.expr(
        r"CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)"
    )
    per = d.select(
        "lang",
        "source",
        n_tokens().alias("n_words"),
        bpe_ish.alias("n_bpe"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe").alias("total_bpe"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "total_words",
            "total_bpe",
            "total_chars",
            F.expr("1000000 * total_bpe div total_words").alias("fertility_ppm"),
            F.expr("1000000 * total_chars div total_bpe").alias("chars_per_bpe_ppm"),
        )
        .orderBy("lang", "source")
    )


def oracle_tokenizer_fertility() -> str:
    return f"""
    WITH per AS (
        SELECT lang, source, {o_n_tokens()} AS n_words,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ), agg AS (
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS total_words,
               CAST(sum(n_bpe) AS BIGINT) AS total_bpe,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM per GROUP BY lang, source
    )
    SELECT lang, source, n_docs, total_words, total_bpe, total_chars,
           1000000 * total_bpe // total_words AS fertility_ppm,
           1000000 * total_chars // total_bpe AS chars_per_bpe_ppm
    FROM agg ORDER BY lang, source
    """


_SIMHASH_FP_BITS = 60       # fingerprint width (60 keeps hex→BIGINT signed-safe)
_SIMHASH_BANDS = 4          # 4 x 15-bit bands over the 60-bit fingerprint
_SIMHASH_BAND_BITS = 15
_SIMHASH_MAX_HAM = 3        # pigeonhole: hamming<=3 over 4 bands => >=1 identical band


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: documents whose 60-bit SimHash
    fingerprints differ in at most 3 bits — found WITHOUT an all-pairs
    scan via pigeonhole banding (any pair within hamming 3 of a 4-band
    split must agree exactly on at least one 15-bit band, so candidates
    come from a band-value equi-self-join; same discipline as MinHash
    LSH but on one integer fingerprint instead of a signature matrix).

    The exact hamming distance then verifies candidates JVM-side
    (bit_count(xor)). Fingerprints are one groupBy over tokens
    (operators/similarity.py::simhash_fp); only (band, value, id)
    triples travel through the candidate shuffle.

    Width is the scale knob: 15-bit bands give 32k buckets per band, so
    bucket sizes (and the quadratic-in-bucket pair work) stay tiny until
    the corpus dwarfs 2^15 per band — the measured 10x scale smoke is
    linear at this width where 8-bit bands went quadratic. Beyond that,
    add bits (the plan is width-agnostic up to 60 here) and the same
    cap_buckets guard the MinHash join uses."""
    fp = sim.simhash_fp(load(spark, sf_dir, "documents"), n_bits=_SIMHASH_FP_BITS)
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), _SIMHASH_BAND_BITS * b)
                    .bitwiseAND(F.lit(mask))
                    .alias("bval"),
                )
                for b in range(_SIMHASH_BANDS)
            ])
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.bval").alias("bval"))
    bands = bands.persist()
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint")
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAM)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def oracle_simhash_hamming_pairs() -> str:
    nb = _SIMHASH_FP_BITS
    bb = _SIMHASH_BAND_BITS
    mask = (1 << bb) - 1
    votes = ",\n".join(
        f"               CAST(sum(2 * ((h >> {b}) & 1) - 1) AS BIGINT) AS v{b}" for b in range(nb)
    )
    fpexpr = " + ".join(f"CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(nb))
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, {(nb + 3) // 4})) AS BIGINT) AS h FROM tok
    ), votes AS (
        SELECT doc_id,
{votes}
        FROM h GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, CAST({fpexpr} AS BIGINT) AS simhash FROM votes
    ), bands AS (
        SELECT doc_id, simhash, b.band, (simhash >> ({bb} * b.band)) & {mask} AS bval
        FROM fp, (VALUES (0), (1), (2), (3)) b(band)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {_SIMHASH_MAX_HAM}
    ORDER BY doc_a, doc_b
    """


_EO_OFF = 2_000_000  # shift keeps div operands non-negative (Spark div truncates, DuckDB // floors)


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier audit: each label's centroid (exact
    integer-quantized per-dimension mean), every member's squared
    distance to it, and the count of members beyond 2x the label's mean
    distance — the curation gate that drops mislabeled / off-manifold
    vectors before they poison a contrastive batch.

    Scale shape: the centroid update is one (label, dim) shuffle whose
    cardinality is labels x dims (map-side partial sums), centroids fold
    to one tiny array table broadcast back, and the distance pass is
    map-only higher-order functions. The means use the +OFF shift so
    floor/truncation division agree across engines on negative sums."""
    e = load(spark, sf_dir, "embeddings")
    xq = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ).alias("xq"),
    )
    cents = (
        xq.select("label", F.posexplode("xq").alias("dim_idx", "v"))
        .groupBy("label", "dim_idx")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .withColumn("mean_q", F.expr(f"(s + {_EO_OFF} * n) div n - {_EO_OFF}"))
        .groupBy("label")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(dim_idx, mean_q))), p -> p.mean_q)")
            .alias("cent")
        )
    )
    dist = xq.join(F.broadcast(cents), "label").select(
        "label",
        "vec_id",
        F.expr(
            "aggregate(zip_with(xq, cent, (x, c) -> (x - c) * (x - c)), CAST(0 AS BIGINT), (a, v) -> a + v)"
        ).alias("dist2"),
    ).persist()  # read by the stats pass AND the outlier rollup: one corpus scan, not two
    stats = dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.expr("sum(dist2) div count(*)").alias("avg_dist2"),
        F.max("dist2").alias("max_dist2"),
    )
    return (
        dist.join(F.broadcast(stats), "label")
        .groupBy("label")
        .agg(
            F.max("n_vectors").alias("n_vectors"),
            F.max("avg_dist2").alias("avg_dist2"),
            F.max("max_dist2").alias("max_dist2"),
            F.sum((F.col("dist2") > 2 * F.col("avg_dist2")).cast("bigint")).alias("n_outliers"),
        )
        .orderBy("label")
    )


def oracle_embedding_outliers() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM embeddings
    ), cents AS (
        SELECT label, i,
               (sum(xq) + {_EO_OFF} * count(*)) // count(*) - {_EO_OFF} AS mean_q
        FROM el GROUP BY label, i
    ), dist AS (
        SELECT el.label, el.vec_id,
               CAST(sum((el.xq - c.mean_q) * (el.xq - c.mean_q)) AS BIGINT) AS dist2
        FROM el JOIN cents c ON el.label = c.label AND el.i = c.i
        GROUP BY el.label, el.vec_id
    ), stats AS (
        SELECT label, count(*) AS n_vectors,
               CAST(sum(dist2) // count(*) AS BIGINT) AS avg_dist2,
               max(dist2) AS max_dist2
        FROM dist GROUP BY label
    )
    SELECT d.label, max(s.n_vectors) AS n_vectors, max(s.avg_dist2) AS avg_dist2,
           max(s.max_dist2) AS max_dist2,
           CAST(sum(CASE WHEN d.dist2 > 2 * s.avg_dist2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dist d JOIN stats s ON d.label = s.label
    GROUP BY d.label ORDER BY d.label
    """


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5: the two index compressions composed the way a
    production vector store layers them — IVF cells prune WHICH vectors
    each query scores (candidates shrink ~n_centroids-fold) and PQ codes
    compress WHAT is scored (ADC lookup tables instead of raw arrays).

    One corpus scan builds the whole index (cell assignment and PQ
    encoding are both map-only broadcast computations; pq_encode carries
    cell_id through), queries broadcast their LUT + cell, and the scored
    shuffle carries only (query, neighbor, adist) rows from the query's
    own cell. Integer-exact ADC distances.

    This is the INLINE-BUILD demo (first-k seed cells, index computed
    inside the query DAG — the one-scan composition is the point); the
    production serving twin is :func:`ann_ivfpq_from_index` (trained
    cells, index persisted bucketed-by-cell, queried from storage)."""
    from pyspark.sql.window import Window

    # spread (r13, guide §2.5): cell assignment + PQ encoding + ADC
    # scoring are map-only broadcast work riding the single-task scan
    # of an under-split input — hash-spread by vec_id (the
    # ann_cosine_topk pattern, A/B 0.76-0.90)
    e = spread_scan(load(spark, sf_dir, "embeddings"), spark, sf_dir,
                    "embeddings", "vec_id", min_rows=1000)
    assigned = sim.ivf_assign(e, n_centroids=IVF_N_CENTROIDS)
    cb = sim.pq_codebook(e)
    enc = sim.pq_encode(assigned, cb, extra_cols=("cell_id",))
    sdist = sim._PQ_SDIST.format(a="eq", b="c")
    luts = (
        assigned.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cell_id").alias("qcell"),
            F.expr(sim._PQ_QUANT.format(v="embedding")).alias("eq"),
        )
        .crossJoin(F.broadcast(cb))
        .withColumn(
            "lut",
            F.expr(f"transform(sequence(0, {sim.PQ_M - 1}), s -> transform(cws, c -> {sdist}))"),
        )
        .select("query_id", "qcell", "lut")
    )
    # rows-gated BY PARAMETER (r13): 10 single-probe LUT rows — the
    # estimate gate read the probe join's product inflation (~2.6e8)
    # and declined; see _ivfpq_adc_topk.
    scored = (
        enc.join(
            maybe_broadcast_rows(luts, 10, row_bytes=4096),
            (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("qcell").alias("cell_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", "cell_id", "neighbor_id", "adist", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )


def oracle_ann_ivfpq_topk() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), n2 AS (
        SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM el GROUP BY vec_id
    ), cdot AS (
        SELECT a.vec_id, c.vec_id AS cent_id, CAST(sum(a.xq * c.xq) AS BIGINT) AS dot
        FROM el a JOIN el c ON a.i = c.i AND c.vec_id < {IVF_N_CENTROIDS}
        GROUP BY a.vec_id, c.vec_id
    ), ccos AS (
        SELECT d.vec_id, d.cent_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)) AS cos
        FROM cdot d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN n2 nc ON nc.vec_id = d.cent_id
    ), assign AS (
        SELECT vec_id, cent_id AS cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
            FROM ccos
        ) WHERE rk = 1
    ), cw AS (
        SELECT vec_id, rn - 1 AS j FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         vec_id) AS rn
            FROM embeddings)
        WHERE rn <= {sim.PQ_NC}
    ), cwel AS (
        SELECT cw.j, el.i, el.xq FROM cw JOIN el USING (vec_id)
    ), subd AS (
        SELECT a.vec_id, (a.i - 1) // {sim.PQ_SUB} AS s, c.j,
               CAST(sum((a.xq - c.xq) * (a.xq - c.xq)) AS BIGINT) AS d
        FROM el a JOIN cwel c ON a.i = c.i
        GROUP BY a.vec_id, (a.i - 1) // {sim.PQ_SUB}, c.j
    ), codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM subd)
        WHERE rn = 1
    ), adist AS (
        SELECT qd.vec_id AS query_id, aq.cell_id, c.vec_id AS neighbor_id,
               CAST(sum(qd.d) AS BIGINT) AS adist
        FROM codes c
        JOIN subd qd ON qd.s = c.s AND qd.j = c.code
        JOIN assign ac ON ac.vec_id = c.vec_id
        JOIN assign aq ON aq.vec_id = qd.vec_id
        WHERE qd.vec_id < 10 AND c.vec_id <> qd.vec_id AND ac.cell_id = aq.cell_id
        GROUP BY qd.vec_id, aq.cell_id, c.vec_id
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS nn_rank
        FROM adist
    )
    SELECT query_id, cell_id, neighbor_id, adist, nn_rank
    FROM ranked WHERE nn_rank <= 5 ORDER BY query_id, nn_rank
    """


_IVFPQ_ROOT = os.path.join(_INDEX_ROOT, "nws_ivfpq_index")
# Occupancy policy, shared with the kNN family (_KNN_TARGET_CELL): the
# centroid count grows with the corpus so mean cell occupancy stays
# ~128 vectors — a FIXED cell count is the unpartitioned fact table of
# vector serving: per-query candidate work would be n/k and grow
# linearly with the corpus (round-9 verdict #1).
_IVFPQ_TARGET_CELL = 128
# Bucket-count policy: sized by the ENCODED TABLE'S BYTES, not by k.
# Bucket count is a FILE-LAYOUT knob (file sizes, write fan-out, files
# per maintenance append, compaction task count) — not the index's
# logical partitioning: cells hash into buckets, so every serving and
# maintenance plan is unchanged at ANY bucket count (the candidate
# join broadcasts query LUTs against the scan; the cell-grain
# aggregate's required distribution is satisfied by bucketing
# regardless). A MEASURED decision (round 10): tying buckets to k —
# the literal round-9 verdict wording — regressed 30× serving 3×
# (469 near-empty bucket files; the bare gen-0 scan alone cost 3.6s
# of footer/task overhead vs ~0.2s data), while byte-sized buckets
# keep the serving wall FLAT at 30× (1.05s vs 1.03s at 1×,
# SCALING.md). ~_IVFPQ_BUCKET_BYTES per bucket targets right-sized
# parquet files; the 8-floor keeps toy corpora parallel and the
# 1024-cap bounds file counts (past it buckets simply grow — at that
# size a real deployment adds a partition dimension anyway).
_IVFPQ_ROW_BYTES = 64          # vec_id + cell_id + PQ_M int codes + row overhead
_IVFPQ_BUCKET_BYTES = 32 << 20
_IVFPQ_MAX_BUCKETS = 1024
# ----- stored-index QUERY-PROBE POLICY (round 11: P, S and the recall
# floor are FUNCTIONS of k derived from the NPROBE.json sweep; round
# 12: the large-k evidence is now DISCRIMINATING — r11's two forced
# regimes tied across all eight routes partly because the eval queries
# were the CODEBOOK SEEDS, i.e. each query sat at its own super's
# center; the r12 sweep queries NON-SEED copy-1 vectors and adds the
# 'jit' full-rank-noise regime, and the routes separate) -----
#
# Route (tools/nprobe_probe.py, rounds 10-12; NPROBE.json):
# - SMALL k (8-16, the real corpora): FLAT top-P over all k trained
#   centroids beats within-super probing by +8-22 pp candidate recall
#   at P=4 (a boundary query's nearest cells live under other supers),
#   and the one-row k-struct pack is trivially affordable.
# - LARGE k (1954, three forced regimes, 50 non-seed queries each):
#   the routes SEPARATE, monotone in S. jit (full-rank noise — the
#   high-intrinsic-dimension regime): S1 49.2% < S2 58% < S4 61.6% <
#   S8 65.6% ≤ flat 66.8% at P=64, the same ordering at every P ≥ 8;
#   iso (decorrelated replicas): S1 14.8% vs S8 38.8% vs flat 36.8%
#   at P=64; mix (drift replicas): S1 caps at 93.6% vs S8 98-100%.
#   S = 8 is the measured KNEE: S4 is visibly below flat in every
#   regime, S16/S32 buy ≤ 1.6 pp more — so S(k) = 8 is now a recall
#   measurement, not just the safe flat-identity bound.
# - The flat pack is the remaining scale ceiling (round-10 verdict #1:
#   O(k) bytes in ONE row/broadcast — the next unpartitioned fact at
#   k in the millions).
# Adopted policy: serve FLAT while S0 = 8 supers covers the codebook
# (k ≤ 64 — where hier(S ≥ √k) ≡ flat row-for-row anyway, the proven
# operator identity), and the widened-super HIERARCHICAL probe
# (ivf_probe_cells_hier, S = 8) beyond — O(√k + 8√k) dots per query,
# no row above ~√k structs, within ~1 pp of flat recall in the
# regimes where routes separate (NPROBE.json largek_* hier_S8 rows).
_IDX_SUPER_PROBE = 8


def _idx_super_probe(k: int) -> int:
    """S(k): supers probed by the serving-path query probe — all of
    them (≡ flat) up to k = _IDX_SUPER_PROBE², capped at
    _IDX_SUPER_PROBE beyond. Round 12: the cap is a MEASURED knee, not
    just the proven-safe bound — in the discriminating large-k sweep
    (NPROBE.json, non-seed queries) S=8 sits within ~1 pp of flat in
    every regime while S=4 visibly loses (jit: 61.6% vs 65.6% at
    P=64) and S=16/32 buy ≤ 1.6 pp for 2-4× the super-scan work
    (see policy block above)."""
    return min(sim.ceil_isqrt(k), _IDX_SUPER_PROBE)


def _idx_nprobe(k: int) -> int:
    """P(k): probed cells per query — max(4, ⌈√k⌉ // 3), the measured
    recall-holding curve (NPROBE.json): fixed P=4 probes a shrinking
    corpus fraction as the occupancy policy drives k up, and every
    forced-large-k regime's recall-vs-P curve is still climbing hard
    through the P(k) region (r12 sweep, non-seed queries, served S=8
    route at k = 1954: jit 30.8% at P=4 → 46.4% at the sweep point
    P=16 beside P(1954)=15 → 65.6% at P=64; mix 97.2% → 98.8%; the
    r11 seed-query basis measured the same shape, 52% → 74% on iso).
    P(k) = 4 for every k ≤ 196, so the tested SFs (k = 8/16, where
    flat P=4 measures 68-72%) and their oracles are pinned at the
    round-10 adopted value."""
    return max(4, sim.ceil_isqrt(k) // 3)


def _ivfpq_min_recall_ppm(k: int) -> int:
    """Publish-time ACCEPT GATE floor as a function of k: candidate
    recall@5 of the P(k)-probe serving path over the 10-query eval
    batch, in ppm, measured on the exact assignment about to be
    published (round-9 verdict #5 — FAISS-style index acceptance as
    policy, the dbt analogy being schema tests that FAIL the run).
    Basis (NPROBE.json): the gate runs NON-SEED eval queries as of
    round 12 (:func:`_gate_eval_ids` — the former vec_id < 10 batch
    coincided with the codebook seeds and measured the optimistic
    end: 720/700/680k ppm vs non-seed 640/700/580k at the real SFs,
    P=4, both ranges recorded in NPROBE.json). Under the gate's own
    non-seed protocol the real corpora clear the floor with ≥ 45%
    margin, and the r12 jit stress regime (full-rank noise, non-seed
    queries, k = 1954) still measures 464k ppm at the served S=8/P(k)
    point — above the floor in the hardest regime where retrieval
    still works. The r12 iso stress (decorrelated replicas) measures
    152k — BELOW the floor, and that is the gate doing its job: a
    corpus whose true neighbors sit at near-isotropic cos ≈ 0.4
    genuinely cannot be candidate-recalled at this k/P, and
    publishing such an index would serve garbage. A broken
    assignment scores far below any of this (a mis-routed index parks
    candidates in cells the queries never probe ⇒ recall collapses
    toward zero) — asserted by the planted-low-recall refusal test in
    tests/test_index_store.py.
    Re-derive from tools/nprobe_probe.py before changing k/P/route."""
    return 400_000


def _gate_eval_ids(sf_dir: str, k: int) -> tuple[int, int]:
    """Eval-query id range for the publish gate: [k, k+10) — the first
    10 NON-SEED ids. The codebook seeds are the first k vec_ids (and
    the supers the first √k of those), so a vec_id < 10 query IS a
    seed: it sits at the center of its own cell/super — the r12 sweep
    measured seed batches at the optimistic end of the recall range
    (NPROBE.json seed-vs-nonseed real-SF rows: 720/700/680k vs
    640/700/580k ppm at P=4) and, at large k, seed queries tie ALL
    probe routes regardless of corpus geometry. Non-seed ids are the
    generic positions production queries occupy. Requires the corpus
    to carry dense ids through k+10 (every gated corpus does — the
    testdata SFs, the scale replicas, and the test slices all have
    dense base ids ≥ 18); a corpus too small for 10 non-seed ids
    falls back toward the tail of its id range — NOTE that this
    fallback range overlaps [0, k), so sub-(k+10) corpora are gated
    partly (at n ≤ 10, entirely) on SEED queries and their measured
    ppm sits at the seeds' optimistic end; the tiny-corpus test in
    tests/test_index_store.py exercises exactly this regime. A corpus
    with fewer than 2 rows has no (query, neighbor) pair at all —
    the truth set is empty and recall is undefined — so the gate
    REFUSES to grade it rather than divide by zero. The REGISTERED
    serving-recall queries keep their vec_id < 10 batch — that is the
    oracle contract; this range only feeds the engine-side
    accept/refuse measurement."""
    n = table_rows(sf_dir, "embeddings")
    if n < 2:
        raise IndexRecallGateError(
            f"IVF-PQ publish gate ungradable: corpus {sf_dir!r} has "
            f"{n} embedding row(s); recall needs at least one "
            f"(query, neighbor) pair — refusing to publish ungated"
        )
    lo = k if n >= k + 10 else max(0, n - 10)
    return lo, lo + 10


class IndexRecallGateError(RuntimeError):
    """Raised when a freshly built IVF-PQ index fails the publish-time
    recall floor; nothing is written or committed — the store never
    serves an index that flunked its gate."""


def _ivfpq_params(sf_dir: str) -> tuple[int, int]:
    """(n_centroids, n_buckets) — k under the occupancy policy, buckets
    under the byte-size policy; both derived from the cached
    parquet-footer row count (zero Spark jobs)."""
    n = table_rows(sf_dir, "embeddings")
    k = max(8, (n + _IVFPQ_TARGET_CELL - 1) // _IVFPQ_TARGET_CELL)
    nb = max(8, min(_IVFPQ_MAX_BUCKETS, -(-n * _IVFPQ_ROW_BYTES // _IVFPQ_BUCKET_BYTES)))
    return k, nb


def _ivfpq_identity_tag(sf_dir: str) -> str:
    """Identity tag of the stored index: corpus file identity + the
    index FORMAT parameters (assignment route/k, PQ shape, bucket
    count), so a format change — like round 10's flat→two-level,
    fixed-k→occupancy-scaled switch — can never adopt an artifact
    built under the old format (k and buckets are themselves functions
    of the identity, so the tag stays deterministic per corpus)."""
    import hashlib as _hl

    path, mtime_ns, size = _corpus_identity(sf_dir)
    k, nb = _ivfpq_params(sf_dir)
    return _hl.md5(
        f"{path}|{mtime_ns}|{size}|ivfpq2l|k={k}|m={sim.PQ_M}|nc={sim.PQ_NC}|b={nb}".encode()
    ).hexdigest()[:12]


def _ivfpq_store(spark: SparkSession, sf_dir: str):
    """The stored IVF-PQ index's versioned table and bucket layout."""
    from northwind_warehouse_spark.sources import index_store

    path, _, _ = _corpus_identity(sf_dir)
    _, nb = _ivfpq_params(sf_dir)
    spec = index_store.BucketSpec(
        "vec_id BIGINT, cell_id BIGINT, codes ARRAY<INT>, gen INT",
        ("cell_id",), ("cell_id", "vec_id"), nb, "gen",
    )
    return index_store.table(spark, _IVFPQ_ROOT, path), spec


def _publish_recall_gate(
    spark: SparkSession, sf_dir: str, assigned: DataFrame, k: int
) -> int:
    """The accept gate run once per index BUILD, before publish:
    candidate recall@5 of P(k)-probe serving — THROUGH the same
    _idx_query_probe policy entry the serving paths use, so the gate
    always grades the route/S/P actually served — against the
    assignment about to be stored vs the brute-force exact-cosine
    truth for the 10-query NON-SEED eval batch (:func:`_gate_eval_ids`
    — round 12: the former vec_id < 10 batch coincided with the
    codebook seeds and measured the gate at its optimistic end).
    Costs one corpus
    scan for the truth — against a build that already scanned the
    corpus to assign and encode it. Returns the measured ppm; raises
    :class:`IndexRecallGateError` below the k-policy floor."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import (
        cosine_from_parts,
        dot_q,
        norm2_q,
    )

    qlo, qhi = _gate_eval_ids(sf_dir, k)
    is_q = (F.col("vec_id") >= qlo) & (F.col("vec_id") < qhi)
    e = load(spark, sf_dir, "embeddings")
    qp = _idx_query_probe(
        spark, sf_dir, e.filter(is_q), k, _idx_nprobe(k)
    ).select(F.col("vec_id").alias("query_id"), F.col("cell_id").alias("qcell"))
    cand = (
        assigned.join(
            maybe_broadcast(qp),
            (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    base = e.select("vec_id", "embedding", norm2_q("embedding").alias("n2"))
    tq = base.filter(is_q).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
    )
    wt = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    truth = (
        base.join(maybe_broadcast(tq), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot_q("qvec", "embedding").alias("dot"),
            F.col("qn2").alias("n2a"),
            F.col("n2").alias("n2b"),
        )
        .withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
        .withColumn("nn_rank", F.row_number().over(wt))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    row = (
        truth.join(cand, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("hits"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("total")))
        .collect()[0]
    )
    recall_ppm = int(row.hits) * 1_000_000 // int(row.total)
    if recall_ppm < _ivfpq_min_recall_ppm(k):
        raise IndexRecallGateError(
            f"IVF-PQ index publish refused: candidate recall@5 "
            f"{recall_ppm} ppm < floor {_ivfpq_min_recall_ppm(k)} ppm "
            f"(k={k}, P={_idx_nprobe(k)}, S={_idx_super_probe(k)}, "
            f"non-seed eval batch vec_id in [{qlo}, {qhi}))"
        )
    return recall_ppm


def _ivfpq_table(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """The stored IVF-PQ index table for a corpus — ALL generations,
    ``gen`` column included. Serve the latest version of the corpus's
    versioned index table if it holds this corpus identity (a compacted
    version included), build-gate-and-commit otherwise
    (sources/index_store.py: identity entry, put-if-absent commit, DDL
    adoption with partition recovery). The build is
    ONE corpus scan under the occupancy-scaled TWO-LEVEL route
    (k = max(8, n/128) trained centroids via ivf_assign_two_level —
    n·2√k dot products; the same route the maintain stream's
    ivf_assign_stream uses, so maintained ≡ rebuilt holds end to end
    instead of only for two-level-built test tables, the round-9
    advice gap), PQ-encoded, recall-GATED, and written bucketed-by-cell
    partitioned-by-generation. Returns (table df, catalog table name)."""
    from northwind_warehouse_spark.sources import index_store

    k, _ = _ivfpq_params(sf_dir)
    vt, spec = _ivfpq_store(spark, sf_dir)
    built: dict = {}

    def _build() -> DataFrame:
        e = load(spark, sf_dir, "embeddings")
        cb = _trained_cb(spark, sf_dir, k)
        assigned = sim.ivf_assign_two_level(e, n_centroids=k, centroids=cb).persist()
        built["assigned"] = assigned
        # accept gate: refuses (raises) before anything is written
        built["recall_ppm"] = _publish_recall_gate(spark, sf_dir, assigned, k)
        enc = sim.pq_encode(assigned, _stored_pq_cb(spark, sf_dir), extra_cols=("cell_id",))
        return enc.select("vec_id", "cell_id", "codes", F.lit(0).alias("gen"))

    try:
        return index_store.ensure_bucketed_table(
            spark, "nws_ivfpq_index_", vt, _ivfpq_identity_tag(sf_dir), _build, spec,
        )
    finally:
        if "assigned" in built:
            built["assigned"].unpersist()


def _ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATION 0 of the stored index — exactly what a rebuild of the
    corpus file produces, which is the content identity the entry names
    and the contract every registered serving query (and its DuckDB
    oracle) relies on: streaming maintenance appends land in higher
    ``gen`` partitions and are PRUNED here at the directory level
    (round-9 verdict #3 — maintenance must not silently change what a
    gated query serves). Maintained readers use
    :func:`_ivfpq_index_maintained`."""
    df, _ = _ivfpq_table(spark, sf_dir)
    return df.filter(F.col("gen") == 0).select("vec_id", "cell_id", "codes")


def _ivfpq_index_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained view of the stored index: generation 0 plus every
    streamed append generation (the ``gen=<N>`` partitions of the
    served version). Same bucketed table, so cell-grain plans are
    identical."""
    df, _ = _ivfpq_table(spark, sf_dir)
    return df.select("vec_id", "cell_id", "codes")


def ivfpq_maintain_from_stream(
    spark: SparkSession, sf_dir: str, incoming: DataFrame, checkpoint_dir: str
):
    """Production maintenance entry point: stream-append arriving
    vectors into the next GENERATION, the ``gen=<N>`` partition one past
    the served version's highest, under the FROZEN stored quantizer
    (streaming/jobs.py::ivf_pq_index_maintain_stream). Registered
    queries keep serving gen 0 untouched; the maintained view picks the
    appends up immediately. Returns (query, generation)."""
    from northwind_warehouse_spark.sources import index_store
    from northwind_warehouse_spark.streaming.jobs import ivf_pq_index_maintain_stream

    k, nb = _ivfpq_params(sf_dir)
    _, table = _ivfpq_table(spark, sf_dir)
    vt, _ = _ivfpq_store(spark, sf_dir)
    gen = index_store.generation(vt.latest()) + 1
    cb = _trained_cb(spark, sf_dir, k)
    pqcb = _stored_pq_cb(spark, sf_dir)
    q = ivf_pq_index_maintain_stream(
        incoming, k, cb, pqcb, table, checkpoint_dir, n_buckets=nb, gen=gen,
    )
    return q, gen


def ivfpq_compact_index(spark: SparkSession, sf_dir: str) -> dict:
    """Maintenance entry point: compact the corpus's stored IVF-PQ
    index back to one right-sized file per (generation, cell bucket)
    after streaming appends (sources/index_store.py::
    compact_bucketed_table — the OPTIMIZE step of the maintain-stream
    story). The rewrite commits the next version of the index table,
    so readers of the old version keep their files until vacuum's
    grace passes; bucket contract and serving results preserved,
    asserted in tests/test_index_store.py. Returns file counts and the
    old/new catalog table names."""
    from northwind_warehouse_spark.sources import index_store

    _ivfpq_table(spark, sf_dir)  # ensure built or adopted
    vt, spec = _ivfpq_store(spark, sf_dir)
    return index_store.compact_bucketed_table(spark, "nws_ivfpq_index_", vt, spec)


def _ivfpq_query_luts(spark: SparkSession, sf_dir: str, n_probe: int = 1) -> DataFrame:
    """Per-(query, probe) serving rows against the STORED artifacts:
    each of the 10 query vectors takes its top-P cells through the
    MEASURED route policy (:func:`_idx_query_probe` — flat over the
    session-cached packed array at k ≤ 64, where flat beats
    within-super probing by +8-22 pp candidate recall at P=4 and
    hier(S ≥ √k) ≡ flat anyway; the widened-super hierarchical probe
    at larger k, where the r12 discriminating sweep measures S=8
    within ~1 pp of flat while S ≤ 4 loses and the flat pack's O(k)
    single row is the scale ceiling — NPROBE.json, rounds
    10-12), plus the query's ADC lookup table against the adopted PQ
    codebook. Touches the raw corpus ONLY for the 10 query rows
    (vec_id < 10 is pushed to the scan)."""
    e = load(spark, sf_dir, "embeddings")
    k, _ = _ivfpq_params(sf_dir)
    pqcb = _stored_pq_cb(spark, sf_dir)
    sdist = sim._PQ_SDIST.format(a="eq", b="c")
    qp = _idx_query_probe(
        spark, sf_dir, e.filter(F.col("vec_id") < 10), k, n_probe
    )
    return (
        qp.select(
            F.col("vec_id").alias("query_id"),
            "probe_rank",
            F.col("cell_id").alias("qcell"),
            F.expr(sim._PQ_QUANT.format(v="embedding")).alias("eq"),
        )
        .crossJoin(F.broadcast(pqcb))
        .withColumn(
            "lut",
            F.expr(
                f"transform(sequence(0, {sim.PQ_M - 1}), s -> transform(cws, c -> {sdist}))"
            ),
        )
        .select("query_id", "probe_rank", "qcell", "lut")
    )


def ann_ivfpq_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 served from a PERSISTED index (round-7 verdict
    #7 — the real 100-TB serving shape: the index is built ONCE per
    corpus refresh and queried many times; every other ann_* plan
    rebuilds its index inside the query DAG, which is the right demo
    shape but not the production one).

    Build-once-per-CORPUS (round-8 verdict #1): the artifact identity is
    the corpus file identity + index format — no session component — so the
    first session ever to see a corpus version trains the coarse
    quantizer (k = max(8, n/128) trained centroids, the occupancy
    policy that keeps per-query candidate work ~constant instead of
    n/k-growing; round-9 verdict #1), assigns the corpus via the
    TWO-LEVEL route (n·2√k dots, never the quadratic flat n·k scan),
    PQ-encodes it in the same scan, gates the result on eval-batch
    recall, and publishes the (vec_id, cell_id, codes) index as a
    BUCKETED-BY-CELL, PARTITIONED-BY-GENERATION table
    (sources/index_store.py: one put-if-absent commit on the index's
    versioned table), and every LATER session ADOPTS the stored
    table, codebook and PQ codebook with zero build jobs
    (tests/test_index_store.py runs the second session in a fresh
    process and counts). Serving: the raw corpus is touched only for
    the 10 query vectors (routed two-level — s + √k dots each, the
    same route the index was built with, so a query's cell IS its
    stored cell), the candidate join broadcasts the per-query
    (cell, ADC-LUT) rows against the gen-0 index scan (zero Exchange
    on the index side, partition pruning drops maintained
    generations), and bucketing by cell_id keeps cell-grain
    maintenance (occupancy audits, the streaming ingest appends)
    shuffle-free — asserted in tests/test_plans.py. Results are
    identical to computing the index inline, which is exactly what the
    DuckDB oracle does. Multi-probe serving from the same stored
    index: :func:`ann_ivfpq_multiprobe_from_index`."""
    return _ivfpq_adc_topk(_ivfpq_index(spark, sf_dir),
                           _ivfpq_query_luts(spark, sf_dir).drop("probe_rank"),
                           lut_rows=10)


def _ivfpq_adc_topk(idx: DataFrame, luts: DataFrame,
                    lut_rows: int = 10) -> DataFrame:
    """Shared ADC serving body: broadcast the per-query (cell, LUT)
    rows against an index relation (gen-0 or maintained — the caller
    picks), ADC-score, top-5 per query.

    The LUT hint is rows-gated BY PARAMETER (r13): lut_rows =
    n_queries x n_probe is caller-known, while the optimizer's
    estimate for the LUT relation rides the probe-route join product
    (~5e10 at sf0.1) — the estimate gate silently declined it and the
    serving join planned as SMJ, shuffling the INDEX side the zero-
    index-Exchange design exists to protect. A LUT row is PQ_M x
    PQ_NC longs (~256 B) — 4 KB/row is generous headroom."""
    from pyspark.sql.window import Window

    scored = (
        idx.join(
            maybe_broadcast_rows(luts, lut_rows, row_bytes=4096),
            (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("qcell").alias("cell_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", "cell_id", "neighbor_id", "adist", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )


def ann_ivfpq_from_index_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving twin over the MAINTAINED view (gen 0 ∪ every streamed
    append generation) — deliberately NOT a registered query: gen-0 is
    the oracle contract (the stored index's content identity), while
    this reader is what a deployment serves BETWEEN full refreshes.
    Exists so the maintenance lifecycle has a measured serving number
    (tools/scale_smoke.py maintained-serving section: N appended
    micro-batches fragment the table — one file per (batch, bucket) —
    then ivfpq_compact_index restores one file per (gen, bucket) and
    the wall recovers)."""
    return _ivfpq_adc_topk(
        _ivfpq_index_maintained(spark, sf_dir),
        _ivfpq_query_luts(spark, sf_dir).drop("probe_rank"),
        lut_rows=10,
    )


def _o_pq_codes_ctes() -> str:
    """Oracle CTE fragment (no leading WITH/comma): the PQ codebook
    lottery (cw) → codeword elements (cwel) → per-(vector, subspace,
    codeword) squared distances (subd) → each vector's PQ codes
    (codes). Requires the q(vec_id, i, xq) CTE. Shared by every
    stored-index-family oracle."""
    return f"""cw AS (
        SELECT vec_id, rn - 1 AS j FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         vec_id) AS rn
            FROM embeddings)
        WHERE rn <= {sim.PQ_NC}
    ),
    cwel AS (
        SELECT cw.j, q.i, q.xq FROM cw JOIN q USING (vec_id)
    ),
    subd AS (
        SELECT a.vec_id, (a.i - 1) // {sim.PQ_SUB} AS s, c.j,
               CAST(sum((a.xq - c.xq) * (a.xq - c.xq)) AS BIGINT) AS d
        FROM q a JOIN cwel c ON a.i = c.i
        GROUP BY a.vec_id, (a.i - 1) // {sim.PQ_SUB}, c.j
    ),
    codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM subd)
        WHERE rn = 1
    )"""


def _o_idx_probe_ctes() -> str:
    """Shared oracle scaffolding for the stored-index serving family —
    the exact SQL mirror of the occupancy-scaled index under the
    round-11 probe POLICY: trained codebook at k = greatest(8,
    ceil(n/128)) (cb1, one Lloyd round — _o_trained_cb_sql), the
    TWO-LEVEL assignment of every corpus vector (assign0, via
    _o_two_level_chain — the oracle twin of the stored table's gen-0
    cell_id column), and the query batch's top-P(k) probe (qprobe)
    with P(k) = greatest(4, ns // 3) COMPUTED IN-QUERY from the params
    CTE — the exact mirror of plans/llm._idx_nprobe at any k. The
    probe is written in the FLAT form (rank all k centroids), which IS
    the route policy's result wherever the oracle runs: at the oracle
    SFs k ≤ 16 ≤ _IDX_SUPER_PROBE², where _idx_query_probe serves flat
    and the hier route at S ≥ √k is row-identical by the proven
    operator identity (tests/test_operators.py); the k > 64 hier
    branch has its own oracle-checked gate twin at a genuinely partial
    S (ann_ivfpq_hier_probe_recall)."""
    return (
        _o_trained_cb_sql(_KNN_NCENTS_SQL)
        + ",\n    "
        + _o_two_level_chain("0", "n2", "cb1")
        + f""",
    qpdot AS (
        SELECT a.vec_id, c.j AS cent_id, CAST(sum(a.xq * c.w) AS BIGINT) AS dot
        FROM q a JOIN cb1 c ON c.i = a.i
        WHERE a.vec_id < 10
        GROUP BY a.vec_id, c.j
    ),
    qpcos AS (
        SELECT d.vec_id, d.cent_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(cc.cn2 AS DOUBLE)) AS cos
        FROM qpdot d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN cbn0 cc ON cc.j = d.cent_id
    ),
    qprobe AS (
        SELECT vec_id AS query_id, cent_id AS cell_id, CAST(rk AS BIGINT) AS probe_rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
            FROM qpcos
        ) WHERE rk <= (SELECT greatest(4, ns // 3) FROM params)
    )"""
    )


def oracle_ann_ivfpq_from_index() -> str:
    return f"""
    WITH {_o_idx_probe_ctes()},
    {_o_pq_codes_ctes()},
    adist AS (
        SELECT qd.vec_id AS query_id, qp.cell_id, c.vec_id AS neighbor_id,
               CAST(sum(qd.d) AS BIGINT) AS adist
        FROM codes c
        JOIN subd qd ON qd.s = c.s AND qd.j = c.code
        JOIN assign0 ac ON ac.vec_id = c.vec_id
        JOIN qprobe qp ON qp.query_id = qd.vec_id AND qp.cell_id = ac.cell_id
                      AND qp.probe_rank = 1
        WHERE c.vec_id <> qd.vec_id
        GROUP BY qd.vec_id, qp.cell_id, c.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS nn_rank
        FROM adist
    )
    SELECT query_id, cell_id, neighbor_id, adist, nn_rank
    FROM ranked WHERE nn_rank <= 5 ORDER BY query_id, nn_rank
    """


def ann_ivfpq_multiprobe_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe serving from the STORED IVF-PQ index (round-8
    verdict #4): each query ADC-scans its P(k) (_idx_nprobe) nearest trained
    cells through the measured route policy (_idx_query_probe: flat at
    k ≤ 64 where it buys +8-22 pp candidate recall over within-super
    probing, widened-super hierarchical beyond where the r12
    discriminating sweep measures S=8 within ~1 pp of flat and the
    flat pack's O(k) row is the scale
    ceiling — NPROBE.json, rounds 10-12) instead of only its top-1
    cell — the standard recall repair for boundary queries, on the
    production (persisted) path. The
    stored table is bucketed by cell_id, so a P-cell probe is P
    bucket-local scans: the per-(query, probe) LUT rows broadcast
    against the one gen-0 index scan exactly like the single-probe
    plan (zero Exchange on the index side), and cells partition the
    corpus, so no neighbor appears twice across probes — the top-5
    window needs no dedup. Recall gain over single-probe is measured
    by :func:`ann_ivfpq_from_index_recall`; the P knob's
    recall-vs-cost trade is recorded by tools/nprobe_probe.py."""
    from pyspark.sql.window import Window

    idx = _ivfpq_index(spark, sf_dir)
    k, _ = _ivfpq_params(sf_dir)
    n_probe = _idx_nprobe(k)
    luts = _ivfpq_query_luts(spark, sf_dir, n_probe=n_probe)
    # rows-gated BY PARAMETER (r13): 10 queries x n_probe LUT rows —
    # see _ivfpq_adc_topk's note on the estimate gate declining here.
    scored = (
        idx.join(
            maybe_broadcast_rows(luts, 10 * n_probe, row_bytes=4096),
            (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("qcell").alias("cell_id"),
            "probe_rank",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", "cell_id", "probe_rank", "neighbor_id", "adist", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )


def oracle_ann_ivfpq_multiprobe_from_index() -> str:
    return f"""
    WITH {_o_idx_probe_ctes()},
    {_o_pq_codes_ctes()},
    adist AS (
        SELECT qd.vec_id AS query_id, qp.cell_id, qp.probe_rank, c.vec_id AS neighbor_id,
               CAST(sum(qd.d) AS BIGINT) AS adist
        FROM codes c
        JOIN subd qd ON qd.s = c.s AND qd.j = c.code
        JOIN assign0 ac ON ac.vec_id = c.vec_id
        JOIN qprobe qp ON qp.query_id = qd.vec_id AND qp.cell_id = ac.cell_id
        WHERE c.vec_id <> qd.vec_id
        GROUP BY qd.vec_id, qp.cell_id, qp.probe_rank, c.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS nn_rank
        FROM adist
    )
    SELECT query_id, cell_id, probe_rank, neighbor_id, adist, nn_rank
    FROM ranked WHERE nn_rank <= 5 ORDER BY query_id, nn_rank
    """


def ann_ivfpq_from_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the STORED-index serving paths (round-8 verdict
    #4: the inline indexes had recall gates, the persisted one did
    not): per query, candidate-set recall@5 of single-probe
    (probe_rank=1 cells only) vs P(k)-probe serving against the
    brute-force exact-cosine ground truth, with candidates drawn from
    the stored table's cell assignments — the gate measures the index
    that is actually served, not an inline rebuild. Hits are counted by
    candidate MEMBERSHIP (cell recall — the IVF recall decomposition:
    ADC ranking inside a probed cell is the PQ approximation the
    ann_pq_recall gate already grades), so recall_multi ≥ recall_single
    is structural (probe-set superset) and the gap is exactly what
    multi-probe buys on the production path."""
    from northwind_warehouse_spark.functions.vectors import (
        cosine_from_parts,
        dot_q,
        norm2_q,
    )
    from pyspark.sql.window import Window

    idx = _ivfpq_index(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    k, _ = _ivfpq_params(sf_dir)
    qp = _idx_query_probe(
        spark, sf_dir, e.filter(F.col("vec_id") < 10), k, _idx_nprobe(k)
    ).select(
        F.col("vec_id").alias("query_id"),
        "probe_rank",
        F.col("cell_id").alias("qcell"),
    )
    pairs = idx.join(
        maybe_broadcast(qp),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "probe_rank")
    # persist (r14, verdict item 2 + guide §5): pairs feeds BOTH recall
    # arms (single-probe filter + multi-probe distinct) and its lineage
    # re-runs the whole probe-route window chain per consumer; truth
    # below feeds THREE consumers (hit_s, hit_m, n_true) and its lineage
    # is the brute-force corpus×queries scoring pass. Both are tiny
    # outputs (≤ 10·P·occupancy / 50 rows) on expensive uncached lineage
    # — the CLAUDE.md persist shape. Session-pair ABAB A/B (in-session
    # persist A/Bs are invalid): on 0.979/1.034 vs off 1.077/1.153 warm
    # med-of-5, checksums identical.
    pairs = pairs.persist()

    base = e.select("vec_id", "embedding", norm2_q("embedding").alias("n2"))
    tq = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
    )
    tscored = base.join(maybe_broadcast(tq), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot_q("qvec", "embedding").alias("dot"),
        F.col("qn2").alias("n2a"),
        F.col("n2").alias("n2b"),
    ).withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    wt = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    truth = (
        tscored.withColumn("nn_rank", F.row_number().over(wt))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    truth = truth.persist()

    # rows-gated (r13): candidate membership is 10 queries x P probed
    # cells x ~occupancy rows; the k = n/128 policy pins mean occupancy,
    # so 10*P*256 (2x the occupancy target) bounds it by PARAMETER —
    # the optimizer's estimate rides the probe join product and had
    # silently declined both hints into SMJs over 50-row truth sets.
    cand_rows = 10 * _idx_nprobe(k) * 256
    hit_s = truth.join(
        maybe_broadcast_rows(
            pairs.filter(F.col("probe_rank") == 1).select("query_id", "neighbor_id"),
            cand_rows, row_bytes=32,
        ),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits_single"))
    hit_m = truth.join(
        maybe_broadcast_rows(
            pairs.select("query_id", "neighbor_id").distinct(), cand_rows, row_bytes=32
        ),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits_multi"))
    n_true = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        n_true.join(hit_s, "query_id", "left")
        .join(hit_m, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce("n_hits_single", F.lit(0)).cast("bigint").alias("n_hits_single"),
            F.coalesce("n_hits_multi", F.lit(0)).cast("bigint").alias("n_hits_multi"),
        )
        .withColumn("recall_single_ppm", F.expr("n_hits_single * 1000000 div n_true"))
        .withColumn("recall_multi_ppm", F.expr("n_hits_multi * 1000000 div n_true"))
        .orderBy("query_id")
    )


def oracle_ann_ivfpq_from_index_recall() -> str:
    return f"""
    WITH {_o_idx_probe_ctes()},
    cand AS (
        SELECT qp.query_id, qp.probe_rank, a.vec_id AS neighbor_id
        FROM qprobe qp JOIN assign0 a
          ON a.cell_id = qp.cell_id AND a.vec_id <> qp.query_id
    ),
    tdots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM q a JOIN q b ON b.i = a.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY a.vec_id, b.vec_id
    ),
    tscored AS (
        SELECT query_id, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM tdots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
            FROM tscored
        ) WHERE rk <= 5
    ),
    n_true_t AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_true FROM truth GROUP BY query_id
    ),
    hs AS (
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits_single
        FROM truth t
        WHERE EXISTS (
            SELECT 1 FROM cand c
            WHERE c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
              AND c.probe_rank = 1
        )
        GROUP BY t.query_id
    ),
    hm AS (
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits_multi
        FROM truth t
        WHERE EXISTS (
            SELECT 1 FROM cand c
            WHERE c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        )
        GROUP BY t.query_id
    )
    SELECT n_true_t.query_id, n_true,
           CAST(coalesce(n_hits_single, 0) AS BIGINT) AS n_hits_single,
           CAST(coalesce(n_hits_multi, 0) AS BIGINT) AS n_hits_multi,
           CAST(coalesce(n_hits_single, 0) * 1000000 // n_true AS BIGINT) AS recall_single_ppm,
           CAST(coalesce(n_hits_multi, 0) * 1000000 // n_true AS BIGINT) AS recall_multi_ppm
    FROM n_true_t
    LEFT JOIN hs ON hs.query_id = n_true_t.query_id
    LEFT JOIN hm ON hm.query_id = n_true_t.query_id
    ORDER BY 1
    """


# Fixed S for the hier-route gate twin: genuinely PARTIAL at every
# tested SF (n_super = ⌈√k⌉ ≥ 3 at k ≥ 8), so the query exercises the
# hierarchical semantics — super ranking, child-union restriction,
# global top-P — that the serving paths only take at k > 64.
_IDX_HIER_GATE_S = 2


def ann_ivfpq_hier_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked GATE TWIN of the hier branch of the round-11
    probe route policy (the verdict-ordered serving-route recall row):
    per query, candidate recall@5 of the WIDENED-SUPER hierarchical
    probe (operators/similarity.py::ivf_probe_cells_hier) at a FIXED
    partial S = 2 against the STORED gen-0 index, vs the brute-force
    exact-cosine truth. The serving paths take this route only at
    k > _IDX_SUPER_PROBE² (where the flat pack's one O(k) row is the
    scale ceiling — round-10 verdict #1); the tested corpora serve the
    flat branch, so THIS query pins the hier semantics to a DuckDB
    value check at every CI run: top-S supers by (cos DESC, sid ASC),
    candidate cells restricted to those supers' children via the
    centroid→super routing, global top-P(k) by (cos DESC, cent_id
    ASC). Candidates come from the stored table's cell assignments —
    the relation the k > 64 regime would actually scan."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import (
        cosine_from_parts,
        dot_q,
        norm2_q,
    )

    idx = _ivfpq_index(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    k, _ = _ivfpq_params(sf_dir)
    cb = _trained_cb(spark, sf_dir, k)
    qp = sim.ivf_probe_cells_hier(
        e.filter(F.col("vec_id") < 10), k, cb,
        n_probe=_idx_nprobe(k), n_super_probe=_IDX_HIER_GATE_S,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell_id").alias("qcell"),
    )
    # persist (r14, verdict item 2 + guide §5): qp feeds n_probed AND
    # cand — without the cache the hier probe-route window chain
    # re-executes per consumer; truth below feeds hits + n_true over the
    # brute-force scoring lineage. Session-pair ABAB A/B: on 1.066/1.060
    # vs off 1.725/1.632 warm med-of-5, checksums identical.
    qp = qp.persist()
    n_probed = qp.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_probed_cells")
    )
    cand = idx.join(
        maybe_broadcast(qp),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id")).distinct()

    base = e.select("vec_id", "embedding", norm2_q("embedding").alias("n2"))
    tq = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
    )
    wt = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    truth = (
        base.join(maybe_broadcast(tq), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot_q("qvec", "embedding").alias("dot"),
            F.col("qn2").alias("n2a"),
            F.col("n2").alias("n2b"),
        )
        .withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
        .withColumn("nn_rank", F.row_number().over(wt))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    truth = truth.persist()
    # rows-gated (r13): same occupancy-derived candidate bound as
    # ann_ivfpq_from_index_recall — the estimate gate declined both.
    hits = truth.join(
        maybe_broadcast_rows(cand, 10 * _idx_nprobe(k) * 256, row_bytes=32),
        ["query_id", "neighbor_id"], "left_semi"
    ).groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    n_true = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        n_true.join(maybe_broadcast_rows(n_probed, 10, row_bytes=32), "query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_probed_cells",
            "n_true",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        )
        .withColumn("recall_ppm", F.expr("n_hits * 1000000 div n_true"))
        .orderBy("query_id")
    )


def oracle_ann_ivfpq_hier_probe_recall() -> str:
    return f"""
    WITH {_o_idx_probe_ctes()},
    qsuptop AS (
        -- each query's S nearest supers (cos DESC, sid ASC) — scos0 is
        -- the corpus-wide query→super cosine relation of the two-level
        -- chain, filtered to the query batch
        SELECT vec_id AS query_id, sid AS super_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sid) AS rk
            FROM scos0 WHERE vec_id < 10
        ) WHERE rk <= {_IDX_HIER_GATE_S}
    ),
    hprobe AS (
        -- global top-P(k) over the union of the probed supers'
        -- children: qpcos (query→centroid cosines) restricted via the
        -- centroid→super routing csup0
        SELECT query_id, cent_id AS cell_id FROM (
            SELECT ts.query_id, qc.cent_id, qc.cos,
                   row_number() OVER (
                       PARTITION BY ts.query_id
                       ORDER BY qc.cos DESC, qc.cent_id
                   ) AS rk
            FROM qsuptop ts
            JOIN csup0 cs ON cs.super_id = ts.super_id
            JOIN qpcos qc ON qc.vec_id = ts.query_id AND qc.cent_id = cs.cent_id
        ) WHERE rk <= (SELECT greatest(4, ns // 3) FROM params)
    ),
    np AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_probed_cells
        FROM hprobe GROUP BY query_id
    ),
    cand AS (
        SELECT DISTINCT hp.query_id, a.vec_id AS neighbor_id
        FROM hprobe hp JOIN assign0 a
          ON a.cell_id = hp.cell_id AND a.vec_id <> hp.query_id
    ),
    tdots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM q a JOIN q b ON b.i = a.i AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10
        GROUP BY a.vec_id, b.vec_id
    ),
    tscored AS (
        SELECT query_id, neighbor_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM tdots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = neighbor_id
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
            FROM tscored
        ) WHERE rk <= 5
    ),
    n_true_t AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_true FROM truth GROUP BY query_id
    ),
    hh AS (
        SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM truth t
        WHERE EXISTS (
            SELECT 1 FROM cand c
            WHERE c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        )
        GROUP BY t.query_id
    )
    SELECT n_true_t.query_id, np.n_probed_cells, n_true,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(n_hits, 0) * 1000000 // n_true AS BIGINT) AS recall_ppm
    FROM n_true_t
    JOIN np ON np.query_id = n_true_t.query_id
    LEFT JOIN hh ON hh.query_id = n_true_t.query_id
    ORDER BY 1
    """


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering structure of the near-dup candidate graph:
    edge / wedge / triangle counts and the clustering coefficient in
    exact ppm — high closure means the LSH pairs form dense duplicate
    cliques (safe to collapse via connected components), low closure
    means chains of borderline matches that over-merge.

    Triangle counting via the two-path join: edges are oriented
    (doc_a < doc_b, already canonical from lsh_candidate_pairs), wedges
    come from one self-join on the shared middle vertex, and each wedge
    is closed by probing the edge set — at fleet scale this is the
    standard degree-oriented triangle count (each triangle counted
    once), with the same band-bucket-capped edge generation MinHash
    dedup uses. Wedge total = sum over nodes of C(deg, 2)."""
    d = load(spark, sf_dir, "documents")
    edges = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d))).persist()
    e1 = edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
    # wedge (x < y < z) centered anywhere: join on shared vertex, all
    # three orientations collapse because edges are canonical
    two_path = (
        e1.alias("p")
        .join(e1.alias("q"), F.col("p.y") == F.col("q.x"))
        .select(F.col("p.x").alias("a"), F.col("p.y").alias("b"), F.col("q.y").alias("c"))
    )
    tri = two_path.join(
        e1.select(F.col("x").alias("a"), F.col("y").alias("c")), ["a", "c"], "left_semi"
    )
    deg = (
        edges.select(F.col("doc_a").alias("n")).unionAll(edges.select(F.col("doc_b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    counts = (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
        .crossJoin(deg.agg(F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges")))
    )
    return counts.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges = 0 THEN 0 ELSE 3 * n_triangles * 1000000 div n_wedges END"
        ).alias("closure_ppm"),
    )


def oracle_dedup_graph_triangles() -> str:
    return f"""
    WITH {_SIG_CTE},
    tri AS (
        SELECT count(*) AS n_triangles
        FROM cand p JOIN cand q ON p.doc_b = q.doc_a
        WHERE EXISTS (
            SELECT 1 FROM cand r WHERE r.doc_a = p.doc_a AND r.doc_b = q.doc_b
        )
    ), deg AS (
        SELECT n, count(*) AS deg FROM (
            SELECT doc_a AS n FROM cand UNION ALL SELECT doc_b FROM cand
        ) GROUP BY n
    ), agg AS (
        SELECT (SELECT count(*) FROM cand) AS n_edges,
               (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
               (SELECT n_triangles FROM tri) AS n_triangles
    )
    SELECT n_edges, n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
           CASE WHEN n_wedges = 0 THEN 0
                ELSE 3 * n_triangles * 1000000 // n_wedges END AS closure_ppm
    FROM agg
    """


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT on the LSH candidate pairs:
    |A∩B| relative to each side separately — the measure that catches
    doc-inside-doc (quotes, concatenated crawls) that symmetric Jaccard
    under-scores: a small doc fully embedded in a big one has tiny
    Jaccard but containment_a ≈ 1.

    Same candidate discipline as pair_jaccard (band buckets, never
    all-pairs); the flag marks pairs where one side is ≥90% contained
    while Jaccard stays below 70% — exactly the pairs a Jaccard-only
    pipeline would keep twice."""
    d = load(spark, sf_dir, "documents")
    sh_arr = sim.shingle_arrays(d).persist()
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sh_arr))
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)").alias("n_inter"),
            F.expr("CAST(size(sh_a) AS BIGINT)").alias("n_a"),
            F.expr("CAST(size(sh_b) AS BIGINT)").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr("1000000 * n_inter div n_a").alias("containment_a_ppm"),
            F.expr("1000000 * n_inter div n_b").alias("containment_b_ppm"),
            F.expr(
                "CASE WHEN greatest(1000000 * n_inter div n_a, 1000000 * n_inter div n_b) >= 900000 "
                "AND 1000000 * n_inter div (n_a + n_b - n_inter) < 700000 "
                "THEN 'Y' ELSE 'N' END"
            ).alias("containment_only"),
        )
        .orderBy("doc_a", "doc_b")
    )


def oracle_dedup_containment() -> str:
    return f"""
    WITH {_SIG_CTE},
    inter AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
               CAST(len(sa.sh) AS BIGINT) AS n_a,
               CAST(len(sb.sh) AS BIGINT) AS n_b
        FROM cand c
        JOIN sharr sa ON sa.doc_id = c.doc_a
        JOIN sharr sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_inter, n_a, n_b,
           1000000 * n_inter // n_a AS containment_a_ppm,
           1000000 * n_inter // n_b AS containment_b_ppm,
           CASE WHEN greatest(1000000 * n_inter // n_a, 1000000 * n_inter // n_b) >= 900000
                     AND 1000000 * n_inter // (n_a + n_b - n_inter) < 700000
                THEN 'Y' ELSE 'N' END AS containment_only
    FROM inter ORDER BY doc_a, doc_b
    """


_VOCAB_K = 50


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: what fraction of each source's token
    occurrences the top-50 corpus vocabulary covers (exact ppm) — the
    number that decides whether a vocab/merge budget is big enough for
    a slice before training a tokenizer on the mixture.

    The vocab is a 50-row total-ordered top-k, broadcast back; coverage
    is one token-explode aggregate per source with a broadcast-hash
    membership flag (no second corpus shuffle)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).cast("bigint").alias("covered_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "covered_tokens",
            F.expr("1000000 * covered_tokens div total_tokens").alias("coverage_ppm"),
        )
        .orderBy("source")
    )


def oracle_vocab_coverage() -> str:
    return f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ), vocab AS (
        SELECT term FROM (
            SELECT term, count(*) AS n FROM toks GROUP BY term
            ORDER BY n DESC, term LIMIT {_VOCAB_K}
        )
    )
    SELECT source, count(*) AS total_tokens,
           CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS covered_tokens,
           1000000 * CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               // count(*) AS coverage_ppm
    FROM toks LEFT JOIN vocab v USING (term)
    GROUP BY source ORDER BY source
    """


_MINHASH_RECALL_J_PPM = 500_000  # ground-truth threshold: exact Jaccard >= 0.5


def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate generator against EXACT
    shingle-Jaccard ground truth — the same accept/reject gate the ANN
    indexes get (ann_recall_eval / ann_pq_recall), applied to the text
    dedup index: band/row settings are safe to deploy only when this
    number clears the bar at sample scale.

    The ground truth is an all-pairs exact Jaccard — O(n²) BY DESIGN
    and only ever run on an evaluation sample (here the full 500-doc
    test corpus), exactly like the brute-force ANN baseline; the LSH
    candidates under test come from the production band-bucket join.
    Output: truth-pair count, found count, recall ppm, per Jaccard
    decile of the truth pairs (near-misses live in the lowest band)."""
    d = load(spark, sf_dir, "documents")
    sh = sim.shingle_arrays(d).persist()
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)").alias("n_inter"),
            F.expr("CAST(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)) AS BIGINT)")
            .alias("n_union"),
        )
        .withColumn("j_ppm", F.expr("1000000 * n_inter div n_union"))
        .filter(F.col("j_ppm") >= _MINHASH_RECALL_J_PPM)
    )
    cand = sim.lsh_candidate_pairs(sim.minhash_signatures(sh)).withColumn(
        "found", F.lit(1)
    )
    joined = truth.join(maybe_broadcast(cand), ["doc_a", "doc_b"], "left").select(
        F.expr("j_ppm div 100000").alias("j_decile"),
        F.coalesce("found", F.lit(0)).alias("found"),
    )
    return (
        joined.groupBy("j_decile")
        .agg(
            F.count(F.lit(1)).alias("n_truth_pairs"),
            F.sum("found").cast("bigint").alias("n_found"),
        )
        .withColumn("recall_ppm", F.expr("1000000 * n_found div n_truth_pairs"))
        .orderBy("j_decile")
    )


def oracle_minhash_recall_eval() -> str:
    return f"""
    WITH {_SIG_CTE},
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               1000000 * CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
                 // CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT)
                   AS j_ppm
        FROM sharr a JOIN sharr b ON a.doc_id < b.doc_id
    ), t AS (
        SELECT doc_a, doc_b, j_ppm FROM truth WHERE j_ppm >= {_MINHASH_RECALL_J_PPM}
    ), joined AS (
        SELECT t.j_ppm // 100000 AS j_decile,
               CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS found
        FROM t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT j_decile, count(*) AS n_truth_pairs,
           CAST(sum(found) AS BIGINT) AS n_found,
           1000000 * CAST(sum(found) AS BIGINT) // count(*) AS recall_ppm
    FROM joined GROUP BY j_decile ORDER BY j_decile
    """


def pack_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit for the concat-then-chunk packer
    (sequence_pack): per source, total tokens, pack count at
    PACK_BUDGET, tail waste, and utilization in exact ppm — the number
    that says how much compute the final ragged pack burns per domain.

    Pure arithmetic over the per-source token totals (one tiny
    aggregate); consistent with sequence_pack's semantics because
    concat-then-chunk wastes ONLY the final partial pack."""
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.sum(n_tokens()).cast("bigint").alias("total_tokens"))
    return (
        per.withColumn(
            "n_packs", F.expr(f"(total_tokens + {PACK_BUDGET} - 1) div {PACK_BUDGET}")
        )
        .withColumn("capacity", F.expr(f"n_packs * {PACK_BUDGET}"))
        .withColumn("tail_waste_tokens", F.expr("capacity - total_tokens"))
        .withColumn("utilization_ppm", F.expr("1000000 * total_tokens div capacity"))
        .select(
            "source", "total_tokens", "n_packs", "tail_waste_tokens", "utilization_ppm"
        )
        .orderBy("source")
    )


def oracle_pack_efficiency_audit() -> str:
    return f"""
    WITH per AS (
        SELECT source, CAST(sum({o_n_tokens()}) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    ), sized AS (
        SELECT source, total_tokens,
               (total_tokens + {PACK_BUDGET} - 1) // {PACK_BUDGET} AS n_packs
        FROM per
    )
    SELECT source, total_tokens, n_packs,
           n_packs * {PACK_BUDGET} - total_tokens AS tail_waste_tokens,
           1000000 * total_tokens // (n_packs * {PACK_BUDGET}) AS utilization_ppm
    FROM sized ORDER BY source
    """


def sample_representativeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-preservation audit of the deterministic hash split: per
    source, the corpus share vs the VAL-split share in exact ppm and
    their signed difference — a split whose bias_ppm strays far from 0
    is leaking domain signal between train and val.

    Plain integer subtraction of two exact ppm shares (no division of
    signed values); two tiny per-source aggregates off one corpus
    scan."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    flagged = d.withColumn("is_val", (_split_bucket() >= 90).cast("bigint"))
    per = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_val").cast("bigint").alias("n_val"),
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        per.withColumn("tot_docs", F.sum("n_docs").over(w).cast("bigint"))
        .withColumn("tot_val", F.sum("n_val").over(w).cast("bigint"))
        .select(
            "source",
            "n_docs",
            "n_val",
            F.expr("1000000 * n_docs div tot_docs").alias("corpus_share_ppm"),
            F.expr("1000000 * n_val div tot_val").alias("val_share_ppm"),
            F.expr("1000000 * n_val div tot_val - 1000000 * n_docs div tot_docs").alias("bias_ppm"),
        )
        .orderBy("source")
    )


def oracle_sample_representativeness() -> str:
    return f"""
    WITH flagged AS (
        SELECT source, CASE WHEN {_ORACLE_BUCKET} >= 90 THEN 1 ELSE 0 END AS is_val
        FROM documents
    ), per AS (
        SELECT source, count(*) AS n_docs, CAST(sum(is_val) AS BIGINT) AS n_val
        FROM flagged GROUP BY source
    ), tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs, CAST(sum(n_val) AS BIGINT) AS tot_val
        FROM per
    )
    SELECT source, n_docs, n_val,
           1000000 * n_docs // tot_docs AS corpus_share_ppm,
           1000000 * n_val // tot_val AS val_share_ppm,
           1000000 * n_val // tot_val - 1000000 * n_docs // tot_docs AS bias_ppm
    FROM per, tot ORDER BY source
    """


_XSRC_MAX_DF = 20  # rare-shingle cap: bounds join fan-out exactly like winnowing


def cross_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-domain duplication matrix: for every source pair, how many
    RARE word-trigram shingles they share and the shared fraction of
    the smaller side's rare-shingle set (exact ppm) — which domains are
    mirroring / syndicating which, at source grain rather than doc
    grain (winnow_overlap_pairs' discipline applied one level up).

    The rarity cap (df ≤ 20 docs) bounds the shingle self-join exactly
    like the winnowing pair query — boilerplate shingles never explode
    the matrix; the matrix itself is sources² rows."""
    d = load(spark, sf_dir, "documents")
    sh_arr = sim.shingle_arrays(d).persist()  # read by the df filter AND the per-source sets
    # rarity measured by doc frequency, capped to bound the pair join
    df_per = (
        sh_arr.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _XSRC_MAX_DF)
    )
    src_sh = (
        sh_arr.join(d.select("doc_id", "source"), "doc_id")
        .select("source", F.explode("sh").alias("s"))
        .join(df_per.select("s"), "s", "left_semi")
        .distinct()
        .persist()  # read 3x: per-source sizes + both sides of the pair join
    )
    sizes = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_rare"))
    a = src_sh.select(F.col("source").alias("source_a"), "s")
    b = src_sh.select(F.col("source").alias("source_b"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_rare").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_rare").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "n_shared", "n_a", "n_b",
            F.expr("1000000 * n_shared div least(n_a, n_b)").alias("overlap_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


def oracle_cross_source_overlap_matrix() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    ex AS (
        SELECT s.doc_id, d.source, unnest(s.sh) AS s
        FROM sharr s JOIN documents d ON s.doc_id = d.doc_id
    ), dfp AS (
        SELECT s FROM (
            SELECT s, count(*) AS df FROM (
                SELECT doc_id, unnest(sh) AS s FROM sharr
            ) GROUP BY s
        ) WHERE df <= {_XSRC_MAX_DF}
    ), src_sh AS (
        SELECT DISTINCT e.source, e.s FROM ex e JOIN dfp USING (s)
    ), sizes AS (
        SELECT source, count(*) AS n_rare FROM src_sh GROUP BY source
    ), pairs AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        FROM src_sh a JOIN src_sh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           sa.n_rare AS n_a, sb.n_rare AS n_b,
           1000000 * n_shared // least(sa.n_rare, sb.n_rare) AS overlap_ppm
    FROM pairs
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """


def embedding_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: v1 = M·v0 where M is the integer-quantized second-moment
    matrix Σ x xᵀ and v0 a deterministic ±1 seed — the building block
    of distributed PCA (iterate + normalize for the full eigenvector,
    same plan shape per round; kmeans_iter is the same story for
    clustering).

    M never materializes driver-side: the (i, j) co-moment aggregation
    is one shuffle of dim² = 4096 cells (map-side partial sums), and
    the matvec folds those cells with the broadcast-free literal seed.
    Everything BIGINT-exact; at 100 TB the corpus is scanned once per
    iteration and all post-shuffle work is dim²-sized."""
    import hashlib as _hl

    e = load(spark, sf_dir, "embeddings")
    v0 = [
        1 if int(_hl.md5(f"pw|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
        for i in range(64)
    ]
    # stage the quantized array ONCE (r13): the old projection computed
    # the 64-FLOOR transform twice (generator argument + xs), the
    # inferred explode filter inlined it twice more, and the projection
    # under the SECOND posexplode re-evaluated it once per first-level
    # exploded row — 64× per vector. Staging xs as an attribute and
    # exploding via posexplode_outer (not matched by
    # InferFiltersFromGenerate; the position-null filter restores inner
    # semantics exactly) leaves ONE transform per row (plan: 3 → 1
    # transform(embedding) occurrences; the dim² cell shuffle now
    # dominates). Measured: 0.945s sweep-protocol → 0.746s warm
    # med-of-5 same box.
    base = e.select(
        F.expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))")
        .alias("xs")
    )
    xq = base.select(
        "xs", F.posexplode_outer("xs").alias("i", "xi")
    ).filter(F.col("i").isNotNull())
    cells = (
        xq.select("i", "xi", F.posexplode_outer("xs").alias("j", "xj"))
        .filter(F.col("j").isNotNull())
        .groupBy("i", "j")
        .agg(F.sum(F.expr("xi * xj")).alias("m"))
    )
    v0_arr = "array(" + ",".join(str(x) for x in v0) + ")"
    return (
        cells.withColumn("v0j", F.expr(f"element_at({v0_arr}, j + 1)"))
        .groupBy("i")
        .agg(F.sum(F.expr("m * v0j")).cast("bigint").alias("v1"))
        .select(F.col("i").cast("bigint").alias("dim_idx"), "v1")
        .orderBy("dim_idx")
    )


def oracle_embedding_power_iter() -> str:
    import hashlib as _hl

    v0 = [
        1 if int(_hl.md5(f"pw|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
        for i in range(64)
    ]
    v0_list = "[" + ",".join(str(x) for x in v0) + "]"
    return f"""
    WITH el AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS x
        FROM embeddings
    ), cells AS (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS m
        FROM el a JOIN el b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    )
    SELECT CAST(i AS BIGINT) AS dim_idx,
           CAST(sum(m * ({v0_list})[j + 1]) AS BIGINT) AS v1
    FROM cells GROUP BY i ORDER BY dim_idx
    """


def multimodal_frame_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling manifest over the binary corpus: the
    1→N-fan-out mapInPandas stage (operators/multimodal.py::
    sample_frames) with every emitted frame identified by its digest —
    so even the STUBBED decode path is value-checked row by row, the
    same upgrade multimodal_extract got (rows-only → SQL-oracled).

    The oracle re-derives each frame independently: evenly spaced
    byte-range slices of the source content hashed with md5 — proving
    the Arrow batch iteration, the fan-out, and the slice arithmetic
    all match a from-scratch restatement. Real decoders replace only
    the inner function; the manifest shape is what training-data
    lineage tracks per frame."""
    from northwind_warehouse_spark.operators.multimodal import (
        documents_as_binary, sample_frames,
    )

    d = load(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_binary(d), n_frames=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.lower(F.hex("frame")).alias("frame_md5"),
    ).orderBy("doc_id", "frame_idx")


def oracle_multimodal_frame_manifest() -> str:
    return """
    WITH stepped AS (
        SELECT doc_id, text, greatest(1, length(text) // 4) AS step
        FROM documents
    ), frames AS (
        SELECT doc_id, i AS frame_idx,
               md5(substr(text, i * step + 1, step)) AS frame_md5
        FROM stepped, (VALUES (0), (1), (2), (3)) f(i)
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, frame_md5
    FROM frames ORDER BY doc_id, frame_idx
    """


def multimodal_resize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage audit: the mapInPandas resize
    (operators/multimodal.py::resize_images) with every resized payload
    identified by digest + size — the stubbed 64x64 pixel buffer is
    value-checked against an oracle that reconstructs it from scratch
    (md5 of the repeated-digest block), completing the value-checked
    upgrade across ALL THREE multimodal stages (extract, frames,
    resize)."""
    from northwind_warehouse_spark.operators.multimodal import (
        documents_as_binary, resize_images,
    )

    d = load(spark, sf_dir, "documents")
    resized = resize_images(documents_as_binary(d), width=64, height=64)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.length("resized").cast("bigint").alias("n_bytes"),
        # first 64 hex chars span two digest repeats — checks both the
        # content and the repeat structure without blob hashing (DuckDB
        # md5 is VARCHAR-only)
        F.substring(F.lower(F.hex("resized")), 1, 64).alias("resized_hex64"),
    ).orderBy("doc_id")


def oracle_multimodal_resize_audit() -> str:
    return """
    SELECT doc_id, CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
           CAST(4096 AS BIGINT) AS n_bytes,
           -- the stub buffer is the 16-byte digest repeated; 64 hex chars
           -- cover two repeats, pinning content AND structure
           repeat(md5(text), 2) AS resized_hex64
    FROM documents ORDER BY doc_id
    """


def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation accounting: per source, how much exact dedup saves —
    documents and tokens before vs after keeping one canonical copy per
    fingerprint, with the removal rate in exact ppm. The number a data
    lead reads to see WHICH feeds are redundant, at the grain budgets
    are negotiated.

    One hash(fingerprint) dedup keyed per source (map-side partial min)
    + one source rollup; token counts ride the same rows."""
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "source",
        "doc_id",
        F.md5("text").alias("fp"),
        n_tokens().alias("n_tok"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source", "fp").orderBy("doc_id")
    flagged = keyed.withColumn("is_keeper", (F.row_number().over(w) == 1).cast("bigint"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_keeper").cast("bigint").alias("n_kept"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(F.expr("is_keeper * n_tok")).cast("bigint").alias("kept_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "total_tokens",
            "kept_tokens",
            F.expr("1000000 * (n_docs - n_kept) div n_docs").alias("doc_removal_ppm"),
            F.expr("1000000 * (total_tokens - kept_tokens) div total_tokens").alias("token_removal_ppm"),
        )
        .orderBy("source")
    )


def oracle_dedup_savings_by_source() -> str:
    return f"""
    WITH keyed AS (
        SELECT source, doc_id, md5(text) AS fp, {o_n_tokens()} AS n_tok
        FROM documents
    ), flagged AS (
        SELECT source, n_tok,
               CASE WHEN row_number() OVER (PARTITION BY source, fp ORDER BY doc_id) = 1
                    THEN 1 ELSE 0 END AS is_keeper
        FROM keyed
    ), agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(is_keeper) AS BIGINT) AS n_kept,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(is_keeper * n_tok) AS BIGINT) AS kept_tokens
        FROM flagged GROUP BY source
    )
    SELECT source, n_docs, n_kept, total_tokens, kept_tokens,
           1000000 * (n_docs - n_kept) // n_docs AS doc_removal_ppm,
           1000000 * (total_tokens - kept_tokens) // total_tokens AS token_removal_ppm
    FROM agg ORDER BY source
    """


def dup_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal curation audit: the point-biserial correlation
    between "document is a NEAR-duplicate" (it appears in at least one
    LSH candidate pair) and its model quality score — the check that
    tells you whether dedup and quality filtering remove the SAME
    documents (redundant gates) or different ones (complementary).

    The score is the deterministic quantized model score (the
    model_score_filter stub — swap in a real classifier unchanged). The
    correlation divides exact integer moments in IEEE double (sqrt
    correctly rounded in both engines — the cosine_from_parts
    discipline); n and the dup count are published alongside so the
    double is auditable."""
    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1).cast("bigint"))
    )
    scored = d.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("score|"), F.col("text"))), 1, 8), 16, 10)
            .cast("long") % 1000000
        ).alias("score_q"),
    ).join(maybe_broadcast(dup_ids), "doc_id", "left").withColumn(
        "is_dup", F.coalesce("is_dup", F.lit(0)).cast("bigint")
    )
    moments = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_dup").alias("sx"),
        F.sum("score_q").alias("sy"),
        F.sum(F.expr("is_dup * is_dup")).alias("sxx"),
        F.sum(F.expr("is_dup * score_q")).alias("sxy"),
        F.sum(F.expr("CAST(score_q AS DECIMAL(38,0)) * score_q")).cast("decimal(38,0)").alias("syy"),
    )
    return moments.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("n_dups"),
        F.expr(
            '''CAST(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS DOUBLE)
               / sqrt(CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS DOUBLE)
                      * CAST(CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS DOUBLE))'''
        ).alias("point_biserial_corr"),
    )


def oracle_dup_quality_correlation() -> str:
    return f"""
    WITH {_SIG_CTE},
    dup_ids AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand
        )
    ), scored AS (
        SELECT d.doc_id,
               CAST(('0x' || substr(md5('score|' || d.text), 1, 8)) AS BIGINT) % 1000000 AS score_q,
               CASE WHEN u.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
        FROM documents d LEFT JOIN dup_ids u ON d.doc_id = u.doc_id
    ), m AS (
        SELECT count(*) AS n,
               CAST(sum(is_dup) AS BIGINT) AS sx,
               CAST(sum(score_q) AS BIGINT) AS sy,
               CAST(sum(is_dup * is_dup) AS BIGINT) AS sxx,
               CAST(sum(is_dup * score_q) AS BIGINT) AS sxy,
               CAST(sum(CAST(score_q AS HUGEINT) * score_q) AS HUGEINT) AS syy
        FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n, sx AS n_dups,
           CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS HUGEINT) AS DOUBLE)
             / sqrt(CAST(CAST(n * sxx - sx * sx AS HUGEINT) AS DOUBLE)
                    * CAST(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS HUGEINT) AS DOUBLE))
               AS point_biserial_corr
    FROM m
    """


_PFX_J_PPM = 700_000  # exact-join threshold: Jaccard >= 0.7


def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity join via prefix filtering (the AllPairs/PPJoin
    family): every document pair with shingle-Jaccard >= 0.7 is
    returned with NO false negatives — the deterministic-guarantee
    complement to MinHash-LSH (which trades recall for speed and needs
    the recall gate minhash_recall_eval to deploy).

    The prefix-filter theorem: order each doc's shingles by ascending
    global frequency (rarest first, ties by value); if two docs have
    J >= t, they must share at least one shingle within each other's
    first n - ceil(t*n) + 1 shingles. Candidates therefore come from an
    equi-join on PREFIX shingles only — the rare ones, so the join is
    naturally skew-resistant (a shingle common to half the corpus can
    never be in a prefix) — and exact Jaccard verification runs on the
    survivors. Shuffles: df count, prefix rank window on hash(doc),
    candidate equi-join; never all-pairs.

    Candidate pruning is three-fold and all LOSSLESS (the oracle needs
    no mirroring — pruned pairs provably cannot reach J >= t): the
    prefix theorem, the length filter, and PPJoin's POSITION filter —
    for a match on a prefix token at (1-based) positions pa/pb of the
    globally rarest-first-sorted docs, overlap <= 1 + min(na-pa, nb-pb);
    a qualifying pair's FIRST common token always survives the bound,
    so pairs are never lost. The shingle arrays and the ranked prefix
    are persisted: each feeds both sides of a self-join plus the
    verify, and at warehouse scale they'd be checkpointed to the lake
    instead (SURVEY §4b)."""
    from pyspark.sql.window import Window

    # spread DECLINED with numbers (r13): A/B ratio 1.03 — the prefix
    # window + candidate join dominate, not the persisted shingle pass
    d = load(spark, sf_dir, "documents")
    sh_arr = sim.shingle_arrays(d).persist()
    # n map-side from the array — no second window over the token relation
    tok = sh_arr.select(
        "doc_id", F.size("sh").cast("bigint").alias("n"), F.explode("sh").alias("s")
    )
    df_t = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    # explicit cluster-width repartition REPLACING the window's own
    # exchange (r14): same key, same shuffle — zero added exchanges —
    # but a USER repartition pins the persisted prefix's width, which
    # AQE's cached-plan re-planning (canChangeCachedPlanOutputPartitioning,
    # adopted session-wide this round) would otherwise coalesce to the
    # advisory size, serializing the candidate join + verify stages that
    # read the cache (session-pair A/B: ccp alone regressed this query
    # 0.71 -> 0.87 med; with the pin the regression is gone).
    prefix = (
        tok.join(df_t, "s")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.expr("pos <= n - ((7 * n + 9) div 10) + 1"))
        .select("doc_id", "s", "n", "pos")
        .persist()
    )
    # length filter (also exact): J >= 0.7 forces min(n_a,n_b)/max >= 0.7;
    # position filter: overlap required is ceil(7(na+nb)/17), overlap
    # still possible from this match is 1 + min(na-pa, nb-pb)
    cand = (
        prefix.select(
            F.col("doc_id").alias("doc_a"), "s",
            F.col("n").alias("na"), F.col("pos").alias("pa"),
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"), "s",
                F.col("n").alias("nb"), F.col("pos").alias("pb"),
            ),
            "s",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.expr("7 * greatest(na, nb) <= 10 * least(na, nb)"))
            & (F.expr("1 + least(na - pa, nb - pb) >= (7 * (na + nb) + 16) div 17"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT)").alias("n_inter"),
            F.expr("CAST(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)) AS BIGINT)")
            .alias("n_union"),
        )
        .withColumn("j_ppm", F.expr("1000000 * n_inter div n_union"))
        .filter(F.col("j_ppm") >= _PFX_J_PPM)
        .orderBy("doc_a", "doc_b")
    )


def oracle_dedup_prefix_filter_join() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    tok AS (
        SELECT doc_id, unnest(sh) AS s FROM sharr
    ), dft AS (
        SELECT s, count(*) AS df FROM tok GROUP BY s
    ), ranked AS (
        SELECT t.doc_id, t.s,
               row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.s) AS pos,
               count(*) OVER (PARTITION BY t.doc_id) AS n
        FROM tok t JOIN dft d ON t.s = d.s
    ), prefix AS (
        SELECT doc_id, s, n FROM ranked WHERE pos <= n - ((7 * n + 9) // 10) + 1
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
        WHERE 7 * greatest(a.n, b.n) <= 10 * least(a.n, b.n)
    ), scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
               CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_union
        FROM cand c
        JOIN sharr sa ON sa.doc_id = c.doc_a
        JOIN sharr sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_inter, n_union,
           1000000 * n_inter // n_union AS j_ppm
    FROM scored WHERE 1000000 * n_inter // n_union >= {_PFX_J_PPM}
    ORDER BY doc_a, doc_b
    """


def dedup_consensus_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble dedup verdicts: the candidate pairs from THREE
    independent detectors — MinHash-LSH bands, SimHash hamming ≤ 3,
    and high exact containment (≥ 90% of the smaller side) — merged
    into one table with per-detector flags and the consensus count.
    Production dedup rarely trusts one detector; pairs flagged by 2+
    methods collapse automatically, single-method pairs go to review.

    Each detector keeps its own bounded candidate discipline (band
    buckets / fingerprint bands / band buckets + verify); the merge is
    a full outer fold over pair keys — pair-sized, not corpus-sized."""
    d = load(spark, sf_dir, "documents")
    sh_arr = sim.shingle_arrays(d).persist()
    lsh = (
        sim.lsh_candidate_pairs(sim.minhash_signatures(sh_arr))
        .select("doc_a", "doc_b").withColumn("by_minhash", F.lit(1))
    )
    simh = simhash_hamming_pairs(spark, sf_dir).select("doc_a", "doc_b").withColumn(
        "by_simhash", F.lit(1)
    )
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    contain = (
        sim.lsh_candidate_pairs(sim.minhash_signatures(sh_arr))
        .join(a, "doc_a").join(b, "doc_b")
        .filter(
            F.expr(
                "1000000 * size(array_intersect(sh_a, sh_b)) div least(size(sh_a), size(sh_b)) >= 900000"
            )
        )
        .select("doc_a", "doc_b").withColumn("by_containment", F.lit(1))
    )
    merged = (
        lsh.join(simh, ["doc_a", "doc_b"], "full_outer")
        .join(contain, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("by_minhash", F.lit(0)).cast("bigint").alias("by_minhash"),
            F.coalesce("by_simhash", F.lit(0)).cast("bigint").alias("by_simhash"),
            F.coalesce("by_containment", F.lit(0)).cast("bigint").alias("by_containment"),
        )
        .withColumn("n_detectors", F.expr("by_minhash + by_simhash + by_containment"))
    )
    return merged.orderBy("doc_a", "doc_b")


def oracle_dedup_consensus_pairs() -> str:
    nb = _SIMHASH_FP_BITS
    bb = _SIMHASH_BAND_BITS
    mask = (1 << bb) - 1
    votes = ",\n".join(
        f"               CAST(sum(2 * ((h >> {b}) & 1) - 1) AS BIGINT) AS v{b}" for b in range(nb)
    )
    fpexpr = " + ".join(f"CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(nb))
    return f"""
    WITH {_SIG_CTE},
    lsh AS (
        SELECT doc_a, doc_b, 1 AS by_minhash FROM cand
    ),
    htok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), hh AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, {(nb + 3) // 4})) AS BIGINT) AS h FROM htok
    ), hvotes AS (
        SELECT doc_id,
{votes}
        FROM hh GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, CAST({fpexpr} AS BIGINT) AS simhash FROM hvotes
    ), sbands AS (
        SELECT doc_id, simhash, b.band, (simhash >> ({bb} * b.band)) & {mask} AS bval
        FROM fp, (VALUES (0), (1), (2), (3)) b(band)
    ), simh AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS by_simhash
        FROM sbands a JOIN sbands b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAM}
    ), contain AS (
        SELECT c.doc_a, c.doc_b, 1 AS by_containment
        FROM cand c
        JOIN sharr sa ON sa.doc_id = c.doc_a
        JOIN sharr sb ON sb.doc_id = c.doc_b
        WHERE 1000000 * CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT)
              // least(len(sa.sh), len(sb.sh)) >= 900000
    ), merged AS (
        SELECT coalesce(l.doc_a, s.doc_a, ct.doc_a) AS doc_a,
               coalesce(l.doc_b, s.doc_b, ct.doc_b) AS doc_b,
               CAST(coalesce(l.by_minhash, 0) AS BIGINT) AS by_minhash,
               CAST(coalesce(s.by_simhash, 0) AS BIGINT) AS by_simhash,
               CAST(coalesce(ct.by_containment, 0) AS BIGINT) AS by_containment
        FROM lsh l
        FULL OUTER JOIN simh s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
        FULL OUTER JOIN contain ct
          ON coalesce(l.doc_a, s.doc_a) = ct.doc_a AND coalesce(l.doc_b, s.doc_b) = ct.doc_b
    )
    SELECT doc_a, doc_b, by_minhash, by_simhash, by_containment,
           by_minhash + by_simhash + by_containment AS n_detectors
    FROM merged ORDER BY doc_a, doc_b
    """


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group size distribution: how many near-dup clusters of
    each size the corpus contains and the docs they absorb — the skew
    monitor for the collapse step (a handful of giant clusters means a
    boilerplate family the pipeline should route to boilerplate_prune
    instead of pairwise dedup).

    Composes the connected-components resolution (dedup_clusters) with
    two tiny rollups: cluster -> size, size -> count. Singleton docs
    (no near-dup) are size-1 clusters, reported too."""
    base = dedup_clusters(spark, sf_dir)
    sizes = base.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.expr("cluster_size * n_clusters"))
        .orderBy("cluster_size")
    )


def oracle_dedup_cluster_size_histogram() -> str:
    inner = oracle_dedup_clusters()
    return f"""
    WITH clusters AS ({inner}),
    sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id
    )
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law measurement: how the distinct vocabulary grows as the
    corpus is ingested in doc_id order — new terms per corpus decile
    plus the cumulative vocabulary size. A flattening curve says the
    domain's vocabulary is saturating (more data stops paying for
    tokenizer coverage); linear growth says the opposite.

    Scale shape: term -> min(doc_id) is one map-side-combined shuffle
    (never a running count-distinct window over the stream); deciles
    come from the doc-id span, and the cumulative runs over 10 rows."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    first = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    span = d.agg(F.max("doc_id").alias("mx")).select((F.col("mx") + 1).alias("span"))
    bucketed = first.crossJoin(F.broadcast(span)).select(
        F.expr("first_doc * 10 div span").alias("decile")
    )
    counts = bucketed.groupBy("decile").agg(F.count(F.lit(1)).alias("new_terms"))
    w = Window.orderBy("decile")
    return (
        counts.withColumn("cumulative_vocab", F.sum("new_terms").over(w).cast("bigint"))
        .select(F.col("decile").cast("bigint").alias("decile"), "new_terms", "cumulative_vocab")
        .orderBy("decile")
    )


def oracle_vocab_growth_curve() -> str:
    return """
    WITH first AS (
        SELECT term, min(doc_id) AS first_doc FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ) GROUP BY term
    ), span AS (
        SELECT max(doc_id) + 1 AS span FROM documents
    ), counts AS (
        SELECT first_doc * 10 // span AS decile, count(*) AS new_terms
        FROM first, span GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, new_terms,
           CAST(sum(new_terms) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumulative_vocab
    FROM counts ORDER BY decile
    """


def doc_length_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length banding via SAMPLED boundaries: short/medium/long
    document classes per source, with the quartile cut points computed
    from the deterministic md5-lottery sample and broadcast back — the
    context-length planning table (how much of each domain fits a
    window) built with the same no-global-sort discipline as the
    warehouse decile queries.

    Boundaries from the sample (one tiny sorted object), membership as
    a map-only value test, rollup per (source, band)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("bigint").alias("n_chars")
    )
    lot = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dlb|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000000
    )
    bnds = (
        d.filter(lot < 500000)
        .agg(
            (F.expr("percentile(n_chars, 0.25)") * 4).cast("bigint").alias("q1_x4"),
            (F.expr("percentile(n_chars, 0.75)") * 4).cast("bigint").alias("q3_x4"),
        )
    )
    banded = d.crossJoin(F.broadcast(bnds)).withColumn(
        "band",
        F.when(4 * F.col("n_chars") < F.col("q1_x4"), "short")
        .when(4 * F.col("n_chars") <= F.col("q3_x4"), "medium")
        .otherwise("long"),
    )
    return (
        banded.groupBy("source", "band")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("source", "band")
    )


def oracle_doc_length_bands() -> str:
    return """
    WITH d AS (
        SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars FROM documents
    ), bnds AS (
        SELECT CAST(quantile_cont(n_chars, 0.25) * 4 AS BIGINT) AS q1_x4,
               CAST(quantile_cont(n_chars, 0.75) * 4 AS BIGINT) AS q3_x4
        FROM d
        WHERE CAST(('0x' || substr(md5('dlb|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 < 500000
    ), banded AS (
        SELECT source,
               CASE WHEN 4 * n_chars < q1_x4 THEN 'short'
                    WHEN 4 * n_chars <= q3_x4 THEN 'medium'
                    ELSE 'long' END AS band,
               n_chars
        FROM d, bnds
    )
    SELECT source, band, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM banded GROUP BY source, band ORDER BY source, band
    """


def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit (Heaps' companion): the top-50 terms with their
    frequency rank and the rank×frequency product — approximately
    constant for natural language, so a flat product column says the
    corpus is language-like while systematic growth/decay flags
    synthetic or templated text. The deviation from the rank-1 product
    is published in exact ppm.

    One term shuffle with map-side partial counts; the ranked top-50 is
    a bounded total-ordered head."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(50)
    )
    w = Window.orderBy(F.desc("freq"), "term")
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .withColumn("rank_x_freq", F.expr("rank * freq"))
        .withColumn("c1", F.max(F.when(F.col("rank") == 1, F.col("rank_x_freq"))).over(wt))
        .withColumn("deviation_ppm", F.expr("1000000 * rank_x_freq div c1 - 1000000"))
        .select("rank", "term", "freq", "rank_x_freq", "deviation_ppm")
        .orderBy("rank")
    )


def oracle_zipf_rank_frequency() -> str:
    return """
    WITH counts AS (
        SELECT term, count(*) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ) GROUP BY term ORDER BY freq DESC, term LIMIT 50
    ), ranked AS (
        SELECT term, freq,
               row_number() OVER (ORDER BY freq DESC, term) AS rank
        FROM counts
    )
    SELECT CAST(rank AS BIGINT) AS rank, term, freq,
           CAST(rank * freq AS BIGINT) AS rank_x_freq,
           1000000 * (rank * freq) // max(CASE WHEN rank = 1 THEN rank * freq END) OVER ()
               - 1000000 AS deviation_ppm
    FROM ranked ORDER BY rank
    """


def pack_straddle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-boundary straddle diagnostic for the concat-then-chunk
    packer: per source, how many documents cross at least one
    PACK_BUDGET boundary and the total boundary crossings — straddled
    documents are the ones whose attention span gets cut (or whose
    mask needs cross-pack handling), so this rate prices the packer's
    context damage.

    Same single window cumsum as sequence_pack; crossings per doc are
    pure arithmetic: (off + n_tok - 1) div B - off div B."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    base = d.select("source", "doc_id", n_tokens().alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = base.withColumn(
        "off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint")
    ).withColumn(
        "crossings",
        F.expr(f"(off + n_tok - 1) div {PACK_BUDGET} - off div {PACK_BUDGET}"),
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("crossings") > 0).cast("bigint")).alias("n_straddled"),
            F.sum("crossings").cast("bigint").alias("total_crossings"),
        )
        .withColumn("straddle_ppm", F.expr("1000000 * n_straddled div n_docs"))
        .orderBy("source")
    )


def oracle_pack_straddle_stats() -> str:
    return f"""
    WITH base AS (
        SELECT source, doc_id, {o_n_tokens()} AS n_tok FROM documents
    ), packed AS (
        SELECT source, n_tok,
               coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM base
    ), crossed AS (
        SELECT source,
               (off + n_tok - 1) // {PACK_BUDGET} - off // {PACK_BUDGET} AS crossings
        FROM packed
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddled,
           CAST(sum(crossings) AS BIGINT) AS total_crossings,
           1000000 * CAST(sum(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT)
               // count(*) AS straddle_ppm
    FROM crossed GROUP BY source ORDER BY source
    """


# ---------------------------------------------------------------------------
# Round-5 additions: model-eval lift, CCNet-style terciles, quality canonicals
# ---------------------------------------------------------------------------


def score_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for the quality classifier against the
    near-duplicate label — the standard offline eval a curation team
    runs before trusting a model score as a corpus gate: per descending
    score decile, how many near-dups does it capture, cumulatively, and
    at what lift over the base rate?

    The label is LSH candidate-pair membership (the production dedup
    signal); the score is the deterministic quantized model score (the
    model_score_filter stub — swap a real classifier unchanged). The
    decile is score_q div 100000 — the score is already uniform on
    [0, 1e6), so banding is MAP-ONLY (no boundary computation, no
    global sort); the cumulative windows run over the 10-row decile
    aggregate. Lift and capture are exact ppm integer division."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1).cast("bigint"))
    )
    scored = (
        d.select(
            "doc_id",
            (
                F.conv(F.substring(F.md5(F.concat(F.lit("score|"), F.col("text"))), 1, 8), 16, 10)
                .cast("long") % 1000000
            ).alias("score_q"),
        )
        .join(maybe_broadcast(dup_ids), "doc_id", "left")
        .withColumn("is_dup", F.coalesce("is_dup", F.lit(0)).cast("bigint"))
        .withColumn("decile", F.expr("CAST(9 - (score_q div 100000) AS INT)"))
    )
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dups"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        per.withColumn("cum_dups", F.sum("n_dups").over(w_cum).cast("bigint"))
        .withColumn("tot_dups", F.sum("n_dups").over(w_all).cast("bigint"))
        .withColumn("tot_docs", F.sum("n_docs").over(w_all).cast("bigint"))
        .select(
            "decile", "n_docs", "n_dups", "cum_dups",
            F.expr(
                "CASE WHEN tot_dups = 0 THEN NULL"
                " ELSE 1000000 * cum_dups div tot_dups END"
            ).alias("capture_ppm"),
            F.expr(
                "CASE WHEN n_docs = 0 OR tot_dups = 0 THEN NULL"
                " ELSE CAST(CAST(n_dups AS DECIMAL(38,0)) * tot_docs * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * tot_dups) AS BIGINT) END"
            ).alias("lift_ppm"),
        )
        .orderBy("decile")
    )


def oracle_score_lift_table() -> str:
    return f"""
    WITH {_SIG_CTE},
    dup_ids AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand
        )
    ), scored AS (
        SELECT d.doc_id,
               CAST(('0x' || substr(md5('score|' || d.text), 1, 8)) AS BIGINT) % 1000000 AS score_q,
               CASE WHEN u.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
        FROM documents d LEFT JOIN dup_ids u ON d.doc_id = u.doc_id
    ), per AS (
        SELECT CAST(9 - (score_q // 100000) AS INT) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(is_dup) AS BIGINT) AS n_dups
        FROM scored GROUP BY 1
    ), cum AS (
        SELECT decile, n_docs, n_dups,
               CAST(sum(n_dups) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_dups,
               CAST(sum(n_dups) OVER () AS BIGINT) AS tot_dups,
               CAST(sum(n_docs) OVER () AS BIGINT) AS tot_docs
        FROM per
    )
    SELECT decile, n_docs, n_dups, cum_dups,
           CASE WHEN tot_dups = 0 THEN NULL
                ELSE CAST(1000000 * cum_dups // tot_dups AS BIGINT) END AS capture_ppm,
           CASE WHEN n_docs = 0 OR tot_dups = 0 THEN NULL
                ELSE CAST(CAST(n_dups AS HUGEINT) * tot_docs * 1000000
                     // (CAST(n_docs AS HUGEINT) * tot_dups) AS BIGINT) END AS lift_ppm
    FROM cum ORDER BY decile
    """


def lm_quality_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality banding: per source, rank
    documents by their corpus-LM score (mean unigram frequency ppm —
    the unigram half of bigram_lm_quality) and split into EXACT RANK
    terciles — bucket = 3*(rank-1) div n, so thirds are integer-exact
    (interpolated 1/3-percentiles are NOT cross-engine stable; rank
    arithmetic is). Per (source, band): docs, tokens, mean score.

    Scale shape: one term-keyed shuffle for frequencies (AQE handles
    the stopword skew), one per-doc agg, then SCORE-BUCKET-PARTITIONED
    exact ranking (the skyline_parts trick): scores are ppm integers in
    [0, 1e6], so bucket = score div 1000 gives ≤1001 value-range
    buckets per source; rank = (broadcast prefix count of
    higher-score buckets) + row_number WITHIN (source, bucket) —
    provably equal to the global per-source rank (same-score rows land
    in the same bucket, ordering is identical), but the widest window
    partition is one source's 1000-ppm score slice instead of the
    whole source (a handful of sources made that a near-global sort —
    the round-5 SCALING worst row at 3.7×). The oracle keeps the plain
    per-source rank formulation — the rewrite is value-identical."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("term")).persist()
    tot = tok.agg(F.count(F.lit(1)).alias("total_tok"))
    uni_ppm = (
        tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.expr(
                "CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 div total_tok AS BIGINT)"
            ).alias("tok_ppm"),
        )
    )
    per_doc = (
        tok.join(uni_ppm, "term")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("tok_ppm").alias("sum_ppm"))
        .select("doc_id", "source", "n_tok", F.expr("sum_ppm div n_tok").alias("score"))
    )
    scored = per_doc.withColumn("bkt", F.expr("score div 1000"))
    bkt_counts = scored.groupBy("source", "bkt").agg(F.count(F.lit(1)).alias("n_bkt"))
    wb = Window.partitionBy("source").orderBy(F.desc("bkt"))
    pref = bkt_counts.withColumn(
        "prefix", F.sum("n_bkt").over(wb) - F.col("n_bkt")
    ).select("source", "bkt", "prefix")
    n_src = bkt_counts.groupBy("source").agg(
        F.sum("n_bkt").cast("bigint").alias("n_src")
    )
    w = Window.partitionBy("source", "bkt").orderBy(F.desc("score"), "doc_id")
    banded = (
        scored.join(F.broadcast(pref), ["source", "bkt"])
        .join(F.broadcast(n_src), "source")
        .withColumn("rnk", F.row_number().over(w) + F.col("prefix"))
        .withColumn(
            "band",
            F.expr(
                "CASE 3 * (rnk - 1) div n_src WHEN 0 THEN 'head'"
                " WHEN 1 THEN 'middle' ELSE 'tail' END"
            ),
        )
    )
    return (
        banded.groupBy("source", "band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.expr("CAST(sum(score) div count(*) AS BIGINT)").alias("mean_score_ppm"),
        )
        .orderBy("source", "band")
    )


def oracle_lm_quality_terciles() -> str:
    return """
    WITH tok AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS total_tok FROM tok
    ), unip AS (
        SELECT term, CAST(CAST(count(*) AS HUGEINT) * 1000000 // max(total_tok) AS BIGINT) AS tok_ppm
        FROM tok CROSS JOIN tot GROUP BY term
    ), per_doc AS (
        SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tok,
               CAST(CAST(sum(tok_ppm) AS BIGINT) // count(*) AS BIGINT) AS score
        FROM tok JOIN unip USING (term) GROUP BY doc_id, source
    ), banded AS (
        SELECT source, n_tok, score,
               CASE 3 * (row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) - 1)
                    // count(*) OVER (PARTITION BY source)
                    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS band
        FROM per_doc
    )
    SELECT source, band, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(CAST(sum(score) AS BIGINT) // count(*) AS BIGINT) AS mean_score_ppm
    FROM banded GROUP BY source, band ORDER BY source, band
    """


def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection by QUALITY instead of min-id:
    for every near-duplicate cluster (connected components over the LSH
    pair graph, size >= 2), keep the member with the highest model
    score (ties to the lowest doc_id) — what a production dedup
    actually ships, since the canonical copy should be the best one,
    not the earliest-crawled one. Complements dedup_clusters (min-id
    canonical) and dedup_cluster_size_histogram.

    Scale shape: the component labels are O(diameter) label-propagation
    rounds (operators/components.py); the representative pick is one
    window PARTITIONED BY CLUSTER over cluster-member rows only —
    pair-graph-sized, never corpus-sized."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.operators.components import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    scored = d.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("score|"), F.col("text"))), 1, 8), 16, 10)
            .cast("long") % 1000000
        ).alias("score_q"),
    )
    members = comp.select(F.col("node").alias("doc_id"), "comp").join(scored, "doc_id")
    w = Window.partitionBy("comp").orderBy(F.desc("score_q"), "doc_id")
    return (
        members.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("comp")).cast("bigint")
        )
        .filter(F.col("rnk") == 1)
        .select(
            F.col("comp").alias("cluster_id"),
            F.col("doc_id").alias("canonical_doc_id"),
            "cluster_size",
            F.col("score_q").alias("canonical_score_q"),
        )
        .orderBy("cluster_id")
    )


def oracle_dedup_canonical_by_quality() -> str:
    return f"""
    WITH RECURSIVE {_SIG_CTE},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND e.v <> r.u
    ),
    comp AS (
        SELECT u AS node, min(v) AS comp
        FROM (SELECT u, v FROM reach UNION SELECT u, u FROM edges)
        GROUP BY u
    ),
    scored AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('score|' || text), 1, 8)) AS BIGINT) % 1000000 AS score_q
        FROM documents
    ),
    members AS (
        SELECT c.node AS doc_id, c.comp, s.score_q
        FROM comp c JOIN scored s ON s.doc_id = c.node
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY comp ORDER BY score_q DESC, doc_id) AS rnk,
               CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
        FROM members
    )
    SELECT comp AS cluster_id, doc_id AS canonical_doc_id, cluster_size,
           score_q AS canonical_score_q
    FROM ranked WHERE rnk = 1 ORDER BY cluster_id
    """


_KNN_GRAPH_K = 3
# IVF cells SCALE WITH THE CORPUS: n_centroids = max(8, ceil(n / TARGET))
# keeps mean occupancy ≈ TARGET at any data volume (a fixed centroid
# count would grow cells linearly with the corpus — the round-5 scale
# cliff). The CAP is a per-cell SAMPLE bound, not a drop: an IVF cell is
# the entire population of a region of vector space, so over-cap cells
# are sampled to the cap by a deterministic md5 lottery (oracle-mirrored)
# — dropping them (the LSH-band policy, right for degenerate duplicate
# families) would silently EMPTY the kNN graph once every cell filled.
_KNN_TARGET_CELL = 128
_KNN_CELL_CAP = 256
_KNN_NCENTS_SQL = (
    f"(SELECT greatest(8, CAST((count(*) + {_KNN_TARGET_CELL - 1}) "
    f"// {_KNN_TARGET_CELL} AS BIGINT)) FROM embeddings)"
)


_IVF_CB_LOT = (
    "CAST(('0x' || substr(md5('ivfcb|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 1000000"
)
_CB_XQ_OFF = 2_000_000  # |x| ≤ 2 ⇒ xq ≥ −2·10⁶; shift makes // a true floor


def _o_two_level_chain(sfx: str, probe: str, cb: str) -> str:
    """Parameterized oracle CTE fragment (no leading WITH/comma) ending
    in ``assign{sfx}(vec_id, cell_id)``: the two-level max-cosine
    assignment of ``probe``(vec_id) rows against the ELEMENT-GRAIN
    codebook CTE ``cb``(j, i, w) — the exact SQL mirror of
    operators/similarity.py::ivf_assign_two_level with a ``centroids``
    relation. Requires CTEs q(vec_id, i, xq), n2(vec_id, n2) and
    params(nc, ns). Tie rule at both levels: cos DESC, id ASC; a super
    is its own child by construction."""
    return f"""cbn{sfx} AS (
        SELECT j, CAST(sum(w * w) AS BIGINT) AS cn2 FROM {cb} GROUP BY j
    ),
    sdot{sfx} AS (
        SELECT a.vec_id, c.j AS sid, CAST(sum(a.xq * c.w) AS BIGINT) AS dot
        FROM q a JOIN {probe} t ON t.vec_id = a.vec_id
        JOIN {cb} c ON c.i = a.i
        JOIN params p ON c.j < p.ns
        GROUP BY a.vec_id, c.j
    ),
    scos{sfx} AS (
        SELECT d.vec_id, d.sid,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(cs.cn2 AS DOUBLE)) AS cos
        FROM sdot{sfx} d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN cbn{sfx} cs ON cs.j = d.sid
    ),
    vsup{sfx} AS (
        SELECT vec_id, sid AS super_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sid) AS rk
            FROM scos{sfx}
        ) WHERE rk = 1
    ),
    csd{sfx} AS (
        SELECT a.j AS cj, c.j AS sid, CAST(sum(a.w * c.w) AS BIGINT) AS dot
        FROM {cb} a JOIN {cb} c ON c.i = a.i JOIN params p ON c.j < p.ns
        GROUP BY a.j, c.j
    ),
    csc{sfx} AS (
        SELECT d.cj, d.sid,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(ca.cn2 AS DOUBLE) * CAST(cs.cn2 AS DOUBLE)) AS cos
        FROM csd{sfx} d
        JOIN cbn{sfx} ca ON ca.j = d.cj
        JOIN cbn{sfx} cs ON cs.j = d.sid
    ),
    csup{sfx} AS (
        -- a super-centroid is its own child (mirrors the Spark-side
        -- F.when guard against exact-cosine-tie re-routing emptying a
        -- super's child list)
        SELECT r.cj AS cent_id,
               CASE WHEN r.cj < p.ns THEN r.cj ELSE r.sid END AS super_id
        FROM (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY cj ORDER BY cos DESC, sid) AS rk
                FROM csc{sfx}) WHERE rk = 1
        ) r, params p
    ),
    cdot{sfx} AS (
        SELECT va.vec_id, cs.cent_id, CAST(sum(qa.xq * c.w) AS BIGINT) AS dot
        FROM vsup{sfx} va
        JOIN csup{sfx} cs ON cs.super_id = va.super_id
        JOIN q qa ON qa.vec_id = va.vec_id
        JOIN {cb} c ON c.j = cs.cent_id AND c.i = qa.i
        GROUP BY va.vec_id, cs.cent_id
    ),
    ccos{sfx} AS (
        SELECT d.vec_id, d.cent_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(cc.cn2 AS DOUBLE)) AS cos
        FROM cdot{sfx} d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN cbn{sfx} cc ON cc.j = d.cent_id
    ),
    assign{sfx} AS (
        SELECT vec_id, cent_id AS cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
            FROM ccos{sfx}
        ) WHERE rk = 1
    )"""


def _o_trained_cb_sql(nc_sql: str, train_ppm: int = sim.IVF_CB_TRAIN_PPM) -> str:
    """Oracle CTE fragment: base element/params CTEs + the seed
    codebook + ONE Lloyd round (the exact mirror of
    operators/similarity.py::ivf_train_codebook, rounds=1) ending in
    ``cb1(j, i, w)`` — the trained element-grain codebook the
    production assignment chains consume. The ``params`` CTE reproduces
    ceil_isqrt exactly despite float sqrt (two-step CASE correction in
    exact integers)."""
    return f"""el AS (
        SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, i, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM el
    ),
    n2 AS (
        SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY vec_id
    ),
    params AS (
        SELECT nc,
               CASE WHEN s0 * s0 >= nc THEN s0
                    WHEN (s0 + 1) * (s0 + 1) >= nc THEN s0 + 1
                    ELSE s0 + 2 END AS ns
        FROM (SELECT nc, CAST(floor(sqrt(CAST(nc AS DOUBLE))) AS BIGINT) AS s0
              FROM (SELECT {nc_sql} AS nc))
    ),
    cb0 AS (
        SELECT q.vec_id AS j, q.i, q.xq AS w FROM q JOIN params p ON q.vec_id < p.nc
    ),
    tr AS (
        SELECT vec_id FROM embeddings WHERE {_IVF_CB_LOT} < {train_ppm}
    ),
    {_o_two_level_chain("t", "tr", "cb0")},
    newc AS (
        SELECT t.cell_id AS j, a.i,
               CAST((sum(a.xq) + {_CB_XQ_OFF} * count(*)) // count(*)
                    - {_CB_XQ_OFF} AS BIGINT) AS w
        FROM assignt t JOIN q a ON a.vec_id = t.vec_id
        GROUP BY t.cell_id, a.i
    ),
    cb1 AS (
        SELECT c.j, c.i, coalesce(n.w, c.w) AS w
        FROM cb0 c LEFT JOIN newc n ON n.j = c.j AND n.i = c.i
    )"""


def _knn_two_level_assign_sql() -> str:
    """Shared oracle CTE chain ending in ``assign0(vec_id, cell_id)``:
    TRAINED-codebook two-level assignment under the occupancy-pinned
    centroid policy (n_centroids = greatest(8, ceil(n/_KNN_TARGET_CELL)),
    n_super = ceil(sqrt(n_centroids))) — seed first-k codebook, one
    Lloyd round over the deterministic 25% lottery sample
    (cb0 → assignt → cb1), then the production two-level assignment of
    EVERY vector against cb1. Mirrors ivf_train_codebook ∘
    ivf_assign_two_level CTE by CTE."""
    return (
        _o_trained_cb_sql(_KNN_NCENTS_SQL)
        + ",\n    "
        + _o_two_level_chain("0", "n2", "cb1")
    )


def _knn_sample_to_cap(assigned: DataFrame) -> DataFrame:
    """Deterministic sample-to-cap per cell: rank members by an md5
    lottery (ties to vec_id) and keep the first _KNN_CELL_CAP. One hash
    exchange on cell_id — data that is about to self-join on the same
    key anyway. Mirrored verbatim in the oracle's QUALIFY."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("cell_id").orderBy("lot", "vec_id")
    return (
        assigned.withColumn(
            "lot",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("knncap|"), F.col("vec_id").cast("string"))), 1, 8
                ),
                16, 10,
            ).cast("long"),
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _KNN_CELL_CAP)
        .drop("lot", "_rk")
    )


def knn_graph_cell_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-local kNN graph statistics: every vector's top-3 cosine
    neighbors WITHIN ITS OWN IVF CELL (the bounded candidate set — the
    build step of graph ANN indexes like NN-descent seeded from a
    coarse quantizer), rolled up per cell with the RECIPROCAL-edge
    fraction — the standard health metric for a kNN graph (low
    reciprocity ⇒ hub-dominated cells, poor index quality).

    Scale shape: the centroid count GROWS with the corpus (mean
    occupancy pinned at _KNN_TARGET_CELL — the same k = max(8, n/128)
    policy as the stored IVF-PQ index, mirrored as a scalar subquery
    in the oracle). The cell assignment is READ FROM THE STORED GEN-0
    INDEX (round-10 verdict #4: the per-query two-level re-derivation
    — n·2√k dots against the session-cached codebook — re-computed
    exactly the (vec_id, cell_id) relation the index store already
    persists; the stored table's gen-0 scan carries zero Exchange and
    its cell_id IS the two-level assignment, the content identity the
    index entry names, so the oracle is unchanged). MEASURED adopt (min-of-2
    warm, r11): 2.27→1.95s at sf0.1, 5.0→4.31s at 10× — the remaining
    wall is the cap window + cap²-bounded scoring, not assignment.
    Raw embeddings join in by vec_id for the cosine scoring (the index
    stores PQ codes, not raw vectors; ADC-approximate scoring would
    change results) and are QUANTIZED ONCE per vector before the
    self-join (r11, the similarity.py quantize-once shape: dot_q's
    per-pair zip_with re-ran the FLOOR quantization of both 64-dim
    operands once per PAIR — cap·n invariant work; arithmetically
    identical ints, so same cosines, same rows — measured min-of-2:
    1.81→1.42s at sf0.1, 3.08→2.44s at 10×, 5.76→3.71s at 30×).
    Over-cap cells
    are SAMPLED to _KNN_CELL_CAP by a deterministic lottery (a cell is
    a population — never dropped); pair generation is a cell-keyed
    TRIANGLE equi-self-join (src < dst — each unordered pair scored
    once, mirrored back by a projection-only union over the persisted
    half; round 12, −61/−73/−74% at 1×/10×/30×, see the inline
    comment) bounded at cap²/2 per cell; the top-k window
    partitions by source vector; the rollup is cell-grain. Never
    all-pairs, non-empty at any scale.

    MEASURED DECLINE (round 12, r11 verdict #7): a per-cell
    PACKED-ARRAY top-k — collect the capped cell into one struct
    array, score each member against its cell's packed row inside a
    higher-order transform, array_sort + slice(3) instead of the
    row_number window over the pair rows — was A/B'd (row-equality
    asserted, min-of-2 per factor, equal concurrent load): full-join
    1.47/2.04/3.66s vs packed 2.02/3.21/6.70s at 1×/10×/30× — the
    packed form computes the SAME n·cap dots but inside per-row
    lambdas that fall out of whole-stage codegen (plus the
    collect_list materialization), while the pair join + window stay
    columnar; 1.4-1.8× slower everywhere, declined. The cap window's
    shuffle is not the wall the verdict suspected — the DOTS are,
    which is what the adopted triangle join halves."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import cosine_from_parts

    e = load(spark, sf_dir, "embeddings")
    idx = _ivfpq_index(spark, sf_dir).select("vec_id", "cell_id")
    assigned = (
        e.select("vec_id", F.expr(sim.QUANT.format(v="embedding")).alias("_vq"))
        .withColumn("n2", F.expr(sim.IDOT.format(a="_vq", b="_vq")))
        .join(idx, "vec_id")
    )
    # persist-after-cap (the LSH-family r6 pattern): capped feeds BOTH
    # self-join sides AND the per-cell count — without it the whole
    # assignment + cap-window lineage re-executes three times
    capped = _knn_sample_to_cap(assigned).persist()
    a = capped.select(
        "cell_id", F.col("vec_id").alias("src"),
        F.col("_vq").alias("qa"), F.col("n2").alias("na2"),
    )
    b = capped.select(
        "cell_id", F.col("vec_id").alias("dst"),
        F.col("_vq").alias("qb"), F.col("n2").alias("nb2"),
    )
    # TRIANGLE join (round 12): cosine is symmetric — the exact integer
    # dot and CAST(na2)*CAST(nb2) are both commutative — so each
    # unordered pair is scored ONCE (src < dst), the half-pair relation
    # persisted, and the mirror restored by a projection-only union.
    # Halves the 64-dim integer dots the packed-array A/B proved are
    # this query's wall; the window input is the same 2·pairs rows
    # either way, so the plan's scale shape is unchanged, and the cache
    # is ~cap/2 rows of (ids, cosine) per vector — the same order as
    # the shuffle the window already performs, spillable. MEASURED
    # (row-equality asserted, same-session pairs): min-of-2 warm
    # 2.05→0.79s at sf0.1, 2.89→0.78s at 10×, 3.86→1.02s at 30×
    # (−61/−73/−74%); cold first runs 5.13→2.38s at 30×.
    half = (
        a.join(b, "cell_id")
        .filter(F.col("src") < F.col("dst"))
        .select(
            "cell_id", "src", "dst",
            F.expr(sim.IDOT.format(a="qa", b="qb")).alias("dot"), "na2", "nb2",
        )
        .withColumn("cosine", cosine_from_parts("dot", "na2", "nb2"))
        .select("cell_id", "src", "dst", "cosine")
        .persist()
    )
    scored = half.union(
        half.select(
            "cell_id", F.col("dst").alias("src"), F.col("src").alias("dst"),
            "cosine",
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    edges = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KNN_GRAPH_K)
        .select("cell_id", "src", "dst")
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(1).alias("has_rev"),
    )
    marked = edges.join(rev, ["src", "dst"], "left")
    n_vec = capped.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        marked.groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum(F.when(F.col("has_rev").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_reciprocal"),
        )
        .join(
            # rows-gated BY POLICY (r13): n_vec is one row per cell and
            # the cell count is max(8, n/128) — footer-derived; the
            # optimizer estimate rides the capped-cell lineage's join
            # products (~1e11) and silently declined this into an SMJ.
            maybe_broadcast_rows(
                n_vec,
                max(8, -(-table_rows(sf_dir, "embeddings") // _KNN_TARGET_CELL)),
                row_bytes=32,
            ),
            "cell_id",
        )
        .select(
            "cell_id", "n_vectors", "n_edges", "n_reciprocal",
            F.expr("1000000 * n_reciprocal div n_edges").alias("reciprocal_ppm"),
        )
        .orderBy("cell_id")
    )


def oracle_knn_graph_cell_local() -> str:
    return f"""
    WITH {_knn_two_level_assign_sql()},
    assign AS (
        -- sample-to-cap, NOT drop: over-cap cells keep their first
        -- _KNN_CELL_CAP members by deterministic md5 lottery
        SELECT vec_id, cell_id FROM assign0
        QUALIFY row_number() OVER (
            PARTITION BY cell_id
            ORDER BY CAST(('0x' || substr(md5('knncap|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                     vec_id
        ) <= {_KNN_CELL_CAP}
    ),
    pairs AS (
        SELECT a.cell_id, a.vec_id AS src, b.vec_id AS dst
        FROM assign a JOIN assign b
          ON b.cell_id = a.cell_id AND b.vec_id <> a.vec_id
    ),
    dots AS (
        SELECT p.cell_id, p.src, p.dst, CAST(sum(qa.xq * qb.xq) AS BIGINT) AS dot
        FROM pairs p
        JOIN q qa ON qa.vec_id = p.src
        JOIN q qb ON qb.vec_id = p.dst AND qb.i = qa.i
        GROUP BY p.cell_id, p.src, p.dst
    ),
    scored AS (
        SELECT cell_id, src, dst,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = src
        JOIN n2 nb ON nb.vec_id = dst
    ),
    edges AS (
        SELECT cell_id, src, dst FROM (
            SELECT *, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
            FROM scored
        ) WHERE rk <= {_KNN_GRAPH_K}
    ),
    marked AS (
        SELECT e.cell_id, e.src, e.dst,
               CASE WHEN r.src IS NULL THEN 0 ELSE 1 END AS has_rev
        FROM edges e
        LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
    ),
    nv AS (
        SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vectors FROM assign GROUP BY cell_id
    )
    SELECT m.cell_id, nv.n_vectors,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(has_rev) AS BIGINT) AS n_reciprocal,
           CAST(1000000 * sum(has_rev) // count(*) AS BIGINT) AS reciprocal_ppm
    FROM marked m JOIN nv ON nv.cell_id = m.cell_id
    GROUP BY m.cell_id, nv.n_vectors ORDER BY m.cell_id
    """


def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class separation matrix for the labeled embedding corpus:
    the cosine between every pair of label centroids — the
    embedding-quality eval that tells you whether classes are linearly
    separable before you train a probe (high off-diagonal cosine ⇒
    entangled classes). Centroids are element-wise integer floor-means
    (the _PQ_XQ_OFF shift keeps div exact for negative sums); the dot
    products are exact BIGINT; only the final cosine divides in double.

    Scale shape: ONE map-side-combined shuffle to (label, dim) grain
    (k·dim rows — never corpus-sized state), then all-pairs over the
    ~k² label pairs, which is label-count-bounded, not corpus-bounded."""
    e = load(spark, sf_dir, "embeddings")
    el = e.select(
        "label",
        F.expr(
            "posexplode(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"
        ).alias("i", "xq"),
    )
    cent = el.groupBy("label", "i").agg(
        F.expr(
            f"CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) div count(*) - {_PQ_XQ_OFF} AS BIGINT)"
        ).alias("c")
    )
    n2 = cent.groupBy("label").agg(F.expr("CAST(sum(c * c) AS BIGINT)").alias("n2"))
    a = cent.select(F.col("label").alias("label_a"), "i", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "i", F.col("c").alias("cb"))
    dots = (
        a.join(b, "i")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.expr("CAST(sum(ca * cb) AS BIGINT)").alias("dot"))
    )
    na = n2.select(F.col("label").alias("label_a"), F.col("n2").alias("n2a"))
    nb = n2.select(F.col("label").alias("label_b"), F.col("n2").alias("n2b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a", "label_b", "dot",
            F.expr(
                "CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE))"
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def oracle_label_centroid_separation() -> str:
    return f"""
    WITH el AS (
        SELECT label,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), cent AS (
        SELECT label, i,
               CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) // count(*) - {_PQ_XQ_OFF} AS BIGINT) AS c
        FROM el GROUP BY label, i
    ), n2 AS (
        SELECT label, CAST(sum(c * c) AS BIGINT) AS n2 FROM cent GROUP BY label
    ), dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b, dot,
           CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS centroid_cosine
    FROM dots
    JOIN n2 na ON na.label = label_a
    JOIN n2 nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """


def lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index-parameter sweep from ONE signature pass: candidate
    volume under the production 4-band×2-row banding vs the stricter
    2-band×4-row banding — the tuning table you consult before
    deploying a dedup index (more bands ⇒ higher recall, more
    candidates; the 2×4 pair set is provably a SUBSET of 4×2's, and
    n_common asserts that containment on real data). Uncapped on both
    configs: tuning wants the true volumes, not the defused ones.

    Scale shape: signatures are computed once and persisted; each
    config is a band-bucket equi-self-join + distinct — the same
    bounded discipline as production, just counted instead of
    verified."""
    d = load(spark, sf_dir, "documents")
    sig = sim.minhash_signatures(sim.shingle_arrays(d)).persist()
    pairs_4x2 = sim.lsh_candidate_pairs(sig, max_bucket_size=None)
    bands_2x4 = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    F.md5(F.concat_ws("|", "mh0", "mh1", "mh2", "mh3")).alias("bkey"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.md5(F.concat_ws("|", "mh4", "mh5", "mh6", "mh7")).alias("bkey"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    a = bands_2x4.alias("a")
    b = bands_2x4.alias("b")
    pairs_2x4 = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    n_a = pairs_4x2.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_4x2"))
    n_b = pairs_2x4.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_2x4"))
    n_c = (
        pairs_2x4.join(pairs_4x2, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return n_a.crossJoin(n_b).crossJoin(n_c)


def oracle_lsh_band_tuning() -> str:
    return f"""
    WITH {_SIG_CTE},
    cand_4x2 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands0 a JOIN bands0 b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id
    ),
    bands_2x4 AS (
        SELECT doc_id, 0 AS band, md5(concat_ws('|', mh0, mh1, mh2, mh3)) AS bkey FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(concat_ws('|', mh4, mh5, mh6, mh7)) FROM sig
    ),
    cand_2x4 AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_2x4 a JOIN bands_2x4 b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand_4x2) AS n_pairs_4x2,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_2x4) AS n_pairs_2x4,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_2x4 c
             WHERE EXISTS (SELECT 1 FROM cand_4x2 p
                           WHERE p.doc_a = c.doc_a AND p.doc_b = c.doc_b)) AS n_common
    """


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: lowercase, strip punctuation,
    collapse whitespace, THEN fingerprint — the canonical
    normalize-then-hash pass that catches the re-encoded/re-punctuated
    duplicates raw md5 misses (the single highest-yield cheap upgrade
    to exact dedup on web corpora). n_raw_variants counts how many
    DISTINCT raw texts each normalized group collapses — the measure of
    what normalization bought over dedup_exact.

    Scale shape: identical to dedup_exact — map-only normalization into
    one hash-keyed map-side-combined groupBy."""
    d = load(spark, sf_dir, "documents")
    norm = F.expr(
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))"
    )
    return (
        d.select(F.md5(norm).alias("fingerprint"), "doc_id", F.md5("text").alias("raw_fp"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_fp").alias("n_raw_variants"),
        )
        .orderBy("keep_doc_id")
    )


def oracle_dedup_exact_normalized() -> str:
    return """
    WITH n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS fingerprint,
               md5(text) AS raw_fp
        FROM documents
    )
    SELECT fingerprint, min(doc_id) AS keep_doc_id,
           count(*) AS n_copies,
           CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_variants
    FROM n GROUP BY fingerprint ORDER BY keep_doc_id
    """


_DISTINCTIVE_MIN_CNT = 5


def distinctive_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source: the top-3 terms by LIFT (term
    share within the source vs its share corpus-wide, exact ppm) among
    terms seen >= 5 times in the source — the domain-signature report a
    mixture-weighting or contamination review starts from
    (vocab_top_terms tells you what is COMMON; this tells you what is
    CHARACTERISTIC).

    Scale shape: one term-keyed shuffle for (source, term) counts, one
    more for global term counts (both map-side combined), source-sized
    token totals broadcast, and the rank window partitions BY SOURCE
    over candidate terms only."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("term")).persist()
    per_src = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt_src"))
    glob = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt_all"))
    src_tot = tok.groupBy("source").agg(F.count(F.lit(1)).alias("tokens_src"))
    all_tot = tok.agg(F.count(F.lit(1)).alias("total_tokens"))
    lifted = (
        per_src.filter(F.col("cnt_src") >= _DISTINCTIVE_MIN_CNT)
        .join(glob, "term")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(all_tot))
        .withColumn(
            "lift_ppm",
            F.expr(
                "CAST(CAST(cnt_src AS DECIMAL(38,0)) * total_tokens * 1000000"
                " div (CAST(cnt_all AS DECIMAL(38,0)) * tokens_src) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift_ppm"), "term")
    return (
        lifted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "term", "cnt_src", "cnt_all", "lift_ppm", "rnk")
        .orderBy("source", "rnk")
    )


def oracle_distinctive_terms_by_source() -> str:
    return f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ), per_src AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS cnt_src
        FROM tok GROUP BY source, term
    ), gterms AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt_all FROM tok GROUP BY term
    ), src_tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS tokens_src FROM tok GROUP BY source
    ), all_tot AS (
        SELECT CAST(count(*) AS BIGINT) AS total_tokens FROM tok
    ), lifted AS (
        SELECT p.source, p.term, p.cnt_src, g.cnt_all,
               CAST(CAST(p.cnt_src AS HUGEINT) * a.total_tokens * 1000000
                    // (CAST(g.cnt_all AS HUGEINT) * s.tokens_src) AS BIGINT) AS lift_ppm
        FROM per_src p
        JOIN gterms g ON g.term = p.term
        JOIN src_tot s ON s.source = p.source
        CROSS JOIN all_tot a
        WHERE p.cnt_src >= {_DISTINCTIVE_MIN_CNT}
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY lift_ppm DESC, term) AS rnk
        FROM lifted
    )
    SELECT source, term, cnt_src, cnt_all, lift_ppm, rnk
    FROM ranked WHERE rnk <= 3 ORDER BY source, rnk
    """


def shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency skew profile: how many distinct
    shingles fall in each log2 df band, and what share of total shingle
    OCCURRENCES that band carries — the tuning table behind every
    blocked-join threshold in this repo (the prefix-filter theorem,
    the winnow rarity cap, the MinHash bucket cap all hinge on the df
    tail; this measures it instead of guessing). HDR log2 banding —
    no percentiles, no global sort.

    Scale shape: one shingle-keyed map-side-combined count, one
    band-grain rollup, tiny windows over <= ~40 band rows."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    # explode via operators.xplode (r13): a plain F.explode of the
    # computed shingle array gets an inferred size()>0 filter pushed
    # below the Generate with the WHOLE array expression inlined twice
    # and split(text) re-evaluated per array element inside the lambda
    # — measured 10× on this explode (3.5 → 0.33s noop at sf0.1; the
    # full query 4.05 → 0.88s sweep-protocol). A scan spread was then
    # re-A/B'd and DECLINED (ratio 1.11): with the per-element blowup
    # gone the remaining map work is too light to pay for the exchange.
    tok = select_explode(sim.shingle_arrays(d), "sh", "s")
    dft = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    bands = (
        dft.withColumn("df_band", F.expr("CAST(length(bin(df)) - 1 AS INT)"))
        .groupBy("df_band")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("df").cast("bigint").alias("occurrences"),
        )
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        bands.withColumn("total_occ", F.sum("occurrences").over(w_all).cast("bigint"))
        .select(
            "df_band", "n_shingles", "occurrences",
            F.expr(
                "CAST(CAST(occurrences AS DECIMAL(38,0)) * 1000000 div total_occ AS BIGINT)"
            ).alias("occ_share_ppm"),
        )
        .orderBy("df_band")
    )


def oracle_shingle_df_profile() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    tok AS (
        SELECT unnest(sh) AS s FROM sharr
    ), dft AS (
        SELECT s, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY s
    ), bands AS (
        SELECT CAST(length(bin(df)) - 1 AS INT) AS df_band,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(df) AS BIGINT) AS occurrences
        FROM dft GROUP BY 1
    )
    SELECT df_band, n_shingles, occurrences,
           CAST(CAST(occurrences AS HUGEINT) * 1000000
                // CAST(sum(occurrences) OVER () AS BIGINT) AS BIGINT) AS occ_share_ppm
    FROM bands ORDER BY df_band
    """


def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — THE production ANN serving pattern: the
    compressed PQ/ADC index shortlists top-20 per query (cheap table
    lookups over 4-int codes), then EXACT cosine re-ranks the shortlist
    to a final top-5. The index never needs to be perfectly accurate,
    only to not drop the true neighbors out of the shortlist — recall
    is bought at stage 1, precision at stage 2, and stage 2 touches 20
    vectors per query instead of the corpus.

    Scale shape: stage 1 is pq_adc_topk's plan (one scan of the codes);
    stage 2 joins the query×20 shortlist back to raw vectors — a
    shortlist-sized join, corpus-independent."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import (
        cosine_from_parts,
        dot_q,
        norm2_q,
    )

    e = load(spark, sf_dir, "embeddings")
    shortlist = sim.pq_adc_topk(e, n_queries=10, k=20).select("query_id", "neighbor_id")
    base = e.select("vec_id", "embedding", norm2_q("embedding").alias("n2"))
    q = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
    )
    n = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nvec"),
        F.col("n2").alias("nn2"),
    )
    scored = (
        shortlist.join(maybe_broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            dot_q("qvec", "nvec").alias("dot"), "qn2", "nn2",
        )
        .withColumn("cosine", cosine_from_parts("dot", "qn2", "nn2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rerank_pos", F.row_number().over(w))
        .filter(F.col("rerank_pos") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rerank_pos")
        .orderBy("query_id", "rerank_pos")
    )


def oracle_ann_pq_rerank_topk() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), cw AS (
        SELECT vec_id, rn - 1 AS j FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         vec_id) AS rn
            FROM embeddings)
        WHERE rn <= {sim.PQ_NC}
    ), cwel AS (
        SELECT cw.j, el.i, el.xq FROM cw JOIN el USING (vec_id)
    ), subd AS (
        SELECT a.vec_id, (a.i - 1) // {sim.PQ_SUB} AS s, c.j,
               CAST(sum((a.xq - c.xq) * (a.xq - c.xq)) AS BIGINT) AS d
        FROM el a JOIN cwel c ON a.i = c.i
        GROUP BY a.vec_id, (a.i - 1) // {sim.PQ_SUB}, c.j
    ), codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM subd)
        WHERE rn = 1
    ), adist AS (
        SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(sum(qd.d) AS BIGINT) AS adist
        FROM codes c JOIN subd qd ON qd.s = c.s AND qd.j = c.code
        WHERE qd.vec_id < 10 AND c.vec_id <> qd.vec_id
        GROUP BY qd.vec_id, c.vec_id
    ), shortl AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
            FROM adist) WHERE rn <= 20
    ), n2 AS (
        SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM el GROUP BY vec_id
    ), dots AS (
        SELECT s.query_id, s.neighbor_id, CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM shortl s
        JOIN el a ON a.vec_id = s.query_id
        JOIN el b ON b.vec_id = s.neighbor_id AND b.i = a.i
        GROUP BY s.query_id, s.neighbor_id
    ), cosd AS (
        SELECT d.query_id, d.neighbor_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots d
        JOIN n2 na ON na.vec_id = d.query_id
        JOIN n2 nb ON nb.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rerank_pos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rerank_pos
        FROM cosd) WHERE rerank_pos <= 5
    ORDER BY query_id, rerank_pos
    """


_INC_LOTTERY = (
    "CAST(conv(substring(md5(concat('inc|', CAST(doc_id AS STRING))), 1, 8), 16, 10)"
    " AS BIGINT) % 1000000"
)
_O_INC_LOTTERY = (
    "CAST(('0x' || substr(md5('inc|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 1000000"
)


def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup verdicts — the operational shape every
    production dedup actually runs (full-corpus re-dedup is a one-time
    backfill): an md5 lottery splits the corpus into the EXISTING 80%
    and a NEW 20% batch, and each new doc gets a verdict in priority
    order: exact_dup_corpus (fingerprint already in the corpus) >
    near_dup_corpus (LSH pair with an existing doc) > near_dup_batch
    (LSH pair only with other new docs) > novel.

    Scale shape: fingerprints and LSH pairs come from the existing
    capped machinery over ONE corpus pass; the verdicts are two
    broadcast-friendly semi-join flags plus one pair-derived flag —
    new-batch-sized, never corpus-pair-sized."""
    # milder inferred-filter class, DECLINED (r14, verdict item 7): the
    # new/corpus split filters re-evaluate the md5 lottery once per row
    # at the scan (that IS the filter), plus one inferred
    # isnotnull(md5(text)) from the fp join key — one extra md5 per row
    # on a sub-second query; a staging barrier costs more than it saves
    # (same pushdown-substitution reasoning as quality_filter).
    d = load(spark, sf_dir, "documents")
    is_new = F.expr(f"{_INC_LOTTERY} >= 800000")
    fp = d.select("doc_id", F.md5("text").alias("fp"), is_new.alias("is_new"))
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    new_docs = fp.filter(F.col("is_new")).select("doc_id", "fp")
    corpus_fps = fp.filter(~F.col("is_new")).select("fp").distinct()
    exact = (
        new_docs.join(maybe_broadcast(corpus_fps), "fp", "left_semi")
        .select("doc_id").withColumn("f_exact", F.lit(1))
    )
    tag = fp.select("doc_id", "is_new")
    pa = pairs.join(tag.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("is_new", "new_a"), "doc_a")
    pab = pa.join(tag.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("is_new", "new_b"), "doc_b")
    near_corpus = (
        pab.filter(F.col("new_a") & ~F.col("new_b")).select(F.col("doc_a").alias("doc_id"))
        .unionAll(pab.filter(F.col("new_b") & ~F.col("new_a")).select(F.col("doc_b").alias("doc_id")))
        .distinct().withColumn("f_near_corpus", F.lit(1))
    )
    near_batch = (
        pab.filter(F.col("new_a") & F.col("new_b"))
        .select(F.col("doc_a").alias("doc_id"))
        .unionAll(pab.filter(F.col("new_a") & F.col("new_b")).select(F.col("doc_b").alias("doc_id")))
        .distinct().withColumn("f_near_batch", F.lit(1))
    )
    return (
        new_docs.select("doc_id")
        .join(maybe_broadcast(exact), "doc_id", "left")
        .join(maybe_broadcast(near_corpus), "doc_id", "left")
        .join(maybe_broadcast(near_batch), "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN f_exact IS NOT NULL THEN 'exact_dup_corpus'"
                " WHEN f_near_corpus IS NOT NULL THEN 'near_dup_corpus'"
                " WHEN f_near_batch IS NOT NULL THEN 'near_dup_batch'"
                " ELSE 'novel' END"
            ).alias("verdict"),
        )
        .orderBy("doc_id")
    )


def oracle_dedup_incremental_new_batch() -> str:
    return f"""
    WITH {_SIG_CTE},
    tagged AS (
        SELECT doc_id, md5(text) AS fp,
               {_O_INC_LOTTERY} >= 800000 AS is_new
        FROM documents
    ),
    new_docs AS (SELECT doc_id, fp FROM tagged WHERE is_new),
    corpus_fps AS (SELECT DISTINCT fp FROM tagged WHERE NOT is_new),
    pair_flags AS (
        SELECT c.doc_a, c.doc_b, ta.is_new AS new_a, tb.is_new AS new_b
        FROM cand c
        JOIN tagged ta ON ta.doc_id = c.doc_a
        JOIN tagged tb ON tb.doc_id = c.doc_b
    ),
    near_corpus AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pair_flags WHERE new_a AND NOT new_b
            UNION ALL
            SELECT doc_b FROM pair_flags WHERE new_b AND NOT new_a
        )
    ),
    near_batch AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pair_flags WHERE new_a AND new_b
            UNION ALL
            SELECT doc_b FROM pair_flags WHERE new_a AND new_b
        )
    )
    SELECT n.doc_id,
           CASE WHEN EXISTS (SELECT 1 FROM corpus_fps c WHERE c.fp = n.fp)
                    THEN 'exact_dup_corpus'
                WHEN EXISTS (SELECT 1 FROM near_corpus x WHERE x.doc_id = n.doc_id)
                    THEN 'near_dup_corpus'
                WHEN EXISTS (SELECT 1 FROM near_batch x WHERE x.doc_id = n.doc_id)
                    THEN 'near_dup_batch'
                ELSE 'novel' END AS verdict
    FROM new_docs n ORDER BY n.doc_id
    """


def lsh_bucket_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket occupancy profile: how many buckets fall in each
    log2 size band and what share of the total candidate PAIR WORK
    (Σ sz·(sz−1)/2) each band carries — the direct health metric for
    the banding scheme and the empirical justification for the
    LSH_MAX_BUCKET cap (pair work concentrating in a few huge buckets
    is exactly the degenerate case the cap defuses). Uncapped on
    purpose: this query MEASURES the skew the production join removes.

    Scale shape: signatures → band explode → (band, bkey) sizes in one
    map-side-combined shuffle; HDR banding and shares are tiny-window
    arithmetic over ≤ ~40 rows."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    sig = sim.minhash_signatures(sim.shingle_arrays(d))
    rows_per_band = sim.N_SEEDS // sim.N_BANDS
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
            ])).alias("bkey"),
        )
        for b in range(sim.N_BANDS)
    ])
    sizes = (
        sig.select(F.explode(bands).alias("bb"))
        .select(F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
        .groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    hdr = (
        sizes.withColumn("sz_band", F.expr("CAST(length(bin(sz)) - 1 AS INT)"))
        .groupBy("sz_band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.expr("CAST(sum(sz * (sz - 1) div 2) AS BIGINT)").alias("pair_work"),
        )
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        hdr.withColumn("total_work", F.sum("pair_work").over(w_all).cast("bigint"))
        .select(
            "sz_band", "n_buckets", "pair_work",
            F.expr(
                "CASE WHEN total_work = 0 THEN NULL ELSE"
                " CAST(CAST(pair_work AS DECIMAL(38,0)) * 1000000 div total_work AS BIGINT) END"
            ).alias("work_share_ppm"),
        )
        .orderBy("sz_band")
    )


def oracle_lsh_bucket_occupancy() -> str:
    return f"""
    WITH {_SIG_CTE},
    sizes AS (
        SELECT band, bkey, CAST(count(*) AS BIGINT) AS sz
        FROM bands0 GROUP BY band, bkey
    ), hdr AS (
        SELECT CAST(length(bin(sz)) - 1 AS INT) AS sz_band,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS pair_work
        FROM sizes GROUP BY 1
    )
    SELECT sz_band, n_buckets, pair_work,
           CASE WHEN CAST(sum(pair_work) OVER () AS BIGINT) = 0 THEN NULL
                ELSE CAST(CAST(pair_work AS HUGEINT) * 1000000
                     // CAST(sum(pair_work) OVER () AS BIGINT) AS BIGINT) END AS work_share_ppm
    FROM hdr ORDER BY sz_band
    """


_LONG_SENT_TOKENS = 30


def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-grain quality profile per source: sentence counts, mean
    sentences per doc, mean tokens per sentence, and the share of
    run-on sentences (> 30 tokens) — the readability layer of the
    quality stack (text_quality measures characters and tokens; this
    measures STRUCTURE, the signal that separates prose from
    boilerplate lists and log spam). Sentences split on '. ' —
    deterministic and engine-identical.

    Scale shape: map-only per-doc sentence arrays via higher-order
    functions (no sentence-grain explode), one source-grain rollup."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.expr("size(split(text, '\\\\. '))").cast("bigint").alias("n_sent"),
        F.expr(
            "aggregate(transform(split(text, '\\\\. '), s -> size(split(s, ' '))),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("sent_tokens"),
        F.expr(
            f"CAST(size(filter(transform(split(text, '\\\\. '), s -> size(split(s, ' '))),"
            f" t -> t > {_LONG_SENT_TOKENS})) AS BIGINT)"
        ).alias("n_long"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sent").cast("bigint").alias("total_sentences"),
            F.sum("sent_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_long").cast("bigint").alias("n_long_sentences"),
        )
        .select(
            "source", "n_docs", "total_sentences",
            F.expr("total_sentences div n_docs").alias("mean_sent_per_doc"),
            F.expr("total_tokens div total_sentences").alias("mean_tokens_per_sent"),
            F.expr("1000000 * n_long_sentences div total_sentences").alias("long_sent_ppm"),
        )
        .orderBy("source")
    )


def oracle_sentence_stats() -> str:
    return f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len(string_split(text, '. ')) AS BIGINT) AS n_sent,
               CAST(list_sum(list_transform(string_split(text, '. '),
                    s -> len(string_split(s, ' ')))) AS BIGINT) AS sent_tokens,
               CAST(len(list_filter(list_transform(string_split(text, '. '),
                    s -> len(string_split(s, ' '))), t -> t > {_LONG_SENT_TOKENS})) AS BIGINT) AS n_long
        FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_sent) AS BIGINT) AS total_sentences,
           CAST(CAST(sum(n_sent) AS BIGINT) // count(*) AS BIGINT) AS mean_sent_per_doc,
           CAST(CAST(sum(sent_tokens) AS BIGINT) // CAST(sum(n_sent) AS BIGINT) AS BIGINT)
               AS mean_tokens_per_sent,
           CAST(1000000 * CAST(sum(n_long) AS BIGINT) // CAST(sum(n_sent) AS BIGINT) AS BIGINT)
               AS long_sent_ppm
    FROM per_doc GROUP BY source ORDER BY source
    """


# ---------------------------------------------------------------------------
# Round-6 additions: split leakage, hapax quality
# ---------------------------------------------------------------------------


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val CONTAMINATION-BY-NEAR-DUP audit: how many MinHash
    candidate pairs CROSS the train/val split boundary — the leak that
    silently inflates eval scores when a val document's near-duplicate
    sits in train (exact-dup decontamination alone misses it). Pairs
    are classed train-train / cross-split / val-val with exact ppm
    shares; 'cross-split' is the number to drive to zero (by moving
    whole near-dup CLUSTERS to one side — dedup_clusters gives the
    cluster ids).

    Scale shape: the candidate join is the capped LSH band self-join
    (never all-pairs); the split flag is a pure hash of doc_id
    (train_val_split's bucket), joined onto pair endpoints as two
    size-gated id→flag lookups; the rollup is 3 rows."""
    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d)))
    split = d.select(
        "doc_id",
        F.when(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint") % 100 < 90,
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("split"),
    )
    tagged = (
        pairs.join(
            maybe_broadcast(split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))),
            "doc_a",
        )
        .join(
            maybe_broadcast(split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))),
            "doc_b",
        )
        .select(
            F.expr(
                """CASE WHEN sa = 'train' AND sb = 'train' THEN 'train-train'
                        WHEN sa = 'val' AND sb = 'val' THEN 'val-val'
                        ELSE 'cross-split' END"""
            ).alias("pair_class")
        )
    )
    agg = tagged.groupBy("pair_class").agg(F.count(F.lit(1)).alias("n_pairs"))
    tot = agg.agg(F.sum("n_pairs").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "pair_class",
            "n_pairs",
            F.expr("CAST(n_pairs * 1000000 div total AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("pair_class")
    )


def oracle_split_leakage_audit() -> str:
    return f"""
    WITH {_SIG_CTE},
    split AS (
        SELECT doc_id,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
        FROM documents
    ),
    tagged AS (
        SELECT CASE WHEN a.split = 'train' AND b.split = 'train' THEN 'train-train'
                    WHEN a.split = 'val' AND b.split = 'val' THEN 'val-val'
                    ELSE 'cross-split' END AS pair_class
        FROM cand
        JOIN split a ON a.doc_id = cand.doc_a
        JOIN split b ON b.doc_id = cand.doc_b
    ),
    agg AS (
        SELECT pair_class, CAST(count(*) AS BIGINT) AS n_pairs FROM tagged GROUP BY 1
    ), tot AS (SELECT sum(n_pairs) AS total FROM agg)
    SELECT pair_class, n_pairs,
           CAST(n_pairs * 1000000 // total AS BIGINT) AS share_ppm
    FROM agg CROSS JOIN tot ORDER BY pair_class
    """


def hapax_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hapax ratio: the share of a doc's tokens that are
    CORPUS hapax legomena (document frequency 1 across the whole
    corpus), in exact ppm, banded high/mid/low — a strong garbage
    detector (OCR noise, random ids, mojibake are corpus-unique;
    natural text re-uses vocabulary), complementing the term-REPETITION
    side of repetition_quality with a term-NOVELTY side.

    Scale shape: one hash(term) document-frequency shuffle over
    DISTINCT (doc, term) (map-side combined; stopword skew impossible —
    hapax means df=1), one hash(doc) rollup; the df relation joins on
    term, never broadcast (vocabulary grows with the corpus)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    doc_term = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    df_t = doc_term.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        doc_term.join(df_t, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tok"),
            F.sum(F.when(F.col("df") == 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_hapax_tok"),
        )
    )
    return (
        per_doc.withColumn(
            "hapax_ppm", F.expr("CAST(n_hapax_tok * 1000000 div n_tok AS BIGINT)")
        )
        .withColumn(
            "novelty_band",
            F.expr(
                """CASE WHEN hapax_ppm >= 500000 THEN 'high'
                        WHEN hapax_ppm >= 100000 THEN 'mid'
                        ELSE 'low' END"""
            ),
        )
        .select("doc_id", "n_tok", "n_hapax_tok", "hapax_ppm", "novelty_band")
        .orderBy("doc_id")
    )


def oracle_hapax_ratio_quality() -> str:
    return """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dt AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY doc_id, term
    ), dft AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tok,
               CAST(sum(CASE WHEN df = 1 THEN c ELSE 0 END) AS BIGINT) AS n_hapax_tok
        FROM dt JOIN dft USING (term) GROUP BY doc_id
    )
    SELECT doc_id, n_tok, n_hapax_tok,
           CAST(n_hapax_tok * 1000000 // n_tok AS BIGINT) AS hapax_ppm,
           CASE WHEN n_hapax_tok * 1000000 // n_tok >= 500000 THEN 'high'
                WHEN n_hapax_tok * 1000000 // n_tok >= 100000 THEN 'mid'
                ELSE 'low' END AS novelty_band
    FROM per_doc ORDER BY doc_id
    """


def dedup_cluster_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-risk audit of near-dup clusters: per connected component of
    the LSH pair graph, how COMPLETE is the direct-evidence graph —
    2·direct_pairs / (n·(n−1)) in exact ppm. A component whose members
    are pairwise-connected ('complete') is a true duplicate family; one
    held together by a sparse chain ('chained') is the classic
    transitive-merge hazard (A~B~C where A and C share nothing —
    usually boilerplate bridging unrelated docs), the clusters a
    production dedup re-verifies before dropping members.

    Scale shape: components are the O(diameter) label-propagation
    rounds (operators/components.py); the audit itself is two
    component-grain aggregates (members, direct edges) and a join —
    pair-graph-sized, never corpus-sized."""
    from northwind_warehouse_spark.operators.components import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sim.shingle_arrays(d))).persist()
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    members = comp.groupBy("comp").agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    edges = (
        pairs.join(comp.select(F.col("node").alias("doc_a"), "comp"), "doc_a")
        .groupBy("comp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_direct_pairs"))
    )
    return (
        members.join(edges, "comp")
        .withColumn(
            "completeness_ppm",
            F.expr(
                "CAST(2000000 * n_direct_pairs div (n_members * (n_members - 1)) AS BIGINT)"
            ),
        )
        .withColumn(
            "topology",
            F.expr(
                """CASE WHEN 2 * n_direct_pairs = n_members * (n_members - 1) THEN 'complete'
                        WHEN 2000000 * n_direct_pairs div (n_members * (n_members - 1)) >= 500000 THEN 'dense'
                        ELSE 'chained' END"""
            ),
        )
        .select(
            F.col("comp").alias("cluster_id"),
            "n_members",
            "n_direct_pairs",
            "completeness_ppm",
            "topology",
        )
        .orderBy("cluster_id")
    )


def oracle_dedup_cluster_chain_audit() -> str:
    return f"""
    WITH RECURSIVE {_SIG_CTE},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND e.v <> r.u
    ),
    comp AS (
        SELECT u AS node, min(v) AS comp
        FROM (SELECT u, v FROM reach UNION SELECT u, u FROM edges)
        GROUP BY u
    ),
    members AS (
        SELECT comp, CAST(count(*) AS BIGINT) AS n_members FROM comp GROUP BY comp
    ),
    de AS (
        SELECT c.comp, CAST(count(*) AS BIGINT) AS n_direct_pairs
        FROM cand JOIN comp c ON c.node = cand.doc_a
        GROUP BY c.comp
    )
    SELECT m.comp AS cluster_id, n_members, n_direct_pairs,
           CAST(2000000 * n_direct_pairs // (n_members * (n_members - 1)) AS BIGINT) AS completeness_ppm,
           CASE WHEN 2 * n_direct_pairs = n_members * (n_members - 1) THEN 'complete'
                WHEN 2000000 * n_direct_pairs // (n_members * (n_members - 1)) >= 500000 THEN 'dense'
                ELSE 'chained' END AS topology
    FROM members m JOIN de ON de.comp = m.comp
    ORDER BY cluster_id
    """


def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance profile of the embedding corpus: each
    dimension's share of total variance in exact ppm plus its variance
    rank — the feature-audit that reveals collapsed dimensions (share
    ≈ 0 ⇒ the encoder wastes capacity) and dominant ones (a few dims
    carrying most variance ⇒ anisotropy, the thing whitening fixes).
    Exactness: variance numerators are n·Σx² − (Σx)² on quantized
    integers, carried in DECIMAL(38,0)/HUGEINT — no doubles anywhere.

    Scale shape: ONE map-side-combined shuffle to (dim) grain — 64 rows
    of (n, Σx, Σx²) regardless of corpus size; the rank window runs on
    the 64-row profile."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "embeddings")
    el = e.select(
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
            )
        ).alias("i", "xq")
    )
    per_dim = el.groupBy("i").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("s"),
        F.sum(F.expr("xq * xq")).cast("bigint").alias("ss"),
    )
    num = per_dim.select(
        F.col("i").alias("dim_idx"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s"
        ).alias("var_num"),
    )
    tot = num.agg(F.sum("var_num").alias("tot"))
    w = Window.orderBy(F.desc("var_num"), "dim_idx")
    return (
        num.crossJoin(F.broadcast(tot))
        .withColumn("share_ppm", F.expr("CAST(var_num * 1000000 div tot AS BIGINT)"))
        .withColumn("var_rank", F.row_number().over(w).cast("bigint"))
        .select("dim_idx", "share_ppm", "var_rank")
        .orderBy("dim_idx")
    )


def oracle_embedding_dim_variance() -> str:
    return """
    WITH el AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS i,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM embeddings
    ), per_dim AS (
        SELECT i, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xq) AS BIGINT) AS s,
               CAST(sum(xq * xq) AS BIGINT) AS ss
        FROM el GROUP BY i
    ), num AS (
        SELECT i AS dim_idx,
               CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS var_num
        FROM per_dim
    ), tot AS (SELECT sum(var_num) AS tot FROM num)
    SELECT dim_idx,
           CAST(var_num * 1000000 // tot AS BIGINT) AS share_ppm,
           CAST(row_number() OVER (ORDER BY var_num DESC, dim_idx) AS BIGINT) AS var_rank
    FROM num CROSS JOIN tot
    ORDER BY dim_idx
    """


def collocation_lift_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical collocation mining: the top-20 adjacent token pairs
    by LIFT — observed bigram frequency over the independence
    expectation, c_ab·N / (c_a·c_b), in exact ppm (min support 5) —
    the classic phrase detector (word2vec-style phrase merging,
    tokenizer multi-word candidates). Complements bpe_pair_stats
    (raw frequency) with an association STRENGTH ranking: 'of the' is
    frequent but low-lift; a true collocation is both.

    Scale shape: bigram and unigram counts are two map-side-combined
    shuffles; the lift join is term-keyed (stopword skew handled by
    AQE); the final top-20 sorts only the min-support-filtered
    collocation table (vocabulary-bounded, never corpus-bounded)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("w"))
    # select_explode (r14, the milder inferred-filter class — r13 §12):
    # explode("w") let InferFiltersFromGenerate push `size(w)>0 AND
    # isnotnull(w)` through the staging projection, re-evaluating
    # split(text) twice per ROW in the scan filter (split never emits
    # null elements, so the outer+notNull rewrite is exact).
    uni = select_explode(toks, "w", "t").groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    n_tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bg = (
        toks.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i+1] AS b))")
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("c_b"))
    return (
        bg.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_tot))
        .withColumn(
            "lift_ppm",
            F.expr("CAST(CAST(c_ab AS DECIMAL(38,0)) * n * 1000000 div (c_a * c_b) AS BIGINT)"),
        )
        .select("a", "b", "c_ab", "c_a", "c_b", "lift_ppm")
        .orderBy(F.desc("lift_ppm"), "a", "b")
        .limit(20)
    )


def oracle_collocation_lift_top() -> str:
    return """
    WITH toks AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ), uni AS (
        SELECT unnest(w) AS t FROM toks
    ), uc AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY t
    ), ntot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM uc
    ), bg0 AS (
        SELECT unnest(list_transform(generate_series(1, len(w) - 1), i -> [w[i], w[i+1]])) AS p
        FROM toks
    ), bg AS (
        SELECT p[1] AS a, p[2] AS b, CAST(count(*) AS BIGINT) AS c_ab
        FROM bg0 GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b,
           CAST(CAST(c_ab AS HUGEINT) * n * 1000000 // (ua.c * ub.c) AS BIGINT) AS lift_ppm
    FROM bg
    JOIN uc ua ON ua.t = a
    JOIN uc ub ON ub.t = b
    CROSS JOIN ntot
    ORDER BY lift_ppm DESC, a, b
    LIMIT 20
    """


def label_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit of the labeled embedding corpus: per label,
    member count, share in exact ppm, and absolute deviation from the
    uniform share — the pre-training check that decides whether a probe
    needs reweighting/stratified sampling (severe imbalance makes
    accuracy a lying metric).

    Scale shape: one map-side-combined count to label grain; the
    uniform baseline is arithmetic on the label-count row — nothing
    corpus-sized anywhere."""
    e = load(spark, sf_dir, "embeddings")
    per_label = e.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    tot = per_label.agg(
        F.sum("n_vectors").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return (
        per_label.crossJoin(F.broadcast(tot))
        .withColumn("share_ppm", F.expr("CAST(n_vectors * 1000000 div n_total AS BIGINT)"))
        .withColumn(
            "dev_from_uniform_ppm",
            F.expr("CAST(abs(n_vectors * 1000000 div n_total - 1000000 div k) AS BIGINT)"),
        )
        .select("label", "n_vectors", "share_ppm", "dev_from_uniform_ppm")
        .orderBy("label")
    )


def oracle_label_balance_audit() -> str:
    return """
    WITH per_label AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_vectors
        FROM embeddings GROUP BY label
    ), tot AS (
        SELECT CAST(sum(n_vectors) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS k
        FROM per_label
    )
    SELECT label, n_vectors,
           CAST(n_vectors * 1000000 // n_total AS BIGINT) AS share_ppm,
           CAST(abs(n_vectors * 1000000 // n_total - 1000000 // k) AS BIGINT) AS dev_from_uniform_ppm
    FROM per_label CROSS JOIN tot
    ORDER BY label
    """


def candidate_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-quality histogram: verified shingle-Jaccard of
    every MinHash candidate pair, banded by decile — the calibration
    view that shows how much of the candidate stream is real
    (J ≥ 0.7) vs band-collision noise, i.e. the measured precision the
    banding scheme buys BEFORE any threshold filter (complements
    lsh_band_tuning's analytic S-curve with observed data).

    Scale shape: candidates come from the capped band join (never
    all-pairs); the exact-Jaccard verify is the established two-join
    array_intersect; the histogram is a ≤10-row rollup."""
    d = load(spark, sf_dir, "documents")
    sh_arr = sim.shingle_arrays(d).persist()
    pairs = sim.lsh_candidate_pairs(sim.minhash_signatures(sh_arr))
    jac = sim.pair_jaccard(sh_arr, pairs)
    return (
        jac.select(
            F.expr(
                "CAST(least((1000000 * n_inter div n_union) div 100000, 9) AS BIGINT)"
            ).alias("jaccard_decile")
        )
        .groupBy("jaccard_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("jaccard_decile")
    )


def oracle_candidate_jaccard_histogram() -> str:
    return f"""
    WITH {_SIG_CTE},
    jac AS (
        SELECT CAST(least((1000000 * len(list_intersect(sa.sh, sb.sh))
                           // (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))))
                          // 100000, 9) AS BIGINT) AS jaccard_decile
        FROM cand c
        JOIN sharr sa ON sa.doc_id = c.doc_a
        JOIN sharr sb ON sb.doc_id = c.doc_b
    )
    SELECT jaccard_decile, CAST(count(*) AS BIGINT) AS n_pairs
    FROM jac GROUP BY jaccard_decile ORDER BY jaccard_decile
    """


def token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token char-length histogram (capped at 15+): tokenizer
    diagnostics — a heavy long-token tail means mojibake, URLs or
    concatenation artifacts that explode subword fertility (the
    aggregate view behind tokenizer_fertility's per-doc numbers).

    Scale shape: one map-side-combined count to the ≤15-row length
    grain; one broadcast total row."""
    d = load(spark, sf_dir, "documents")
    lens = d.select(
        F.explode(F.split("text", " ")).alias("t")
    ).select(F.least(F.length("t"), F.lit(15)).cast("bigint").alias("len_band"))
    agg = lens.groupBy("len_band").agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    tot = agg.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .withColumn("share_ppm", F.expr("CAST(n_tokens * 1000000 div total AS BIGINT)"))
        .select("len_band", "n_tokens", "share_ppm")
        .orderBy("len_band")
    )


def oracle_token_length_profile() -> str:
    return """
    WITH lens AS (
        SELECT least(length(unnest(string_split(text, ' '))), 15) AS len_band
        FROM documents
    ), agg AS (
        SELECT CAST(len_band AS BIGINT) AS len_band, CAST(count(*) AS BIGINT) AS n_tokens
        FROM lens GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM agg)
    SELECT len_band, n_tokens,
           CAST(n_tokens * 1000000 // total AS BIGINT) AS share_ppm
    FROM agg CROSS JOIN tot ORDER BY len_band
    """


def int8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization ERROR audit: per vector, the max and mean
    absolute reconstruction error of the symmetric int8 codes, in
    q127 units (|x·127 − code·scale| on the quantized integers — all
    arithmetic exact, so the audit itself can't add noise). The
    accept/reject gate for shipping a 4×-compressed ANN index:
    embedding_quantize_int8 builds the codes; this measures what they
    cost.

    Scale shape: map-only higher-order folds, zero shuffles before the
    presentation sort."""
    q = "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
    e = load(spark, sf_dir, "embeddings")
    xq = e.select("vec_id", F.expr(f"transform(embedding, x -> {q})").alias("xq"))
    scaled = xq.select(
        "vec_id",
        F.size("xq").cast("bigint").alias("n_dims"),
        F.expr("aggregate(xq, CAST(0 AS BIGINT), (m, v) -> greatest(m, abs(v)))").alias("scale_q"),
        "xq",
    )
    # err per component (q127 units): |v*127 - code*scale_q| with the same
    # sign-split truncation as embedding_quantize_int8's codes
    err_arr = """CASE WHEN scale_q = 0 THEN transform(xq, v -> CAST(0 AS BIGINT))
                      ELSE transform(xq, v -> abs(v * 127 -
                           (CASE WHEN v >= 0 THEN (v * 127) div scale_q
                                 ELSE -((-v * 127) div scale_q) END) * scale_q))
                 END"""
    return (
        scaled.withColumn("errs", F.expr(err_arr))
        .select(
            "vec_id",
            "n_dims",
            "scale_q",
            F.expr("aggregate(errs, CAST(0 AS BIGINT), (m, v) -> greatest(m, v))").alias(
                "max_err_q127"
            ),
            F.expr(
                "CAST(aggregate(errs, CAST(0 AS BIGINT), (acc, v) -> acc + v) div size(errs) AS BIGINT)"
            ).alias("mean_err_q127"),
        )
        .orderBy("vec_id")
    )


def oracle_int8_reconstruction_error() -> str:
    return """
    WITH el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS v
        FROM embeddings
    ), scaled AS (
        SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
               CAST(max(abs(v)) AS BIGINT) AS scale_q
        FROM el GROUP BY vec_id
    ), errs AS (
        SELECT el.vec_id,
               CASE WHEN scale_q = 0 THEN 0
                    ELSE abs(v * 127 -
                         (CASE WHEN v >= 0 THEN (v * 127) // scale_q
                               ELSE -((-v * 127) // scale_q) END) * scale_q)
               END AS err
        FROM el JOIN scaled ON scaled.vec_id = el.vec_id
    )
    SELECT s.vec_id, s.n_dims, s.scale_q,
           CAST(max(err) AS BIGINT) AS max_err_q127,
           CAST(CAST(sum(err) AS BIGINT) // count(*) AS BIGINT) AS mean_err_q127
    FROM errs e JOIN scaled s ON s.vec_id = e.vec_id
    GROUP BY s.vec_id, s.n_dims, s.scale_q
    ORDER BY s.vec_id
    """


def band_agreement_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence-strength histogram for MinHash candidates: per candidate
    pair, how many of the 4 bands agreed (1..4), rolled up to a ≤4-row
    histogram — pairs found by one band are borderline (J near the
    S-curve knee); 4-band agreement means near-identical docs. The
    observed companion to lsh_band_tuning's analytic collision curve,
    at pair grain instead of threshold grain.

    Scale shape: the band self-join is the same capped bucket join as
    lsh_candidate_pairs (shared band_rows operator, never all-pairs);
    the per-pair count and histogram are candidate-sized."""
    d = load(spark, sf_dir, "documents")
    sig = sim.minhash_signatures(sim.shingle_arrays(d))
    bands = sim.cap_buckets(
        sim.band_rows(sig), ["band", "bkey"], sim.LSH_MAX_BUCKET
    ).persist()
    a = bands.alias("a")
    b = bands.alias("b")
    per_pair = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_matched"))
    )
    return (
        per_pair.groupBy("n_bands_matched")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("n_bands_matched")
    )


def oracle_band_agreement_histogram() -> str:
    return f"""
    WITH {_SIG_CTE},
    per_pair AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_bands_matched
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT n_bands_matched, CAST(count(*) AS BIGINT) AS n_pairs
    FROM per_pair GROUP BY n_bands_matched ORDER BY n_bands_matched
    """


def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL REPORT: per (source, verdict), documents and
    tokens with within-source ppm shares — the one-page artifact a data
    lead reads after every corpus build ('what did each gate cost, per
    source?'), rolled up from curate_corpus's per-doc first-failing-
    stage verdicts. A source losing most of its tokens to 'boilerplate'
    needs a crawler fix, not a bigger budget.

    Scale shape: curate_corpus's funnel (aggregates + spread joins, no
    windows) followed by a verdict-grain rollup and a tiny per-source
    total broadcast. The two consumers of `verdicts` are fine: the
    funnel's dominant trigram explode is persisted inside
    curate_corpus, so the second aggregate reads the cache — an
    algebraic single-pass variant (per-source total as a window over
    the verdict-grain rollup) was measured consistently ~0.3s SLOWER
    at 10× (3× A/B min-of-2) and declined."""
    verdicts = curate_corpus(spark, sf_dir)
    agg = verdicts.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    tot = verdicts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("src_docs")
    )
    return (
        agg.join(F.broadcast(tot), "source")
        .withColumn("doc_share_ppm", F.expr("CAST(n_docs * 1000000 div src_docs AS BIGINT)"))
        .select("source", "verdict", "n_docs", "n_tokens", "doc_share_ppm")
        .orderBy("source", "verdict")
    )


def oracle_curation_funnel_report() -> str:
    base = oracle_curate_corpus()
    return f"""
    WITH verdicts AS ({base}),
    agg AS (
        SELECT source, verdict,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM verdicts GROUP BY source, verdict
    ),
    tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS src_docs FROM verdicts GROUP BY source
    )
    SELECT source, verdict, n_docs, n_tokens,
           CAST(n_docs * 1000000 // src_docs AS BIGINT) AS doc_share_ppm
    FROM agg JOIN tot USING (source)
    ORDER BY source, verdict
    """


def stopword_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level stopword-density drift: per source, total tokens,
    stopword tokens, and density in exact ppm, plus the low/normal/high
    band against the corpus-wide density — the feed-health check that
    catches a source whose extraction started dropping (or injecting)
    function words long before per-doc quality scores move.

    Scale shape: token and stopword counts are map-only per row
    (higher-order filters over the split array — no explode), one
    map-side-combined rollup to source grain, one corpus-total
    broadcast row."""
    from northwind_warehouse_spark.functions.text import n_tokens, stopword_count

    d = load(spark, sf_dir, "documents")
    base = d.select(
        "source", n_tokens().alias("n_tok"), stopword_count().alias("n_stop")
    )
    per_src = base.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_stop").cast("bigint").alias("n_stopwords"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("t_tok"),
        F.sum("n_stopwords").cast("bigint").alias("t_stop"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("density_ppm", F.expr("CAST(n_stopwords * 1000000 div n_tokens AS BIGINT)"))
        .withColumn("corpus_ppm", F.expr("CAST(t_stop * 1000000 div t_tok AS BIGINT)"))
        .withColumn(
            "density_band",
            F.expr(
                """CASE WHEN density_ppm * 10 < corpus_ppm * 8 THEN 'low'
                        WHEN density_ppm * 10 > corpus_ppm * 12 THEN 'high'
                        ELSE 'normal' END"""
            ),
        )
        .select("source", "n_tokens", "n_stopwords", "density_ppm", "corpus_ppm", "density_band")
        .orderBy("source")
    )


def oracle_stopword_profile_by_source() -> str:
    return f"""
    WITH base AS (
        SELECT source, {o_n_tokens()} AS n_tok, {o_stopword_count()} AS n_stop
        FROM documents
    ), per_src AS (
        SELECT source,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(n_stop) AS BIGINT) AS n_stopwords
        FROM base GROUP BY source
    ), tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tok,
               CAST(sum(n_stopwords) AS BIGINT) AS t_stop
        FROM per_src
    )
    SELECT source, n_tokens, n_stopwords,
           CAST(n_stopwords * 1000000 // n_tokens AS BIGINT) AS density_ppm,
           CAST(t_stop * 1000000 // t_tok AS BIGINT) AS corpus_ppm,
           CASE WHEN n_stopwords * 1000000 // n_tokens * 10 < t_stop * 1000000 // t_tok * 8 THEN 'low'
                WHEN n_stopwords * 1000000 // n_tokens * 10 > t_stop * 1000000 // t_tok * 12 THEN 'high'
                ELSE 'normal' END AS density_band
    FROM per_src CROSS JOIN tot ORDER BY source
    """


def doc_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality alignment DQ: do the text corpus and the embedding
    store cover the same ids? One row of exact counts — matched,
    doc-without-vector (un-embedded backlog), vector-without-doc
    (orphaned index entries to GC) — the join-health check every
    multimodal pipeline runs before training reads both sides.

    Scale shape: one full-outer id join on two id-only projections
    (pruned scans), folded to a single row."""
    d = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("did"))
    e = load(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("vid"))
    j = d.join(e, d.did == e.vid, "full_outer")
    return j.agg(
        F.sum(F.when(F.col("did").isNotNull() & F.col("vid").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(F.when(F.col("vid").isNull(), 1).otherwise(0)).cast("bigint").alias("n_doc_only"),
        F.sum(F.when(F.col("did").isNull(), 1).otherwise(0)).cast("bigint").alias("n_vec_only"),
    ).withColumn(
        "matched_ppm",
        F.expr(
            "CAST(n_matched * 1000000 div (n_matched + n_doc_only + n_vec_only) AS BIGINT)"
        ),
    )


def oracle_doc_embedding_coverage() -> str:
    return """
    WITH j AS (
        SELECT doc_id AS did, vec_id AS vid
        FROM documents FULL OUTER JOIN embeddings ON doc_id = vec_id
    ), agg AS (
        SELECT CAST(sum(CASE WHEN did IS NOT NULL AND vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN vid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_only,
               CAST(sum(CASE WHEN did IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_only
        FROM j
    )
    SELECT n_matched, n_doc_only, n_vec_only,
           CAST(n_matched * 1000000 // (n_matched + n_doc_only + n_vec_only) AS BIGINT) AS matched_ppm
    FROM agg
    """


_TV_TOP_TERMS = 50


def source_vocab_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair vocabulary drift: TOTAL-VARIATION distance between
    each pair of sources' term distributions, restricted to the corpus
    top-50 terms plus an 'other' residual bucket — exact ppm integer
    arithmetic (TV is the rational alternative to KL/JS divergence,
    whose logs drift between engines). 0 ⇒ identical feeds; large ⇒ a
    source drifted (or never matched) — the pairwise complement to
    distinctive_terms_by_source's per-term lifts.

    Scale shape: term counts are one map-side-combined shuffle; the
    top-50 selection sorts the vocabulary aggregate (never the corpus);
    the share matrix is sources×51 rows scaffolded by a broadcast cross
    join so missing terms read as 0; the pair fold is sources²-bounded.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("t")).persist()
    top = (
        tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(_TV_TOP_TERMS)
        .select("t")
    )
    src_tot = tok.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    counts = (
        tok.join(F.broadcast(top), "t")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = src_tot.crossJoin(F.broadcast(top))
    shares = (
        grid.join(counts, ["source", "t"], "left")
        .select(
            "source",
            "t",
            F.expr("CAST(coalesce(c, 0) * 1000000 div n_tok AS BIGINT)").alias("ppm"),
        )
    )
    other = shares.groupBy("source").agg(
        (F.lit(1000000) - F.sum("ppm")).cast("bigint").alias("other_ppm")
    )
    sa = shares.select(F.col("source").alias("source_a"), "t", F.col("ppm").alias("pa"))
    sb = shares.select(F.col("source").alias("source_b"), "t", F.col("ppm").alias("pb"))
    top_tv = (
        sa.join(sb, "t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.expr("abs(pa - pb)")).cast("bigint").alias("sum_abs"))
    )
    oa = other.select(F.col("source").alias("source_a"), F.col("other_ppm").alias("oa"))
    ob = other.select(F.col("source").alias("source_b"), F.col("other_ppm").alias("ob"))
    return (
        top_tv.join(F.broadcast(oa), "source_a")
        .join(F.broadcast(ob), "source_b")
        .select(
            "source_a",
            "source_b",
            F.expr("CAST((sum_abs + abs(oa - ob)) div 2 AS BIGINT)").alias("tv_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


def oracle_source_vocab_tv_distance() -> str:
    return f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ), top AS (
        SELECT t FROM (
            SELECT t, count(*) AS c FROM tok GROUP BY t
            ORDER BY c DESC, t LIMIT {_TV_TOP_TERMS}
        )
    ), src_tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY source
    ), counts AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS c
        FROM tok JOIN top USING (t) GROUP BY source, t
    ), shares AS (
        SELECT st.source, top.t,
               CAST(coalesce(c, 0) * 1000000 // n_tok AS BIGINT) AS ppm
        FROM src_tot st CROSS JOIN top
        LEFT JOIN counts ON counts.source = st.source AND counts.t = top.t
    ), other AS (
        SELECT source, CAST(1000000 - sum(ppm) AS BIGINT) AS other_ppm
        FROM shares GROUP BY source
    ), top_tv AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(sum(abs(a.ppm - b.ppm)) AS BIGINT) AS sum_abs
        FROM shares a JOIN shares b ON a.t = b.t AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST((sum_abs + abs(oa.other_ppm - ob.other_ppm)) // 2 AS BIGINT) AS tv_ppm
    FROM top_tv
    JOIN other oa ON oa.source = source_a
    JOIN other ob ON ob.source = source_b
    ORDER BY source_a, source_b
    """


def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-purity probe: for each multi-probe query, how many of
    its top-3 retrieved neighbors share the query's label — the
    classifier-free embedding-quality eval (high purity ⇒ the space
    clusters by label ⇒ a kNN classifier will work; low purity with
    good recall ⇒ the EMBEDDING, not the index, is the problem).
    Composes the multi-probe index with the labeled corpus.

    Scale shape: the multi-probe top-k plan (bounded candidates) plus
    two label-lookup joins through the size gate; output is
    query-grain."""
    mp = ann_ivf_multiprobe_topk(spark, sf_dir).select("query_id", "neighbor_id")
    e = load(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    ql = labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("query_label"))
    nl = labels.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neighbor_label"))
    return (
        mp.join(maybe_broadcast(ql), "query_id")
        .join(maybe_broadcast(nl), "neighbor_id")
        .groupBy("query_id", "query_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.sum(F.when(F.col("neighbor_label") == F.col("query_label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_same_label"),
        )
        .withColumn(
            "purity_ppm", F.expr("CAST(n_same_label * 1000000 div n_neighbors AS BIGINT)")
        )
        .select("query_id", "query_label", "n_neighbors", "n_same_label", "purity_ppm")
        .orderBy("query_id")
    )


def oracle_knn_label_purity() -> str:
    base = oracle_ann_ivf_multiprobe_topk()
    return f"""
    WITH mp AS ({base})
    SELECT query_id, eq.label AS query_label,
           CAST(count(*) AS BIGINT) AS n_neighbors,
           CAST(sum(CASE WHEN en.label = eq.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label,
           CAST(sum(CASE WHEN en.label = eq.label THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS purity_ppm
    FROM mp
    JOIN embeddings eq ON eq.vec_id = mp.query_id
    JOIN embeddings en ON en.vec_id = mp.neighbor_id
    GROUP BY query_id, eq.label
    ORDER BY query_id
    """


def ivf_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy profile: cells bucketed into log2 size bands
    with cell counts, vector counts, min/max cell size, and each band's
    share of the corpus — the coarse-quantizer health metric that
    validates the occupancy-targeting policy (n_centroids =
    max(8, ceil(n / _KNN_TARGET_CELL)) pins MEAN occupancy, this query
    shows the DISTRIBUTION around it; a heavy top band means hot cells
    and unbalanced ANN probes). The lsh_bucket_occupancy twin for the
    IVF family — measured UNCAPPED on purpose: it audits the skew the
    kNN-graph sample-to-cap policy then bounds.

    Scale shape (r11): the cell sizes are read from the STORED GEN-0
    INDEX — the (vec_id, cell_id) relation the serving family actually
    probes, so the audit measures the occupancy of the index AS
    SERVED, not a re-derivation — and because the stored table is
    bucketed by cell_id, the cell-grain rollup plans ZERO Exchange
    (cell_id-only column pruning at the scan, bucket-local partial
    aggregate). MEASURED adopt (min-of-2 warm): 2.08→0.78s at sf0.1,
    3.26→1.2s at 10×, 6.82→1.2s at 30× — FLAT past 10×, identical
    rows at all three scales (the former inline n·2√k re-assignment
    grew with the corpus). Band arithmetic over ≤ ~40 rows. The
    oracle's assign0 chain is unchanged: stored gen-0 cell_id ≡ the
    two-level assignment of the corpus file, the content identity the
    index entry names."""
    from pyspark.sql.window import Window

    sizes = (
        _ivfpq_index(spark, sf_dir)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    hdr = (
        sizes.withColumn("sz_band", F.expr("CAST(length(bin(sz)) - 1 AS INT)"))
        .groupBy("sz_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("sz").cast("bigint").alias("n_vectors"),
            F.min("sz").cast("bigint").alias("min_sz"),
            F.max("sz").cast("bigint").alias("max_sz"),
        )
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        hdr.withColumn("_tot", F.sum("n_vectors").over(w_all))
        .select(
            "sz_band", "n_cells", "n_vectors", "min_sz", "max_sz",
            F.expr("CAST(CAST(n_vectors AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)")
            .alias("vec_share_ppm"),
        )
        .orderBy("sz_band")
    )


def oracle_ivf_cell_occupancy() -> str:
    return f"""
    WITH {_knn_two_level_assign_sql()},
    sizes AS (
        SELECT cell_id, count(*) AS sz FROM assign0 GROUP BY cell_id
    ),
    hdr AS (
        SELECT CAST(length(bin(sz)) - 1 AS INT) AS sz_band,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(sz) AS BIGINT) AS n_vectors,
               CAST(min(sz) AS BIGINT) AS min_sz,
               CAST(max(sz) AS BIGINT) AS max_sz
        FROM sizes GROUP BY 1
    )
    SELECT sz_band, n_cells, n_vectors, min_sz, max_sz,
           CAST(CAST(n_vectors AS HUGEINT) * 1000000
                // CAST(sum(n_vectors) OVER () AS BIGINT) AS BIGINT) AS vec_share_ppm
    FROM hdr ORDER BY sz_band
    """


def simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit-balance audit: per fingerprint bit, the fraction of
    documents with that bit SET (exact ppm) and its signed deviation
    from the ideal 50% — skewed bits carry less than one bit of
    discriminating power, so a heavy deviation means the hash family is
    wasting fingerprint width and hamming thresholds are miscalibrated.
    The fingerprint-quality complement to dedup_simhash (which emits
    the fingerprints) and simhash_hamming_pairs (which consumes them).

    Scale shape: fingerprints are the map-only 32-bit fold; the bit
    explode is ×32 on ONE BIGINT column (not the text), and the rollup
    is 32 groups, map-side combined."""
    # spread (r13): same single-task simhash map work as dedup_simhash.
    # A/B alternating med-of-5: 0.94 → 0.59s (ratio 0.63).
    d = spread_scan(load(spark, sf_dir, "documents"), spark, sf_dir,
                    "documents", "doc_id", min_rows=1000)
    fp = sim.simhash32(d)
    bits = fp.select(
        "simhash", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit")
    ).select(
        F.col("bit").cast("bigint").alias("bit"),
        F.expr("CAST(shiftright(simhash, CAST(bit AS INT)) & 1 AS BIGINT)").alias("isset"),
    )
    return (
        bits.groupBy("bit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("isset").cast("bigint").alias("n_set"),
        )
        .withColumn(
            "set_ppm",
            F.expr("CAST(CAST(n_set AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"),
        )
        .withColumn("dev_ppm", F.expr("CAST(set_ppm - 500000 AS BIGINT)"))
        .select("bit", "n_docs", "n_set", "set_ppm", "dev_ppm")
        .orderBy("bit")
    )


def oracle_simhash_bit_balance() -> str:
    fp = oracle_dedup_simhash()
    return f"""
    WITH fp AS ({fp}),
    bits AS (
        SELECT t.bit, CAST((simhash >> CAST(t.bit AS INT)) & 1 AS BIGINT) AS isset
        FROM fp CROSS JOIN (SELECT CAST(range AS BIGINT) AS bit FROM range(32)) t
    ),
    agg AS (
        SELECT bit,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(isset) AS BIGINT) AS n_set
        FROM bits GROUP BY bit
    )
    SELECT bit, n_docs, n_set,
           CAST(CAST(n_set AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS set_ppm,
           CAST(CAST(n_set AS HUGEINT) * 1000000 // n_docs - 500000 AS BIGINT) AS dev_ppm
    FROM agg ORDER BY bit
    """


def pq_code_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook-utilization audit: per subspace, how the corpus
    distributes over the codewords (count + exact-ppm share per
    (subspace, code)) — dead or starved codewords mean the codebook
    wastes index bits and ADC distances lose resolution; the
    quantizer-health twin of ivf_cell_occupancy for the compressed
    index. Reads the REAL encode path (operators/similarity.py::
    pq_codebook → pq_encode), so a trained codebook changes this
    table, not the plan.

    Scale shape: encode is map-only (one-row broadcast codebook); the
    rollup is PQ_M×PQ_NC ≤ 32 groups, map-side combined; shares are
    windows over the 32-row aggregate."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "embeddings")
    cb = sim.pq_codebook(e)
    enc = sim.pq_encode(e, cb)
    codes = enc.select(F.posexplode("codes").alias("s", "code"))
    agg = codes.groupBy(
        F.col("s").cast("bigint").alias("s"), F.col("code").cast("bigint").alias("code")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    w_s = Window.partitionBy("s")
    return (
        agg.withColumn("_tot", F.sum("n_vectors").over(w_s))
        .select(
            "s", "code", "n_vectors",
            F.expr("CAST(CAST(n_vectors AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)")
            .alias("share_ppm"),
        )
        .orderBy("s", "code")
    )


def oracle_pq_code_utilization() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), cw AS (
        SELECT vec_id, rn - 1 AS j FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(('0x' || substr(md5('pq|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         vec_id) AS rn
            FROM embeddings)
        WHERE rn <= {sim.PQ_NC}
    ), cwel AS (
        SELECT cw.j, el.i, el.xq FROM cw JOIN el USING (vec_id)
    ), subd AS (
        SELECT a.vec_id, (a.i - 1) // {sim.PQ_SUB} AS s, c.j,
               CAST(sum((a.xq - c.xq) * (a.xq - c.xq)) AS BIGINT) AS d
        FROM el a JOIN cwel c ON a.i = c.i
        GROUP BY a.vec_id, (a.i - 1) // {sim.PQ_SUB}, c.j
    ), codes AS (
        SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM subd)
        WHERE rn = 1
    ), agg AS (
        SELECT CAST(s AS BIGINT) AS s, CAST(code AS BIGINT) AS code,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM codes GROUP BY 1, 2
    )
    SELECT s, code, n_vectors,
           CAST(CAST(n_vectors AS HUGEINT) * 1000000
                // CAST(sum(n_vectors) OVER (PARTITION BY s) AS BIGINT) AS BIGINT) AS share_ppm
    FROM agg ORDER BY s, code
    """


_COS_HIST_SAMPLE = 64  # deterministic md5-lottery sample → 2016 pairs
_COS_HIST_BANDS = 20   # band = floor(cosine · 20): 0.05-wide bands


def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus isotropy profile: the distribution of pairwise cosines
    over a deterministic md5-lottery sample of vectors, banded at 0.05
    (band = floor(cos·20)) with exact-ppm shares — the anisotropy/
    hubness sanity check run before trusting cosine thresholds for
    semantic dedup or ANN recall targets (a mass pile-up near band 19
    means a collapsed embedding space where every threshold is
    meaningless). Cosines are IEEE-identical cross-engine (exact int64
    dot/norms → one sqrt + divide).

    Scale shape: the sample is a TakeOrdered over the lottery column
    (never a full sort materialized); pair fan-out is sample², a
    constant (2016 pairs); the band rollup is ≤ 41 groups."""
    from pyspark.sql.window import Window

    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q, norm2_q

    e = load(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "embedding", norm2_q("embedding").alias("n2"),
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cos|"), F.col("vec_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long").alias("lot"),
    )
    samp = base.orderBy("lot", "vec_id").limit(_COS_HIST_SAMPLE)
    a = samp.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("va"), F.col("n2").alias("na2")
    )
    b = samp.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"), F.col("n2").alias("nb2")
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ida") < F.col("idb"))
        .select(dot_q("va", "vb").alias("dot"), "na2", "nb2")
        .withColumn("cosine", cosine_from_parts("dot", "na2", "nb2"))
        .select(F.expr(f"CAST(floor(cosine * {_COS_HIST_BANDS}) AS INT)").alias("band"))
    )
    agg = pairs.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        agg.withColumn("_tot", F.sum("n_pairs").over(w_all))
        .select(
            "band", "n_pairs",
            F.expr("CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)")
            .alias("share_ppm"),
        )
        .orderBy("band")
    )


def oracle_embedding_cosine_histogram() -> str:
    return f"""
    WITH el AS (
        SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, i, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        FROM el
    ),
    n2 AS (
        SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS n2 FROM q GROUP BY vec_id
    ),
    samp AS (
        SELECT vec_id FROM embeddings
        QUALIFY row_number() OVER (
            ORDER BY CAST(('0x' || substr(md5('cos|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                     vec_id
        ) <= {_COS_HIST_SAMPLE}
    ),
    pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM samp a JOIN samp b ON a.vec_id < b.vec_id
    ),
    dots AS (
        SELECT p.ida, p.idb, CAST(sum(qa.xq * qb.xq) AS BIGINT) AS dot
        FROM pairs p
        JOIN q qa ON qa.vec_id = p.ida
        JOIN q qb ON qb.vec_id = p.idb AND qb.i = qa.i
        GROUP BY p.ida, p.idb
    ),
    banded AS (
        SELECT CAST(floor(CAST(dot AS DOUBLE)
                          / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
                          * {_COS_HIST_BANDS}) AS INT) AS band
        FROM dots
        JOIN n2 na ON na.vec_id = ida
        JOIN n2 nb ON nb.vec_id = idb
    ),
    agg AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n_pairs FROM banded GROUP BY band
    )
    SELECT band, n_pairs,
           CAST(CAST(n_pairs AS HUGEINT) * 1000000
                // CAST(sum(n_pairs) OVER () AS BIGINT) AS BIGINT) AS share_ppm
    FROM agg ORDER BY band
    """


def charset_counts(d: DataFrame) -> DataFrame:
    """Per-document character-class counts as a pure df→df transform —
    map-only (length deltas of class-stripped text, no per-char
    explode), so it runs UNCHANGED on a streaming DataFrame
    (streaming/jobs.py::charset_profile_stream, equality-asserted in
    tests/test_streaming.py) — same batch/stream-unified property as
    quality_metrics."""
    return d.select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        (F.length("text") - F.length(F.regexp_replace("text", "[A-Za-z]", "")))
        .cast("bigint").alias("n_alpha"),
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", "")))
        .cast("bigint").alias("n_digit"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")))
        .cast("bigint").alias("n_space"),
    )


def charset_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source: alpha / digit / space /
    other shares of all characters in exact ppm — the curation screen
    that separates prose corpora from tables, code dumps and
    number-heavy spam BEFORE tokenization (a source with digit share
    over ~10% is rarely natural language). Counts via length deltas of
    class-stripped text — map-only, no per-char explode.

    Scale shape: four regexp_replace projections per row (JVM
    codegen), one ≤|sources| rollup; ppm division on the aggregate."""
    per_doc = charset_counts(load(spark, sf_dir, "documents"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_alpha").cast("bigint").alias("n_alpha"),
            F.sum("n_digit").cast("bigint").alias("n_digit"),
            F.sum("n_space").cast("bigint").alias("n_space"),
        )
        .select(
            "source", "n_docs", "n_chars",
            F.expr("CAST(CAST(n_alpha AS DECIMAL(38,0)) * 1000000 div n_chars AS BIGINT)")
            .alias("alpha_ppm"),
            F.expr("CAST(CAST(n_digit AS DECIMAL(38,0)) * 1000000 div n_chars AS BIGINT)")
            .alias("digit_ppm"),
            F.expr("CAST(CAST(n_space AS DECIMAL(38,0)) * 1000000 div n_chars AS BIGINT)")
            .alias("space_ppm"),
            F.expr(
                "CAST(1000000 - CAST(n_alpha AS DECIMAL(38,0)) * 1000000 div n_chars"
                " - CAST(n_digit AS DECIMAL(38,0)) * 1000000 div n_chars"
                " - CAST(n_space AS DECIMAL(38,0)) * 1000000 div n_chars AS BIGINT)"
            ).alias("other_ppm"),
        )
        .orderBy("source")
    )


def oracle_charset_profile_by_source() -> str:
    return """
    WITH per_doc AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
               CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_space
        FROM documents
    ), agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(n_alpha) AS BIGINT) AS n_alpha,
               CAST(sum(n_digit) AS BIGINT) AS n_digit,
               CAST(sum(n_space) AS BIGINT) AS n_space
        FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_chars,
           CAST(CAST(n_alpha AS HUGEINT) * 1000000 // n_chars AS BIGINT) AS alpha_ppm,
           CAST(CAST(n_digit AS HUGEINT) * 1000000 // n_chars AS BIGINT) AS digit_ppm,
           CAST(CAST(n_space AS HUGEINT) * 1000000 // n_chars AS BIGINT) AS space_ppm,
           CAST(1000000 - CAST(n_alpha AS HUGEINT) * 1000000 // n_chars
                - CAST(n_digit AS HUGEINT) * 1000000 // n_chars
                - CAST(n_space AS HUGEINT) * 1000000 // n_chars AS BIGINT) AS other_ppm
    FROM agg ORDER BY source
    """


_FP_WIDTHS = (16, 24, 32)  # hash-prefix widths (bits) under audit


def fingerprint_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-width risk audit: for each candidate fingerprint width
    (16/24/32 bits of the document md5), the distinct-prefix count and
    the share of documents involved in a collision — the birthday-bound
    measurement that tells you how wide dedup fingerprints and shingle
    hashes must be BEFORE a corpus-scale run (a width fine at 60k docs
    saturates at 6B; this query is how the width knob is justified,
    e.g. simhash_fp's 32-vs-60-bit guidance).

    Scale shape: one md5 projection, a ×|widths| explode of ONE short
    string column, a (width, prefix) map-side-combined rollup, then a
    ≤|widths| aggregate."""
    d = load(spark, sf_dir, "documents")
    widths = F.array(*[F.lit(w) for w in _FP_WIDTHS])
    prefixed = (
        d.select(F.md5("text").alias("h"))
        .select(F.explode(widths).alias("width_bits"), "h")
        .select(
            F.col("width_bits").cast("bigint").alias("width_bits"),
            F.expr("substring(h, 1, CAST(width_bits div 4 AS INT))").alias("pfx"),
        )
    )
    buckets = prefixed.groupBy("width_bits", "pfx").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        buckets.groupBy("width_bits")
        .agg(
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_prefixes"),
            F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("n_docs_colliding"),
        )
        .withColumn(
            "collision_ppm",
            F.expr("CAST(CAST(n_docs_colliding AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"),
        )
        .orderBy("width_bits")
    )


def oracle_fingerprint_collision_audit() -> str:
    widths = ", ".join(str(w) for w in _FP_WIDTHS)
    return f"""
    WITH prefixed AS (
        SELECT CAST(t.w AS BIGINT) AS width_bits,
               substr(md5(text), 1, CAST(t.w // 4 AS INT)) AS pfx
        FROM documents
        CROSS JOIN (SELECT unnest([{widths}]) AS w) t
    ), buckets AS (
        SELECT width_bits, pfx, CAST(count(*) AS BIGINT) AS sz
        FROM prefixed GROUP BY width_bits, pfx
    )
    SELECT width_bits,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct_prefixes,
           CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS n_docs_colliding,
           CAST(CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS HUGEINT) * 1000000
                // CAST(sum(sz) AS BIGINT) AS BIGINT) AS collision_ppm
    FROM buckets GROUP BY width_bits ORDER BY width_bits
    """


def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-segmentation manifest over the binary corpus: the third
    modality path (image resize / video frame-sample / AUDIO segment)
    — fixed-length waveform windows with a per-segment energy feature
    via Arrow mapInPandas (operators/multimodal.py::segment_audio),
    every segment value-checked against a from-scratch SQL restatement
    (substr windows + md5 digest byte-sum).

    Scale shape: map-only 1→N fan-out inside each Arrow batch (no
    shuffle before the sink); the manifest is what lineage tracks per
    training clip."""
    from northwind_warehouse_spark.operators.multimodal import (
        documents_as_binary, segment_audio,
    )

    d = load(spark, sf_dir, "documents")
    segs = segment_audio(documents_as_binary(d))
    return segs.select(
        "doc_id",
        F.col("seg_idx").cast("bigint").alias("seg_idx"),
        "n_chars", "energy", "seg_md5",
    ).orderBy("doc_id", "seg_idx")


def oracle_multimodal_audio_segments() -> str:
    from northwind_warehouse_spark.operators.multimodal import SEGMENT_LEN

    return f"""
    WITH segs AS (
        SELECT doc_id,
               CAST(generate_subscripts(ls, 1) - 1 AS BIGINT) AS seg_idx,
               unnest(ls) AS seg
        FROM (
            SELECT doc_id,
                   list_transform(generate_series(1, (length(text) + {SEGMENT_LEN - 1}) // {SEGMENT_LEN}),
                       i -> substr(text, (i - 1) * {SEGMENT_LEN} + 1, {SEGMENT_LEN})) AS ls
            FROM documents WHERE length(text) > 0
        )
    )
    SELECT doc_id, seg_idx,
           CAST(length(seg) AS BIGINT) AS n_chars,
           CAST(list_aggregate(
               list_transform(generate_series(1, 16),
                   j -> CAST(('0x' || substr(md5(seg), j * 2 - 1, 2)) AS INT)),
               'sum') AS BIGINT) AS energy,
           md5(seg) AS seg_md5
    FROM segs ORDER BY doc_id, seg_idx
    """


def minhash_seed_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash hash-family health audit: per seed, the distinct
    signature-value count, the null count (docs too short to shingle)
    and the collision rate in exact ppm — a seed whose value space
    collapses (collisions far above its siblings) biases every
    Jaccard estimate that uses it; this is the simhash_bit_balance
    twin for the MinHash family, and the audit that validates the
    md5-slice seed construction (operators/similarity.py::
    minhash_signatures).

    Scale shape: signatures are the map-only fold; the stack is ×8 on
    8 short string columns; one (seed)-grain rollup with a distinct
    (map-side partial) — never touches pair space."""
    d = load(spark, sf_dir, "documents")
    sig = sim.minhash_signatures(sim.shingle_arrays(d))
    stack_expr = "stack(%d, %s) AS (seed, v)" % (
        sim.N_SEEDS,
        ", ".join(f"{s}, mh{s}" for s in range(sim.N_SEEDS)),
    )
    stacked = sig.select(F.expr(stack_expr)).select(
        F.col("seed").cast("bigint").alias("seed"), "v"
    )
    return (
        stacked.groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("v").cast("bigint").alias("n_distinct"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("bigint").alias("n_null"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .withColumn(
            "collision_ppm",
            F.expr(
                "CAST(CAST(n_docs - n_null - n_distinct AS DECIMAL(38,0)) * 1000000"
                " div (n_docs - n_null) AS BIGINT)"
            ),
        )
        .select("seed", "n_docs", "n_distinct", "n_null", "min_v", "max_v", "collision_ppm")
        .orderBy("seed")
    )


def oracle_minhash_seed_uniformity() -> str:
    stacked = "\n        UNION ALL\n".join(
        f"        SELECT {s} AS seed, mh{s} AS v FROM sig" for s in range(sim.N_SEEDS)
    )
    return f"""
    WITH {_SIG_CTE},
    stacked AS (
{stacked}
    ),
    agg AS (
        SELECT CAST(seed AS BIGINT) AS seed,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               min(v) AS min_v,
               max(v) AS max_v
        FROM stacked GROUP BY 1
    )
    SELECT seed, n_docs, n_distinct, n_null, min_v, max_v,
           CAST(CAST(n_docs - n_null - n_distinct AS HUGEINT) * 1000000
                // (n_docs - n_null) AS BIGINT) AS collision_ppm
    FROM agg ORDER BY seed
    """


_SHK_KMV = 256  # bottom-k for the shingle NDV sketch


def shingle_kmv_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit on the corpus: per source, the EXACT
    distinct-shingle count vs the KMV bottom-k estimate
    (operators/sketch.py — (k−1)·2³² div h_(k), pure integer) with the
    signed error in ppm — the calibration run before trusting the
    sketch as the cheap NDV path at corpus scale (where the exact
    distinct is the thing you can no longer afford; below k the sketch
    IS exact, which the small sources here demonstrate).

    Scale shape: one distinct (source, shingle) projection feeds BOTH
    sides (persisted — exact count and hash sketch), the sketch state
    is ≤k rows per source, and the error arithmetic is sign-split
    integer division (Spark div truncates, DuckDB // floors — identical
    only on non-negatives)."""
    from northwind_warehouse_spark.operators.sketch import (
        hash32, kmv_bottom_k, kmv_estimate,
    )

    d = load(spark, sf_dir, "documents")
    sh = sim.shingles(d).join(d.select("doc_id", "source"), "doc_id")
    dist = sh.select("source", "shingle").distinct().persist()
    exact = dist.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    hashes = dist.select("source", hash32("shingle").alias("h")).distinct()
    est = kmv_estimate(kmv_bottom_k(hashes, ["source"], k=_SHK_KMV), ["source"], k=_SHK_KMV)
    return (
        exact.join(est, "source")
        .select(
            "source", "exact_distinct",
            F.col("approx_distinct").cast("bigint").alias("approx_distinct"),
            F.expr(
                "CASE WHEN approx_distinct >= exact_distinct"
                " THEN CAST(CAST(approx_distinct - exact_distinct AS DECIMAL(38,0)) * 1000000"
                "      div exact_distinct AS BIGINT)"
                " ELSE -CAST(CAST(exact_distinct - approx_distinct AS DECIMAL(38,0)) * 1000000"
                "      div exact_distinct AS BIGINT) END"
            ).alias("err_ppm"),
        )
        .orderBy("source")
    )


def oracle_shingle_kmv_error() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    flat AS (
        SELECT DISTINCT d.source, s.shingle
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM sharr) s
        JOIN documents d ON d.doc_id = s.doc_id
    ),
    exact AS (
        SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct FROM flat GROUP BY source
    ),
    hashes AS (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
        FROM flat
    ),
    kept AS (
        SELECT source, h FROM (
            SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
            FROM hashes
        ) WHERE rk <= {_SHK_KMV}
    ),
    est AS (
        SELECT source,
               CAST(CASE WHEN count(*) < {_SHK_KMV} THEN count(*)
                         ELSE ({_SHK_KMV} - 1) * 4294967296 // max(h) END AS BIGINT) AS approx_distinct
        FROM kept GROUP BY source
    )
    SELECT source, exact_distinct, approx_distinct,
           CASE WHEN approx_distinct >= exact_distinct
                THEN CAST(CAST(approx_distinct - exact_distinct AS HUGEINT) * 1000000
                          // exact_distinct AS BIGINT)
                ELSE -CAST(CAST(exact_distinct - approx_distinct AS HUGEINT) * 1000000
                           // exact_distinct AS BIGINT) END AS err_ppm
    FROM exact JOIN est USING (source)
    ORDER BY source
    """


def embedding_exact_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate vector audit: groups of bit-identical (quantized)
    embeddings — the cheap screen for the classic encoder failure modes
    (stuck model emitting one vector, double-ingested shards) that
    cosine near-dup thresholds silently absorb. One md5 signature over
    the quantized array per vector, one signature-grain rollup, a
    single-row report.

    Scale shape: map-only signature projection, one map-side-combined
    groupBy; never touches pair space (the semantic-dup path's job)."""
    e = load(spark, sf_dir, "embeddings")
    sigs = e.select(
        F.expr(
            "md5(array_join(transform(embedding,"
            " x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS STRING)), ','))"
        ).alias("sig")
    )
    groups = sigs.groupBy("sig").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    return groups.agg(
        F.sum("sz").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_vectors"),
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0)).cast("bigint").alias("n_dup_groups"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0)).cast("bigint")
        .alias("n_dup_vectors"),
        F.max("sz").cast("bigint").alias("max_group"),
    ).select(
        "n_vectors", "n_distinct_vectors", "n_dup_groups", "n_dup_vectors", "max_group",
        F.expr("CAST(CAST(n_dup_vectors AS DECIMAL(38,0)) * 1000000 div n_vectors AS BIGINT)")
        .alias("dup_ppm"),
    )


def oracle_embedding_exact_dup_audit() -> str:
    return """
    WITH sigs AS (
        SELECT md5(array_to_string(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), ',')) AS sig
        FROM embeddings
    ), groups AS (
        SELECT sig, CAST(count(*) AS BIGINT) AS sz FROM sigs GROUP BY sig
    )
    SELECT CAST(sum(sz) AS BIGINT) AS n_vectors,
           CAST(count(*) AS BIGINT) AS n_distinct_vectors,
           CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
           CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS n_dup_vectors,
           CAST(max(sz) AS BIGINT) AS max_group,
           CAST(CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS HUGEINT) * 1000000
                // CAST(sum(sz) AS BIGINT) AS BIGINT) AS dup_ppm
    FROM groups
    """


_CTX_LIMITS = (512, 1024, 2048, 4096)  # context-length menu under audit


def context_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length capacity planning: for each candidate training
    context length, the share of documents that fit whole (exact ppm)
    and the token mass lost to truncation — the audit that picks the
    context/packing configuration before a run (sequence_pack then
    executes the chosen budget; this query prices the menu).

    Scale shape: one token-count projection per doc (map-only), a ×4
    explode of two numeric columns, one ≤|limits| rollup."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(n_tokens().alias("toks"))
    limits = F.array(*[F.lit(x) for x in _CTX_LIMITS])
    ex = per_doc.select("toks", F.explode(limits).alias("ctx_limit"))
    return (
        ex.groupBy(F.col("ctx_limit").cast("bigint").alias("ctx_limit"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("toks") <= F.col("ctx_limit"), 1).otherwise(0))
            .cast("bigint").alias("n_fit"),
            F.sum("toks").cast("bigint").alias("tokens_total"),
            F.sum(F.expr("CASE WHEN toks > ctx_limit THEN toks - ctx_limit ELSE 0 END"))
            .cast("bigint").alias("tokens_lost"),
        )
        .select(
            "ctx_limit", "n_docs", "n_fit", "tokens_total", "tokens_lost",
            F.expr("CAST(CAST(n_fit AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)")
            .alias("fit_ppm"),
            F.expr("CAST(CAST(tokens_lost AS DECIMAL(38,0)) * 1000000 div tokens_total AS BIGINT)")
            .alias("lost_ppm"),
        )
        .orderBy("ctx_limit")
    )


def oracle_context_fit_audit() -> str:
    limits = ", ".join(str(x) for x in _CTX_LIMITS)
    return f"""
    WITH per_doc AS (
        SELECT len(string_split(text, ' ')) AS toks FROM documents
    ), ex AS (
        SELECT CAST(t.lim AS BIGINT) AS ctx_limit, toks
        FROM per_doc CROSS JOIN (SELECT unnest([{limits}]) AS lim) t
    )
    SELECT ctx_limit,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN toks <= ctx_limit THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
           CAST(sum(toks) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN toks > ctx_limit THEN toks - ctx_limit ELSE 0 END) AS BIGINT) AS tokens_lost,
           CAST(CAST(sum(CASE WHEN toks <= ctx_limit THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
                // count(*) AS BIGINT) AS fit_ppm,
           CAST(CAST(sum(CASE WHEN toks > ctx_limit THEN toks - ctx_limit ELSE 0 END) AS HUGEINT) * 1000000
                // CAST(sum(toks) AS BIGINT) AS BIGINT) AS lost_ppm
    FROM ex GROUP BY ctx_limit ORDER BY ctx_limit
    """


_HN_LO, _HN_HI = 4, 8  # hard-negative rank band (past the top-3 positives)


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per
    query vector, the cell-local neighbors ranked just PAST the
    positive band (cosine ranks 4–8 within the query's IVF cell) — the
    standard recipe (near-but-not-nearest = hard negatives) producing
    the (query, negative) manifest a contrastive trainer consumes.
    Same bounded candidate shape AND same TRAINED index as
    ann_ivf_topk (the negative band is defined relative to the
    positives that index emits, so the two queries must share one
    codebook — round-8): cell assignment is map-only over the trained
    k-row codebook, the search never leaves the query's cell.

    Scale shape: broadcast query batch against the cell-partitioned
    corpus, per-query top-k window over a cell-bounded candidate set;
    never all-pairs."""
    e = load(spark, sf_dir, "embeddings")
    from northwind_warehouse_spark.functions.vectors import cosine_from_parts, dot_q

    cb = _trained_cb(spark, sf_dir, IVF_N_CENTROIDS)
    assigned = sim.ivf_assign(e, n_centroids=IVF_N_CENTROIDS, centroids=cb)
    q = assigned.filter(
        (F.col("vec_id") >= _IVF_QUERY_LO) & (F.col("vec_id") < _IVF_QUERY_HI)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn2"),
        F.col("cell_id").alias("qcell"),
    )
    cand = assigned.join(
        maybe_broadcast(q),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("negative_id"),
        dot_q("qvec", "embedding").alias("dot"),
        F.col("qn2").alias("n2a"),
        F.col("n2").alias("n2b"),
    ).withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("negative_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") >= _HN_LO) & (F.col("rk") <= _HN_HI))
        .select(
            "query_id", "negative_id", "cosine",
            (F.col("rk") - _HN_LO + 1).cast("bigint").alias("hn_rank"),
        )
        .orderBy("query_id", "hn_rank")
    )


def oracle_hard_negative_mining() -> str:
    return f"""
    WITH {_o_trained_cb_sql(str(IVF_N_CENTROIDS))},
    cbn1 AS (
        SELECT j, CAST(sum(w * w) AS BIGINT) AS cn2 FROM cb1 GROUP BY j
    ),
    pdot AS (
        SELECT a.vec_id, c.j AS cent_id, CAST(sum(a.xq * c.w) AS BIGINT) AS dot
        FROM q a JOIN cb1 c ON c.i = a.i
        GROUP BY a.vec_id, c.j
    ),
    pcos AS (
        SELECT d.vec_id, d.cent_id,
               CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(cc.cn2 AS DOUBLE)) AS cos
        FROM pdot d
        JOIN n2 na ON na.vec_id = d.vec_id
        JOIN cbn1 cc ON cc.j = d.cent_id
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rk
            FROM pcos
        ) WHERE rk = 1
    ),
    pairs AS (
        SELECT qa.vec_id AS query_id, ca.vec_id AS negative_id
        FROM assign qa JOIN assign ca
          ON ca.cell_id = qa.cell_id AND ca.vec_id <> qa.vec_id
        WHERE qa.vec_id >= {_IVF_QUERY_LO} AND qa.vec_id < {_IVF_QUERY_HI}
    ),
    dots AS (
        SELECT p.query_id, p.negative_id, CAST(sum(a.xq * b.xq) AS BIGINT) AS dot
        FROM pairs p
        JOIN q a ON a.vec_id = p.query_id
        JOIN q b ON b.vec_id = p.negative_id AND b.i = a.i
        GROUP BY p.query_id, p.negative_id
    ),
    scored AS (
        SELECT query_id, negative_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 na ON na.vec_id = query_id
        JOIN n2 nb ON nb.vec_id = negative_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, negative_id) AS rk
        FROM scored
    )
    SELECT query_id, negative_id, cosine,
           CAST(rk - {_HN_LO} + 1 AS BIGINT) AS hn_rank
    FROM ranked WHERE rk BETWEEN {_HN_LO} AND {_HN_HI}
    ORDER BY query_id, hn_rank
    """


_TPL_PREFIX_TOKENS = 8  # tokens hashed as the template key


def template_family_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-spam detection: documents sharing an identical
    first-8-token prefix form a TEMPLATE FAMILY (mail-merge spam, SEO
    boilerplate, log lines); the profile buckets families into log2
    size bands with doc counts and corpus share — the corpus-level
    complement of boilerplate_prune (line-grain df) and
    dedup_prefix_truncation (pair-grain): here the deliverable is the
    family-size distribution a curation run alerts on.

    Scale shape: map-only prefix hash per doc, one family rollup, one
    ≤ ~40-row band rollup; never pair space."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    fam = (
        d.select(
            F.expr(
                f"md5(concat_ws(' ', slice(split(text, ' '), 1, {_TPL_PREFIX_TOKENS})))"
            ).alias("tpl")
        )
        .groupBy("tpl")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") >= 2)
    )
    hdr = (
        fam.withColumn("sz_band", F.expr("CAST(length(bin(sz)) - 1 AS INT)"))
        .groupBy("sz_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_families"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.max("sz").cast("bigint").alias("max_family"),
        )
    )
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    return (
        hdr.crossJoin(F.broadcast(tot))
        .select(
            "sz_band", "n_families", "n_docs", "max_family",
            F.expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div n_corpus AS BIGINT)")
            .alias("corpus_share_ppm"),
        )
        .orderBy("sz_band")
    )


def oracle_template_family_profile() -> str:
    return f"""
    WITH fam AS (
        SELECT md5(array_to_string(string_split(text, ' ')[1:{_TPL_PREFIX_TOKENS}], ' ')) AS tpl,
               count(*) AS sz
        FROM documents GROUP BY 1
        HAVING count(*) >= 2
    ), hdr AS (
        SELECT CAST(length(bin(sz)) - 1 AS INT) AS sz_band,
               CAST(count(*) AS BIGINT) AS n_families,
               CAST(sum(sz) AS BIGINT) AS n_docs,
               CAST(max(sz) AS BIGINT) AS max_family
        FROM fam GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents
    )
    SELECT sz_band, n_families, n_docs, max_family,
           CAST(CAST(n_docs AS HUGEINT) * 1000000 // n_corpus AS BIGINT) AS corpus_share_ppm
    FROM hdr, tot ORDER BY sz_band
    """


_SPAN_STRIDE = 7   # a span starts every 7 tokens...
_SPAN_PHASE = 3    # ...at positions ≡ 3 (mod 7), 1-based
_SPAN_LEN = 3      # ...and masks 3 tokens


def span_corruption_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption manifest: deterministic masking of
    3-token spans on a fixed stride (positions ≡ 3 mod 7), emitting per
    doc the masked-token count, the exact mask ratio and a digest of
    the corrupted text — the pretraining-objective data prep expressed
    as pure higher-order-function list algebra (a seeded-random masker
    swaps only the position rule; the manifest/digest contract is what
    the training pipeline checks).

    Scale shape: map-only per-doc list transform (no explode), digest
    folds the corrupted token list in place."""
    d = load(spark, sf_dir, "documents")
    in_span = (
        f"(((i - 1) % {_SPAN_STRIDE}) >= {_SPAN_PHASE - 1}"
        f" AND ((i - 1) % {_SPAN_STRIDE}) < {_SPAN_PHASE - 1 + _SPAN_LEN})"
    )
    return (
        d.select(
            "doc_id",
            F.split("text", " ").alias("w"),
        )
        .select(
            "doc_id",
            F.expr("CAST(size(w) AS BIGINT)").alias("n_tokens"),
            F.expr(
                f"CAST(size(filter(sequence(1, size(w)), i -> {in_span})) AS BIGINT)"
            ).alias("n_masked"),
            F.expr(
                f"md5(concat_ws(' ', transform(sequence(1, size(w)),"
                f" i -> CASE WHEN {in_span} THEN '<MASK>' ELSE element_at(w, i) END)))"
            ).alias("corrupted_md5"),
        )
        .withColumn(
            "mask_ppm",
            F.expr("CAST(CAST(n_masked AS DECIMAL(38,0)) * 1000000 div n_tokens AS BIGINT)"),
        )
        .orderBy("doc_id")
    )


def oracle_span_corruption_manifest() -> str:
    in_span = (
        f"(((i - 1) % {_SPAN_STRIDE}) >= {_SPAN_PHASE - 1}"
        f" AND ((i - 1) % {_SPAN_STRIDE}) < {_SPAN_PHASE - 1 + _SPAN_LEN})"
    )
    return f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(generate_series(1, len(w)), i -> {in_span})) AS BIGINT) AS n_masked,
           md5(array_to_string(list_transform(generate_series(1, len(w)),
               i -> CASE WHEN {in_span} THEN '<MASK>' ELSE w[i] END), ' ')) AS corrupted_md5,
           CAST(CAST(len(list_filter(generate_series(1, len(w)), i -> {in_span})) AS HUGEINT)
                * 1000000 // len(w) AS BIGINT) AS mask_ppm
    FROM w ORDER BY doc_id
    """


_SFT_PROMPT_TOKENS = 16
_SFT_MIN_COMPLETION_TOKENS = 8
# sft_pair_manifest's size(split(text)) filter equals the oracle's
# completion-length filter only at >= 2 (split('') has size 1)
assert _SFT_MIN_COMPLETION_TOKENS >= 2


def sft_pair_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT (prompt, completion) pair synthesis from raw documents: the
    first 16 tokens become the prompt, the remainder the completion —
    the self-supervised continuation objective every instruction-tuning
    bootstrap starts from — with token accounting, a completion-share
    ratio, and digests of both sides so the pair construction is
    value-checked end to end. Pairs with thin completions (< 8 tokens)
    are dropped, mirroring real SFT filters.

    Scale shape: map-only token split + list algebra per row (no
    explode), one post-filter; streams verbatim if deployed on ingest."""
    d = load(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.expr(
            f"array_join(slice(split(text, ' '), 1, {_SFT_PROMPT_TOKENS}), ' ')"
        ).alias("prompt"),
        F.expr(
            f"array_join(slice(split(text, ' '), {_SFT_PROMPT_TOKENS + 1},"
            f" greatest(size(split(text, ' ')) - {_SFT_PROMPT_TOKENS}, 0)), ' ')"
        ).alias("completion"),
    ).filter(
        # equivalent to size(split(completion,' ')) >= MIN (r14, the
        # milder inferred-filter class): completion is join(slice(w,
        # PROMPT+1, ...), ' ') of w = split(text), and space-split
        # tokens cannot contain spaces, so the join/split round trip is
        # token-count-lossless: size(split(completion)) = size(w) -
        # PROMPT when size(w) > PROMPT, else completion = '' whose
        # split has size 1 < MIN (MIN >= 2) — both sides of the
        # equivalence reject. Stated on split(text) directly, the
        # pushed-down filter evaluates ONE split per row instead of
        # three (plan before: size(split(array_join(slice(split(text)
        # ...)))) with split(text) twice). Oracle unchanged — results
        # proven identical by the t2 value compare.
        F.expr("size(split(text, ' '))")
        >= _SFT_PROMPT_TOKENS + _SFT_MIN_COMPLETION_TOKENS
    )
    return (
        pairs.select(
            "doc_id",
            F.expr("CAST(size(split(prompt, ' ')) AS BIGINT)").alias("prompt_tokens"),
            F.expr("CAST(size(split(completion, ' ')) AS BIGINT)").alias("completion_tokens"),
            F.md5("prompt").alias("prompt_md5"),
            F.md5("completion").alias("completion_md5"),
        )
        .withColumn(
            "completion_share_ppm",
            F.expr(
                "CAST(CAST(completion_tokens AS DECIMAL(38,0)) * 1000000"
                " div (prompt_tokens + completion_tokens) AS BIGINT)"
            ),
        )
        .orderBy("doc_id")
    )


def oracle_sft_pair_manifest() -> str:
    return f"""
    WITH pairs AS (
        SELECT doc_id,
               array_to_string(string_split(text, ' ')[1:{_SFT_PROMPT_TOKENS}], ' ') AS prompt,
               array_to_string(string_split(text, ' ')[{_SFT_PROMPT_TOKENS + 1}:], ' ') AS completion
        FROM documents
    )
    SELECT doc_id,
           CAST(len(string_split(prompt, ' ')) AS BIGINT) AS prompt_tokens,
           CAST(len(string_split(completion, ' ')) AS BIGINT) AS completion_tokens,
           md5(prompt) AS prompt_md5,
           md5(completion) AS completion_md5,
           CAST(CAST(len(string_split(completion, ' ')) AS HUGEINT) * 1000000
                // (len(string_split(prompt, ' ')) + len(string_split(completion, ' '))) AS BIGINT)
               AS completion_share_ppm
    FROM pairs
    WHERE len(string_split(completion, ' ')) >= {_SFT_MIN_COMPLETION_TOKENS}
    ORDER BY doc_id
    """


def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-redundancy matrix: pairwise Jaccard of the sources'
    vocabulary SETS (distinct tokens) in exact ppm — the set-overlap
    complement of source_vocab_tv_distance (which measures
    distributional distance over the shared vocabulary): high Jaccard
    with high TV distance means same words, different mixture; low
    Jaccard means genuinely disjoint domains.

    Scale shape: one distinct (source, token) projection (persisted —
    marginals and the intersection self-join share it); the
    intersection join shuffles on token; the output is the
    ≤|sources|² pair matrix."""
    d = load(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .persist()
    )
    marg = st.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    ma = marg.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(maybe_broadcast(ma), "src_a")
        .join(maybe_broadcast(mb), "src_b")
        .select(
            "src_a", "src_b", "n_a", "n_b", "n_common",
            F.expr(
                "CAST(CAST(n_common AS DECIMAL(38,0)) * 1000000"
                " div (n_a + n_b - n_common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


def oracle_source_vocab_jaccard() -> str:
    return """
    WITH st AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), marg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY source
    ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           ma.n AS n_a, mb.n AS n_b, n_common,
           CAST(CAST(n_common AS HUGEINT) * 1000000 // (ma.n + mb.n - n_common) AS BIGINT)
               AS jaccard_ppm
    FROM inter
    JOIN marg ma ON ma.source = src_a
    JOIN marg mb ON mb.source = src_b
    ORDER BY src_a, src_b
    """


def lang_charset_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label/content consistency screen: per LANGUAGE LABEL, the
    corpus-weighted alpha/digit composition and the count of docs whose
    text is mostly non-alphabetic (2·alpha < chars) — a language label
    on number-table or markup content is a mislabel, and this is the
    cheap cross-check of the lang column against the bytes it claims
    to describe (composes charset_counts with the label the lang_id
    family audits from the other side).

    Scale shape: the map-only charset projection, one ≤|langs|
    rollup."""
    per_doc = charset_counts(load(spark, sf_dir, "documents"))
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("n_alpha").cast("bigint").alias("n_alpha"),
            F.sum("n_digit").cast("bigint").alias("n_digit"),
            F.sum(F.when(F.expr("n_alpha * 2 < n_chars"), 1).otherwise(0))
            .cast("bigint").alias("n_nonalpha_docs"),
        )
        .select(
            "lang", "n_docs", "n_nonalpha_docs",
            F.expr("CAST(CAST(n_alpha AS DECIMAL(38,0)) * 1000000 div n_chars AS BIGINT)")
            .alias("alpha_ppm"),
            F.expr("CAST(CAST(n_digit AS DECIMAL(38,0)) * 1000000 div n_chars AS BIGINT)")
            .alias("digit_ppm"),
            F.expr("CAST(CAST(n_nonalpha_docs AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)")
            .alias("nonalpha_doc_ppm"),
        )
        .orderBy("lang")
    )


def oracle_lang_charset_consistency() -> str:
    return """
    WITH per_doc AS (
        SELECT doc_id, lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
        FROM documents
    ), agg AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(n_alpha) AS BIGINT) AS n_alpha,
               CAST(sum(n_digit) AS BIGINT) AS n_digit,
               CAST(sum(CASE WHEN n_alpha * 2 < n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_nonalpha_docs
        FROM per_doc GROUP BY lang
    )
    SELECT lang, n_docs, n_nonalpha_docs,
           CAST(CAST(n_alpha AS HUGEINT) * 1000000 // n_chars AS BIGINT) AS alpha_ppm,
           CAST(CAST(n_digit AS HUGEINT) * 1000000 // n_chars AS BIGINT) AS digit_ppm,
           CAST(CAST(n_nonalpha_docs AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS nonalpha_doc_ppm
    FROM agg ORDER BY lang
    """


_GATE_MIN_TOKENS = 20
_GATE_MIN_STOP_X20 = 1      # stopwords * 20 >= tokens  ⇔  share ≥ 5%
_GATE_MAX_DUP_PPM = 300000  # trigram dup fraction ≤ 30%


def quality_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-ablation attribution for the curation funnel: per quality
    gate (length ≥ 20 tokens, stopword share ≥ 5%, trigram-dup fraction
    ≤ 30%), the TOTAL failure count and the UNIQUE failure count (docs
    only this gate rejects — every other gate passes them) — the
    statistic that tells you which gate carries marginal signal and
    which is redundant, which curation_funnel_report's SEQUENTIAL
    stage counts cannot (order hides attribution).

    Scale shape: all three gate booleans in one map pass (token/list
    algebra per row), one conditional aggregation, a 3-row stack. The
    token array and the trigram array are STAGED through their own
    projections (Catalyst's CollapseProject keeps a non-cheap
    expression staged when the upper projection references it more
    than once), so split(text) is evaluated once per row instead of
    ~8 times and the trigram transform once instead of twice —
    same values, same oracle."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.expr("split(text, ' ')").alias("t"))
    staged = toks.select(
        F.expr("size(t)").alias("n"),
        F.expr(
            "size(filter(t,"
            " x -> x IN ('the','a','of','and','to','in','is','on','for','with')))"
        ).alias("n_stop"),
        F.expr(
            "CASE WHEN size(t) < 3 THEN array('') ELSE"
            " transform(sequence(0, size(t) - 3),"
            "   i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END"
        ).alias("tri"),
    )
    flags = staged.select(
        F.expr(f"n >= {_GATE_MIN_TOKENS}").alias("p_len"),
        F.expr(f"{ _GATE_MIN_STOP_X20 } * n_stop * 20 >= n").alias("p_stop"),
        F.expr(
            "CASE WHEN n < 3 THEN true ELSE"
            " CAST(size(tri) - size(array_distinct(tri)) AS DECIMAL(38,0))"
            f" * 1000000 div (n - 2)"
            f" <= {_GATE_MAX_DUP_PPM} END"
        ).alias("p_rep"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(~F.col("p_len"), 1).otherwise(0)).cast("bigint").alias("f_len"),
        F.sum(F.when(~F.col("p_stop"), 1).otherwise(0)).cast("bigint").alias("f_stop"),
        F.sum(F.when(~F.col("p_rep"), 1).otherwise(0)).cast("bigint").alias("f_rep"),
        F.sum(F.when(~F.col("p_len") & F.col("p_stop") & F.col("p_rep"), 1).otherwise(0))
        .cast("bigint").alias("u_len"),
        F.sum(F.when(F.col("p_len") & ~F.col("p_stop") & F.col("p_rep"), 1).otherwise(0))
        .cast("bigint").alias("u_stop"),
        F.sum(F.when(F.col("p_len") & F.col("p_stop") & ~F.col("p_rep"), 1).otherwise(0))
        .cast("bigint").alias("u_rep"),
    )
    return agg.select(
        F.expr(
            "stack(3,"
            " 'length_min20', f_len, u_len, n_docs,"
            " 'repetition_dup30', f_rep, u_rep, n_docs,"
            " 'stopword_share5', f_stop, u_stop, n_docs"
            ") AS (gate, n_fail, n_fail_unique, n_docs)"
        )
    ).select(
        "gate", "n_docs", "n_fail", "n_fail_unique",
        F.expr("CAST(CAST(n_fail AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)")
        .alias("fail_ppm"),
    ).orderBy("gate")


def oracle_quality_gate_ablation() -> str:
    return f"""
    WITH flags AS (
        SELECT len(string_split(text, ' ')) >= {_GATE_MIN_TOKENS} AS p_len,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) * 20
                   >= len(string_split(text, ' ')) AS p_stop,
               CASE WHEN len(string_split(text, ' ')) < 3 THEN true ELSE
                 CAST(len(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
                        i -> concat_ws(' ', string_split(text, ' ')[i],
                                       string_split(text, ' ')[i+1], string_split(text, ' ')[i+2])))
                      - len(list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
                        i -> concat_ws(' ', string_split(text, ' ')[i],
                                       string_split(text, ' ')[i+1], string_split(text, ' ')[i+2])))) AS HUGEINT)
                 * 1000000 // (len(string_split(text, ' ')) - 2) <= {_GATE_MAX_DUP_PPM} END AS p_rep
        FROM documents
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN NOT p_len THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
               CAST(sum(CASE WHEN NOT p_stop THEN 1 ELSE 0 END) AS BIGINT) AS f_stop,
               CAST(sum(CASE WHEN NOT p_rep THEN 1 ELSE 0 END) AS BIGINT) AS f_rep,
               CAST(sum(CASE WHEN NOT p_len AND p_stop AND p_rep THEN 1 ELSE 0 END) AS BIGINT) AS u_len,
               CAST(sum(CASE WHEN p_len AND NOT p_stop AND p_rep THEN 1 ELSE 0 END) AS BIGINT) AS u_stop,
               CAST(sum(CASE WHEN p_len AND p_stop AND NOT p_rep THEN 1 ELSE 0 END) AS BIGINT) AS u_rep
        FROM flags
    ), rows_out AS (
        SELECT 'length_min20' AS gate, n_docs, f_len AS n_fail, u_len AS n_fail_unique FROM agg
        UNION ALL SELECT 'repetition_dup30', n_docs, f_rep, u_rep FROM agg
        UNION ALL SELECT 'stopword_share5', n_docs, f_stop, u_stop FROM agg
    )
    SELECT gate, n_docs, n_fail, n_fail_unique,
           CAST(CAST(n_fail AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS fail_ppm
    FROM rows_out ORDER BY gate
    """


def chunk_position_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional duplication profile over the chunk corpus: for each
    chunk position band (0, 1, 2, 3+ = least(chunk_idx, 3)), the share
    of chunks whose text also appears in ANOTHER document — template
    headers and footers duplicate far more than body positions, and
    this profile is how a chunk-grain dedup decides to treat leading
    chunks differently (the positional complement of dedup_chunks'
    flat duplicate list).

    Scale shape: chunk fan-out is the chunking op's own (stride-
    bounded); one hash(chunk_md5) rollup for cross-doc counts; the
    band rollup is 4 rows."""
    ch = chunk_documents(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr("CAST(least(chunk_idx, 3) AS BIGINT)").alias("pos_band"),
        F.md5("chunk_text").alias("h"),
    )
    groups = ch.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        ch.join(groups, "h")
        .groupBy("pos_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("bigint")
            .alias("n_cross_doc_dup"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("CAST(CAST(n_cross_doc_dup AS DECIMAL(38,0)) * 1000000 div n_chunks AS BIGINT)"),
        )
        .orderBy("pos_band")
    )


def oracle_chunk_position_dup_profile() -> str:
    return f"""
    WITH {_CHUNK_CTE},
    ch AS (
        SELECT doc_id,
               CAST(least(chunk_idx, 3) AS BIGINT) AS pos_band,
               md5(chunk_text) AS h
        FROM chunks
    ),
    groups AS (
        SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h
    )
    SELECT pos_band,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_doc_dup,
           CAST(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
                // count(*) AS BIGINT) AS dup_ppm
    FROM ch JOIN groups USING (h)
    GROUP BY pos_band ORDER BY pos_band
    """


def ann_margin_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-confidence profile: per query, the cosine MARGIN between
    its exact 1st and 2nd nearest neighbors (floored to exact ppm) —
    a thin margin means the top neighbor is not meaningfully better
    than the runner-up, so semantic-dedup verdicts and kNN labels for
    that query are fragile; the per-query confidence companion to the
    recall gates (which score the index, not the data).

    Scale shape: reuses the brute-force top-k (broadcast query batch,
    one corpus scan); the pivot to (top1, top2) is a 10-row
    conditional aggregation."""
    t = ann_cosine_topk(spark, sf_dir)
    return (
        t.filter(F.col("nn_rank") <= 2)
        .groupBy("query_id")
        .agg(
            F.max(F.when(F.col("nn_rank") == 1, F.col("cosine"))).alias("cos_top1"),
            F.max(F.when(F.col("nn_rank") == 2, F.col("cosine"))).alias("cos_top2"),
        )
        .withColumn(
            "margin_ppm",
            F.expr("CAST(floor((cos_top1 - cos_top2) * 1000000) AS BIGINT)"),
        )
        .orderBy("query_id")
    )


def oracle_ann_margin_profile() -> str:
    inner = oracle_ann_cosine_topk()
    return f"""
    WITH t AS ({inner})
    SELECT query_id,
           max(CASE WHEN nn_rank = 1 THEN cosine END) AS cos_top1,
           max(CASE WHEN nn_rank = 2 THEN cosine END) AS cos_top2,
           CAST(floor((max(CASE WHEN nn_rank = 1 THEN cosine END)
                       - max(CASE WHEN nn_rank = 2 THEN cosine END)) * 1000000) AS BIGINT)
               AS margin_ppm
    FROM t WHERE nn_rank <= 2
    GROUP BY query_id ORDER BY query_id
    """


_KFOLD_K = 5


def kfold_assignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment with its balance audit: every
    document lands in one of 5 folds by md5 lottery (stable across
    runs and machines — the property cross-validation needs so fold i
    is THE SAME fold in every experiment), and the audit reports each
    (source, fold) cell's share with its signed deviation from the
    ideal 1/k — per-source balance is what makes per-fold metrics
    comparable. The k-fold protocol complement of train_val_test_split
    (holdout) and quality_stratified_sample (stratified draw).

    Scale shape: map-only fold hash, one (source, fold) map-side-
    combined rollup, shares via windows over the ≤|sources|·k
    aggregate."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    folds = d.select(
        "source",
        F.expr(
            f"pmod(CAST(conv(substring(md5(concat('fold|', CAST(doc_id AS STRING))), 1, 8),"
            f" 16, 10) AS BIGINT), {_KFOLD_K})"
        ).cast("bigint").alias("fold"),
    )
    agg = folds.groupBy("source", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("source")
    return (
        agg.withColumn("_tot", F.sum("n_docs").over(w))
        .select(
            "source", "fold", "n_docs",
            F.expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div _tot AS BIGINT)")
            .alias("share_ppm"),
            F.expr(
                f"CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div _tot"
                f" - 1000000 div {_KFOLD_K} AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("source", "fold")
    )


def oracle_kfold_assignment_audit() -> str:
    return f"""
    WITH folds AS (
        SELECT source,
               CAST(('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {_KFOLD_K} AS fold
        FROM documents
    ), agg AS (
        SELECT source, CAST(fold AS BIGINT) AS fold, CAST(count(*) AS BIGINT) AS n_docs
        FROM folds GROUP BY source, fold
    )
    SELECT source, fold, n_docs,
           CAST(CAST(n_docs AS HUGEINT) * 1000000
                // CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS BIGINT) AS share_ppm,
           CAST(CAST(n_docs AS HUGEINT) * 1000000
                // CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
                - 1000000 // {_KFOLD_K} AS BIGINT) AS dev_ppm
    FROM agg ORDER BY source, fold
    """


# ---------------------------------------------------------------------------
# Round-7 addition: trained IVF coarse quantizer (round-6 verdict #8)
# ---------------------------------------------------------------------------

_IVF_TRAIN_ROUNDS = 2
_IVF_TRAIN_PPM = 250_000  # deterministic 25% md5-lottery training sample
# conservative in-memory bytes per codebook ELEMENT row (j, i, w + row
# overhead) for the parameter-derived broadcast gate on the update join
_CB_EL_EST_BYTES = 64
_IVF_TRAIN_LOT = (
    "CAST(conv(substring(md5(concat('ivftr|', CAST(vec_id AS STRING))), 1, 8), 16, 10)"
    " AS BIGINT) % 1000000"
)
_O_IVF_TRAIN_LOT = (
    "CAST(('0x' || substr(md5('ivftr|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 1000000"
)


def ivf_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF coarse quantizer: Lloyd (k-means) refinement of the
    IVF centroid codebook over a deterministic 25% training sample —
    closing the "deterministic first-k sample as codebook" gap the PQ
    path already closed for subspace codebooks (pq_train_rounds). Each
    round assigns every TRAINING vector to its nearest centroid
    (argmin exact-integer squared L2 over the quantized elements, ties
    to the lowest centroid id), recomputes each non-empty centroid as
    the element-wise integer floor-mean of its assignees (empty cells
    keep their old centroid), and reports total distortion at
    assignment time and after the update. One row per round.

    The k-means descent invariant is exact in integers and asserted in
    tests (same contract as pq_train_rounds):
    dist_assign[r+1] <= dist_updated[r], and dist_updated[r] <=
    dist_assign[r] + E where E is the training element-row count (the
    FLOOR-mean slack vs the real-valued optimum).

    Scale shape per round: the element-grain TRAINING table (a fixed
    ppm lottery of the corpus — codebook training needs a sample, not
    the corpus) is computed once and persisted across rounds; the
    codebook stays a k·dim-row DataFrame (never collected) that
    broadcasts into the assignment join; per-centroid means are
    map-side-combined aggregates.

    Relationship to the PRODUCTION trainer (round 8): the serving
    paths train with operators/similarity.py::ivf_train_codebook —
    spherical k-means under the SERVING metric (cosine) and the
    serving two-level route, because a vector should train toward the
    centroid it will be routed to. THIS query deliberately keeps the
    L2 objective: squared-L2 Lloyd has the exact integer monotone-
    descent invariant the test asserts (cosine Lloyd has no such exact
    per-round certificate), so it remains the verifiable-descent
    demonstration while _trained_cb serves the indexes."""
    e = load(spark, sf_dir, "embeddings")
    el = (
        e.filter(F.expr(_IVF_TRAIN_LOT) < _IVF_TRAIN_PPM)
        .select("vec_id", F.expr(
            "posexplode(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"
        ).alias("i0", "xq"))
        .select("vec_id", (F.col("i0") + 1).alias("i"), "xq")
        .persist()
    )
    cb_el = (
        e.filter(F.col("vec_id") < IVF_N_CENTROIDS)
        .select(F.col("vec_id").alias("j"), F.expr(
            "posexplode(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"
        ).alias("i0", "w"))
        .select("j", (F.col("i0") + 1).alias("i"), "w")
    )
    rows = []
    for r in range(_IVF_TRAIN_ROUNDS):
        subd = (
            # rows-gated BY PARAMETER (r13): cb_el is k·dim rows (the
            # newc_hinted discipline below) — the posexplode lineage's
            # estimate (~8e10) silently declined this into an SMJ.
            el.join(maybe_broadcast_rows(cb_el, IVF_N_CENTROIDS * 64,
                                         row_bytes=_CB_EL_EST_BYTES), "i")
            .groupBy("vec_id", "j")
            .agg(F.expr("CAST(sum((xq - w) * (xq - w)) AS BIGINT)").alias("d"))
        )
        best = (
            subd.groupBy("vec_id")
            .agg(F.min(F.struct("d", "j")).alias("b"))
            .select("vec_id", F.col("b.d").alias("d"), F.col("b.j").alias("j"))
        )
        # per-round persists (r13): same consumer fan-out as
        # pq_train_rounds (see the note there). Session-pair A/B:
        # 2.63/2.71s → 0.97/1.80s warm med-of-5, checksums identical.
        best = best.persist()
        dist_assign = best.agg(F.expr("CAST(sum(d) AS BIGINT)").alias("dist_assign"))
        ael = el.join(best.select("vec_id", "j"), "vec_id")
        newc = ael.groupBy("j", "i").agg(
            F.expr(
                f"CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) div count(*) - {_PQ_XQ_OFF} AS BIGINT)"
            ).alias("w")
        )
        # newc is k·dim rows BY PARAMETER (per-centroid means) — hint it
        # so the codebook update never plans an SMJ over a 512-row
        # relation, but gate the hint on parameter-derived bytes (the
        # ivf_assign_two_level pattern, round-7 verdict #5): if
        # IVF_N_CENTROIDS is ever switched to the occupancy-scaled
        # policy (k ∝ n/128) the same code must degrade to AQE's choice
        # instead of hard-hinting a GB-sized relation.
        from northwind_warehouse_spark.operators.joins import MAX_BROADCAST_BYTES

        newc_hinted = (
            F.broadcast(newc)
            if IVF_N_CENTROIDS * 64 * _CB_EL_EST_BYTES <= MAX_BROADCAST_BYTES
            else newc
        )
        cb_next = (
            cb_el.select("j", "i", F.col("w").alias("w_old"))
            .join(newc_hinted, ["j", "i"], "left")
            .select("j", "i", F.coalesce("w", "w_old").alias("w"))
        )
        cb_next = cb_next.persist()
        dist_updated = ael.join(
            maybe_broadcast_rows(cb_next, IVF_N_CENTROIDS * 64,
                                 row_bytes=_CB_EL_EST_BYTES), ["j", "i"]).agg(
            F.expr("CAST(sum((xq - w) * (xq - w)) AS BIGINT)").alias("dist_updated")
        )
        rows.append(
            dist_assign.crossJoin(dist_updated).select(
                F.lit(r).cast("bigint").alias("round"), "dist_assign", "dist_updated"
            )
        )
        cb_el = cb_next
    out = rows[0]
    for rw in rows[1:]:
        out = out.unionByName(rw)
    return out.orderBy("round")


def oracle_ivf_train_rounds() -> str:
    parts = [f"""
    train AS (
        SELECT vec_id FROM embeddings
        WHERE {_O_IVF_TRAIN_LOT} < {_IVF_TRAIN_PPM}
    ), el AS (
        SELECT e.vec_id,
               CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
               generate_subscripts(e.embedding, 1) AS i
        FROM embeddings e JOIN train t ON t.vec_id = e.vec_id
    ), cb0 AS (
        SELECT vec_id AS j,
               generate_subscripts(embedding, 1) AS i,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS w
        FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}
    )"""]
    for r in range(_IVF_TRAIN_ROUNDS):
        parts.append(f""",
    subd{r} AS (
        SELECT a.vec_id, c.j,
               CAST(sum((a.xq - c.w) * (a.xq - c.w)) AS BIGINT) AS d
        FROM el a JOIN cb{r} c ON a.i = c.i
        GROUP BY a.vec_id, c.j
    ), best{r} AS (
        SELECT vec_id, d, j FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
            FROM subd{r}) WHERE rn = 1
    ), ael{r} AS (
        SELECT e.vec_id, e.i, e.xq, b.j
        FROM el e JOIN best{r} b ON e.vec_id = b.vec_id
    ), newc{r} AS (
        SELECT j, i,
               CAST((sum(xq) + {_PQ_XQ_OFF} * count(*)) // count(*) - {_PQ_XQ_OFF} AS BIGINT) AS w
        FROM ael{r} GROUP BY j, i
    ), cb{r + 1} AS (
        SELECT c.j, c.i, coalesce(n.w, c.w) AS w
        FROM cb{r} c LEFT JOIN newc{r} n ON c.j = n.j AND c.i = n.i
    ), stat{r} AS (
        SELECT CAST({r} AS BIGINT) AS round,
               (SELECT CAST(sum(d) AS BIGINT) FROM best{r}) AS dist_assign,
               (SELECT CAST(sum((a.xq - c.w) * (a.xq - c.w)) AS BIGINT)
                FROM ael{r} a JOIN cb{r + 1} c ON a.i = c.i AND a.j = c.j) AS dist_updated
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM stat{r}" for r in range(_IVF_TRAIN_ROUNDS))
    return (
        "WITH " + "".join(parts)
        + f" SELECT round, dist_assign, dist_updated FROM ({union}) ORDER BY round"
    )
