"""Near-duplicate detection and similarity search (SURVEY.md §2C).

Spark-first designs for the 100 TB regime:

- **MinHash-LSH** — signatures via one explode + groupBy (map-side
  partial min() per seed), candidates via band-bucket equi-self-join:
  never materializes the O(n²) pair space. Hash family = md5 hex strings
  (lexicographic min), portable to any engine.
- **SimHash** — bit-vote fingerprint from token hashes, pure bit
  arithmetic (conv/shiftright), no UDF.
- **ANN** — brute-force cosine top-k as the exact baseline (decimal dot
  products, functions/vectors.py); LSH random-hyperplane bucketing as
  the scale path (deterministic ±1 hyperplanes derived from md5 in the
  driver, shipped as literals — zero runtime hashing).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from northwind_warehouse_spark.functions.text import SHINGLE_K

N_SEEDS = 8
N_BANDS = 4  # 2 rows per band
# Default band-bucket cap for the LSH self-join (ON by default, like the
# embedding-dedup twin in plans/llm.py): bounds any single degenerate
# bucket to cap² pair work. Mirrored verbatim in the oracle SQL
# (plans/llm.py::_SIG_CTE), so capped and oracle results stay identical.
LSH_MAX_BUCKET = 1000


def shingle_arrays(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct K-word shingles per document as an array column.

    Map-only — no explode, no shuffle. The shingle set of one document
    always fits in memory (bounded by doc length), so array ops beat an
    exploded relation at any scale."""
    toks = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("w")
    ).filter(F.size("w") >= SHINGLE_K)
    return toks.select(
        id_col,
        F.expr(
            "array_distinct(transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
        ).alias("sh"),
    )


def shingles(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exploded (doc_id, shingle) relation — for ops that genuinely need
    the flat form (e.g. inverted-index style joins)."""
    return shingle_arrays(documents, text_col, id_col).select(
        id_col, F.explode("sh").alias("shingle")
    )


def minhash_signatures(sh_arr: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """MinHash signature per doc from its shingle array — map-only
    (array_min over hash slices), zero shuffles.

    Cost trick: instead of one md5 per (seed, shingle), the 8 seed hashes
    are the 8 independent 32-bit slices of md5(s) and md5('x'||s) — 2 md5
    calls per shingle for the whole signature (4× cheaper, identical
    collision behavior for LSH purposes). The two hash arrays are
    materialized in their own projection so each md5 pass runs ONCE —
    codegen subexpression elimination does not reach inside higher-order
    lambdas, so inlining md5 into all 8 array_min slices would recompute
    it 8×."""
    hashed = sh_arr.select(
        F.col(id_col),
        F.expr("transform(sh, s -> md5(s))").alias("_h1"),
        F.expr("transform(sh, s -> md5(concat('x', s)))").alias("_h2"),
    )
    cols = []
    for s in range(N_SEEDS):
        src = "_h1" if s < 4 else "_h2"
        expr = f"array_min(transform({src}, h -> substring(h, {1 + 8 * (s % 4)}, 8)))"
        cols.append(F.expr(expr).alias(f"mh{s}"))
    return hashed.select(F.col(id_col), *cols)


def cap_buckets(df: DataFrame, keys: list[str], max_bucket_size: int) -> DataFrame:
    """Drop every row of any group larger than ``max_bucket_size`` — the
    shared skew defuse for bucket self-joins. A degenerate bucket
    (boilerplate docs / zero vectors collapsing to one signature) would
    otherwise emit O(size²) pairs from a single join key; capping bounds
    any key to cap² pair work.

    Physical shape (round 6): over-cap keys come from a MAP-SIDE-COMBINED
    count aggregate — only (key, count) pairs cross the wire, never the
    rows — and the rows are removed by a left-anti join on that (tiny:
    ≤ n/cap keys) relation, which AQE plans as a broadcast anti-join in
    practice. This replaces the former count-window, whose per-key SORT
    of the full relation executed on the corpus rows (and, before the
    round-6 persist reorder, ran once per self-join side)."""
    over = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
        .drop("_bsz")
    )
    return df.join(over, keys, "left_anti")


def band_rows(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exploded (id, band, bkey) relation from a MinHash signature —
    the banding step shared by the candidate join and the banding
    diagnostics (band_agreement_histogram, lsh_bucket_occupancy).
    Map-only."""
    rows_per_band = N_SEEDS // N_BANDS
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])).alias("bkey"),
        )
        for b in range(N_BANDS)
    ])
    return sig.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = LSH_MAX_BUCKET
) -> DataFrame:
    """Band-bucket self-join → candidate pairs (doc_a < doc_b).

    ``max_bucket_size`` is the skew defuse for degenerate buckets
    (boilerplate/empty docs collapsing to one signature): buckets larger
    than the cap are dropped before the self-join, bounding any single
    join key to cap² pair work instead of letting one hot bucket emit
    O(n²). ON by default (LSH_MAX_BUCKET, same discipline as the
    embedding-dedup twin) — a corpus-scale boilerplate family collapsing
    to one band key must never go quadratic; its members are near-certain
    duplicates better handled by exact dedup first. The oracle SQL
    (plans/llm.py::_SIG_CTE) mirrors the cap exactly. Pass ``None`` for
    the uncapped research mode."""
    exploded = band_rows(sig, id_col)
    if max_bucket_size is not None:
        exploded = cap_buckets(exploded, ["band", "bkey"], max_bucket_size)
    # self-join reads this twice; persist the CAPPED relation so both the
    # signature pass AND the cap's count window run once, not once per
    # join side (persisting before the cap doubled the window's
    # sort+exchange — the round-5 bench regression). At warehouse scale
    # you'd checkpoint signatures to the lake instead.
    exploded = exploded.persist()
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def pair_jaccard(sh_arr: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs via array_intersect —
    two hash-joins on doc ids, intersection computed per-row in the JVM
    (no exploded shingle⋈shingle shuffle).

    The ratio is published at exact 4dp via integer division — portable.
    """
    a = sh_arr.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_arr.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    out = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"))
        .withColumn(
            "n_union",
            (F.size("sh_a").cast("bigint") + F.size("sh_b") - F.col("n_inter")).cast("bigint"),
        )
        .withColumn(
            "jaccard_4dp",
            F.expr("CAST((10000 * n_inter) div n_union AS DOUBLE) / 10000.0"),
        )
    )
    return out.select("doc_a", "doc_b", "n_inter", "n_union", "jaccard_4dp")


def simhash_fp(documents: DataFrame, n_bits: int = 32, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprint of ``n_bits`` (≤ 60 so the hex→BIGINT parse
    stays in signed range on both engines): per-token md5→n_bits hash,
    per-bit ±1 votes, sign → bit.

    MAP-ONLY: the per-bit votes fold over the row's own token array with
    higher-order functions (a bit is set when more than half the token
    hashes have it set — ±1 vote sum > 0 ⇔ 2·set_count > n), so the
    fingerprint pass has ZERO shuffle, scales with input bytes, and runs
    verbatim on a streaming DataFrame (streaming/jobs.py).

    Width is the banding-capacity knob: b-bit bands give 2^b buckets per
    band, and the candidate join saturates once corpus/2^b bucket sizes
    grow — 32 bits (4×8-bit bands) is fine for a sample, 60 bits
    (4×15-bit bands) for a real corpus; the plan is width-agnostic."""
    assert 1 <= n_bits <= 60
    nhex = (n_bits + 3) // 4
    bits = " + ".join(
        f"CASE WHEN 2 * size(filter(hs, h -> ((h >> {b}) & 1) = 1)) > size(hs) "
        f"THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(n_bits)
    )
    return documents.select(
        F.col(id_col),
        F.expr(
            f"transform(split({text_col}, ' '), "
            f"t -> CAST(conv(substring(md5(t), 1, {nhex}), 16, 10) AS BIGINT))"
        ).alias("hs"),
    ).select(F.col(id_col), F.expr(f"CAST({bits} AS BIGINT)").alias("simhash"))


def simhash32(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash fingerprint (see :func:`simhash_fp`)."""
    return simhash_fp(documents, 32, text_col, id_col)


def _plane_weights(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 — computed once in the
    driver, shipped as literals (portable + zero runtime hash cost)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            digest = hashlib.md5(f"{p}|{d}".encode()).hexdigest()
            row.append(1 if int(digest[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def lsh_buckets(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
                n_planes: int = 8, dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (exact decimal
    projections → deterministic signs)."""
    planes = _plane_weights(n_planes, dim)
    proj_cols = []
    for p, w in enumerate(planes):
        arr = "array(" + ",".join(str(x) for x in w) + ")"
        proj = F.expr(
            f"aggregate(zip_with({vec_col}, {arr}, "
            f"(x, wt) -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) * wt), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        proj_cols.append(F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0)))
    bucket = sum(proj_cols[1:], proj_cols[0])
    return embeddings.select(F.col(id_col), bucket.cast("bigint").alias("bucket_id"))


def oracle_plane_weights_sql(n_planes: int = 8, dim: int = 64) -> list[str]:
    """DuckDB list literals for the same hyperplanes."""
    return ["[" + ",".join(str(x) for x in row) + "]" for row in _plane_weights(n_planes, dim)]


def ann_bruteforce_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for the first ``n_queries`` vectors.

    Baseline path: broadcast the (small) query set against the full
    corpus — one pass, no shuffle until the tiny top-k window. The
    LSH-bucket variant (lsh_buckets) is the 100 TB path.

    Quantize-ONCE (r11): each corpus row floors its 64 elements a
    single time in the base projection; the per-pair dot is the plain
    integer IDOT over pre-quantized arrays (the former dot_q re-ran
    the FLOOR of both operands once per (query, row) pair — n_queries×
    the invariant work on the corpus side; arithmetically identical
    ints, so identical cosines and rows — measured min-of-2 warm at
    sf0.1: 0.92→0.79s ann_cosine_topk, and the same pattern took
    dedup_embedding_cosine 0.82→0.71s and knn_graph_cell_local
    5.76→3.71s at 30×)."""
    from northwind_warehouse_spark.functions.vectors import cosine_from_parts

    base = _quantized_base(embeddings, id_col, vec_col)
    q = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("_vq").alias("_qq"),
        F.col("n2").alias("qn2"),
    )
    pairs = base.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.expr(IDOT.format(a="_qq", b="_vq")).alias("dot"),
        F.col("qn2").alias("n2a"),
        F.col("n2").alias("n2b"),
    ).withColumn("cosine", cosine_from_parts("dot", "n2a", "n2b"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )


# element-wise floor(x·10⁶) quantization of a float vector column and the
# exact int64 dot over two already-quantized arrays. Quantize-ONCE shape:
# each corpus row materializes its quantized array a single time and
# every centroid dot reuses it (the former per-centroid zip_with(float,
# float, Q) re-quantized the row's elements once per centroid —
# arithmetically identical ints, k× the FLOOR work).
QUANT = "transform({v}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
IDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
# max-cosine argmax over a broadcast `supers` struct array — shared by
# the batch two-level assignment and its streaming reformulation
# (placeholders: {v} = quantized vector column, {n2} = its norm column)
_SUPER_ARGMAX = f"""array_max(transform(supers, c -> struct(
        CAST({IDOT.format(a="{v}", b="c.sqvec")} AS DOUBLE)
          / sqrt(CAST({{n2}} AS DOUBLE) * CAST(c.sn2 AS DOUBLE)) AS cos,
        -c.sid AS neg)))"""


def _quantized_base(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, _vq quantized array, n2) — the shared map-only prologue
    of every IVF/ANN assignment. n2 = Σ(_vq²) equals functions.vectors.
    norm2_q exactly (same floor-1e6 ints)."""
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(QUANT.format(v=vec_col)).alias("_vq"),
    ).withColumn("n2", F.expr(IDOT.format(a="_vq", b="_vq")))


def _centroid_rows(
    base: DataFrame, n_centroids: int, centroids: DataFrame | None, id_col: str
) -> DataFrame:
    """The centroid relation (cent_id, cqvec: array<bigint>, cn2).

    ``centroids=None`` keeps the deterministic first-``n_centroids``
    convention (a seed codebook); passing a TRAINED codebook (the
    :func:`ivf_train_codebook` Lloyd output — same schema) is the
    production shape: the assignment join is identical, only the
    centroid relation is swapped, exactly how a FAISS-style index feeds
    a trained coarse quantizer into the same scan."""
    if centroids is not None:
        return centroids.select("cent_id", "cqvec", "cn2")
    return base.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"),
        F.col("_vq").alias("cqvec"),
        F.col("n2").alias("cn2"),
    )


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest (max-cosine) centroid cell.

    IVF coarse quantization. ``centroids`` supplies a trained codebook
    relation (cent_id, cqvec, cn2 — see :func:`ivf_train_codebook`);
    when None, centroids are the deterministic first ``n_centroids``
    vectors. The assignment itself is MAP-ONLY either way: the centroid
    set is collapsed to one array row, broadcast, and each corpus row
    computes its argmax with higher-order functions — zero shuffle over
    the corpus, which is what lets the index build scan 100 TB once.
    Ties break to the lowest centroid id (max over (cosine, -cent_id)).
    """
    base = _quantized_base(embeddings, id_col, vec_col)
    cents = _centroid_rows(base, n_centroids, centroids, id_col).select(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cqvec", "cn2"))
        ).alias("cents")
    )
    dot = IDOT.format(a="_vq", b="c.cqvec")
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "best",
        F.expr(
            f"""array_max(transform(cents, c -> struct(
                CAST({dot} AS DOUBLE)
                  / sqrt(CAST(n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS cos,
                -c.cent_id AS neg)))"""
        ),
    )
    return scored.select(
        F.col(id_col),
        F.col(vec_col),
        "n2",
        (-F.col("best.neg")).cast("bigint").alias("cell_id"),
    )


# conservative in-memory bytes per centroid row (64 float32 dims + id +
# norm + row overhead) for the parameter-derived broadcast gate in
# ivf_assign_two_level — 64 MB / 512 B ≈ 128k centroids ≈ a 16M-vector
# corpus under the n/128 occupancy policy; beyond that the children
# relation shuffles
_CENTROID_EST_BYTES = 512
# replication factor for the level-2 join's salt when the broadcast gate
# is CLOSED: the √k-key exchange splits into √k·_L2_SALT reduce keys.
# 8 replicas cost 8× the (children-side only) shuffle bytes — children
# are the SMALL side by construction — and cap any single reduce key at
# n/(√k·8) probe rows.
_L2_SALT = 8


def ceil_isqrt(n: int) -> int:
    """Smallest s with s·s ≥ n, in exact integer arithmetic (the oracle
    mirrors it with a float-sqrt + CASE correction, so both engines get
    the identical s at every n)."""
    import math

    s = math.isqrt(n)
    return s + (1 if s * s < n else 0)


def ivf_assign_two_level(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_super: int | None = None,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level IVF coarse quantization: nearest-centroid assignment in
    ~n·2√k dot products instead of the flat scan's n·k.

    The occupancy-pinned policy (n_centroids ∝ n/128) makes the
    single-level :func:`ivf_assign` QUADRATIC in corpus size — every
    vector scores every centroid and the centroid count itself grows
    with n. The classic fix (FAISS-style hierarchical coarse quantizer)
    is a second level: the first ``ceil(sqrt(k))`` vectors are
    SUPER-centroids; each of the k centroids is routed to its nearest
    super (a super-centroid routes to ITSELF — guarantees every super
    has a non-empty child list even under exact cosine ties); a vector
    then finds its nearest super (s dots) and argmaxes over only that
    super's children (~k/s dots) — n·(s + k/s) ≈ n·2√k total.

    Physical shape by level: level 1 is MAP-ONLY (one broadcast row of
    √k super structs — ~750 KB even at 8M centroids — resolved per row
    with higher-order functions, zero shuffle); level 2 is a size-GATED
    equi-join on super_id against the k-row children relation followed
    by a map-side-combined argmax aggregate. The children side's
    broadcast hint is gated on PARAMETER-derived bytes
    (n_centroids × _CENTROID_EST_BYTES vs MAX_BROADCAST_BYTES — the
    optimizer cannot estimate a crossJoin-derived relation, so the
    stats-based gate would wrongly decline), making the whole
    assignment broadcast-join-only at demo scale while at corpus scale
    — where k ∝ n/128 makes the children relation GB-sized — it
    degrades to a SALTED shuffle join instead of a driver-sized
    broadcast (the raw key has only √k distinct values; see the
    closed-gate branch below and its measurement in SCALING.md,
    "Closed-gate two-level join"). (Packing all k centroids into
    one nested-array row would be zero-shuffle here but builds that
    array in a single task — a driver/memory cliff at large k; the
    equi-join has no cliff.) Zero UDF throughout. The tie rule at BOTH
    levels matches ivf_assign (max cosine, then lowest id; the argmax
    agg compares (cos, -cent_id) structs) and the arithmetic is the
    same exact-int64-dot / IEEE-double cosine, so the assignment is
    oracle-mirrorable CTE by CTE. The assignment DIFFERS from
    single-level argmax (a vector near a super boundary may land in a
    neighboring child cell) — that is the documented trade of every
    hierarchical quantizer, priced in recall by the multi-probe
    machinery, not a correctness loss: the oracle computes the
    identical two-level route.

    ``centroids`` swaps in a TRAINED codebook (cent_id, cqvec, cn2 —
    :func:`ivf_train_codebook`'s Lloyd output, ids 0..k-1, so the first
    ``n_super`` trained centroids are the supers); None keeps the
    first-k seed convention.
    """
    if n_super is None:
        n_super = ceil_isqrt(n_centroids)

    base = _quantized_base(embeddings, id_col, vec_col)
    cents_rows = _centroid_rows(base, n_centroids, centroids, id_col)
    supers_row = (
        cents_rows.filter(F.col("cent_id") < n_super)
        .select(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cent_id").alias("sid"),
                        F.col("cqvec").alias("sqvec"),
                        F.col("cn2").alias("sn2"),
                    )
                )
            ).alias("supers")
        )
    )
    super_argmax = _SUPER_ARGMAX
    # level-1 routing of the k centroids (k·s work — centroid-sized, not
    # corpus-sized); a super is its own child by construction
    routed = (
        cents_rows.crossJoin(F.broadcast(supers_row))
        .withColumn(
            "super_id",
            F.when(F.col("cent_id") < n_super, F.col("cent_id")).otherwise(
                (-F.expr(super_argmax.format(v="cqvec", n2="cn2"))["neg"]).cast("bigint")
            ),
        )
        .select("super_id", "cent_id", "cqvec", "cn2")
    )
    from northwind_warehouse_spark.operators.joins import MAX_BROADCAST_BYTES

    with_super = base.crossJoin(F.broadcast(supers_row)).select(
        F.col(id_col),
        F.col(vec_col),
        "_vq",
        "n2",
        (-F.expr(super_argmax.format(v="_vq", n2="n2"))["neg"])
        .cast("bigint")
        .alias("_sid"),
    )
    # level-2: equi-join on super_id (fan-out ~k/s children per vector),
    # argmax collapsed map-side before the vec_id exchange. The build
    # side is k rows BY THE PARAMETER, so the broadcast gate uses
    # parameter-derived bytes (the optimizer cannot estimate a
    # crossJoin-derived relation — its stat is wildly inflated and the
    # size gate would wrongly decline): hint while k centroids fit the
    # broadcast bound. Beyond it (k ∝ n/128 ⇒ the children side is
    # GB-sized and must shuffle) the raw join key has only √k DISTINCT
    # values — a low-cardinality, potentially hot-keyed exchange over
    # the full corpus at exactly the scale where the gate first closes
    # (round-7 verdict #2) — so the closed branch SALTS it: probes
    # hash-split into _L2_SALT slices, children replicated ×_L2_SALT,
    # giving √k·_L2_SALT reduce keys with a per-key probe bound of
    # n/(√k·_L2_SALT). Row-multiset identical (each probe row matches
    # exactly one replica of each of its super's children).
    if n_centroids * _CENTROID_EST_BYTES <= MAX_BROADCAST_BYTES:
        children = F.broadcast(routed)
        joined = with_super.join(
            children, with_super["_sid"] == children["super_id"]
        )
    else:
        probes = with_super.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(_L2_SALT)).cast("int")
        )
        children = routed.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(_L2_SALT - 1)))
        )
        joined = probes.join(
            children,
            (probes["_sid"] == children["super_id"])
            & (probes["_salt"] == children["_salt"]),
        )
    scored = joined.select(
        F.col(id_col),
        F.col(vec_col),
        "n2",
        F.struct(
            F.expr(
                f"""CAST({IDOT.format(a="_vq", b="cqvec")} AS DOUBLE)
                    / sqrt(CAST(n2 AS DOUBLE) * CAST(cn2 AS DOUBLE))"""
            ).alias("cos"),
            (-F.col("cent_id")).alias("neg"),
        ).alias("cand"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.first(vec_col).alias(vec_col),
            F.first("n2").alias("n2"),
            F.max("cand").alias("best"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            "n2",
            (-F.col("best.neg")).cast("bigint").alias("cell_id"),
        )
    )


# trained-coarse-quantizer knobs: one Lloyd round over a deterministic
# 25% md5-lottery training sample. Under the occupancy-pinned policy
# (k = n/128) a 25% sample is EXACTLY the FAISS max_points_per_centroid
# discipline (32 training points per centroid = 32k = n/4 rows); with a
# FIXED k it is an upper bound the lottery ppm could be tightened to at
# corpus scale. |x| ≤ 2 ⇒ xq ∈ [−2·10⁶, 2·10⁶]; the offset makes the
# floor-mean's div operands non-negative so Spark's `div` and DuckDB's
# `//` agree (both then floor).
IVF_CB_TRAIN_PPM = 250_000
_CB_XQ_OFF = 2_000_000


def _pack_codebook(cb_el: DataFrame) -> DataFrame:
    """Element-grain codebook (j, i, w) → (cent_id, cqvec, cn2), the
    relation every assignment operator accepts as ``centroids``."""
    return (
        cb_el.groupBy("j")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, w))), s -> s.w)"
            ).alias("cqvec"),
            F.expr("CAST(sum(w * w) AS BIGINT)").alias("cn2"),
        )
        .select(F.col("j").alias("cent_id"), "cqvec", "cn2")
    )


def ivf_train_codebook(
    embeddings: DataFrame,
    n_centroids: int = 8,
    rounds: int = 1,
    train_ppm: int = IVF_CB_TRAIN_PPM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-trained IVF coarse codebook — the PRODUCTION centroid
    relation (cent_id, cqvec, cn2) that :func:`ivf_assign`,
    :func:`ivf_assign_two_level` and :func:`ivf_probe_cells` take as
    ``centroids`` (round-7 verdict #1: the serving paths previously
    seeded cells from arbitrary first-k vectors).

    Spherical k-means, trained with the SERVING metric (max-cosine)
    and the TWO-LEVEL route: each round assigns the deterministic
    ``train_ppm`` lottery sample to cells via
    :func:`ivf_assign_two_level` — so for the consumers that serve
    through the two-level route (knn_graph_cell_local,
    ivf_cell_occupancy, the streaming ingest twin) a vector trains
    toward exactly the centroid it would be routed to, FAISS-style.
    Consumers that serve with the FLAT :func:`ivf_assign` argmax
    (ann_ivf_topk, the multiprobe family, hard_negative_mining, the
    stored-index path) serve an approximation-trained codebook: the
    two-level training route can assign a sample vector to a centroid
    the flat global argmax would not pick, so train-route ≡
    serve-route holds only for the two-level consumers. Each round
    then recomputes each non-empty cell's centroid
    as the element-wise integer floor-mean of its members' quantized
    elements; empty cells keep their previous centroid, so ids stay
    0..k-1 and the first √k remain the supers. Seeds are the first-k
    vectors (k-means++ would add driver-sequential sampling for little
    gain at one refinement round).

    Scale shape per round: the training assignment is the n·2√k
    two-level scan over ppm·n rows (map-only + the gated/salted
    children join); the update is one map-side-combined (cell, dim)
    aggregate over sample elements; the codebook stays a k-row
    DataFrame end to end — never collected, broadcast only through the
    parameter-gated hints inside the assignment. The returned relation
    is persisted: it feeds at least two consumers in every downstream
    assignment (supers row + children), and without the persist the
    whole training lineage would re-execute per consumer.

    Exact-integer arithmetic throughout (floor-1e6 quantization,
    OFF-shifted floor-mean), so the full train→assign pipeline is
    oracle-mirrorable CTE by CTE."""
    base = _quantized_base(embeddings, id_col, vec_col)
    cb_el = base.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("j"),
        F.posexplode("_vq").alias("i0", "w"),
    ).select("j", (F.col("i0") + 1).alias("i"), "w")
    train = embeddings.filter(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ivfcb|"), F.col(id_col).cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("long") % 1_000_000
        < train_ppm
    )
    from northwind_warehouse_spark.operators.joins import MAX_BROADCAST_BYTES

    # per-round intermediate codebooks are persisted (each feeds BOTH
    # sides of the round's two-level assignment); they must also be
    # UNPERSISTED once the final codebook is materialized, or every
    # training round pins a stale k-row lineage in executor memory for
    # the life of the session (round-8 advice)
    round_cbs: list[DataFrame] = []
    for _ in range(rounds):
        cb = _pack_codebook(cb_el).persist()
        round_cbs.append(cb)
        assigned = ivf_assign_two_level(
            train, n_centroids=n_centroids, centroids=cb,
            id_col=id_col, vec_col=vec_col,
        )
        mel = assigned.select(
            F.col("cell_id").alias("j"),
            F.posexplode(F.expr(QUANT.format(v=vec_col))).alias("i0", "xq"),
        ).select("j", (F.col("i0") + 1).alias("i"), "xq")
        newc = mel.groupBy("j", "i").agg(
            F.expr(
                f"CAST((sum(xq) + {_CB_XQ_OFF} * count(*)) div count(*)"
                f" - {_CB_XQ_OFF} AS BIGINT)"
            ).alias("w")
        )
        # k·dim rows BY PARAMETER — parameter-gated hint (64 B/element
        # row est.), same discipline as the level-2 children join
        if n_centroids * 64 * 64 <= MAX_BROADCAST_BYTES:
            newc = F.broadcast(newc)
        cb_el = (
            cb_el.select("j", "i", F.col("w").alias("w_old"))
            .join(newc, ["j", "i"], "left")
            .select("j", "i", F.coalesce("w", "w_old").alias("w"))
        )
    final = _pack_codebook(cb_el).persist()
    # materialize the final codebook THROUGH the cached intermediates
    # (one pass — the work every consumer would trigger anyway), then
    # release them; the k-row final stays pinned for the serving paths
    final.count()
    for rcb in round_cbs:
        rcb.unpersist()
    return final


def ivf_assign_stream(
    embeddings: DataFrame,
    n_centroids: int,
    centroids: DataFrame,
    n_super: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MAP-ONLY two-level assignment — the STREAMING-SAFE reformulation
    of :func:`ivf_assign_two_level` for ingest-time indexing of
    arriving vectors against a static (trained) codebook.

    The batch operator's level 2 is an equi-join followed by a groupBy
    argmax — a shuffle aggregate a stateless stream cannot run. Here
    the argmax moves IN-ROW: the static side pre-packs each super's
    child list into one array row (√k rows × ~√k structs each — per-
    super packing bounds any single array at ~√k, avoiding the
    single-task cliff of packing all k centroids into one row), and an
    arriving vector resolves its super via the broadcast supers row
    (constant-key stream-static join) then argmaxes over its super's
    packed children (√k-row broadcast equi-join). Two stream-static
    broadcast joins, zero state, no watermark — the route, tie rules
    (cos DESC, id ASC at both levels) and exact-integer arithmetic are
    IDENTICAL to the batch operator, asserted row-equal in
    tests/test_streaming.py. Works on batch DataFrames too (used by
    the equality test's oracle side indirectly via the batch twin)."""
    if n_super is None:
        n_super = ceil_isqrt(n_centroids)
    cents_rows = centroids.select("cent_id", "cqvec", "cn2")
    supers_row = (
        cents_rows.filter(F.col("cent_id") < n_super)
        .select(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cent_id").alias("sid"),
                        F.col("cqvec").alias("sqvec"),
                        F.col("cn2").alias("sn2"),
                    )
                )
            ).alias("supers")
        )
    )
    packed = (
        cents_rows.crossJoin(F.broadcast(supers_row))
        .withColumn(
            "super_id",
            F.when(F.col("cent_id") < n_super, F.col("cent_id")).otherwise(
                (-F.expr(_SUPER_ARGMAX.format(v="cqvec", n2="cn2"))["neg"]).cast("bigint")
            ),
        )
        .groupBy("super_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "cqvec", "cn2"))
            ).alias("children")
        )
    )
    base = _quantized_base(embeddings, id_col, vec_col)
    with_sid = (
        base.withColumn("_one", F.lit(1))
        .join(F.broadcast(supers_row.withColumn("_one", F.lit(1))), "_one")
        .select(
            F.col(id_col),
            F.col(vec_col),
            "_vq",
            "n2",
            (-F.expr(_SUPER_ARGMAX.format(v="_vq", n2="n2"))["neg"])
            .cast("bigint")
            .alias("_sid"),
        )
    )
    # the packed relation is √k rows but ~k centroid structs in TOTAL —
    # the same parameter-growing bytes as the batch children side, so
    # the same parameter-derived gate applies: hint while k centroids
    # fit the bound; beyond it leave the stream-static equi-join
    # unhinted (at that scale a real deployment ships the quantizer to
    # the ingest workers as the persisted index, not a per-batch
    # broadcast)
    from northwind_warehouse_spark.operators.joins import MAX_BROADCAST_BYTES

    if n_centroids * _CENTROID_EST_BYTES <= MAX_BROADCAST_BYTES:
        packed = F.broadcast(packed)
    joined = with_sid.join(packed, with_sid["_sid"] == packed["super_id"])
    best = F.expr(
        f"""array_max(transform(children, c -> struct(
            CAST({IDOT.format(a="_vq", b="c.cqvec")} AS DOUBLE)
              / sqrt(CAST(n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS cos,
            -c.cent_id AS neg)))"""
    )
    return joined.withColumn("best", best).select(
        F.col(id_col),
        F.col(vec_col),
        "n2",
        (-F.col("best.neg")).cast("bigint").alias("cell_id"),
    )


def flat_probe_cents(centroids: DataFrame) -> DataFrame:
    """The ONE-ROW packed centroid array the flat probe scans — a pure
    function of the codebook (a k-row collect_list aggregate). Serving
    caches persist it per (corpus, k) so the aggregate doesn't re-run
    per query call (plans/llm.py::_flat_cents), exactly like the
    two-level routing tables."""
    return centroids.select("cent_id", "cqvec", "cn2").select(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cqvec", "cn2"))
        ).alias("cents")
    )


def ivf_probe_cells(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_probe: int = 2,
    centroids_from: DataFrame | None = None,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents_row: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe IVF shortlist: each vector's ``n_probe`` nearest
    (max-cosine) centroid cells, exploded to one row per probe with
    ``probe_rank`` 1..n_probe.

    Same MAP-ONLY shape as :func:`ivf_assign` — one broadcast centroid
    array, a higher-order sort per row, zero shuffle over the input —
    and the same tie rule (cosine desc, then lowest cent_id), so
    probe_rank=1 reproduces the ivf_assign cell exactly.

    ``centroids_from`` supplies the corpus whose first ``n_centroids``
    vectors are the centroids (default: ``embeddings`` itself); pass the
    full corpus there and ONLY the query batch as ``embeddings`` — the
    production shape, where probes are computed per query, not per
    corpus row. Multi-probe is what keeps recall up when n_centroids is
    scaled with the corpus: a query near a cell boundary searches its P
    nearest cells instead of just the one it lands in, at ~P/n_centroids
    of the corpus scanned.

    ``centroids`` (a trained codebook relation — cent_id, cqvec, cn2)
    overrides both conventions, same contract as :func:`ivf_assign`;
    ``cents_row`` supplies :func:`flat_probe_cents`'s pre-packed
    one-row array (typically persisted by a serving cache)."""
    base = _quantized_base(embeddings, id_col, vec_col)
    if cents_row is not None:
        cents = cents_row
    else:
        if centroids is not None:
            cents_rows = centroids.select("cent_id", "cqvec", "cn2")
        else:
            src = centroids_from if centroids_from is not None else embeddings
            cents_rows = _centroid_rows(
                _quantized_base(src, id_col, vec_col), n_centroids, None, id_col
            )
        cents = flat_probe_cents(cents_rows)
    dot = IDOT.format(a="_vq", b="c.cqvec")
    ranked = base.crossJoin(F.broadcast(cents)).withColumn(
        "top_cells",
        F.expr(
            f"""slice(array_sort(transform(cents, c -> struct(
                CAST({dot} AS DOUBLE)
                  / sqrt(CAST(n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS cos,
                c.cent_id AS cent_id)),
                (l, r) -> CASE WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1
                               WHEN l.cent_id < r.cent_id THEN -1
                               WHEN l.cent_id > r.cent_id THEN 1 ELSE 0 END),
                1, {n_probe})"""
        ),
    )
    return ranked.select(
        F.col(id_col), F.col(vec_col), F.col("n2"),
        F.posexplode("top_cells").alias("_pr0", "_pc"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        "n2",
        (F.col("_pr0") + 1).cast("bigint").alias("probe_rank"),
        F.col("_pc.cent_id").alias("cell_id"),
    )


def two_level_routing(
    centroids: DataFrame, n_centroids: int, n_super: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """The two static relations two-level probing routes through:
    ``supers_row`` (ONE row holding the √k super structs) and
    ``packed`` (per-super packed child arrays — √k rows × ~√k structs
    each). Both are pure functions of the codebook; a SERVING cache
    should build them once per (corpus, k) and persist (the quantizer
    structure a FAISS index keeps resident), because rebuilding them is
    a k-row aggregate per query call — per-query work that grows with
    the occupancy-scaled k (plans/llm.py::_probe_routing does exactly
    that for the stored-index family)."""
    if n_super is None:
        n_super = ceil_isqrt(n_centroids)
    cents_rows = centroids.select("cent_id", "cqvec", "cn2")
    supers_row = (
        cents_rows.filter(F.col("cent_id") < n_super)
        .select(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cent_id").alias("sid"),
                        F.col("cqvec").alias("sqvec"),
                        F.col("cn2").alias("sn2"),
                    )
                )
            ).alias("supers")
        )
    )
    packed = (
        cents_rows.crossJoin(F.broadcast(supers_row))
        .withColumn(
            "super_id",
            F.when(F.col("cent_id") < n_super, F.col("cent_id")).otherwise(
                (-F.expr(_SUPER_ARGMAX.format(v="cqvec", n2="cn2"))["neg"]).cast("bigint")
            ),
        )
        .groupBy("super_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cent_id", "cqvec", "cn2"))
            ).alias("children")
        )
    )
    return supers_row, packed


def ivf_probe_cells_two_level(
    embeddings: DataFrame,
    n_centroids: int,
    centroids: DataFrame,
    n_probe: int = 2,
    n_super: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    routing: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Multi-probe shortlist under the TWO-LEVEL route: each vector's
    ``n_probe`` nearest (max-cosine) cells AMONG ITS ROUTED SUPER'S
    CHILDREN, exploded to one row per probe with ``probe_rank``
    1..n_probe.

    This is the ROUTE-CONSISTENT multi-probe companion of
    :func:`ivf_assign_two_level`: ``probe_rank = 1`` reproduces the
    two-level assignment cell exactly (same route, same argmax, same
    tie rule — cos DESC then lowest cent_id at both levels), so a
    corpus vector used as a query always probes the cell a
    two-level-built index filed it under; probes 2..P are the sibling
    cells of the same routed super. The probe set is capped by the
    routed super's child count (~√k cells).

    MEASURED AND DECLINED for the stored-index serving paths
    (round 10, NPROBE.json): because a boundary query's true nearest
    cells often live under a DIFFERENT super than the router's pick,
    within-super probing costs 12-22 pp of candidate recall at P=4 vs
    the flat :func:`ivf_probe_cells` over the same trained codebook —
    and the flat scan is affordable for any bounded QUERY batch
    (10·k dots; only the CORPUS assignment must avoid n·k, which is
    what the two-level route is for). Kept as the operator for
    consumers whose probe batch IS corpus-sized (where the flat scan
    would resurrect the quadratic) and as the documented
    route-consistency alternative.

    Physical shape: the same two broadcast joins as
    :func:`ivf_assign_stream` (supers row + per-super PACKED child
    arrays — per-super packing bounds any single array at ~√k structs),
    with the in-row argmax generalized to an in-row sorted top-P slice.
    Map-only over the probe rows, stream-safe, zero shuffle — the probe
    batch is usually queries, not the corpus. The packed static side
    grows with the PARAMETER k, so its broadcast hint is gated on
    parameter-derived bytes exactly like the assignment operators.
    ``routing`` supplies pre-built (supers_row, packed) relations —
    :func:`two_level_routing`'s output, typically persisted by a
    serving cache so the k-row packing aggregates don't re-run per
    query call."""
    if routing is not None:
        supers_row, packed = routing
    else:
        supers_row, packed = two_level_routing(centroids, n_centroids, n_super)
    base = _quantized_base(embeddings, id_col, vec_col)
    with_sid = base.crossJoin(F.broadcast(supers_row)).select(
        F.col(id_col),
        F.col(vec_col),
        "_vq",
        "n2",
        (-F.expr(_SUPER_ARGMAX.format(v="_vq", n2="n2"))["neg"])
        .cast("bigint")
        .alias("_sid"),
    )
    from northwind_warehouse_spark.operators.joins import MAX_BROADCAST_BYTES

    if n_centroids * _CENTROID_EST_BYTES <= MAX_BROADCAST_BYTES:
        packed = F.broadcast(packed)
    joined = with_sid.join(packed, with_sid["_sid"] == packed["super_id"])
    dot = IDOT.format(a="_vq", b="c.cqvec")
    ranked = joined.withColumn(
        "top_cells",
        F.expr(
            f"""slice(array_sort(transform(children, c -> struct(
                CAST({dot} AS DOUBLE)
                  / sqrt(CAST(n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS cos,
                c.cent_id AS cent_id)),
                (l, r) -> CASE WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1
                               WHEN l.cent_id < r.cent_id THEN -1
                               WHEN l.cent_id > r.cent_id THEN 1 ELSE 0 END),
                1, {n_probe})"""
        ),
    )
    return ranked.select(
        F.col(id_col), F.col(vec_col), F.col("n2"),
        F.posexplode("top_cells").alias("_pr0", "_pc"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        "n2",
        (F.col("_pr0") + 1).cast("bigint").alias("probe_rank"),
        F.col("_pc.cent_id").alias("cell_id"),
    )


def ivf_probe_cells_hier(
    embeddings: DataFrame,
    n_centroids: int,
    centroids: DataFrame,
    n_probe: int = 2,
    n_super_probe: int = 2,
    n_super: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    routing: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Multi-probe shortlist under the WIDENED-SUPER hierarchical route:
    each vector ranks the √k supers, keeps its ``n_super_probe`` (S)
    nearest, scans ONLY those supers' child centroids, and emits its
    global ``n_probe`` nearest cells from that union with ``probe_rank``
    1..n_probe — per-query work O(√k + S·√k) dot products instead of the
    flat probe's O(k).

    This is the scale-safe generalization of BOTH existing probe routes
    (round-10 verdict #1 — the flat probe's one-row packed centroid
    array is O(k) bytes in a single row/broadcast, the last
    corpus-linear term in the stored-index serving path at the 100-TB
    north star where k reaches the millions):

    - ``S ≥ ⌈√k⌉`` (all supers) reproduces :func:`ivf_probe_cells`
      EXACTLY — every centroid is a child of exactly one super, the
      union of probed children is the full codebook, and the tie rule
      (cos DESC, cent_id ASC) matches at every stage — asserted
      row-equal in tests/test_operators.py.
    - ``S = 1`` reproduces :func:`ivf_probe_cells_two_level` EXACTLY
      (same super argmax, same within-super slice) — the within-super
      route whose 12-22 pp recall loss at P=4 (NPROBE.json, round 10)
      is precisely the boundary-query effect widening S repairs: a
      boundary query's true nearest cells live under its SECOND or
      THIRD nearest super, which S > 1 reaches at S·√k ≪ k cost.

    Physical shape: the supers row is ONE ~√k-struct row (broadcast);
    the per-super packed child arrays bound every other row at ~√k
    structs (never the flat route's k-struct row); the children join is
    an equi-join on super_id, parameter-gated to broadcast while k
    centroids fit the bound and degrading to a bounded shuffle
    (S rows per query) beyond it. The final global top-P is a
    per-query-partitioned window over S·P candidate rows. Map-only up
    to that window; the probe batch is queries, never the corpus
    (corpus assignment stays :func:`ivf_assign_two_level`).
    ``routing`` supplies pre-built :func:`two_level_routing` relations,
    typically persisted by a serving cache."""
    if n_super is None:
        n_super = ceil_isqrt(n_centroids)
    if routing is not None:
        supers_row, packed = routing
    else:
        supers_row, packed = two_level_routing(centroids, n_centroids, n_super)
    from pyspark.sql.window import Window

    base = _quantized_base(embeddings, id_col, vec_col)
    sdot = IDOT.format(a="_vq", b="s.sqvec")
    top_supers = base.crossJoin(F.broadcast(supers_row)).withColumn(
        "top_supers",
        F.expr(
            f"""slice(array_sort(transform(supers, s -> struct(
                CAST({sdot} AS DOUBLE)
                  / sqrt(CAST(n2 AS DOUBLE) * CAST(s.sn2 AS DOUBLE)) AS cos,
                s.sid AS sid)),
                (l, r) -> CASE WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1
                               WHEN l.sid < r.sid THEN -1
                               WHEN l.sid > r.sid THEN 1 ELSE 0 END),
                1, {n_super_probe})"""
        ),
    )
    probed = top_supers.select(
        F.col(id_col), F.col(vec_col), "_vq", "n2",
        F.explode("top_supers").alias("_ps"),
    ).select(
        F.col(id_col), F.col(vec_col), "_vq", "n2",
        F.col("_ps.sid").alias("_sid"),
    )
    from northwind_warehouse_spark.operators.joins import MAX_BROADCAST_BYTES

    if n_centroids * _CENTROID_EST_BYTES <= MAX_BROADCAST_BYTES:
        packed = F.broadcast(packed)
    joined = probed.join(packed, probed["_sid"] == packed["super_id"])
    dot = IDOT.format(a="_vq", b="c.cqvec")
    # per-super top-P is sufficient: the global top-P over the probed
    # union is contained in the union of per-super top-Ps
    per_super = joined.withColumn(
        "top_cells",
        F.expr(
            f"""slice(array_sort(transform(children, c -> struct(
                CAST({dot} AS DOUBLE)
                  / sqrt(CAST(n2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS cos,
                c.cent_id AS cent_id)),
                (l, r) -> CASE WHEN l.cos > r.cos THEN -1 WHEN l.cos < r.cos THEN 1
                               WHEN l.cent_id < r.cent_id THEN -1
                               WHEN l.cent_id > r.cent_id THEN 1 ELSE 0 END),
                1, {n_probe})"""
        ),
    ).select(
        F.col(id_col), F.col(vec_col), "n2",
        F.explode("top_cells").alias("_pc"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_pc.cos"), F.col("_pc.cent_id")
    )
    return (
        per_super.withColumn("probe_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("probe_rank") <= n_probe)
        .select(
            F.col(id_col), F.col(vec_col), "n2", "probe_rank",
            F.col("_pc.cent_id").alias("cell_id"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-index ANN path
# ---------------------------------------------------------------------------

PQ_M = 4        # subspaces
PQ_SUB = 16     # dims per subspace (PQ_M * PQ_SUB = 64 = embedding dim)
PQ_NC = 8       # codewords per subspace

_PQ_QUANT = "transform({v}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
# squared L2 distance between subspace s of two quantized vectors a, b
_PQ_SDIST = (
    f"aggregate(zip_with(slice({{a}}, s * {PQ_SUB} + 1, {PQ_SUB}), "
    f"slice({{b}}, s * {PQ_SUB} + 1, {PQ_SUB}), "
    f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def pq_codebook(embeddings: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """One-row codebook DataFrame: the PQ_NC quantized vectors with the
    smallest deterministic md5-lottery tickets, ordered (lottery, id).

    A trained PQ codebook is k-means per subspace; the deterministic
    sampled variant keeps the exact same downstream encode/ADC shape
    (swap this one function for a trained one) while staying
    engine-reproducible. TakeOrdered over 8 tiny projected rows — never
    a driver collect of vectors."""
    eq = embeddings.select(
        F.col(id_col),
        F.expr(_PQ_QUANT.format(v=vec_col)).alias("eq"),
        F.conv(
            F.substring(F.md5(F.concat(F.lit("pq|"), F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long").alias("lot"),
    )
    return (
        eq.orderBy("lot", id_col).limit(PQ_NC)
        .agg(
            F.expr(
                f"transform(array_sort(collect_list(struct(lot, {id_col}, eq))), s -> s.eq)"
            ).alias("cws")
        )
    )


def pq_encode(embeddings: DataFrame, codebook: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Encode every vector to PQ_M small codes (argmin subspace L2 to a
    codeword, ties to the lowest codeword id).

    This is the 100 TB move: the index stores PQ_M ints per vector
    instead of the raw array (here 64 floats -> 4 bytes-ish, 16-64x
    smaller), and encoding is MAP-ONLY — one broadcast of the one-row
    codebook, higher-order functions, no shuffle over the corpus.
    ``extra_cols`` ride along untouched (e.g. the IVF cell_id, so one
    corpus scan yields the full IVF-PQ index). Streaming-safe: on a
    streaming input the one-row codebook attaches via a constant-key
    stream-static broadcast join (semantically the same cross join;
    Structured Streaming only plans the equi form), so the encoder
    deploys verbatim at the ingest edge."""
    sdist = _PQ_SDIST.format(a="eq", b="c")
    sel = embeddings.select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        F.expr(_PQ_QUANT.format(v=vec_col)).alias("eq"),
    )
    if embeddings.isStreaming:
        with_cb = sel.withColumn("_one", F.lit(1)).join(
            F.broadcast(codebook.withColumn("_one", F.lit(1))), "_one"
        ).drop("_one")
    else:
        with_cb = sel.crossJoin(F.broadcast(codebook))
    return (
        with_cb
        .withColumn(
            "dists",
            F.expr(f"transform(sequence(0, {PQ_M - 1}), s -> transform(cws, c -> {sdist}))"),
        )
        .withColumn(
            "codes",
            F.expr("transform(dists, d -> CAST(array_position(d, array_min(d)) AS INT) - 1)"),
        )
        .select(id_col, *extra_cols, "codes")
    )


def pq_adc_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-encoded corpus.

    Each query precomputes a PQ_M x PQ_NC lookup table of exact
    subspace distances to every codeword (tiny, broadcast); scoring a
    corpus vector is then PQ_M table lookups summed — one scan of the
    codes, no arrays in the shuffle. The top-k window partitions by
    query_id (bounded by n_queries); at fleet scale the same scoring
    scan feeds a per-partition top-k + merge instead of a window."""
    cb = pq_codebook(embeddings, id_col, vec_col)
    enc = pq_encode(embeddings, cb, id_col, vec_col)
    sdist = _PQ_SDIST.format(a="eq", b="c")
    luts = (
        embeddings.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.expr(_PQ_QUANT.format(v=vec_col)).alias("eq"))
        .crossJoin(F.broadcast(cb))
        .withColumn(
            "lut",
            F.expr(f"transform(sequence(0, {PQ_M - 1}), s -> transform(cws, c -> {sdist}))"),
        )
        .select("query_id", "lut")
    )
    scored = (
        enc.crossJoin(F.broadcast(luts))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "adist", "nn_rank")
        .orderBy("query_id", "nn_rank")
    )
