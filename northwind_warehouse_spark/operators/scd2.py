"""SCD Type-2 dimension maintenance, Spark-first.

Re-expresses the reference's incremental SCD2 dims
(reference: models/dwh/dim_customer.sql — lag(row_hash) change detection,
version_no, is_active, effective/expiry with 1900/2200 sentinels) as ONE
windowed pass over a change stream instead of dbt's per-minute Jinja
time-travel loop (reference: models/intermediate/stg_dim_customer.sql).

Scale: all windows share a single ``partitionBy(key) orderBy(ts)``
partitioning, so the whole build is one shuffle + one sort per key
partition regardless of history depth. No UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from northwind_warehouse_spark.functions.hashing import surrogate_key

EPOCH_LOW = "1900-01-01 00:00:00"
# 2200-01-01 (not the reference's 3001-01-01): the open-end sentinel must
# stay inside pandas' datetime64[ns] range (max 2262-04-11) so Arrow/pandas
# consumers of the dimension can materialize expiry_date.
EPOCH_HIGH = "2200-01-01 00:00:00"


def scd2_from_change_stream(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    hash_col: Column,
    attr_cols: Sequence[str],
    tiebreak_cols: Sequence[str] = (),
    sk_name: str = "sk",
    prior_version: str | None = None,
) -> DataFrame:
    """Collapse a change stream into SCD2 rows.

    Steps (each a Catalyst window over the same partitioning):
      1. dedup exact-duplicate (key, ts) rows deterministically;
      2. drop rows whose hash equals the previous version's hash
         (lag(row_hash) change detection);
      3. number versions, derive effective/expiry intervals (first
         version back-dated to 1900-01-01, open end 2200-01-01) and the
         ``is_active`` flag;
      4. mint the surrogate key md5(key, effective_date).

    ``prior_version`` (``scd2_merge``'s replay) names a column that is
    set only on a key's stored active version: that row sorts before
    any change at the same ``ts``, and the key's versions continue from
    its number.
    """
    keys = [F.col(k) for k in key_cols]
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    if prior_version is not None:
        order.insert(1, F.col(prior_version).isNull())
    w_seq = Window.partitionBy(*keys).orderBy(*order)

    # dedup exact-duplicate (key, ts) rows via lag on the SAME window
    # partitioning as every later step — the whole build shares one
    # exchange (a (key, ts)-partitioned row_number would add a second)
    deduped = (
        changes.withColumn("_row_hash", hash_col)
        .withColumn("_prev_ts", F.lag(F.col(ts_col)).over(w_seq))
        .filter(F.col("_prev_ts").isNull() | (F.col("_prev_ts") != F.col(ts_col)))
        .drop("_prev_ts")
    )
    changed = (
        deduped.withColumn("_prev_hash", F.lag("_row_hash").over(w_seq))
        .filter(F.col("_prev_hash").isNull() | (F.col("_prev_hash") != F.col("_row_hash")))
        .drop("_prev_hash")
    )
    version_no = F.row_number().over(w_seq)
    if prior_version is not None:
        version_no += F.coalesce(F.first(prior_version).over(w_seq), F.lit(1)) - 1
    versioned = (
        changed.withColumn("version_no", version_no)
        .withColumn(
            "effective_date",
            F.when(F.col("version_no") == 1, F.lit(EPOCH_LOW).cast("timestamp")).otherwise(
                F.col(ts_col).cast("timestamp")
            ),
        )
        .withColumn(
            "expiry_date",
            F.coalesce(
                F.lead(F.col(ts_col).cast("timestamp")).over(w_seq),
                F.lit(EPOCH_HIGH).cast("timestamp"),
            ),
        )
        .withColumn(
            "is_active",
            F.when(F.lead(F.col(ts_col)).over(w_seq).isNull(), F.lit("Y")).otherwise(F.lit("N")),
        )
    )
    out_cols = (
        [F.col(k) for k in key_cols]
        + [F.col(c) for c in attr_cols]
        + [
            F.col("_row_hash").alias("row_hash"),
            F.col(ts_col).cast("timestamp").alias("updated_at"),
            "version_no",
            "effective_date",
            "expiry_date",
            "is_active",
        ]
    )
    # hash the timestamp as epoch-µs: engine-portable (string renderings of
    # timestamps differ across engines; epoch integers never do)
    sk = surrogate_key(*key_cols, F.unix_micros(F.col("effective_date")))
    return versioned.select(*out_cols).withColumn(sk_name, sk)


def scd2_merge(
    existing: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    hash_col: Column,
    attr_cols: Sequence[str],
    tiebreak_cols: Sequence[str] = (),
    sk_name: str = "sk",
) -> DataFrame:
    """Incremental SCD2 merge (reference: models/dwh/dim_customer.sql —
    dbt incremental materialization on unique_key).

    Invariant: ``merge(build(old), new) == build(old ∪ new)`` — tested in
    tests/test_properties.py (hypothesis, arbitrary splits). Only the
    *active* version of each affected key is replayed: it and the new
    changes are one windowed pass whose version numbers, effective dates
    and surrogate keys continue from it. Closed versions and unaffected
    keys pass through untouched, so ``existing`` may also be just the
    active slice (``is_active = 'Y'``); the result then holds that
    slice's new state plus the versions this merge closed.

    Discipline: incoming changes must carry timestamps at-or-after the
    stored history's watermark (standard CDC ordering). A change at a
    timestamp *equal* to the active version's resolves in favor of the
    stored version (its replay sorts first).
    """
    # a semi or anti join needs no distinct keys: no shuffle before the broadcast
    affected = changes.select(*key_cols)
    active = F.col("is_active") == "Y"
    untouched = existing.filter(~active).unionByName(
        existing.filter(active).join(affected, list(key_cols), "left_anti"))
    replayed = (
        existing.filter(active).join(affected, list(key_cols), "left_semi")
        .select(
            *key_cols,
            F.col("updated_at").alias(ts_col),
            *[F.col(c) for c in attr_cols],
            *[F.lit(None).cast(changes.schema[c].dataType).alias(c) for c in tiebreak_cols],
            F.col("version_no").alias("_prior_version"),
        )
    )
    new_changes = changes.select(*key_cols, ts_col, *attr_cols, *tiebreak_cols,
                                 F.lit(None).cast("int").alias("_prior_version"))
    rebuilt = scd2_from_change_stream(replayed.unionByName(new_changes), key_cols, ts_col, hash_col,
                                      attr_cols, tiebreak_cols, sk_name, "_prior_version")
    return untouched.unionByName(rebuilt)
