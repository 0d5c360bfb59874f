"""As-of (temporal) join without a range cross-join.

Re-expresses the reference's temporal SK resolution
(``fact.date BETWEEN dim.effective_date AND dim.expiry_date``,
reference: models/dwh/fact_order.sql:38-44) as the scalable Spark shape:
UNION the two streams, then one ``last(..., ignorenulls)`` window over a
single ``partitionBy(key) orderBy(time)`` sort. One shuffle, no
key×interval blow-up, skew handled by AQE.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    payload_prefix: str = "asof_",
    right_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """For each left row, attach the payload of the latest right row with
    ``right.ts <= left.ts`` and matching key (inclusive backward as-of).

    Left columns are preserved; payload columns come back as
    ``{payload_prefix}{col}`` (null when no prior right row exists).

    The payload travels as ONE struct filled with a single
    ``last(ignorenulls)`` — so every output payload column comes from the
    same right row even when some of its payload values are genuinely
    NULL (per-column fills would back-fill those from older rows).
    """
    return _asof_join(left, right, left_key, right_key, left_ts, right_ts,
                      payload_cols, payload_prefix, right_tiebreak, forward=False)


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: Sequence[str],
    payload_prefix: str = "asof_",
    right_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """For each left row, attach the payload of the EARLIEST right row
    with ``right.ts >= left.ts`` and matching key (inclusive forward
    as-of — "time to next action" joins).

    The exact mirror of :func:`asof_join_backward`: same union + one
    window shape (one shuffle, no key x interval blow-up), with the
    ordering reversed — descending time, so "latest preceding in sort
    order" is "nearest following in event time". Equal-time ties pick
    the LOWEST tiebreak (the tiebreak sorts descending so the window's
    ``last`` lands on the minimum).
    """
    return _asof_join(left, right, left_key, right_key, left_ts, right_ts,
                      payload_cols, payload_prefix, right_tiebreak, forward=True)


def _asof_join(left, right, left_key, right_key, left_ts, right_ts,
               payload_cols, payload_prefix, right_tiebreak, forward: bool) -> DataFrame:
    lcols = left.columns
    payload_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in payload_cols]
    )
    l = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).cast("timestamp").alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(payload_type).alias("_p"),
    )
    r = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).cast("timestamp").alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(*[F.col(c).alias(c) for c in payload_cols]).alias("_p"),
    )
    # right rows sort before left rows at equal time → inclusive
    # semantics; explicit tiebreaks make equal-time right rows
    # deterministic. Forward sorts time and tiebreaks descending.
    def directed(c):
        return c.desc() if forward else c

    order = [directed(F.col("_t")), F.col("_side")] + [
        directed(F.col("_p").getField(c)) for c in right_tiebreak
    ]
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l.unionByName(r)
    filled = unioned.withColumn("_pf", F.last(F.col("_p"), ignorenulls=True).over(w))
    return filled.filter(F.col("_side") == 1).select(
        *[F.col(c) for c in lcols],
        *[F.col("_pf").getField(c).alias(f"{payload_prefix}{c}") for c in payload_cols],
    )
