"""Vector math over ``array<float>`` columns — quantized-integer, JVM-side.

Cross-engine determinism is achieved by quantizing each element to
``floor(x · 10⁶)`` as BIGINT:

- float→double widening is exact; the ×10⁶ multiply is one IEEE-rounded
  op on identical doubles; ``floor`` has no rounding-mode ambiguity —
  so both engines derive identical integers (unlike float→DECIMAL casts,
  which engines implement differently).
- dot products / norms then live in exact int64 (|x|≤2 ⇒ per-vector sums
  < 2.7e14 ≪ 2^53), and int64→double is a single correctly-rounded IEEE
  conversion everywhere.

The 1e-6 quantization is far below embedding noise and irrelevant to
neighbor ranking. All higher-order functions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1_000_000
Q = f"(x, y) -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE}.0) AS BIGINT) * CAST(FLOOR(CAST(y AS DOUBLE) * {SCALE}.0) AS BIGINT)"


def dot_q(a: str, b: str) -> Column:
    """Exact quantized dot product (int64 units of 10⁻¹²)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, {Q}), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def norm2_q(a: str) -> Column:
    """Exact quantized squared L2 norm (int64 units of 10⁻¹²)."""
    return dot_q(a, a)


def cosine_from_parts(dot_col: str, n2a_col: str, n2b_col: str) -> Column:
    """cosine = dot / sqrt(n2a·n2b); quantization scale cancels.

    Inputs are exact int64 < 2^53 → identical doubles → IEEE-identical
    sqrt/divide in every engine."""
    return F.col(dot_col).cast("double") / F.sqrt(
        F.col(n2a_col).cast("double") * F.col(n2b_col).cast("double")
    )
