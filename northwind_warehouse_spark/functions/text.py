"""Text-analysis column expressions (SURVEY.md §2C).

All pure Catalyst expressions (split / higher-order functions / md5) with
paired DuckDB renderings. Ratios use the integer-division trick
(``(10000*x) div y / 10000.0``) so both engines derive the identical
double from identical integers — no engine-specific double rounding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
SHINGLE_K = 3


def tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def n_tokens(text_col: str = "text") -> Column:
    return F.size(tokens(text_col)).cast("bigint")


def stopword_count(text_col: str = "text") -> Column:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(f"size(filter(split({text_col}, ' '), x -> x IN ({lst})))").cast("bigint")


def ratio_4dp(numer_col: str, denom_col: str) -> Column:
    """Exact 4-decimal ratio of two already-materialized integer columns
    via integer division (portable across engines)."""
    return F.expr(
        f"CAST((10000 * CAST({numer_col} AS BIGINT)) div CAST({denom_col} AS BIGINT) AS DOUBLE) / 10000.0"
    )


def o_n_tokens(text_col: str = "text") -> str:
    return f"CAST(len(string_split({text_col}, ' ')) AS BIGINT)"


def o_stopword_count(text_col: str = "text") -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"CAST(len(list_filter(string_split({text_col}, ' '), x -> x IN ({lst}))) AS BIGINT)"


def o_ratio_4dp(numer: str, denom: str) -> str:
    return f"CAST(CAST((10000 * ({numer})) // ({denom}) AS BIGINT) AS DOUBLE) / 10000.0"
