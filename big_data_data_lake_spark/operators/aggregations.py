"""Aggregations (SURVEY §2.5, A1-A10).

All hash aggregates with map-side partial aggregation — one shuffle on
the group keys, AQE-coalesced. Every helper that feeds an oracle
rounds order-dependent double sums (see queries/__init__ determinism
rules).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k_counts(df: DataFrame, key: str, k: int, count_name: str = "n") -> DataFrame:
    """A1 — value_counts().head(k) (dashboard.py:173-183 etc.).

    Deterministic under ties: secondary order on the key itself.
    """
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias(count_name))
        .orderBy(F.col(count_name).desc(), F.col(key).asc())
        .limit(k)
    )


def multi_key_counts(df: DataFrame, keys: Sequence[str], count_col: str = "n") -> DataFrame:
    """A2 — multi-key group count (dashboard.py:229-233)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_col))


def kpis(df: DataFrame, *exprs: Column) -> DataFrame:
    """A5 — global scalar KPI row (app.py:234-239)."""
    return df.agg(*exprs)


def mode_of(df: DataFrame, col: str) -> DataFrame:
    """A8 — most frequent value (app.py:499-511) with deterministic
    tie-break (smallest value wins), unlike pandas ``.mode().iloc[0]``
    which is sort-order luck."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col(col).asc())
        .limit(1)
        .select(col)
    )


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """A10 — sorted distinct domain for filter widgets (app.py:151)."""
    return df.select(col).distinct().orderBy(col)
