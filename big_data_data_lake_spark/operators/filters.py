"""Filters / predicates (SURVEY §2.3, F1-F10).

Each returns a Column predicate (or a filtered DataFrame for the
two-pass quantile filter) so Catalyst can push it into the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def membership(col: Column | str, values: Sequence) -> Column:
    """F1 — isin filter (app.py:215-225)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isin(list(values))


def in_range(col: Column | str, lo, hi) -> Column:
    """F3 — between (app.py:220-222)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.between(lo, hi)


def quantile_threshold(df: DataFrame, col: str, q: float = 0.99) -> DataFrame:
    """F5/M4 — keep rows at or above the q-quantile of ``col``
    (app.py:286-290).

    Two-pass: an exact ``percentile`` aggregate (one shuffle-free
    partial+final agg producing a single row), cross-joined back as a
    broadcast scalar so the filter stays distributed. At 100 TB swap
    ``percentile`` for ``percentile_approx`` — the plan shape is
    unchanged.
    """
    thresh = df.select(F.expr(f"percentile({col}, {q})").alias("__q"))
    return df.join(F.broadcast(thresh)).where(F.col(col) >= F.col("__q")).drop("__q")
