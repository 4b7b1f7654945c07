"""Query registry: every operator from SURVEY §2 lands here as a named
query with (a) a PySpark implementation and (b) an ANSI-SQL oracle that
DuckDB can run on the same parquet tables.

Determinism rules (so the driver's order-insensitive value-hash
matches):
- Every LIMIT is preceded by a total order (explicit tiebreak columns).
- Double aggregates whose value depends on summation order are
  ``round(x, 2)`` (or 6 for trig) on BOTH sides.
- Timestamps leave the engine as formatted strings, never raw
  timestamp values.
- Quantiles use exact ``percentile`` (Spark) vs ``quantile_cont``
  (DuckDB), not approximations.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import every query module (registration is at import time) and
    return the registry in registration order, which is stable."""
    from . import analytics, corpus, curation, llm_ops, relational  # noqa: F401

    return dict(REGISTRY)
