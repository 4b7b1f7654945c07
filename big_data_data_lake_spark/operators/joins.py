"""Joins (SURVEY §2.4, J1-J3) plus the semi/anti extensions.

Scale posture: the reference's only join is fact x small-dimension —
always broadcast the dimension (no shuffle of the 100 TB side). The
fact side keeps its partitioning, so downstream aggregations reuse it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    key: str | Sequence[str],
    how: str = "left",
    dedup_dim: bool = True,
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1/J2 — broadcast left equi-join against a dimension
    (process_silver.py:111; consumer.py:88-98).

    ``dedup_dim=True`` pins the reference's ``iloc[0]`` semantic
    (consumer.py:91-94): with duplicate dimension keys the first match
    wins, so the dimension is reduced to one row per key *before* the
    join — otherwise a left join would fan out fact rows.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if dedup_dim:
        dim = dim.dropDuplicates(keys)
    if broadcast_dim:
        dim = F.broadcast(dim)
    return fact.join(dim, on=keys, how=how)


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """J3 — pd.concat equivalent (dashboard.py:65); by-name union so
    column order differences across files can't silently misalign."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    tiebreak: str | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the ``backward`` nearest
    right row (greatest ``right_ts`` <= ``left_ts`` per key) or the
    ``forward`` nearest (smallest ``right_ts`` >= ``left_ts``) — the
    pandas ``merge_asof`` surface, an operator Spark lacks natively
    (extension beyond SURVEY §2.4; the reference has no as-of either).
    ``tolerance`` (seconds for timestamp columns, plain units
    otherwise) nulls out matches further away than the bound, exactly
    like merge_asof — the row survives, the attached values become
    NULL.

    Shape: the *merge* formulation, not a range join — tag both sides,
    union, and carry the nearest right values with
    ``last(ignorenulls)`` over (key, ts) ordered ascending (backward)
    or descending (forward). One shuffle on the key, one sort within
    partitions, zero pair fan-out: at 100 TB this is the only as-of
    shape that doesn't explode (a range join would emit |left| x
    |matching right| intermediates before aggregating back); the
    tolerance is a row-local post-filter, never a join condition.

    Equal timestamps match (<= / >=): right rows sort before left
    rows at the same ts. Among right ties, ``tiebreak`` makes the
    carried value deterministic (ascending; the last one wins — so
    under ``forward``'s descending scan the SMALLEST tiebreak wins,
    matching "first matching row" intuition).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [key] if isinstance(key, str) else list(key)
    val_src = [F.col(c) for c in value_cols]

    lhs = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__side"),
        F.col(left_ts).alias("__ts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r_ts"),
    )
    rhs_pad = [c for c in left.columns if c not in keys]
    rhs = right.select(
        *[F.col(k) for k in keys],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in rhs_pad],
        F.lit(0).alias("__side"),
        F.col(right_ts).alias("__ts"),
        *[v.alias(f"__r_{c}") for c, v in zip(value_cols, val_src)],
        F.col(right_ts).alias("__r_ts"),
    )
    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__side").asc()]
        if tiebreak is not None:
            # among right rows at the same ts: ascending tiebreak, last wins
            order.append(F.col(f"__r_{tiebreak}").asc_nulls_first())
    else:
        # scan from the future backwards: preceding rows have ts >= left
        order = [F.col("__ts").desc(), F.col("__side").asc()]
        if tiebreak is not None:
            # descending so last-wins == smallest tiebreak (first match)
            order.append(F.col(f"__r_{tiebreak}").desc_nulls_first())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = rhs.unionByName(lhs)
    for c in value_cols:
        carried = carried.withColumn(f"__r_{c}", F.last(f"__r_{c}", ignorenulls=True).over(w))
    carried = carried.withColumn("__r_ts", F.last("__r_ts", ignorenulls=True).over(w))
    out = carried.where(F.col("__side") == 1).drop("__side", "__ts")
    if tolerance is not None:
        ts_type = left.schema[left_ts].dataType.simpleString()
        if ts_type in ("timestamp", "timestamp_ntz"):
            delta = F.abs(
                F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col("__r_ts"))
            ) / 1e6
        else:
            delta = F.abs(F.col(left_ts) - F.col("__r_ts"))
        within = delta <= F.lit(tolerance)
        for c in value_cols:
            out = out.withColumn(
                f"__r_{c}", F.when(within, F.col(f"__r_{c}"))
            )
        out = out.withColumn("__r_ts", F.when(within, F.col("__r_ts")))
    for c in value_cols:
        out = out.withColumnRenamed(f"__r_{c}", f"asof_{c}")
    return out.withColumnRenamed("__r_ts", f"asof_{right_ts}")


def semi(fact: DataFrame, other: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """EXISTS — rows of fact with a match (extension per SURVEY §2.4)."""
    keys = [key] if isinstance(key, str) else list(key)
    return fact.join(other, on=keys, how="left_semi")


def anti(fact: DataFrame, other: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """NOT EXISTS — rows of fact without a match."""
    keys = [key] if isinstance(key, str) else list(key)
    return fact.join(other, on=keys, how="left_anti")
