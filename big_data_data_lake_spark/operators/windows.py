"""Window-function operators: latest-per-key dedup (batch F9), top-k
per group, and exact global scans over a total order.

The reference's only windowed semantic is the producer's latest-wins
dedup (producer.py:89-96); the rest are the standard analytic
extensions SURVEY §2.10 flags as free in Spark. The per-key operators
shuffle once on the key. The global scans (``global_rank``,
``global_cumsum``, ``global_cummax_prev``) share one range-prefix
kernel, ``_range_prefix``, that never plans a single-partition window.
Its contract: materialize downstream results before calling the
returned ``release``, because a re-run range exchange may re-sample
its bounds and misalign the per-partition offsets.
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: str | Sequence[str],
    order_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """F9 (batch) — keep the row with max ``order_col`` per key
    (producer.py:89-96 keeps max last_contact).

    ``tiebreak`` makes the winner deterministic when ``order_col``
    ties — the reference's dict overwrite is arrival-order dependent,
    an ambiguity this port resolves explicitly (SURVEY §7 risk 1).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def first_per_key(
    df: DataFrame,
    keys: str | Sequence[str],
    order_col: str,
) -> DataFrame:
    """J2's ``iloc[0]`` semantic (consumer.py:91-94): one deterministic
    row per key, lowest ``order_col`` wins."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """Top-k rows per group via row_number — one shuffle, partial
    top-k applied map-side by the window sort."""
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def map_lookup(
    mapping: dict, key: F.Column, default: int | None = None
) -> F.Column:
    """``mapping[key]`` as a long, through a literal ``create_map`` of
    the driver-side dict ``mapping``; ``default`` where ``key`` is
    absent. The dict is metadata-scale (a row per partition or group),
    so the map rides in the plan instead of a join."""
    fallback = F.lit(default).cast("long")
    if not mapping:
        return fallback
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return F.coalesce(F.try_element_at(m, key).cast("long"), fallback)


def _range_prefix(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int | None,
    part_agg: F.Column,
    fold: Callable,
    zero: int | None,
    local: Callable[[WindowSpec], F.Column],
    op: Callable[[F.Column, F.Column], F.Column],
    out_col: str,
) -> tuple[DataFrame, int | None, Callable[[], None]]:
    """The one skeleton of the exact global scans below: an answer over
    the total order ``order_cols`` WITHOUT the single-partition window
    Spark plans for an unpartitioned ``Window.orderBy`` — the "No
    Partition Defined for Window" scale-killer that funnels every row
    through one task.

      1. ``repartitionByRange`` on ``order_cols`` — a parallel range
         exchange — with each row tagged by its partition id ``__pid``
         and persisted.
      2. One metadata-scale job: ``part_agg`` per partition.
      3. A driver fold of those aggregates, in partition order, into
         each partition's EXCLUSIVE prefix: it starts at ``zero``,
         skips NULL aggregates and combines with ``fold``; a partition
         whose prefix is still NULL gets no entry.
      4. The prefix looked up by ``__pid`` (:func:`map_lookup`).
      5. ``out_col`` combines the prefix with ``local``, the window
         value PARTITIONED by ``__pid``: ``op`` of both when both are
         non-NULL, otherwise whichever is non-NULL.

    Contract: the persist shares the range bounds sampled for the
    exchange between the prefix job and downstream jobs — a re-run
    exchange may re-sample the bounds and misalign the prefixes — so
    materialize downstream results before calling the returned
    ``release``. Returns ``(df_with_out_col, fold_of_all, release)``.
    """
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    parts = ranged.groupBy("__pid").agg(part_agg.alias("__a")).collect()
    prefix, acc = {}, zero
    for pid, agg in sorted((int(r["__pid"]), r["__a"]) for r in parts):
        if acc is not None:
            prefix[pid] = acc
        if agg is not None:
            acc = agg if acc is None else fold(acc, agg)
    offset = map_lookup(prefix, F.col("__pid"), zero)
    # the window value goes through a column: inlined three times into
    # the combine, it would be computed three times by the Window
    v = F.col("__v")
    out = ranged.withColumn("__v", local(Window.partitionBy("__pid").orderBy(*cols)))
    out = out.withColumn(out_col, F.coalesce(op(v, offset), v, offset))
    return out.drop("__pid", "__v"), acc, ranged.unpersist


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int, Callable[[], None]]:
    """Exact 1-based global rank by the total order ``order_cols``
    (which must include a unique tiebreak column): ``row_number`` per
    range partition plus the row count of the partitions before it
    (:func:`_range_prefix`).

    Returns ``(ranked_df, total_rows, release)``; call ``release``
    once downstream results are materialized.
    """
    return _range_prefix(
        df, order_cols, num_partitions, F.count(F.lit(1)), operator.add, 0,
        lambda w: F.row_number().over(w).cast("long"), operator.add, rank_col,
    )


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int, Callable[[], None]]:
    """Exact global running sum of integral ``value_col`` over the
    total order ``order_cols`` (must include a unique tiebreak) — SQL
    ``SUM(value_col) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)``, NULL until the first non-NULL value — as a running
    sum per range partition plus the sum of the partitions before it
    (:func:`_range_prefix`).

    Restricted to integral values (summed as long) so the
    per-partition reordering cannot perturb the total the way float
    association would.

    Returns ``(df_with_cumsum, grand_total, release)`` (a grand total
    of 0 when every value is NULL); call ``release`` after
    materializing downstream results.
    """
    v = F.col(value_col).cast("long")
    out, total, release = _range_prefix(
        df, order_cols, num_partitions, F.sum(v), operator.add, None,
        lambda w: F.sum(v).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        operator.add, out_col,
    )
    return out, total or 0, release


def exact_ntile(rank: F.Column, total: int, buckets: int) -> F.Column:
    """Row-local ntile bucket (1-based) from an exact global rank —
    reproduces SQL ``ntile(buckets)`` semantics (first ``total %
    buckets`` buckets get one extra row) without any window: pure
    integer arithmetic on the rank column."""
    q, r = divmod(total, buckets)
    if q == 0:  # fewer rows than buckets: bucket i gets row i
        return rank.cast("int")
    split = r * (q + 1)  # ranks [1, split] fall in the size-(q+1) buckets

    def idiv(col: F.Column, d: int) -> F.Column:
        # exact integer division on longs: subtract the remainder first
        # so the / never sees a non-integral quotient
        return ((col - col % d) / d).cast("long")

    rank0 = (rank - F.lit(1)).cast("long")
    return (
        F.when(rank0 < split, idiv(rank0, q + 1))
        .otherwise(F.lit(r) + idiv(rank0 - split, q))
        + 1
    ).cast("int")


def exact_ntile_grouped(
    rank: F.Column, total: F.Column, buckets: int
) -> F.Column:
    """``exact_ntile`` with a per-row (per-group) total COLUMN — exact
    SQL ``ntile(buckets) OVER (PARTITION BY g ORDER BY ...)`` semantics
    from a within-group rank and the group's row count, as pure
    row-local arithmetic. Lets a caller reproduce a grouped ntile
    without a per-group window: derive the within-group rank from
    :func:`global_rank` over ``(g, order...)`` minus broadcast
    per-group offsets, then bucket here — no low-cardinality window
    partitioning that would cap parallelism at |groups|.

    All operands are longs < 2**52, so the ANSI double division in
    ``idiv`` is exact; every division's guard branch keeps a zero
    divisor from ever being evaluated (CaseWhen evaluates lazily per
    row, and no operand is a foldable literal)."""
    b = F.lit(buckets).cast("long")
    t = total.cast("long")
    q = ((t - t % b) / b).cast("long")
    r = (t % b).cast("long")
    split = r * (q + 1)
    rank0 = (rank - F.lit(1)).cast("long")

    def idiv(col: F.Column, d: F.Column) -> F.Column:
        return ((col - col % d) / d).cast("long")

    return (
        F.when(q == 0, rank0)
        .when(rank0 < split, idiv(rank0, q + 1))
        .otherwise(r + idiv(rank0 - split, q))
        + 1
    ).cast("int")


def global_cummax_prev(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "prev_max",
    num_partitions: int | None = None,
) -> tuple[DataFrame, Callable[[], None]]:
    """Exact EXCLUSIVE running max of integral ``value_col`` over the
    total order ``order_cols`` (must include a unique tiebreak): each
    row gets the max of all STRICTLY PRECEDING rows' values, NULL for
    the global first row — SQL ``MAX(value_col) OVER (ORDER BY
    order_cols ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``, as
    the exclusive max per range partition and the max of the
    partitions before it (:func:`_range_prefix`).

    The exclusive frame is what dominance/skyline operators need
    ("is any earlier row's value >= mine?"); max is order-insensitive
    so partition recombination cannot perturb it. Restricted to
    integral values like global_cumsum.

    Returns ``(df_with_prev_max, release)``; call ``release`` after
    materializing downstream results.
    """
    v = F.col(value_col).cast("long")
    out, _, release = _range_prefix(
        df, order_cols, num_partitions, F.max(v), max, None,
        lambda w: F.max(v).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.greatest, out_col,
    )
    return out, release
