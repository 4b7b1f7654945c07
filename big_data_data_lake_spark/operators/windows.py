"""Window-function operators: latest-per-key dedup (batch F9), top-k
per group, running aggregates, sessionization.

The reference's only windowed semantic is the producer's latest-wins
dedup (producer.py:89-96); the rest are the standard analytic
extensions SURVEY §2.10 flags as free in Spark. All shuffle once on
the partition key and are AQE-coalesced.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Window
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


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int, Callable[[], None]]:
    """Exact 1-based global rank by the total order ``order_cols``
    (which must include a unique tiebreak column) WITHOUT the
    single-partition window Spark plans for an unpartitioned
    ``Window.orderBy`` — the classic "No Partition Defined for Window"
    scale-killer that funnels every row through one task.

    Pattern (scales to any row count):
      1. ``repartitionByRange`` on the order columns — a parallel
         range exchange, same machinery as Spark's distributed sort.
      2. One metadata-scale job: per-partition row counts (one row per
         partition), turned into prefix-sum offsets on the driver.
      3. ``row_number`` over a window PARTITIONED by the physical
         partition id + the broadcast offset map = exact global rank.

    The input is persisted so the range bounds sampled for the
    exchange are shared between the offsets job and downstream jobs
    (re-sampling could re-draw bounds and misalign the offsets). Call
    the returned ``release`` once downstream results are materialized.

    Returns ``(ranked_df, total_rows, release)``.
    """
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        int(r["__pid"]): int(r["__c"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c")).collect()
    }
    offsets: dict[int, int] = {}
    total = 0
    for pid in sorted(counts):
        offsets[pid] = total
        total += counts[pid]
    if offsets:
        off_map = F.create_map(
            *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
        )
        offset = F.coalesce(
            F.try_element_at(off_map, F.col("__pid")).cast("long"), F.lit(0).cast("long")
        )
    else:
        offset = F.lit(0).cast("long")
    w = Window.partitionBy("__pid").orderBy(*cols)
    ranked = ranged.withColumn(
        rank_col, F.row_number().over(w).cast("long") + offset
    ).drop("__pid")
    return ranked, total, lambda: ranged.unpersist()


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int, Callable[[], None]]:
    """Exact global running sum of integral ``value_col`` over the
    total order ``order_cols`` (must include a unique tiebreak) —
    the prefix-sum twin of :func:`global_rank`, and the same
    scale posture: a parallel ``repartitionByRange`` exchange,
    per-partition running sums under a window PARTITIONED by the
    physical partition id, and one metadata-scale job (one row per
    partition) whose totals become broadcast prefix offsets. No
    single-partition window anywhere.

    Restricted to integral values (summed as long) so the
    per-partition reordering cannot perturb the total the way float
    association would.

    Returns ``(df_with_cumsum, grand_total, release)``; call
    ``release`` after materializing downstream results.
    """
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    sums = {
        # sum() is NULL when every value in a partition is NULL (e.g.
        # a null-heavy column on a degenerate input) — count it as 0
        # instead of crashing the driver-side int()
        int(r["__pid"]): int(r["__s"] or 0)
        for r in (
            ranged.groupBy("__pid")
            .agg(F.sum(F.col(value_col).cast("long")).alias("__s"))
            .collect()
        )
    }
    offsets: dict[int, int] = {}
    total = 0
    for pid in sorted(sums):
        offsets[pid] = total
        total += sums[pid]
    if offsets:
        off_map = F.create_map(
            *[F.lit(v) for pid_off in offsets.items() for v in pid_off]
        )
        offset = F.coalesce(
            F.try_element_at(off_map, F.col("__pid")).cast("long"), F.lit(0).cast("long")
        )
    else:
        offset = F.lit(0).cast("long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged.withColumn(
        out_col, F.sum(F.col(value_col).cast("long")).over(w) + offset
    ).drop("__pid")
    return out, total, lambda: ranged.unpersist()


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
    the global first row. Same scale posture as :func:`global_cumsum`
    — parallel range exchange, per-partition window PARTITIONED by
    physical partition id, one metadata-scale job (a row per
    partition) whose running maxes become broadcast prefix offsets;
    no single-partition window.

    The exclusive frame is what dominance/skyline operators need
    ("is any earlier row's value >= mine?"); max is order-insensitive
    so partition recombination cannot perturb it. Restricted to
    integral values like global_cumsum.

    Returns ``(df_with_prev_max, release)``; call ``release`` after
    materializing downstream results.
    """
    spark = df.sparkSession
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    maxes = {
        int(r["__pid"]): r["__m"]
        for r in (
            ranged.groupBy("__pid")
            .agg(F.max(F.col(value_col).cast("long")).alias("__m"))
            .collect()
        )
    }
    # prefix[pid] = max over all partitions BEFORE pid (None if none)
    prefix: dict[int, int | None] = {}
    running: int | None = None
    for pid in sorted(maxes):
        prefix[pid] = running
        m = maxes[pid]
        if m is not None:
            running = m if running is None else max(running, m)
    entries = [(pid, v) for pid, v in prefix.items() if v is not None]
    if entries:
        off_map = F.create_map(
            *[F.lit(x) for pid_v in entries for x in pid_v]
        )
        offset = F.try_element_at(off_map, F.col("__pid")).cast("long")
    else:
        offset = F.lit(None).cast("long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prev = F.max(F.col(value_col).cast("long")).over(w)
    out = ranged.withColumn(
        out_col,
        F.when(
            local_prev.isNotNull() & offset.isNotNull(), F.greatest(local_prev, offset)
        ).otherwise(F.coalesce(local_prev, offset)),
    ).drop("__pid")
    return out, lambda: ranged.unpersist()
