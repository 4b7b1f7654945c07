"""Data-quality observability via Spark's observe() metrics — counters
computed inside the running job (no second scan), surfaced through
``Observation`` in batch and ``StreamingQueryProgress.observedMetrics``
per micro-batch in streaming. The production posture at 100 TB: a
quality dashboard must not cost a second pass over the data, and
per-batch metrics are how an ingest pipeline alarms on upstream drift
(sudden null spikes, schema rot) without blocking the write path —
complementing the lake layer's HARD expectations (the ``expectations``
of a ``LakeTable`` write fail or shed rows, counted by an observation
on the commit's own write; these metrics only measure).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def quality_metrics(df: DataFrame, value_cols: list[str]) -> list[Column]:
    """Standard per-scan quality counters: total rows plus, per
    column, null count and (for a numeric column) min/max extent.
    All algebraic aggregates — observe() computes them map-side with
    ~zero overhead on the pass that's already running."""
    metrics: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in value_cols:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
        )
        if df.schema[c].dataType.simpleString() in (
            "double",
            "float",
            "bigint",
            "int",
            "long",
        ):
            metrics.append(F.min(c).alias(f"{c}_min"))
            metrics.append(F.max(c).alias(f"{c}_max"))
    return metrics


def observe_batch(
    df: DataFrame, value_cols: list[str]
) -> tuple[DataFrame, Observation]:
    """Attach quality counters to a BATCH DataFrame; read
    ``observation.get`` after any action on the returned frame."""
    obs = Observation()
    return df.observe(obs, *quality_metrics(df, value_cols)), obs


def observe_stream(
    df: DataFrame, name: str, value_cols: list[str]
) -> DataFrame:
    """Attach quality counters to a STREAMING DataFrame under
    ``name``; every micro-batch's values appear in
    ``query.lastProgress["observedMetrics"][name]`` (and in each
    element of ``query.recentProgress``) — poll or listener, no
    extra scan either way."""
    return df.observe(name, *quality_metrics(df, value_cols))


def watermark_health(query) -> dict:
    """Stateful-stream health snapshot from a StreamingQuery's last
    progress: rows dropped by the watermark (the silent-data-loss
    counter every latest_wins_dedup / windowed-agg deployment must
    alarm on — nonzero means lateness_s is too tight for the sources'
    cross-key skew), total state rows/bytes (the state-store growth
    curve), and the current event-time watermark. Returns zeros
    before the first progress so monitors can poll unconditionally.

    This is the programmatic form of the guidance in
    latest_wins_dedup's docstring — one dict per poll, cheap enough
    for every micro-batch."""
    p = query.lastProgress
    if not p:
        return {
            "rows_dropped_by_watermark": 0,
            "state_rows": 0,
            "state_bytes": 0,
            "watermark": None,
            "batch_id": None,
        }
    ops = p.get("stateOperators") or []
    return {
        "rows_dropped_by_watermark": sum(
            int(o.get("numRowsDroppedByWatermark", 0)) for o in ops
        ),
        "state_rows": sum(int(o.get("numRowsTotal", 0)) for o in ops),
        "state_bytes": sum(int(o.get("memoryUsedBytes", 0)) for o in ops),
        "watermark": (p.get("eventTime") or {}).get("watermark"),
        "batch_id": p.get("batchId"),
    }
