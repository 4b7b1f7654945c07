"""Analytics-layer queries (SURVEY §2.6-§2.8): quantile outliers,
trig dead-reckoning, running/tumbling windows, sessionization, KMeans
phases. These are the reference's analytics service (app.py) and
dashboard (dashboard.py) capabilities as Catalyst plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import dead_reckon
from ..functions.money import (
    exact_avg,
    exact_sum,
    exact_sum_units,
    sql_exact_avg,
    sql_exact_sum,
    sql_units,
    units,
)
from ..operators import filters as flt
from ..operators import joins as jn
from ..operators import ml
from ..operators import windows as win
from ..sources.catalog import load_table
from . import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


QUANTILE_OUTLIERS_ORACLE = """
SELECT event_id, value
FROM events
WHERE value >= (SELECT quantile_cont(value, 0.99) FROM events)
"""


@register("quantile_outliers", QUANTILE_OUTLIERS_ORACLE)
def quantile_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/M4/A7 — top-1% outliers (app.py:283-310): exact percentile
    scalar broadcast back over the fact. At 100 TB the same plan with
    percentile_approx is one extra config, not a rewrite."""
    ev = _t(spark, sf_dir, "events")
    return flt.quantile_threshold(ev, "value", 0.99).select("event_id", "value")


P99_VALUE_ORACLE = """
SELECT round(quantile_cont(value, 0.99), 6) AS p99_value,
       round(quantile_cont(value, 0.50), 6) AS p50_value
FROM events
"""


@register("p99_value", P99_VALUE_ORACLE)
def p99_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — exact interpolated quantiles (app.py:286-287). Spark
    ``percentile`` == DuckDB ``quantile_cont`` (both linear)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_value"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50_value"),
    )


DEAD_RECKONING_ORACLE = """
WITH st AS (
    SELECT event_id,
           (event_id % 12000) / 100.0 - 60.0 AS lat,
           (event_id * 7 % 36000) / 100.0 - 180.0 AS lon,
           value AS speed_ms,
           CAST(event_id % 360 AS DOUBLE) AS track
    FROM events
)
SELECT event_id,
       round(lat + degrees(speed_ms * 300.0 * cos(radians(track)) / 6371000.0), 6) AS pred_lat,
       round(lon + degrees(speed_ms * 300.0 * sin(radians(track))
             / (6371000.0 * cos(radians(lat)))), 6) AS pred_lon
FROM st
"""


@register("dead_reckoning", DEAD_RECKONING_ORACLE)
def dead_reckoning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14/M6 — trajectory dead-reckoning (app.py:367-402). The
    reference's per-row ``apply`` becomes pure codegen'd trig columns —
    zero Python in the hot path."""
    ev = _t(spark, sf_dir, "events")
    lat = (F.col("event_id") % 12000) / 100.0 - 60.0
    lon = (F.col("event_id") * 7 % 36000) / 100.0 - 180.0
    track = (F.col("event_id") % 360).cast("double")
    pred_lat, pred_lon = dead_reckon(lat, lon, F.col("value"), track, horizon_s=300.0)
    return ev.select(
        "event_id",
        F.round(pred_lat, 6).alias("pred_lat"),
        F.round(pred_lon, 6).alias("pred_lon"),
    )


RUNNING_VALUE_ORACLE = f"""
SELECT event_id,
       round(sum({sql_units("value")}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) / 100.0, 2) AS running
FROM events
"""


@register("running_value", RUNNING_VALUE_ORACLE)
def running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate per key in event order (window extension,
    SURVEY §2.10) — one shuffle on the key. The prefix sum runs in
    exact integer cents (r9): engines disagree on cumulative-window
    association order (segment trees vs incremental), so a double
    prefix sum can drift a ulp mid-partition; integer units cannot."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.round(F.sum(units("value")).over(w) / F.lit(100.0), 2).alias("running"),
    )


SESSIONIZE_ORACLE = """
WITH gaps AS (
    SELECT user_id,
           CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                     - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM gaps
GROUP BY user_id
ORDER BY user_id
"""


@register("sessionize_events", SESSIONIZE_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min ⇒ new session) — lag + cumulative
    flag over one key shuffle; the batch twin of streaming
    session_window."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("ns", new_session)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
        .orderBy("user_id")
    )


DAILY_ACTIVITY_ORACLE = f"""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       count(*) AS n,
       {sql_exact_sum("value")} AS total_value
FROM events
GROUP BY 1
ORDER BY day
"""


@register("daily_activity", DAILY_ACTIVITY_ORACLE)
def daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/A2 — per-day rollup on a formatted event-time key
    (dashboard.py:73-90)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value").alias("total_value"),
        )
        .orderBy("day")
    )


TUMBLING_HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n
FROM events
GROUP BY 1, 2
"""


@register("tumbling_hourly_counts", TUMBLING_HOURLY_ORACLE)
def tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 — tumbling 1-hour event-time window counts
    (dashboard.py:229-252) via F.window; identical code runs on a
    stream with a watermark (streaming/ingest.py)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


@register("kmeans_phases", None)  # not SQL-expressible: rows-only check
def kmeans_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M3 — flight-phase clustering (app.py:57-95): standardize →
    KMeans(k=3, seed=42) → label clusters by mean signed rate. Features
    derive deterministically from the events measures; output is the
    per-phase profile (A4), small and stable in shape."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("altitude_like"),
        (F.col("value") * 0.5 + (F.col("user_id") % 7)).alias("velocity_like"),
        ((F.col("event_id") % 41) - 20.0).alias("vrate_like"),
    )
    clustered = ml.kmeans_cluster(
        ev, ["altitude_like", "velocity_like", "vrate_like"], k=3, seed=42
    )
    labeled = ml.label_clusters_by_mean(clustered, "cluster", "vrate_like")
    return (
        labeled.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact cents (rows-only query, but layout invariance
            # still wants an order-invariant aggregate)
            exact_avg("altitude_like").alias("avg_altitude_like"),
        )
        .orderBy("phase")
    )


# Deterministic Lloyd twin of kmeans_phases: shared constants between
# the Spark trainer (operators/ml.py::lloyd_kmeans_deterministic) and
# the unrolled-CTE oracle below.
KM_ITERS = 3
KM_DIGITS = 6
KM_SEED_HI = 7.0  # vrate band thresholds for centroid seeding
KM_LABEL_T = 1.0  # per-cluster mean-vrate labeling threshold


def _km_lloyd_oracle(iters: int = KM_ITERS, digits: int = KM_DIGITS) -> str:
    """Unrolled Lloyd's as DuckDB CTEs — the bit-for-bit replay of
    ``lloyd_kmeans_deterministic`` (same quantized standardization,
    banded seeds, argmin with lowest-cid ties, coalesce-on-empty
    centroid update, final labeling on the last assignment)."""
    nf = 3
    means = ", ".join(f"round(avg(z{i}), {digits}) AS m{i}" for i in range(nf))
    dist = " + ".join(f"(z.z{i} - c.m{i}) * (z.z{i} - c.m{i})" for i in range(nf))
    parts = [
        f"""
WITH feat AS (
    SELECT event_id,
           CAST(value AS DOUBLE) AS f0,
           value * 0.5 + (user_id % 7) AS f1,
           (event_id % 41) - 20.0 AS f2
    FROM events WHERE value IS NOT NULL
),
stats AS (SELECT {", ".join(f"round(avg(f{i}), {digits}) AS m{i}, round(stddev_samp(f{i}), {digits}) AS s{i}" for i in range(nf))} FROM feat),
z AS (SELECT event_id, f0, f2, {", ".join(f"round((f{i} - st.m{i}) / st.s{i}, {digits}) AS z{i}" for i in range(nf))}
      FROM feat, stats st),
c0 AS (
    SELECT CASE WHEN f2 > {KM_SEED_HI} THEN 2 WHEN f2 < -{KM_SEED_HI} THEN 0 ELSE 1 END AS cid, {means}
    FROM z GROUP BY 1
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
a{t} AS (
    SELECT event_id, f0, f2, z0, z1, z2, cid FROM (
        SELECT z.*, c.cid,
               row_number() OVER (PARTITION BY z.event_id ORDER BY {dist}, c.cid) AS rn
        FROM z CROSS JOIN c{t - 1} c) t
    WHERE rn = 1
)"""
        )
        if t < iters:
            parts.append(
                f""",
c{t} AS (
    SELECT p.cid, {", ".join(f"coalesce(n.m{i}, p.m{i}) AS m{i}" for i in range(nf))}
    FROM c{t - 1} p LEFT JOIN (
        SELECT cid, {means} FROM a{t} GROUP BY cid) n USING (cid)
)"""
            )
    parts.append(
        f""",
lab AS (
    SELECT cid, CASE WHEN round(avg(f2), {digits}) > {KM_LABEL_T} THEN 'Takeoff/Climb'
                     WHEN round(avg(f2), {digits}) < -{KM_LABEL_T} THEN 'Descent/Approach'
                     ELSE 'Cruise' END AS phase
    FROM a{iters} GROUP BY cid
)
SELECT phase, CAST(count(*) AS BIGINT) AS n,
       {sql_exact_avg("f0")} AS avg_altitude_like
FROM a{iters} JOIN lab USING (cid)
GROUP BY phase ORDER BY phase"""
    )
    return "".join(parts)


@register("kmeans_lloyd_phases", _km_lloyd_oracle())
def kmeans_lloyd_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M3 with a fully deterministic, oracle-checkable trainer —
    the value-hash-verified twin of kmeans_phases (whose MLlib init
    sampling and float reduction order aren't replayable in SQL,
    hence its rows-only check). Quantized standardization (round 6),
    vrate-banded seeding, 3 unrolled Lloyd iterations; every
    arithmetic step replays bit-for-bit in the DuckDB oracle. Scale:
    per-iteration cost is one map-side-combinable 3-key aggregation
    over the persisted standardized frame plus a 3-row collect —
    MLlib's own loop shape (app.py:57-95 semantics)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            F.col("value").cast("double").alias("altitude_like"),
            (F.col("value") * 0.5 + (F.col("user_id") % 7)).alias("velocity_like"),
            ((F.col("event_id") % 41) - 20.0).alias("vrate_like"),
        )
    )
    seed = (
        F.when(F.col("vrate_like") > KM_SEED_HI, 2)
        .when(F.col("vrate_like") < -KM_SEED_HI, 0)
        .otherwise(1)
    )
    clustered = ml.lloyd_kmeans_deterministic(
        ev,
        ["altitude_like", "velocity_like", "vrate_like"],
        seed,
        iters=KM_ITERS,
        digits=KM_DIGITS,
    )
    lab = (
        clustered.groupBy("cluster")
        .agg(F.round(F.avg("vrate_like"), KM_DIGITS).alias("mv"))
        .select(
            "cluster",
            F.when(F.col("mv") > KM_LABEL_T, "Takeoff/Climb")
            .when(F.col("mv") < -KM_LABEL_T, "Descent/Approach")
            .otherwise("Cruise")
            .alias("phase"),
        )
    )
    return (
        clustered.join(F.broadcast(lab), "cluster")
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # altitude_like IS the 2-decimal value column: exact cents
            exact_avg("altitude_like").alias("avg_altitude_like"),
        )
        .orderBy("phase")
    )


ASOF_LAST_ERROR_ORACLE = """
WITH c AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
e AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'error'
),
j AS (
    SELECT c.event_id, c.user_id,
           e.ts AS ets, e.value AS ev,
           row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY e.ts DESC NULLS LAST, e.value DESC NULLS LAST
           ) AS rn
    FROM c LEFT JOIN e
      ON c.user_id = e.user_id AND e.ts <= c.ts
)
SELECT event_id, user_id,
       round(ev, 2) AS err_value,
       CAST(epoch_us(ets) AS BIGINT) AS err_ts_us
FROM j
WHERE rn = 1
"""


@register("asof_last_error", ASOF_LAST_ERROR_ORACLE)
def asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each click event picks up the most
    recent prior 'error' event of the same user. Implemented as the
    merge formulation (union + last(ignorenulls) window) — one shuffle
    on user_id, no pair fan-out; the oracle is the equivalent (but
    quadratic) greatest-ts-per-row SQL."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.where(F.col("event_type") == "error").select("user_id", "ts", "value")
    j = jn.asof_join(
        clicks, errors, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"], tiebreak="value",
    )
    return j.select(
        "event_id",
        "user_id",
        F.round("asof_value", 2).alias("err_value"),
        F.unix_micros("asof_ts").alias("err_ts_us"),
    )


RANGE_BAND_JOIN_ORACLE = f"""
WITH bands(tier, lo, hi) AS (
    VALUES ('low', 0.0, 5.0), ('mid', 5.0, 20.0), ('high', 20.0, 1e18)
)
SELECT b.tier,
       count(*) AS n,
       {sql_exact_avg("e.value")} AS avg_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.tier
ORDER BY b.tier
"""


@register("range_band_join", RANGE_BAND_JOIN_ORACLE)
def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a broadcast band dimension: each
    event matched to the [lo, hi) tier containing its value. The big
    side never shuffles — a BroadcastNestedLoopJoin over a 3-row dim
    is the right physical shape; the aggregation shuffles 3 keys."""
    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 20.0), ("high", 20.0, 1e18)],
        "tier string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_avg("value").alias("avg_value"),
        )
        .orderBy("tier")
    )


SLIDING_HOURLY_ORACLE = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n
FROM (
    SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                   time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
    FROM events
)
GROUP BY ws
ORDER BY ws
"""


@register("sliding_hourly_counts", SLIDING_HOURLY_ORACLE)
def sliding_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 h window, 30 min slide): every
    event lands in exactly two windows. F.window handles the
    assignment row-locally (an explode of two window structs), then
    one count shuffle — same code runs on a stream with a watermark."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
        .orderBy("window_start")
    )


def _events_sample_oracle() -> str:
    from .curation import SAMPLE_A, SAMPLE_B, SAMPLE_C, _mix

    keep = _mix("event_id", SAMPLE_A, SAMPLE_B, SAMPLE_C, 1000)
    return f"""
SELECT event_id, user_id, event_type
FROM events
WHERE {keep} < 100
"""


@register("events_sample", _events_sample_oracle())
def events_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — 10% uniform sample (dashboard.py:122,152), DETERMINISTIC:
    membership is a hash of event_id, so the sample is identical
    across engines, runs, and repartitionings — the reproducibility a
    pipeline needs (and what makes O3 oracle-checkable instead of
    rows-only). The predicate is row-local, evaluated in the scan
    stage before any shuffle — the same cost shape as Spark's native
    seeded ``sample()`` (SampleExec), which remains the right call
    when per-run independence is wanted instead."""
    from .curation import SAMPLE_A, SAMPLE_B, SAMPLE_C, _mix

    keep = _mix("event_id", SAMPLE_A, SAMPLE_B, SAMPLE_C, 1000)
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.expr(f"{keep} < 100")).select("event_id", "user_id", "event_type")


# ---------------------------------------------------------------------------
# Data-quality profiling
# ---------------------------------------------------------------------------

_PROFILE_NUMERIC = ["o_orderkey", "o_custkey", "o_totalprice"]
_PROFILE_OTHER = ["o_orderstatus", "o_orderpriority"]

ORDERS_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {f"round(min({c}), 2)" if c in _PROFILE_NUMERIC else "CAST(NULL AS DOUBLE)"} AS min_num,
       {f"round(max({c}), 2)" if c in _PROFILE_NUMERIC else "CAST(NULL AS DOUBLE)"} AS max_num,
       {f"round(avg({c}), 2)" if c in _PROFILE_NUMERIC else "CAST(NULL AS DOUBLE)"} AS avg_num
FROM orders"""
    for c in _PROFILE_NUMERIC + _PROFILE_OTHER
)


@register("orders_profile", ORDERS_PROFILE_ORACLE)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile (row count, null count, distinct
    count, numeric min/max/mean) in long format — the table-health
    scan a lake runs before admitting data to silver. ONE aggregation
    pass computes every column's metrics; the exact multi-column
    count(distinct) is what the oracle can check — at 100 TB swap in
    approx_count_distinct (HLL sketches are mergeable, single-pass,
    and shuffle O(sketch) instead of O(distinct values))."""
    orders = _t(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_NUMERIC + _PROFILE_OTHER:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
        if c in _PROFILE_NUMERIC:
            aggs += [
                F.round(F.min(c).cast("double"), 2).alias(f"{c}__min"),
                F.round(F.max(c).cast("double"), 2).alias(f"{c}__max"),
                F.round(F.avg(c), 2).alias(f"{c}__avg"),
            ]
    wide = orders.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, "
        + (
            f"{c}__min, {c}__max, {c}__avg"
            if c in _PROFILE_NUMERIC
            else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
        )
        for c in _PROFILE_NUMERIC + _PROFILE_OTHER
    )
    n = len(_PROFILE_NUMERIC + _PROFILE_OTHER)
    return wide.selectExpr(
        f"stack({n}, {stacked}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_num, max_num, avg_num)"
    )


SALTED_EVENT_ROLLUP_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       {sql_exact_sum("value")} AS total_value,
       round(max(value), 6) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("salted_event_rollup", SALTED_EVENT_ROLLUP_ORACLE)
def salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-type rollup: the SAME answer as a plain
    groupBy(event_type) — the driver oracle proves it — computed with
    the two-phase salted plan (operators/skew.py::salted_agg) that a
    100 TB pipeline needs when one key holds a disproportionate share
    of rows: partials aggregate on (key, salt) so the hot key's rows
    spread over n_salts reducers, then the tiny per-salt partials
    merge. Decomposable measures only; rounding happens after the
    final merge so the salted and unsalted sums agree exactly."""
    from ..operators import skew as sk

    ev = _t(spark, sf_dir, "events")
    out = sk.salted_agg(
        ev,
        "event_type",
        {
            "n": "count(*)",
            # exact integer cents survive BOTH salted phases unchanged
            "total_cents": "sum(CAST(round(value * 100, 0) AS BIGINT))",
            "max_value": "max(value)",
        },
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("total_cents") / F.lit(100.0), 2).alias("total_value"),
        F.round("max_value", 6).alias("max_value"),
    ).orderBy("event_type")


GAPFILLED_HOURLY_ORACLE = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
    FROM events GROUP BY 1, 2
),
spine AS (
    SELECT t.event_type, h.hr
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (
        SELECT unnest(generate_series(
            (SELECT min(date_trunc('hour', ts)) FROM events),
            (SELECT max(date_trunc('hour', ts)) FROM events),
            INTERVAL 1 HOUR)) AS hr
    ) h
)
SELECT s.event_type,
       strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(coalesce(hourly.n, 0) AS BIGINT) AS n
FROM spine s
LEFT JOIN hourly ON s.event_type = hourly.event_type AND s.hr = hourly.hr
"""


@register("hourly_counts_gapfilled", GAPFILLED_HOURLY_ORACLE)
def hourly_counts_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: every (event_type, hour) cell over
    the observed span, zero-filled where no events landed — what a
    monitoring/feature pipeline needs before rolling windows (a gap
    that silently disappears corrupts every downstream average). Both
    join inputs are domain-sized (types × hours): the spine from
    sequence+explode, the hourly counts from the one data-scale
    aggregation. The AGGREGATE side broadcasts — the spine is the
    preserved side of the left join, and a left-outer broadcast join
    can only build its right side (a broadcast() hint on the
    preserved side is silently ignored and degrades to SMJ)."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(hours)
    return (
        spine.join(F.broadcast(hourly), ["event_type", "hr"], "left")
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
    )


HOURLY_MOVING_AVG_ORACLE = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
       round(avg(n) OVER (
           PARTITION BY event_type ORDER BY hr
           RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW
       ), 4) AS moving_avg
FROM hourly
"""


@register("hourly_moving_avg", HOURLY_MOVING_AVG_ORACLE)
def hourly_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hour moving average of hourly event volume per type — a
    RANGE-framed window (interval-based, so missing hours shrink the
    frame rather than silently widening it the way a ROWS frame
    would). One shuffle on event_type shared by the count and the
    window; the frame arithmetic is row-local."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hr").cast("long"))
        .rangeBetween(-2 * 3600, 0)
    )
    return hourly.select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.round(F.avg("n").over(w), 4).alias("moving_avg"),
    )


GROUPED_PERCENTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("grouped_percentiles", GROUPED_PERCENTILES_ORACLE)
def grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p95/p99 per event type — the per-cohort
    latency/size profile every monitoring pipeline computes. One hash
    shuffle on the group key; all three percentiles share the same
    per-group sort. At 100 TB swap percentile -> percentile_approx
    (t-digest-style mergeable sketches, single pass, no per-group
    sort) — one function name, same plan shape."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


APPROX_DISTINCT_AUDIT_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("approx_distinct_audit", APPROX_DISTINCT_AUDIT_ORACLE)
def approx_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB distinct-count path, audited: HLL++
    approx_count_distinct (single-pass, mergeable sketches, O(sketch)
    shuffle) next to the exact count, reduced to a within-tolerance
    boolean. The oracle pins the exact counts AND expects the
    tolerance to hold — if Spark's sketch accuracy ever drifts past
    5% at this cardinality, the correctness gate fails rather than a
    production pipeline silently over/under-counting."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
        <= 0.05
    )
    return agg.select(
        "event_type", "exact_users", within.alias("approx_within_5pct")
    ).orderBy("event_type")


APPROX_QUANTILE_AUDIT_ORACLE = """
SELECT round(quantile_cont(value, 0.95), 6) AS exact_p95,
       TRUE AS approx_within_rank_tolerance
FROM events
"""


@register("approx_quantile_audit", APPROX_QUANTILE_AUDIT_ORACLE)
def approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for quantiles, audited: approx_percentile
    (Greenwald-Khanna, single pass, no per-group sort) vs the exact
    interpolated p95. The approx answer is a real data value within
    the accuracy-bounded RANK window; the audit recomputes its true
    rank and checks |rank - 0.95| <= 1/accuracy (value-distance would
    be the wrong metric — a heavy tail makes close ranks far apart in
    value)."""
    ev = _t(spark, sf_dir, "events")
    acc = 1000  # rank error <= n/acc
    stats = ev.agg(
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("exact_p95"),
        F.expr(f"approx_percentile(value, 0.95, {acc})").alias("approx_p95"),
        F.count(F.lit(1)).alias("n"),
    )
    rank_of_approx = ev.crossJoin(F.broadcast(stats)).agg(
        (
            F.sum((F.col("value") <= F.col("approx_p95")).cast("long"))
            / F.first("n")
        ).alias("approx_rank"),
        F.first("exact_p95").alias("exact_p95"),
    )
    within = F.abs(F.col("approx_rank") - 0.95) <= (1.0 / acc + 1e-9)
    return rank_of_approx.select(
        "exact_p95", within.alias("approx_within_rank_tolerance")
    )


VALUE_DISTRIBUTION_RANKS_ORACLE = """
SELECT event_id, event_type,
       round(cume_dist() OVER w, 6) AS cd,
       round(percent_rank() OVER w, 6) AS pr
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value)
"""


@register("value_distribution_ranks", VALUE_DISTRIBUTION_RANKS_ORACLE)
def value_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution position per event within its type: cume_dist
    (fraction of rows with value <= this one) and percent_rank
    ((rank-1)/(n-1)) in one window pass — the per-row normalization
    step feature pipelines use to turn raw magnitudes into ranks.

    One shuffle, PARTITIONED by event_type (never the unpartitioned
    global window), both functions share the same sort. Both engines
    define the two statistics identically as exact small-integer
    ratios, and ties need no tiebreak: cume_dist and percent_rank are
    functions of the VALUE's rank, not the row's arrival order, so the
    6-decimal round is deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


# ---------------------------------------------------------------------------
# JSON property extraction
# ---------------------------------------------------------------------------

# TRY_CAST (not CAST) mirrors Spark's null-on-failure cast('int'): a
# malformed / non-numeric props.k must yield NULL in both engines, not
# raise only in the oracle.
PROPS_JSON_STATS_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INT) AS min_k,
       CAST(max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INT) AS max_k,
       round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       CAST(count(DISTINCT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
           AS distinct_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("props_json_stats", PROPS_JSON_STATS_ORACLE)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: events carry a free-form
    JSON ``props`` payload; pull out the ``k`` field and profile it per
    event type. The lake pattern for attributes that never earned a
    real column — parse at query time, aggregate as if typed.

    ``get_json_object`` is a JVM-side path expression (no UDF, stays
    inside codegen); at 100 TB the right evolution is parsing once
    into a struct column at silver time, but the query-time shape here
    is the same single pass: extract → cast → one partial+final agg on
    the small event_type domain. The extraction happens ONCE in a
    projection — referencing the path expression from each aggregate
    would re-parse the JSON per aggregate per row (measured 4× the
    scan cost) — and the small-file scan is spread across cores the
    same way the documents queries do it. avg is the only double and
    rounds on both sides; min/max/distinct are exact ints."""
    from .llm_ops import _spread

    ev = _spread(spark, _t(spark, sf_dir, "events").select("event_type", "props"))
    projected = ev.select(
        "event_type", F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    return (
        projected.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.countDistinct("k").alias("distinct_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Frequent-items sketch audit
# ---------------------------------------------------------------------------

FREQ_ITEMS_AUDIT_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM events), 4) AS share,
       TRUE AS in_sketch
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("freq_items_audit", FREQ_ITEMS_AUDIT_ORACLE)
def freq_items_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters sketch audit, same pattern as the
    approx_distinct/quantile audits: run the single-pass approximate
    frequent-items sketch (``df.stat.freqItems``, Karp-Papadimitriou-
    Shenker counting) alongside the exact groupBy, and verify the
    sketch's guarantee — every item with frequency above the support
    threshold MUST appear in the sketch result. The event_type domain
    sits far above support=0.05, so ``in_sketch`` is deterministically
    true for every row and the oracle checks the exact counts, shares,
    AND the containment claim by value.

    Scale: freqItems is one pass with a bounded (1/support)-entry map
    per partition plus a driver merge — the shape for "top domains /
    hot keys" first-look profiling at 100 TB where an exact groupBy on
    a high-cardinality key would shuffle everything. The audit's exact
    side is the verification harness, not the production path."""
    ev = _t(spark, sf_dir, "events")
    sketch = set(ev.stat.freqItems(["event_type"], 0.05).collect()[0][0])
    total = ev.count()
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "n",
            F.round(F.col("n").cast("double") / F.lit(total), 4).alias("share"),
            F.col("event_type").isin(list(sketch)).alias("in_sketch"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Retention cohorts
# ---------------------------------------------------------------------------

RETENTION_COHORTS_ORACLE = """
WITH act AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
    FROM events
),
coh AS (SELECT user_id, min(d) AS cohort_day FROM act GROUP BY user_id)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', cohort_day, d) AS INT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM act JOIN coh USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("retention_cohorts", RETENTION_COHORTS_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention triangle: users grouped by first-activity day
    (cohort), counted on each subsequent day-offset they return — the
    standard product-analytics matrix behind every retention curve.

    Shape: raw events collapse row-count-wise FIRST (distinct
    (user, day) — a partial-aggregated shuffle on the user key);
    cohort assignment is a re-aggregate of that small activity set;
    and the activity×cohort join re-uses the user-key partitioning
    both sides already have, so no extra exchange. The final matrix
    is |days|² rows — metadata-scale. Raw event volume only ever
    passes through the first distinct; everything after operates on
    (users × active days).

    Timestamps leave as formatted strings per the registry
    determinism rules."""
    ev = _t(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    coh = act.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        act.join(coh, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# Funnel conversion (view -> purchase within a horizon)
# ---------------------------------------------------------------------------

CONVERSION_HORIZON_S = 600

VIEW_PURCHASE_CONVERSION_ORACLE = f"""
WITH tagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase' THEN ts END AS purchase_ts,
           event_type
    FROM events WHERE event_type IN ('view', 'purchase')
),
nxt AS (
    SELECT user_id, ts, event_type,
           min(purchase_ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
           ) AS next_purchase_ts
    FROM tagged
)
SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_views,
       CAST(count(*) FILTER (
           WHERE next_purchase_ts <= ts + INTERVAL {CONVERSION_HORIZON_S} SECOND
       ) AS BIGINT) AS n_converted,
       round(CAST(count(*) FILTER (
           WHERE next_purchase_ts <= ts + INTERVAL {CONVERSION_HORIZON_S} SECOND
       ) AS DOUBLE) / count(*), 4) AS conversion_rate
FROM nxt
WHERE event_type = 'view'
GROUP BY 1
ORDER BY 1
"""


@register("view_purchase_conversion", VIEW_PURCHASE_CONVERSION_ORACLE)
def view_purchase_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel conversion: of each day's product views, how
    many were followed by a purchase from the same user within 10
    minutes. The event-sequence shape (A then B within t) that naive
    implementations write as a per-user self-join — quadratic in a
    power user's event count.

    Here it is the merge formulation the as-of join uses: one window
    over (user, time) where each view reads the MINIMUM later
    purchase timestamp (running min from the right, rows-between
    1-following/unbounded) — per-key cost linear in that user's
    events, one shuffle on user_id total, no join at all. The
    (ts, event_id) compound order makes the frame deterministic under
    timestamp ties."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    from pyspark.sql import Window

    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("purchase_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = tagged.withColumn("next_purchase_ts", F.min("purchase_ts").over(w))
    converted = F.col("next_purchase_ts") <= F.col("ts") + F.expr(
        f"INTERVAL {CONVERSION_HORIZON_S} SECONDS"
    )
    return (
        nxt.where(F.col("event_type") == "view")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_views"),
            F.count_if(converted).cast("bigint").alias("n_converted"),
            F.round(
                F.count_if(converted).cast("double") / F.count(F.lit(1)), 4
            ).alias("conversion_rate"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Rolling distinct users via mergeable HLL sketches (audited)
# ---------------------------------------------------------------------------

ROLLING_WINDOW_DAYS = 7
HLL_REL_ERROR_MAX = 0.05

ROLLING_DISTINCT_AUDIT_ORACLE = f"""
WITH act AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM act),
win AS (
    SELECT w.d AS win_end, CAST(count(DISTINCT a.user_id) AS BIGINT) AS exact_users
    FROM days w
    JOIN act a ON a.d > w.d - INTERVAL {ROLLING_WINDOW_DAYS} DAY AND a.d <= w.d
    GROUP BY w.d
)
SELECT strftime(win_end, '%Y-%m-%d') AS win_end, exact_users,
       TRUE AS sketch_within_tolerance
FROM win
ORDER BY win_end
"""


@register("rolling_distinct_users_audit", ROLLING_DISTINCT_AUDIT_ORACLE)
def rolling_distinct_users_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users, computed BOTH ways: exactly, and
    by unioning per-day HyperLogLog sketches (``hll_sketch_agg`` /
    ``hll_union_agg``) — the mergeable-sketch pattern that makes
    range-distinct queries tractable at 100 TB, where you precompute
    one small sketch per (day) partition and answer ANY date range by
    unioning sketches instead of re-scanning raw events. The audit
    column asserts the estimate lands within {HLL_REL_ERROR_MAX:.0%}
    of exact (HLL at default lgConfigK=12 is ~1.6% rse), value-checked
    by the oracle as a literal — the same pattern as the
    approx_distinct/quantile/minhash/freq-items audits.

    Scale shape: raw events collapse once to per-day sketches (tiny:
    one ~4 KB binary per day) and once to distinct (user, day) for the
    exact side; the 7-day windows assemble from a days×days range join
    that is |days|²-bounded — metadata-scale — so raw volume is
    touched exactly twice regardless of window count. In production
    only the sketch side runs; the exact side here is the harness."""
    ev = _t(spark, sf_dir, "events")
    act = ev.select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id"
    ).distinct()
    sketches = act.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    days = sketches.select(F.col("d").alias("win_end"))
    horizon = F.date_sub(F.col("win_end"), ROLLING_WINDOW_DAYS - 1)
    in_window = (F.col("d") >= horizon) & (F.col("d") <= F.col("win_end"))
    # days is ALWAYS the broadcast side: sketches are days-sized, but
    # the exact side's (user, day) set grows with the user base — the
    # range join must replicate the |days| rows, never the activity
    est = (
        sketches.join(F.broadcast(days), in_window)
        .groupBy("win_end")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"))
    )
    exact = (
        act.join(F.broadcast(days), in_window)
        .groupBy("win_end")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    tol = (
        F.abs(F.col("est_users") - F.col("exact_users"))
        <= F.col("exact_users") * HLL_REL_ERROR_MAX
    )
    return (
        exact.join(est, "win_end")
        .select(
            F.date_format("win_end", "yyyy-MM-dd").alias("win_end"),
            F.col("exact_users").cast("bigint").alias("exact_users"),
            tol.alias("sketch_within_tolerance"),
        )
        .orderBy("win_end")
    )


# ---------------------------------------------------------------------------
# Per-user EWMA (ordered aggregation fold)
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3

USER_VALUE_EWMA_ORACLE = f"""
WITH s AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id) AS vs
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(vs) AS BIGINT) AS n_events,
       round(list_reduce(vs, (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc), 4)
           AS ewma_value,
       round(vs[-1], 4) AS last_value
FROM s
ORDER BY user_id
"""


@register("user_value_ewma", USER_VALUE_EWMA_ORACLE)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values —
    the streaming-style smoother (alpha=0.3) batch pipelines recompute
    for drift/anomaly baselines. EWMA is inherently sequential, which
    tempts a driver loop; here the recurrence is folded DISTRIBUTED-
    SAFELY in two bounded levels, because EWMA composes: a chunk of k
    values is the affine map E_out = (1-a)^k * E_in + c, where c is
    the chunk's own alpha-weighted fold from zero.

      1. per (user, day): values collect in deterministic
         (ts, event_id) order and fold once with init 0 -> (k, c),
         plus the chunk's first/last raw values. Row size is bounded
         by one key's events per DAY, not its lifetime history — the
         hot-key (bot) OOM a single per-user collect invites.
      2. per user: the day summaries (3 scalars each, <=366/year)
         array-sort by day and fold in order:
         F <- (1-a)^k * F + c, N <- sum k.
         The seed term re-enters algebraically:
         E = F + (1-a)^N * v_first  (exact in real arithmetic; both
         engines round to 4 decimals, absorbing reassociation ulps —
         verified hash-identical vs the sequential-fold oracle at
         sf0.001/0.01/0.1).

    Shape: two shuffles (user+day, then user), both with map-side
    partial aggregation; all folds row-local array HOFs. The oracle
    keeps the plain sequential list_reduce — DuckDB has no hot-key
    problem at oracle scale, and the parity check is exactly what
    proves the chunked decomposition correct."""
    return _ewma_per_user(_t(spark, sf_dir, "events"))


def _ewma_per_user(ev: DataFrame) -> DataFrame:
    """Chunked EWMA core over an (user_id, ts, event_id, value) frame;
    see user_value_ewma. Separated so the property suite can drive it
    with synthetic hot-key inputs."""
    a = EWMA_ALPHA
    per_chunk = (
        ev.select(
            "user_id", F.date_trunc("day", "ts").alias("day"), "ts", "event_id", "value"
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias(
                "rs"
            )
        )
        .select(
            "user_id",
            "day",
            F.size("rs").cast("bigint").alias("k"),
            F.aggregate(
                F.transform("rs", lambda r: r["value"]),
                F.lit(0.0),
                lambda acc, x: a * x + (1 - a) * acc,
            ).alias("c"),
            F.element_at("rs", 1)["value"].alias("first_v"),
            F.element_at("rs", -1)["value"].alias("last_v"),
        )
    )
    merged = per_chunk.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("day", "k", "c", "first_v", "last_v"))
        ).alias("cs")
    )
    decay = F.lit(1.0 - a)
    f_total = F.aggregate(
        F.col("cs"), F.lit(0.0), lambda acc, s: s["c"] + F.pow(decay, s["k"]) * acc
    )
    n_total = F.aggregate(
        F.transform("cs", lambda s: s["k"]),
        F.lit(0).cast("bigint"),
        lambda acc, k: acc + k,
    )
    ewma = f_total + F.pow(decay, n_total) * F.element_at("cs", 1)["first_v"]
    return merged.select(
        "user_id",
        n_total.alias("n_events"),
        F.round(ewma, 4).alias("ewma_value"),
        F.round(F.element_at("cs", -1)["last_v"], 4).alias("last_value"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Regression aggregates (trend per event type)
# ---------------------------------------------------------------------------

VALUE_TREND_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(value, (epoch(ts) - 1704067200) / 3600.0), 6) AS slope_per_hour,
       round(regr_intercept(value, (epoch(ts) - 1704067200) / 3600.0), 4) AS value_at_t0,
       round(corr(value, (epoch(ts) - 1704067200) / 3600.0), 6) AS r
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("value_trend_by_type", VALUE_TREND_ORACLE)
def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear trend per event type: OLS slope/intercept of value over
    time (hours) plus the correlation coefficient, via the SQL-
    standard regression aggregates (``regr_slope`` & co.) — drift
    detection as one aggregation pass instead of a model-fitting job.

    The regression aggregates are algebraic (sums of x, y, xy, x²):
    they partial-aggregate map-side and merge exactly like sum/count,
    so the query is one shuffle on the small event_type domain at any
    scale. Both engines compute x from the full microsecond-precision
    epoch (``unix_micros``/1e6 here, ``epoch(ts)`` in DuckDB), so the
    inputs are bit-identical; results round (6/4/6) only to absorb
    reduction-order ulps."""
    ev = _t(spark, sf_dir, "events")
    # hours since 2024-01-01, not since 1970: the intercept is an
    # extrapolation to x=0, so an uncentered epoch multiplies slope
    # ulps by ~473k hours and the last rounded digit diverges between
    # engines — centering makes the intercept local and ulp-stable.
    # unix_micros (not unix_timestamp, which truncates to whole
    # seconds) so Spark sees the same fractional seconds as the
    # oracle's epoch(ts).
    x = (F.unix_micros("ts") / F.lit(1e6) - 1704067200) / 3600.0
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_hour"),
            F.round(F.regr_intercept(F.col("value"), x), 4).alias("value_at_t0"),
            F.round(F.corr(F.col("value"), x), 6).alias("r"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Bounded recursive path expansion (multi-hop event chains)
# ---------------------------------------------------------------------------

CHAIN_MAX_DEPTH = 4
CHAIN_GAP_S = 7200  # an edge links an event to the user's next event <=2h later

EVENT_CHAIN_ORACLE = f"""
WITH RECURSIVE nxt AS (
  SELECT event_id, user_id, ts, event_type,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nid,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ntype
  FROM events
),
edges AS (
  SELECT event_id AS src, nid AS dst, ntype AS dst_type
  FROM nxt WHERE nid IS NOT NULL
   AND epoch_us(nts) - epoch_us(ts) <= CAST({CHAIN_GAP_S} AS BIGINT) * 1000000
),
chains AS (
  SELECT event_id AS tail, 1 AS depth, event_type AS last_type
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT e.dst, c.depth + 1, e.dst_type
  FROM chains c JOIN edges e ON c.tail = e.src
  WHERE c.depth < {CHAIN_MAX_DEPTH}
)
SELECT CAST(depth AS INT) AS depth, last_type,
       CAST(count(*) AS BIGINT) AS n_chains
FROM chains GROUP BY depth, last_type ORDER BY depth, last_type
"""


@register("event_chain_expansion", EVENT_CHAIN_ORACLE)
def event_chain_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE-style bounded path expansion — the hierarchical/
    graph-walk query family (multi-hop funnels, org charts, BOM
    explosions) expressed Spark-first. Chains start at 'view' events
    and follow the user's NEXT-event edge (gap <= 2 h) up to depth 4;
    output counts every path prefix by (depth, final event type).

    Spark has no recursive CTE, but a DEPTH-BOUNDED recursion unrolls
    exactly: the edge list (one lead() window over user-partitioned
    events — each event has at most one out-edge, so |edges| <= |events|)
    is computed once and persisted, then k-1 frontier-x-edges
    equi-joins extend the paths. Each iteration shuffles only the
    shrinking frontier against the co-keyed edge table (AQE broadcasts
    the frontier once it collapses below the threshold — at depth 3-4
    it is orders of magnitude smaller than the corpus); nothing is
    ever cartesian, and unrolling k joins keeps the whole expansion
    one declarative plan Catalyst can pipeline, instead of k separate
    driver-materialized rounds. The oracle runs the same expansion as
    a genuine WITH RECURSIVE, so parity also cross-checks Spark's
    unrolled plan against DuckDB's fixpoint operator."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    from ..caching import scoped_persist

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.lead("event_id").over(w).alias("nid"),
        F.lead("ts").over(w).alias("nts"),
        F.lead("event_type").over(w).alias("ntype"),
    )
    # integer-microsecond threshold: the boundary edge can never flip
    # on a double-epoch subtraction ulp (r9, same class as
    # view_purchase_pairs' sf1 catch)
    gap_us = F.unix_micros("nts") - F.unix_micros("ts")
    edges = scoped_persist(
        nxt.where(
            F.col("nid").isNotNull() & (gap_us <= CHAIN_GAP_S * 1_000_000)
        ).select(
            F.col("event_id").alias("src"),
            F.col("nid").alias("dst"),
            F.col("ntype").alias("dst_type"),
        )
    )
    frontier = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("tail"),
        F.lit(1).alias("depth"),
        F.col("event_type").alias("last_type"),
    )
    levels = [frontier]
    for depth in range(2, CHAIN_MAX_DEPTH + 1):
        frontier = (
            frontier.join(edges, frontier["tail"] == edges["src"])
            .select(
                F.col("dst").alias("tail"),
                F.lit(depth).alias("depth"),
                F.col("dst_type").alias("last_type"),
            )
        )
        levels.append(frontier)
    all_prefixes = levels[0]
    for lv in levels[1:]:
        all_prefixes = all_prefixes.unionByName(lv)
    return (
        all_prefixes.groupBy("depth", "last_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_chains"))
        .select(F.col("depth").cast("int").alias("depth"), "last_type", "n_chains")
        .orderBy("depth", "last_type")
    )


# ---------------------------------------------------------------------------
# Interval join (batch twin of the stream-stream join)
# ---------------------------------------------------------------------------

INTERVAL_JOIN_HORIZON_S = 3600

VIEW_PURCHASE_PAIRS_ORACLE = f"""
SELECT v.user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       round((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000.0, 3) AS gap_s
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL {INTERVAL_JOIN_HORIZON_S} SECONDS
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
ORDER BY view_event_id, purchase_event_id
"""


@register("view_purchase_pairs", VIEW_PURCHASE_PAIRS_ORACLE)
def view_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch attestation of the stream-stream interval join
    (streaming/ingest.py:interval_join): each view pairs with the SAME
    USER's purchases in the following hour, returning the joined pairs
    themselves (view_purchase_conversion aggregates the same semantics
    to rates; this query is the operator's raw output). The registered
    query calls the streaming operator VERBATIM — watermarks are
    defined no-ops in batch — so the oracle checks the exact code path
    a stream executes per micro-batch.

    Scale shape: an equi-join on user_id with the interval bound in
    the join condition — both sides hash-shuffle on the key once and
    the range is evaluated within co-partitioned buckets (never a
    nested-loop over the corpus; plan-tested). Per-key fan-out is
    bounded by a user's views x purchases inside one horizon window;
    in streaming the same condition is what lets the engine evict
    buffered state."""
    from ..streaming.ingest import interval_join

    ev = _t(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_event_id")
    )
    joined = interval_join(
        v,
        p,
        key="user_id",
        lower_s=0,
        upper_s=INTERVAL_JOIN_HORIZON_S,
    )
    # exact integer-microsecond difference, divided once (r9, caught
    # by the full-registry sf1 sweep): DuckDB's epoch() returns DOUBLE
    # seconds (~1.7e9), whose subtraction loses sub-millisecond
    # precision and flipped round(.,3) on 10 rows at sf1 — both
    # engines now divide the identical exact integer.
    gap_s = (F.unix_micros("r_ts") - F.unix_micros("ts")) / F.lit(1e6)
    return joined.select(
        "user_id",
        "view_event_id",
        F.col("r_purchase_event_id").alias("purchase_event_id"),
        F.round(gap_s, 3).alias("gap_s"),
    ).orderBy("view_event_id", "purchase_event_id")


# ---------------------------------------------------------------------------
# PIVOT (long-to-wide reshape) and grouped exact quantiles
# ---------------------------------------------------------------------------

_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAILY_TYPE_PIVOT_ORACLE = f"""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       {", ".join(f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}" for t in _PIVOT_TYPES)}
FROM events
GROUP BY 1
ORDER BY day
"""


@register("daily_type_pivot", DAILY_TYPE_PIVOT_ORACLE)
def daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — the long-to-wide inverse of pricing_measures_melt: one
    row per day, one count column per event type. Spark's
    ``pivot(col, values)`` with the value list PINNED compiles to a
    single aggregation pass with conditional aggregates (one shuffle
    on the day key, no second pass to discover the domain — at 100 TB
    the unpinned form adds a full distinct scan before the real job;
    the oracle writes the same plan explicitly as count FILTER)."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in _PIVOT_TYPES],
    ).orderBy("day")


GROUPED_QUANTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("grouped_value_quantiles", GROUPED_QUANTILES_ORACLE)
def grouped_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p50/p95/p99 of value per event
    type) — the grouped twin of the global p99_value. Spark
    ``percentile`` and DuckDB ``quantile_cont`` are both linear-
    interpolation definitions, so values hash-match at 6 decimals.
    One shuffle on the small type domain; the sort happens inside each
    group's aggregation buffer. At 100 TB the same plan swaps
    ``percentile`` for ``percentile_approx`` (the audited trade
    measured by approx_quantile_audit)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Date-spine gap filling (calendar resample)
# ---------------------------------------------------------------------------

DAILY_FILLED_ORACLE = f"""
WITH bounds AS (
    SELECT CAST(min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS DATE) AS lo,
           CAST(max(date_trunc('day', CAST(ts AS TIMESTAMP))) AS DATE) AS hi
    FROM events
),
spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
),
actual AS (
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           {sql_exact_sum("value")} AS total_value
    FROM events GROUP BY 1
)
SELECT strftime(CAST(spine.day AS DATE), '%Y-%m-%d') AS day,
       coalesce(actual.n, 0) AS n,
       coalesce(actual.total_value, 0.0) AS total_value
FROM spine LEFT JOIN actual ON CAST(spine.day AS DATE) = actual.day
ORDER BY day
"""


@register("daily_activity_filled", DAILY_FILLED_ORACLE)
def daily_activity_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-resampled daily rollup: every day between the corpus
    min and max appears, zero-filled where no events landed — the
    gap-filling shape dashboards and window-over-time models need
    (daily_activity alone silently skips empty days, which breaks
    moving averages and day-over-day deltas downstream).

    Scale shape: the spine derives from a 1-row min/max aggregate and
    explodes driver-free via ``sequence()`` — calendar-sized, so it is
    the BROADCAST side of the left join against the per-day rollup;
    the fact table is touched exactly twice (bounds + rollup), both
    partial-aggregated single shuffles."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("lo"),
        F.max(F.to_date(F.date_trunc("day", "ts"))).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    actual = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        exact_sum("value").alias("total_value"),
    )
    return (
        F.broadcast(spine)
        .join(actual, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Month-over-month growth (window over an aggregated series)
# ---------------------------------------------------------------------------

MOM_REVENUE_ORACLE = f"""
WITH monthly AS (
    SELECT strftime(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)), '%Y-%m') AS month,
           sum({sql_units("o_totalprice")}) AS rev_cents
    FROM orders GROUP BY 1
)
SELECT month,
       round(rev_cents / 100.0, 2) AS revenue,
       round((rev_cents - lag(rev_cents) OVER (ORDER BY month)) / 100.0, 2)
           AS mom_delta,
       round((rev_cents - lag(rev_cents) OVER (ORDER BY month))
             / CAST(lag(rev_cents) OVER (ORDER BY month) AS DOUBLE) * 100, 4)
           AS mom_pct
FROM monthly
ORDER BY month
"""


@register("monthly_revenue_growth", MOM_REVENUE_ORACLE)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: rollup to a months-sized
    series, then lag deltas and percent change — the
    window-over-aggregate shape every KPI dashboard runs. The window
    is deliberately unpartitioned BUT runs over the aggregated series
    (≤ months in history — metadata-scale by construction, same
    argument as vocab_coverage's top-K window); the only data-scale
    work is the one partial-aggregated rollup shuffle."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(exact_sum_units("o_totalprice").alias("rev_cents"))
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "month",
        F.round(F.col("rev_cents") / F.lit(100.0), 2).alias("revenue"),
        F.round((F.col("rev_cents") - prev) / F.lit(100.0), 2).alias("mom_delta"),
        F.round((F.col("rev_cents") - prev) / prev * 100, 4).alias("mom_pct"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Event-type transition matrix (sequence mining)
# ---------------------------------------------------------------------------

TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type,
       count(*) AS n,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev_type), 4)
           AS p_next
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
ORDER BY prev_type, next_type
"""


@register("event_type_transitions", TRANSITIONS_ORACLE)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (prev_type -> next_type) adjacency, the count
    and the row-normalized transition probability — the
    sequence-mining building block behind next-action prediction and
    funnel anomaly detection.

    Scale shape: one hash shuffle on user_id; the lag window rides
    that partitioning (same single-exchange argument as
    latest_event_per_user). The transition rollup then aggregates to
    |types|^2 rows — metadata-scale — so the normalizing window runs
    over a tiny frame. Ties in ts are broken by event_id for a
    deterministic sequence."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wnorm = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wnorm), 4).alias("p_next"),
    ).orderBy("prev_type", "next_type")


# ---------------------------------------------------------------------------
# Daily volume anomaly (z-score)
# ---------------------------------------------------------------------------

ZSCORE_ANOMALY_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
    FROM daily GROUP BY 1
)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n,
       round(mu, 4) AS mean_daily,
       round((d.n - mu) / sigma, 4) AS z
FROM daily d JOIN stats s USING (event_type)
WHERE sigma > 0 AND abs((d.n - mu) / sigma) > 2
ORDER BY event_type, day
"""


@register("daily_anomaly_zscore", ZSCORE_ANOMALY_ORACLE)
def daily_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: days whose event count sits
    more than 2 sigma from that type's daily mean — the ops-dashboard
    spike/outage detector, and the simplest member of the
    anomaly-flag family next to suspicious_events (rule-based) and
    quantile_outliers (distributional).

    Scale shape: the daily rollup partial-aggregates to
    |types|x|days| rows before anything else happens, so the stats
    join is metadata-scale and broadcast. Integer counts feed
    avg/stddev, so cross-engine drift is sub-ulp and rounded away at
    4 decimals."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) > 2))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.round("mu", 4).alias("mean_daily"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Robust outlier bounds (median absolute deviation)
# ---------------------------------------------------------------------------

MAD_ORACLE = """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY 1
),
mad AS (
    SELECT e.event_type, med,
           quantile_cont(abs(e.value - med), 0.5) AS mad
    FROM events e JOIN med USING (event_type)
    GROUP BY 1, 2
)
SELECT m.event_type,
       round(med, 6) AS med,
       round(mad, 6) AS mad,
       round(med - 3 * 1.4826 * mad, 6) AS lower_bound,
       round(med + 3 * 1.4826 * mad, 6) AS upper_bound,
       CAST(count(*) FILTER (WHERE e.value < med - 3 * 1.4826 * mad
                                OR e.value > med + 3 * 1.4826 * mad)
            AS BIGINT) AS n_outliers
FROM mad m JOIN events e USING (event_type)
GROUP BY 1, 2, 3, 4, 5
ORDER BY event_type
"""


@register("mad_outlier_bounds", MAD_ORACLE)
def mad_outlier_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier fences via median absolute deviation
    (med +/- 3 * 1.4826 * MAD, the normal-consistent scale factor) —
    the estimator quality pipelines prefer over mean/stddev because a
    contaminated tail can't drag its own fence. Complements
    quantile_outliers (fixed percentile) with a
    contamination-resistant bound.

    Scale shape: three passes over events, each a partial-aggregated
    hash shuffle on event_type, with the |types|-row med/mad frames
    broadcast back — the standard exact two-phase median-of-residuals
    plan. Exact interpolated percentile on both engines (Spark
    percentile == DuckDB quantile_cont), rounded at 6."""
    events = _t(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    lo = F.col("med") - 3 * 1.4826 * F.col("mad")
    hi = F.col("med") + 3 * 1.4826 * F.col("mad")
    joined = events.join(F.broadcast(mad), "event_type")
    return (
        joined.groupBy(
            "event_type",
            F.round("med", 6).alias("med_r"),
            F.round("mad", 6).alias("mad_r"),
            F.round(lo, 6).alias("lower_bound"),
            F.round(hi, 6).alias("upper_bound"),
        )
        .agg(
            F.sum(
                F.when((F.col("value") < lo) | (F.col("value") > hi), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("med_r").alias("med"),
            F.col("mad_r").alias("mad"),
            "lower_bound",
            "upper_bound",
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Forward as-of join with tolerance (merge_asof surface)
# ---------------------------------------------------------------------------

NEXT_PURCHASE_ORACLE = """
WITH v AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
j AS (
    SELECT v.event_id, v.user_id,
           p.ts AS pts, p.value AS pv, p.event_id AS pid,
           row_number() OVER (
               PARTITION BY v.event_id
               ORDER BY p.ts ASC NULLS LAST, p.event_id ASC NULLS LAST
           ) AS rn
    FROM v LEFT JOIN p
      ON v.user_id = p.user_id AND p.ts >= v.ts
         AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
)
SELECT event_id, user_id,
       round(pv, 2) AS next_value,
       pid AS next_event_id,
       CAST(epoch_us(pts) AS BIGINT) AS next_ts_us
FROM j
WHERE rn = 1
"""


@register("next_purchase_asof", NEXT_PURCHASE_ORACLE)
def next_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: for every view event, the
    NEAREST following purchase by the same user within one hour
    (pandas merge_asof direction='forward' semantics; outside-
    tolerance matches null out but the view row survives) — the
    attribution join ad-tech and funnel pipelines run constantly.
    Complements asof_last_error (backward) and view_purchase_pairs
    (ALL pairs in the window vs the nearest one).

    Scale shape: the merge formulation — one shuffle on user_id, one
    partition sort, zero pair fan-out (the oracle's range join emits
    every candidate pair before rn=1 filters; the Spark plan never
    materializes them). Tolerance is a row-local post-filter on
    microsecond arithmetic, identical in both engines."""
    events = _t(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", F.col("event_id").alias("p_event_id")
    )
    out = jn.asof_join(
        views,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["value", "p_event_id"],
        tiebreak="p_event_id",
        direction="forward",
        tolerance=3600.0,
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("asof_value", 2).alias("next_value"),
        F.col("asof_p_event_id").alias("next_event_id"),
        F.unix_micros("asof_ts").alias("next_ts_us"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (contingency analysis)
# ---------------------------------------------------------------------------

CHI2_ORACLE = f"""
WITH obs AS (
    SELECT event_type, dayofweek(ts) AS dow, count(*) AS o
    FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY 1),
ct AS (SELECT dow, sum(o) AS c FROM obs GROUP BY 1),
n AS (SELECT sum(o) AS n FROM obs),
cells AS (
    SELECT o.event_type, o.dow, o.o,
           CAST(rt.r AS DOUBLE) * ct.c / n.n AS e
    FROM obs o JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
)
SELECT round(sum({sql_units("(o - e) * (o - e) / e", 1_000_000)})
             / 1000000.0, 4) AS chi2,
       CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
            AS BIGINT) AS dof,
       CAST(count(*) AS BIGINT) AS n_cells
FROM cells
"""


@register("event_dow_chi2", CHI2_ORACLE)
def event_dow_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and
    day-of-week — the contingency-table statistic behind "does
    behavior differ by weekday" dashboards and drift monitors
    (statistical-testing family, next to daily_anomaly_zscore's
    univariate z flags).

    Scale shape: the contingency table partial-aggregates to
    |types| x 7 cells in one shuffle; marginals and the statistic are
    computed over that metadata-scale frame (broadcast joins, one
    final fold). Cell terms are exact-integer-derived doubles; only
    the 56-term sum can differ in order, absorbed by round(4).

    Spark dayofweek() is 1-based (Sunday=1), DuckDB's 0-based — the
    Spark side subtracts 1."""
    events = _t(spark, sf_dir, "events")
    obs = events.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            "o",
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("e"),
        )
    )
    # each cell's contribution rounds to an exact integer 1e-6 unit
    # before the sum (r9): o and e are identical doubles on both
    # engines, so the per-cell round agrees bit-for-bit and the
    # integer sum is order-invariant — a raw double sum over the cell
    # frame could flip the 4th decimal on engine/layout reorders
    return cells.agg(
        F.round(
            F.sum(
                units(
                    (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                    / F.col("e"),
                    1_000_000,
                )
            )
            / F.lit(1_000_000.0),
            4,
        ).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )


# ---------------------------------------------------------------------------
# VariantType semi-structured extraction (Spark 4 lakehouse path)
# ---------------------------------------------------------------------------

VARIANT_PROPS_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS n_with_k,
       round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
           AS avg_k,
       max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("props_variant_stats", VARIANT_PROPS_ORACLE)
def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property stats through Spark 4's VARIANT type:
    ``parse_json`` converts the props string to the binary variant
    encoding ONCE, then typed ``variant_get`` paths extract fields —
    the modern lakehouse semi-structured story (open variant spec,
    shared by Delta/Iceberg), vs props_json_stats' per-field string
    re-parse (``get_json_object`` tokenizes the JSON once PER
    extraction). With many extracted fields the variant path
    re-parses nothing; malformed values surface as NULL on both
    engines (try_variant_get == DuckDB TRY_CAST; plain variant_get
    raises INVALID_VARIANT_CAST, the strict twin).

    Scale shape: row-local parse + one partial-aggregated shuffle to
    |types| rows. At 100 TB the win is storing the variant column at
    ingest so every downstream query skips the string parse
    entirely."""
    events = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count("k").cast("bigint").alias("n_with_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (quartile scoring)
# ---------------------------------------------------------------------------

RFM_ORACLE = f"""
WITH per_user AS (
    SELECT user_id,
           max(ts) AS last_ts,
           count(*) AS frequency,
           sum({sql_units("value")}) AS monetary_cents
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
),
scored AS (
    SELECT user_id,
           ntile(4) OVER (ORDER BY last_ts DESC, user_id) AS r,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f,
           ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS m
    FROM per_user
)
SELECT r, f, m,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(min(user_id) AS BIGINT) AS sample_user
FROM scored
GROUP BY 1, 2, 3
ORDER BY r, f, m
"""


@register("rfm_segments", RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    purchasing users — the canonical customer-value grid every
    marketing warehouse derives, and the ML-feature shape (per-entity
    rollup -> rank-based bucketing) that feeds churn models.

    Scale shape: the purchase scan rolls up to one row per user
    FIRST; the three ntile windows then run over the users frame.
    NOTE the deliberate contrast with value_deciles: these windows
    are global-ORDER-BY, acceptable here only because the USERS frame
    is orders of magnitude smaller than events; at a 10^9-user scale
    the same exact_ntile range-exchange used by value_deciles slots
    in per dimension (same expression, documented swap). Ties broken
    by user_id so both engines bucket identically."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    per_user = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            # exact integer cents: the m-quartile ordering can never
            # disagree across engines on a summation-order ulp
            exact_sum_units("value").alias("monetary_cents"),
        )
    )
    r = F.ntile(4).over(Window.orderBy(F.desc("last_ts"), F.asc("user_id")))
    f = F.ntile(4).over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
    m = F.ntile(4).over(Window.orderBy(F.desc("monetary_cents"), F.asc("user_id")))
    scored = per_user.select(
        "user_id", r.alias("r"), f.alias("f"), m.alias("m")
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("user_id").cast("bigint").alias("sample_user"),
        )
        .orderBy("r", "f", "m")
    )


# ---------------------------------------------------------------------------
# Gaps and islands (contiguous id ranges)
# ---------------------------------------------------------------------------

GAPS_ISLANDS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
grp AS (
    SELECT user_id, day,
           day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                      AS INTEGER) AS g
    FROM days
),
streaks AS (
    SELECT user_id,
           count(*) AS streak_len,
           min(day) AS streak_start
    FROM grp GROUP BY user_id, g
),
best AS (
    SELECT user_id, streak_len, streak_start,
           row_number() OVER (
               PARTITION BY user_id ORDER BY streak_len DESC, streak_start
           ) AS rn
    FROM streaks
)
SELECT user_id,
       CAST(streak_len AS BIGINT) AS streak_len,
       strftime(streak_start, '%Y-%m-%d') AS streak_start
FROM best
WHERE rn = 1
ORDER BY streak_len DESC, user_id
LIMIT 100
"""


@register("activity_streaks", GAPS_ISLANDS_ORACLE)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (top 100) —
    the gaps-and-islands pattern (date minus row_number groups
    contiguous runs), the canonical SQL shape for engagement streaks
    and ingest-completeness audits that the registry didn't yet
    carry.

    Scale shape: distinct (user, day) partial-aggregates first; the
    row_number window partitions BY USER so it rides the same hash
    exchange — no global window anywhere (contrast the global-frame
    patterns that need value_deciles' range exchange). Top-100 is a
    TakeOrderedAndProject with a full tiebreak."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("g"),
    )
    streaks = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "streak_len",
            F.date_format("streak_start", "yyyy-MM-dd").alias("streak_start"),
        )
        .orderBy(F.desc("streak_len"), "user_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Monthly churn (windowed anti-join)
# ---------------------------------------------------------------------------

MONTHLY_CHURN_ORACLE = """
WITH activity AS (
    SELECT DISTINCT user_id,
           strftime(date_trunc('month', ts), '%Y-%m') AS month
    FROM events
),
months AS (SELECT DISTINCT month FROM activity),
seq AS (
    SELECT month,
           lag(month) OVER (ORDER BY month) AS prev_month
    FROM months
),
churn AS (
    SELECT s.month,
           count(*) AS churned
    FROM seq s
    JOIN activity a ON a.month = s.prev_month
    WHERE s.prev_month IS NOT NULL
      AND NOT EXISTS (
          SELECT 1 FROM activity b
          WHERE b.user_id = a.user_id AND b.month = s.month
      )
    GROUP BY s.month
),
base AS (SELECT month, count(*) AS active FROM activity GROUP BY 1)
SELECT s.month,
       CAST(pb.active AS BIGINT) AS prev_active,
       CAST(coalesce(c.churned, 0) AS BIGINT) AS churned,
       round(coalesce(c.churned, 0) * 1.0 / pb.active, 4) AS churn_rate
FROM seq s
JOIN base pb ON pb.month = s.prev_month
LEFT JOIN churn c ON c.month = s.month
WHERE s.prev_month IS NOT NULL
ORDER BY s.month
"""


@register("monthly_churn", MONTHLY_CHURN_ORACLE)
def monthly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month churn: of the users active in month m-1, how
    many have NO activity in month m — the windowed anti-join every
    growth dashboard runs, complementing retention_cohorts (which
    follows a fixed signup cohort forward) with the rolling
    adjacent-month view.

    Scale shape: activity distinct-aggregates to (user, month) rows
    first; the churn check is a per-adjacent-month-pair anti-join on
    user_id — an equi-join Spark hashes, never a cross. The month
    spine is metadata-scale so the lag window is trivial."""
    from pyspark.sql import Window

    from ..caching import scoped_persist

    events = _t(spark, sf_dir, "events")
    activity = scoped_persist(
        events.select(
            "user_id",
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        ).distinct()
    )
    months = activity.select("month").distinct()
    seq = months.select(
        "month", F.lag("month").over(Window.orderBy("month")).alias("prev_month")
    ).where(F.col("prev_month").isNotNull())
    prev = activity.select(
        F.col("month").alias("prev_month"), "user_id"
    )
    cur = activity.select(F.col("month").alias("cur_month"), F.col("user_id").alias("cu"))
    # users active in prev_month, joined to the month-pair spine
    cand = seq.join(prev, "prev_month")
    churned = cand.join(
        cur,
        (cand.month == cur.cur_month) & (cand.user_id == cur.cu),
        "left_anti",
    ).groupBy("month").agg(F.count(F.lit(1)).cast("bigint").alias("churned"))
    base = activity.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("active")
    )
    pb = base.select(F.col("month").alias("prev_month"), F.col("active").alias("prev_active"))
    return (
        seq.join(F.broadcast(pb), "prev_month")
        .join(F.broadcast(churned), "month", "left")
        .select(
            "month",
            "prev_active",
            F.coalesce("churned", F.lit(0)).cast("bigint").alias("churned"),
            F.round(
                F.coalesce("churned", F.lit(0)) * 1.0 / F.col("prev_active"), 4
            ).alias("churn_rate"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Power-law activity histogram (log2 buckets)
# ---------------------------------------------------------------------------

ACTIVITY_HIST_ORACLE = """
WITH per_user AS (
    SELECT user_id, count(*) AS n FROM events GROUP BY 1
)
SELECT CAST(floor(log2(CAST(n AS DOUBLE))) AS BIGINT) AS bucket_log2,
       CAST(power(2, floor(log2(CAST(n AS DOUBLE)))) AS BIGINT) AS bucket_min_events,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n) AS BIGINT) AS n_events
FROM per_user
GROUP BY 1, 2
ORDER BY bucket_log2
"""


@register("user_activity_histogram", ACTIVITY_HIST_ORACLE)
def user_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of per-user event counts — the
    power-law audit that says how heavy the heavy tail is, which is
    exactly what decides whether join_key_skew_profile's salting is
    needed (a flat histogram means hash partitioning is safe; a
    steep one means the top buckets are stragglers).

    Scale shape: two partial-aggregated shuffles, the second over
    ~60 bucket rows. floor(log2(n)) on exact integer counts is
    bit-identical across engines (log2 of an int is only boundary-
    ambiguous AT powers of two, where IEEE log2 is exact)."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    b = F.floor(F.log2(F.col("n").cast("double")))
    return (
        per_user.groupBy(
            b.cast("bigint").alias("bucket_log2"),
            F.pow(F.lit(2.0), b).cast("bigint").alias("bucket_min_events"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
        .orderBy("bucket_log2")
    )


# ---------------------------------------------------------------------------
# Conversion latency (days to first purchase)
# ---------------------------------------------------------------------------

FIRST_PURCHASE_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           min(ts) AS first_seen,
           min(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
    FROM events GROUP BY 1
),
lat AS (
    SELECT date_diff('day', CAST(first_seen AS DATE), CAST(first_purchase AS DATE))
               AS days_to_convert
    FROM firsts
    WHERE first_purchase IS NOT NULL
)
SELECT CAST(days_to_convert AS BIGINT) AS days_to_convert,
       CAST(count(*) AS BIGINT) AS n_users
FROM lat
GROUP BY 1
ORDER BY days_to_convert
"""


@register("days_to_first_purchase", FIRST_PURCHASE_ORACLE)
def days_to_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every user who ever
    purchased, the whole days between their first event of any kind
    and their first purchase, histogrammed — the activation-funnel
    timing chart growth teams tune onboarding against (conditional
    min aggregates + date arithmetic, the one first-touch shape the
    registry lacked).

    Scale shape: ONE pass over events computes both firsts via a
    filtered aggregate (no self-join, no window); the latency rollup
    is over |users| rows and the histogram over ~days values."""
    events = _t(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return (
        firsts.where(F.col("first_purchase").isNotNull())
        .select(
            F.datediff(
                F.col("first_purchase").cast("date"),
                F.col("first_seen").cast("date"),
            )
            .cast("bigint")
            .alias("days_to_convert")
        )
        .groupBy("days_to_convert")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("days_to_convert")
    )


# ---------------------------------------------------------------------------
# Argmax aggregates (max_by / min_by)
# ---------------------------------------------------------------------------

TOP_USER_ORACLE = f"""
WITH per AS (
    SELECT event_type, user_id,
           sum({sql_units("value")}) AS total_cents
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
),
keyed AS (
    -- deterministic argmax under ties: fold user_id into the ordering
    -- key so both engines pick the same user (lowest id wins the tie)
    SELECT event_type, user_id, total_cents,
           row_number() OVER (
               PARTITION BY event_type ORDER BY total_cents DESC, user_id
           ) AS rn
    FROM per
)
SELECT event_type,
       CAST(user_id AS BIGINT) AS top_user,
       round(total_cents / 100.0, 2) AS top_total
FROM keyed WHERE rn = 1
ORDER BY event_type
"""


@register("top_user_by_type", TOP_USER_ORACLE)
def top_user_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the single highest-value user and their total —
    the argmax aggregate (Spark ``max_by``). Ties break to the lowest
    user_id by folding the id into the ordering struct, because
    ``max_by``'s own tie behavior is engine-dependent — the pattern to
    copy whenever argmax must be deterministic across engines.

    Scale shape: two partial-aggregated shuffles ((type, user) rollup
    then per-type argmax); no window over data-scale rows — max_by
    reduces map-side like any algebraic aggregate."""
    events = _t(spark, sf_dir, "events")
    per = (
        events.where(F.col("value").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(exact_sum_units("value").alias("total_cents"))
    )
    # argmax via max_by on a (total, -user_id) struct: struct ordering
    # is lexicographic, so ties on total resolve to the LOWEST user_id;
    # totals compare in exact integer cents (r9) so the argmax itself
    # can never flip on a summation-order ulp
    key = F.struct(F.col("total_cents"), (-F.col("user_id")).alias("nu"))
    return (
        per.groupBy("event_type")
        .agg(
            F.max_by("user_id", key).cast("bigint").alias("top_user"),
            F.round(F.max("total_cents") / F.lit(100.0), 2).alias("top_total"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# DAU / MAU stickiness
# ---------------------------------------------------------------------------

STICKINESS_ORACLE = """
WITH dau AS (
    SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS dau
    FROM events GROUP BY 1
),
mau AS (
    SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
           count(DISTINCT user_id) AS mau
    FROM events GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(m.mau AS BIGINT) AS mau,
       round(d.dau * 1.0 / m.mau, 4) AS stickiness
FROM dau d JOIN mau m ON date_trunc('month', d.day) = m.month
ORDER BY day
"""


@register("dau_mau_stickiness", STICKINESS_ORACLE)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users over monthly active users (the DAU/MAU
    "stickiness" ratio) per day — the engagement KPI every consumer
    dashboard leads with, and the registry's representative of
    multi-grain distinct counting (the same users counted at two
    calendar grains, joined back).

    Scale shape: two distinct-aggregates over events (each one
    partial-aggregated shuffle of (grain, user) then a count), joined
    on the month key at metadata scale. At extreme cardinality the
    sketch twin is rolling_distinct_users_audit's mergeable HLL —
    exact distinct here because the driver hash-checks values."""
    events = _t(spark, sf_dir, "events")
    dau = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = events.groupBy(
        F.date_trunc("month", F.col("ts").cast("date")).alias("month")
    ).agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(
            F.broadcast(mau),
            F.date_trunc("month", F.col("day")) == F.col("month"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(F.col("dau") * 1.0 / F.col("mau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Forward-looking range frame (events in the following hour)
# ---------------------------------------------------------------------------

FORWARD_FRAME_ORACLE = """
SELECT event_id, user_id,
       CAST(count(*) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN CURRENT ROW AND 3600000000 FOLLOWING
       ) - 1 AS BIGINT) AS next_hour_events
FROM events
ORDER BY event_id
"""


@register("next_hour_event_load", FORWARD_FRAME_ORACLE)
def next_hour_event_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, how many MORE events its user generates in
    the following hour — the forward-looking RANGE frame (burst/
    lead-indicator feature for rate limiting and engagement models),
    completing the frame-direction coverage next to
    hourly_moving_avg's trailing interval frame. The frame bound is
    microsecond-exact on both engines (epoch_us ordering), and the
    count excludes the row itself (-1).

    Scale shape: one hash shuffle on user_id; the range frame rides
    the partition sort — same single-exchange argument as every
    user-partitioned window here. A range frame over microseconds is
    O(n) per partition via sliding endpoints, never quadratic."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(0, 3_600_000_000)
    )
    return events.select(
        "event_id",
        "user_id",
        (F.count(F.lit(1)).over(w) - 1).cast("bigint").alias("next_hour_events"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Per-column table profile (data-quality first look)
# ---------------------------------------------------------------------------

# Per-column repr rules chosen so both engines format identically:
# bigints CAST to string, doubles through DECIMAL(18,2) (fixed scale =>
# "1.63"/"0.50" on both), timestamps via microsecond strftime, strings
# as-is. null_frac uses the SAME expression shape as the Spark side
# ((n - count(col)) / n, not 1.0 - count(col)/n): algebraically equal
# but the two double formulations can differ by one ulp and flip the
# 4th rounded decimal on an exact .00005 boundary (r4 advice).
TABLE_PROFILE_ORACLE = """
WITH n AS (SELECT count(*) AS n FROM events)
SELECT col_name, n_nulls, null_frac, n_distinct, min_repr, max_repr FROM (
  SELECT 'event_id' AS col_name,
         CAST((SELECT n FROM n) - count(event_id) AS BIGINT) AS n_nulls,
         round(CAST((SELECT n FROM n) - count(event_id) AS DOUBLE) / (SELECT n FROM n), 4) AS null_frac,
         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
         CAST(min(event_id) AS VARCHAR) AS min_repr,
         CAST(max(event_id) AS VARCHAR) AS max_repr
  FROM events
  UNION ALL
  SELECT 'ts',
         CAST((SELECT n FROM n) - count(ts) AS BIGINT),
         round(CAST((SELECT n FROM n) - count(ts) AS DOUBLE) / (SELECT n FROM n), 4),
         CAST(count(DISTINCT ts) AS BIGINT),
         strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f'),
         strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')
  FROM events
  UNION ALL
  SELECT 'user_id',
         CAST((SELECT n FROM n) - count(user_id) AS BIGINT),
         round(CAST((SELECT n FROM n) - count(user_id) AS DOUBLE) / (SELECT n FROM n), 4),
         CAST(count(DISTINCT user_id) AS BIGINT),
         CAST(min(user_id) AS VARCHAR),
         CAST(max(user_id) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'event_type',
         CAST((SELECT n FROM n) - count(event_type) AS BIGINT),
         round(CAST((SELECT n FROM n) - count(event_type) AS DOUBLE) / (SELECT n FROM n), 4),
         CAST(count(DISTINCT event_type) AS BIGINT),
         min(event_type),
         max(event_type)
  FROM events
  UNION ALL
  SELECT 'value',
         CAST((SELECT n FROM n) - count(value) AS BIGINT),
         round(CAST((SELECT n FROM n) - count(value) AS DOUBLE) / (SELECT n FROM n), 4),
         CAST(count(DISTINCT value) AS BIGINT),
         CAST(CAST(round(min(value), 2) AS DECIMAL(18,2)) AS VARCHAR),
         CAST(CAST(round(max(value), 2) AS DECIMAL(18,2)) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'props',
         CAST((SELECT n FROM n) - count(props) AS BIGINT),
         round(CAST((SELECT n FROM n) - count(props) AS DOUBLE) / (SELECT n FROM n), 4),
         CAST(count(DISTINCT props) AS BIGINT),
         min(props),
         max(props)
  FROM events
)
ORDER BY col_name
"""


@register("table_profile", TABLE_PROFILE_ORACLE)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of ``events`` — null count/
    fraction, exact distinct cardinality, min/max — the first query any
    lake operator runs against a new 100 TB table (and the stats a
    catalog publishes next to the table). One row per column.

    Scale shape: ONE scan. Each event row explodes into one
    (column, typed value) row per column; a first aggregate groups
    those by value (the distinct values of every column, with their
    counts and the NULL count), partial-aggregated map-side, and a
    second one folds each column's values into its row of statistics
    at metadata scale. Each value type has its own slot, so grouping
    keeps that type's equality: doubles are never compared as strings.
    There is no ``countDistinct`` on purpose: the ``Expand`` Catalyst
    plans for several distinct aggregates orders its slots differently
    on each call, so each call would compile new classes. A 0-count
    all-NULL row per column keeps the six result rows on an empty
    table. The oracle reads the table once per column — at audit scale
    (sf0.01) that is fine; the Spark plan is the 100 TB one. Min/max
    reprs are formatted identically on both engines (DECIMAL(18,2) for
    doubles, microsecond strftime for timestamps). The small-file scan
    is spread across cores (the profile reads every column, so the one
    round-robin exchange buys 32x parallel aggregation; at 100 TB the
    scan arrives pre-split and the exchange plans away).
    """
    from .llm_ops import _spread

    slot = {"event_id": "l", "ts": "t", "user_id": "l", "event_type": "s",
            "value": "d", "props": "s"}
    types = {"l": "bigint", "t": "timestamp", "s": "string", "d": "double"}

    def cells(with_values: bool) -> str:
        """SQL array of one struct per column: its name and one slot per
        value type, with the column's value (NULL without
        ``with_values``) in its own type's slot and NULL in the rest."""
        return "array(" + ", ".join(
            f"named_struct('col_name', '{c}', "
            + ", ".join(
                f"'{k}', CAST({c if with_values and k == sk else 'NULL'} AS {t})"
                for k, t in types.items()
            )
            + ")"
            for c, sk in slot.items()
        ) + ")"

    def repr_of(agg: str) -> str:
        """``agg`` of a column formatted for its type: a column fills one
        slot, so at most one term of the coalesce is non-NULL."""
        return (
            f"coalesce(CAST({agg}(l) AS STRING), "
            f"date_format({agg}(t), 'yyyy-MM-dd HH:mm:ss.SSSSSS'), {agg}(s), "
            f"CAST(CAST(round({agg}(d), 2) AS DECIMAL(18,2)) AS STRING))"
        )

    ev = _spread(spark, _t(spark, sf_dir, "events"))
    per_value = ev.selectExpr(f"inline({cells(True)})").groupBy(
        "col_name", *types
    ).count()
    pad = spark.range(1).selectExpr(f"inline({cells(False)})", "0L AS count")
    all_null = " AND ".join(f"{k} IS NULL" for k in types)
    return (
        per_value.unionByName(pad)
        .groupBy("col_name")
        .agg(
            F.expr("sum(count)").alias("n"),
            F.expr(f"sum(if({all_null}, count, 0))").alias("n_nulls"),
            F.expr(" + ".join(f"count({k})" for k in types)).alias("n_distinct"),
            F.expr(repr_of("min")).alias("min_repr"),
            F.expr(repr_of("max")).alias("max_repr"),
        )
        .selectExpr(
            "col_name",
            "n_nulls",
            # NULL fraction of nothing is NULL (ANSI division by 0 raises)
            "round(CAST(n_nulls AS DOUBLE) / nullif(n, 0), 4) AS null_frac",
            "n_distinct",
            "min_repr",
            "max_repr",
        )
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters audit
# ---------------------------------------------------------------------------

from ..operators.dedup import (  # noqa: E402
    MERSENNE_P,
    POLY_HASH_SQL,
    SAMPLE_A,
    SAMPLE_B,
    SAMPLE_C,
    _lcg,
    _poly_hash,
)

CM_W = 64  # sketch width (buckets per row)
CM_D = 4  # sketch depth (independent hash rows)
CM_A = [(_lcg(901 + k) | 1) % MERSENNE_P for k in range(CM_D)]
CM_B = [_lcg(1001 + k) for k in range(CM_D)]
_CM_E = 2.718281828459045  # CM guarantee: est <= true + (e/W)*N w.h.p.

_CM_PARAMS_SQL = ", ".join(f"({d}, {CM_A[d]}, {CM_B[d]})" for d in range(CM_D))
_CM_H = POLY_HASH_SQL.format(tok="event_type")

COUNTMIN_ORACLE = f"""
WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
params AS (SELECT * FROM (VALUES {_CM_PARAMS_SQL}) AS t(d, a, b)),
hashed AS (SELECT {_CM_H} AS h FROM events),
sketch AS (SELECT d, ((a * h + b) % {MERSENNE_P}) % {CM_W} AS bucket,
                  CAST(count(*) AS BIGINT) AS c
           FROM hashed CROSS JOIN params GROUP BY 1, 2),
exact AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
          FROM events GROUP BY event_type),
keyb AS (SELECT event_type, n_exact, d,
                ((a * ({_CM_H}) + b) % {MERSENNE_P}) % {CM_W} AS bucket
         FROM exact CROSS JOIN params),
est AS (SELECT event_type, n_exact, min(c) AS n_cm
        FROM keyb JOIN sketch USING (d, bucket) GROUP BY 1, 2)
SELECT event_type, n_exact, CAST(n_cm AS BIGINT) AS n_cm,
       CAST(n_cm - n_exact AS BIGINT) AS overestimate,
       (n_cm - n_exact) <= {_CM_E} * (SELECT n FROM tot) / {CM_W} AS within_bound
FROM est
ORDER BY event_type
"""


@register("countmin_heavy_hitters", COUNTMIN_ORACLE)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit, completing the sketch family next to
    HLL distinct / freqItems / approx-quantile: build a depth-4 x
    width-64 count-min sketch over event_type (portable LCG-seeded affine hash
    rows on the shared 31-bit polynomial key hash, so DuckDB replays
    the sketch bit-for-bit), read back each key's estimate
    (min over rows of its bucket count), and verify the classic
    guarantee — estimates never undercount and overcount by at most
    (e/W)*N.

    Scale shape: the sketch build is ONE pass — each row contributes
    to D buckets (an explode to D*n rows that map-side partial
    aggregation collapses to <= D*W entries per partition before the
    shuffle), and the sketch itself is D*W = 256 cells: driver/
    broadcast scale regardless of input size or key cardinality.
    That's the point of CM at 100 TB: per-key counts for any key
    domain in O(D*W) memory with mergeable cells (this build IS the
    merge of per-partition sketches). The exact side is the audit
    harness, not the production path."""
    ev = _t(spark, sf_dir, "events")
    h = _poly_hash(F.col("event_type"))

    def bucket(d: int, hcol: F.Column) -> F.Column:
        return ((F.lit(CM_A[d]).cast("long") * hcol + F.lit(CM_B[d])) % F.lit(MERSENNE_P)) % F.lit(CM_W)

    hashed = ev.select(h.alias("h"))
    cells = hashed.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), bucket(d, F.col("h")).alias("bucket"))
                    for d in range(CM_D)
                ]
            )
        ).alias("db")
    )
    sketch = cells.groupBy("db.d", "db.bucket").agg(F.count(F.lit(1)).alias("c"))

    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    keyb = exact.withColumn("h", _poly_hash(F.col("event_type"))).select(
        "event_type",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), bucket(d, F.col("h")).alias("bucket"))
                    for d in range(CM_D)
                ]
            )
        ).alias("db"),
    )
    total = ev.agg(F.count(F.lit(1)).alias("n"))
    est = (
        keyb.select("event_type", "n_exact", "db.d", "db.bucket")
        .join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("event_type", "n_exact")
        .agg(F.min("c").alias("n_cm"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n_exact",
            F.col("n_cm").cast("bigint").alias("n_cm"),
            (F.col("n_cm") - F.col("n_exact")).cast("bigint").alias("overestimate"),
            (
                (F.col("n_cm") - F.col("n_exact"))
                <= F.lit(_CM_E) * F.col("n") / F.lit(CM_W)
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the hourly series per event type
# ---------------------------------------------------------------------------

ACF_ORACLE = """
WITH b AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM b),
spine AS (SELECT t.event_type, g.h
          FROM (SELECT DISTINCT event_type FROM b) t
          CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                      FROM bounds) g),
cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
ser AS (SELECT s.event_type, s.h, coalesce(c.c, 0) AS c
        FROM spine s LEFT JOIN cnt c USING (event_type, h)),
lagd AS (SELECT event_type, c,
                lag(c, 1) OVER w AS l1,
                lag(c, 2) OVER w AS l2,
                lag(c, 3) OVER w AS l3
         FROM ser WINDOW w AS (PARTITION BY event_type ORDER BY h))
SELECT event_type, lag, round(acf, 4) AS acf FROM (
  SELECT event_type, 1 AS lag, corr(c, l1) AS acf FROM lagd WHERE l1 IS NOT NULL GROUP BY 1
  UNION ALL
  SELECT event_type, 2, corr(c, l2) FROM lagd WHERE l2 IS NOT NULL GROUP BY 1
  UNION ALL
  SELECT event_type, 3, corr(c, l3) FROM lagd WHERE l3 IS NOT NULL GROUP BY 1
)
ORDER BY event_type, lag
"""


@register("acf_by_type", ACF_ORACLE)
def acf_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of each event type's hourly arrival
    series — the seasonality/burstiness fingerprint that feeds anomaly
    thresholds (daily_anomaly_zscore's cousin) and forecast model
    choice. The series is gap-filled over a dense hourly spine first:
    ACF over a series with silently missing rows is biased toward the
    busy hours, so zero-count hours must exist as zeros.

    Scale shape: one groupBy (event_type, hour) collapses the fact
    table to series scale (hours x types — metadata-sized even for a
    year at 100 TB ingest). Everything after — the broadcast calendar
    spine join (daily_activity_filled's pattern), the lag window, and
    the corr aggregates — runs on that collapsed series. Pearson corr
    is scale-invariant so sample-vs-population variants agree
    exactly; both engines skip the first k NULL-lag rows explicitly.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    base = ev.select(F.date_trunc("hour", "ts").alias("h"), "event_type")
    cnt = base.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    bounds = base.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    types = base.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(hours))
    ser = spine.join(cnt, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagd = ser.select(
        "event_type",
        "c",
        *[F.lag("c", k).over(w).alias(f"l{k}") for k in (1, 2, 3)],
    )
    parts = [
        lagd.where(F.col(f"l{k}").isNotNull())
        .groupBy("event_type")
        .agg(F.corr("c", f"l{k}").alias("acf"))
        .select("event_type", F.lit(k).alias("lag"), "acf")
        for k in (1, 2, 3)
    ]
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # Spark corr yields NaN on a zero-variance (constant) series while
    # DuckDB yields NULL — normalize to NULL so a degenerate-but-legal
    # input (an event type with identical counts every hour, or a
    # single-hour span) keeps oracle parity (r4 advice).
    acf = F.when(F.isnan("acf"), F.lit(None).cast("double")).otherwise(F.col("acf"))
    return out.select(
        "event_type", F.col("lag").cast("int").alias("lag"), F.round(acf, 4).alias("acf")
    ).orderBy("event_type", "lag")


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction audit
# ---------------------------------------------------------------------------

BLOOM_WORD_BITS = 62  # stay under the sign bit on both engines
BLOOM_MIN_WORDS = 128  # floor: 7936 bits even for a tiny build side
# Sizing RULE, not a fixed size (r4 verdict: the fixed 128-word array
# silently saturated at 10x build keys — fp_rate degraded 0.011 -> ~1).
# bits-per-key >= 10 with k=3 gives a theoretical fp of
# (1 - e^(-k/10))^k ~ 1.7%; the word count is derived from a
# metadata-scale count of the build side with EXACT integer ceiling
# division, so Spark and the oracle compute the identical modulus.
BLOOM_BITS_PER_KEY = 10
BLOOM_K = 3
BLOOM_A = [(_lcg(1101 + i) | 1) % MERSENNE_P for i in range(BLOOM_K)]
BLOOM_B = [_lcg(1201 + i) for i in range(BLOOM_K)]
BLOOM_BUILD_MIN_PRICE = 480000.0
BLOOM_FP_BOUND = 0.05  # the audit ASSERTS fp_rate below this


def bloom_words_for(n_keys: int) -> int:
    """Word count for a build side of ``n_keys`` — exact integer
    ceiling division, replayed verbatim by the oracle SQL."""
    return max(
        BLOOM_MIN_WORDS,
        (n_keys * BLOOM_BITS_PER_KEY + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS,
    )


_POW2 = [1 << i for i in range(BLOOM_WORD_BITS)]
_POW2_SQL = "[" + ", ".join(str(p) for p in _POW2) + "]"

# The oracle derives the same word count from the same build-side
# count (sz CTE), so the hash modulus matches Spark's bit-for-bit.
_BLOOM_BITS_SQL = "(SELECT bits FROM sz)"


def _bloom_bit_sql(i: int, key: str) -> str:
    return (
        f"((({BLOOM_A[i]} * ({key} % {MERSENNE_P}) + {BLOOM_B[i]})"
        f" % {MERSENNE_P}) % {_BLOOM_BITS_SQL})"
    )


_BLOOM_CELLS_SQL = " UNION ALL ".join(
    f"SELECT {_bloom_bit_sql(i, 'k')} AS bit FROM build" for i in range(BLOOM_K)
)

_BLOOM_PASS_SQL = " AND ".join(
    f"((SELECT a FROM arr)[{_bloom_bit_sql(i, 'k')} // {BLOOM_WORD_BITS} + 1] "
    f"& ({_POW2_SQL})[{_bloom_bit_sql(i, 'k')} % {BLOOM_WORD_BITS} + 1]) <> 0"
    for i in range(BLOOM_K)
)

BLOOM_SEMIJOIN_ORACLE = f"""
WITH build AS (SELECT o_orderkey AS k FROM orders
               WHERE o_totalprice > {BLOOM_BUILD_MIN_PRICE}),
sz AS (SELECT greatest({BLOOM_MIN_WORDS},
                       (count(*) * {BLOOM_BITS_PER_KEY} + {BLOOM_WORD_BITS - 1})
                           // {BLOOM_WORD_BITS}) AS words,
              greatest({BLOOM_MIN_WORDS},
                       (count(*) * {BLOOM_BITS_PER_KEY} + {BLOOM_WORD_BITS - 1})
                           // {BLOOM_WORD_BITS}) * {BLOOM_WORD_BITS} AS bits
       FROM build),
cells AS ({_BLOOM_CELLS_SQL}),
wm AS (SELECT bit // {BLOOM_WORD_BITS} AS word,
              bit_or(({_POW2_SQL})[bit % {BLOOM_WORD_BITS} + 1]) AS m
       FROM cells GROUP BY 1),
words AS (SELECT g.word, coalesce(wm.m, 0) AS m
          FROM (SELECT unnest(generate_series(0, (SELECT words FROM sz) - 1)) AS word) g
          LEFT JOIN wm USING (word)),
arr AS (SELECT list(m ORDER BY word) AS a FROM words),
probe AS (SELECT l_orderkey AS k FROM lineitem),
chk AS (SELECT k, {_BLOOM_PASS_SQL} AS pass,
               k IN (SELECT k FROM build) AS tru
        FROM probe)
SELECT CAST((SELECT count(*) FROM build) AS BIGINT) AS n_build,
       CAST((SELECT bits FROM sz) AS BIGINT) AS n_bits,
       CAST(count(*) AS BIGINT) AS n_probe,
       CAST(count(*) FILTER (pass) AS BIGINT) AS n_pass,
       CAST(count(*) FILTER (tru) AS BIGINT) AS n_true,
       CAST(count(*) FILTER (pass AND NOT tru) AS BIGINT) AS n_fp,
       round(CAST(count(*) FILTER (pass AND NOT tru) AS DOUBLE)
             / nullif(count(*) - count(*) FILTER (tru), 0), 6) AS fp_rate,
       coalesce(round(CAST(count(*) FILTER (pass AND NOT tru) AS DOUBLE)
             / nullif(count(*) - count(*) FILTER (tru), 0), 6) < {BLOOM_FP_BOUND},
             TRUE) AS fp_bounded
FROM chk
"""


@register("bloom_semijoin_audit", BLOOM_SEMIJOIN_ORACLE)
def bloom_semijoin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (bloom semi-join) audit — the engine-internals
    mechanism behind Spark's own spark.sql.optimizer.runtimeFilter,
    built portably so the oracle replays it bit-for-bit: hash the
    build side (high-value orders) into a 62-bit-word bloom with 3
    LCG-seeded affine hash rows, probe every lineitem row row-locally
    against the broadcast words, and report pass / true /
    false-positive counts plus the fp_bounded assertion. No false
    negatives by construction (n_pass >= n_true always).

    SIZED FROM THE BUILD SIDE (r4 verdict: a fixed 128-word array
    silently stopped reducing at 10x keys — fp_rate 0.011 -> ~1): a
    metadata-scale count of the build keys picks words =
    ceil(n_keys * 10 / 62) (floor 128), i.e. >= 10 bits/key, which
    with k=3 bounds theoretical fp near 1.7% at ANY build
    cardinality. The exact integer ceiling division is replayed by
    the oracle, so both engines agree on the modulus. fp_bounded
    asserts the measured rate < 0.05 in the RESULT, so a saturated
    filter fails the parity gate loudly instead of degrading into a
    scan that reduces nothing.

    Scale shape (r5 verdict item: the filter words were collected to
    the driver and shipped back as ONE array literal — build cost and
    filter bytes both landed on the driver, and the audit's time grew
    5x at 10x data): the word map now NEVER touches the driver. The
    build aggregate partial-ORs per partition into a (word, mask)
    FRAME, and the probe reaches it through BLOOM_K broadcast hash
    joins on the word index — the filter ships through the block
    manager (torrent broadcast) like any dimension, the plan stays
    constant-size, and the only driver action is the metadata-scale
    build COUNT that sizes the modulus (which the oracle replays).
    For 1e9 build keys the broadcast word map is ~1.2 GB/executor —
    the point where you hand the job to Spark's own injected runtime
    filter (spark.sql.optimizer.runtime.bloomFilter, plan-asserted in
    tests/test_plans.py::test_runtime_bloom_filter_injection — same
    bloom-build-probe shape, fully JVM-side); this portable-hash form
    exists so DuckDB can replay every bit. The probe side shuffles
    nothing and reads only l_orderkey. 62-bit words keep every mask
    below the sign bit so Spark longs and DuckDB bigints agree."""
    from ..caching import scoped_persist

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    build = orders.where(F.col("o_totalprice") > BLOOM_BUILD_MIN_PRICE).select(
        F.col("o_orderkey").alias("k")
    )
    n_build = build.count()  # metadata-scale; also sizes the filter
    n_words = bloom_words_for(n_build)
    n_bits = n_words * BLOOM_WORD_BITS
    pow2 = F.array(*[F.lit(p) for p in _POW2])

    def bloom_bit(i: int, key: F.Column) -> F.Column:
        return (
            (
                F.lit(BLOOM_A[i]).cast("long") * (key % F.lit(MERSENNE_P))
                + F.lit(BLOOM_B[i])
            )
            % F.lit(MERSENNE_P)
        ) % F.lit(n_bits)

    cells = build.select(
        F.explode(
            F.array(*[bloom_bit(i, F.col("k")).alias("bit") for i in range(BLOOM_K)])
        ).alias("bit")
    )
    word = (F.col("bit") / F.lit(BLOOM_WORD_BITS)).cast("long").alias("word")
    mask = F.element_at(pow2, (F.col("bit") % F.lit(BLOOM_WORD_BITS) + 1).cast("int"))
    wm = scoped_persist(
        cells.select(word, mask.alias("mask"))
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("m"))
    )

    probe = li.select(F.col("l_orderkey").alias("k"))
    chk = probe.join(
        F.broadcast(build.withColumn("tru", F.lit(True))), "k", "left"
    )
    cond = F.lit(True)
    for i in range(BLOOM_K):
        bit = bloom_bit(i, F.col("k"))
        w = (bit / F.lit(BLOOM_WORD_BITS)).cast("long")
        m = F.element_at(pow2, (bit % F.lit(BLOOM_WORD_BITS) + 1).cast("int"))
        wmi = F.broadcast(
            wm.select(F.col("word").alias(f"w{i}"), F.col("m").alias(f"wm{i}"))
        )
        chk = chk.withColumn(f"w{i}", w).withColumn(f"mk{i}", m).join(
            wmi, f"w{i}", "left"
        )
        cond = cond & (
            F.coalesce(F.col(f"wm{i}"), F.lit(0)).bitwiseAND(F.col(f"mk{i}")) != 0
        )
    chk = chk.select(
        cond.alias("pass"), F.coalesce("tru", F.lit(False)).alias("tru")
    )
    fp = F.sum(F.when(F.col("pass") & ~F.col("tru"), 1).otherwise(0))
    tru = F.sum(F.when(F.col("tru"), 1).otherwise(0))
    denom = F.count(F.lit(1)) - tru
    fp_rate = F.round(fp.cast("double") / F.when(denom != 0, denom), 6)
    return chk.agg(
        F.lit(n_build).cast("bigint").alias("n_build"),
        F.lit(n_bits).cast("bigint").alias("n_bits"),
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("bigint").alias("n_pass"),
        tru.cast("bigint").alias("n_true"),
        fp.cast("bigint").alias("n_fp"),
        fp_rate.alias("fp_rate"),
        F.coalesce(fp_rate < F.lit(BLOOM_FP_BOUND), F.lit(True)).alias("fp_bounded"),
    )


# ---------------------------------------------------------------------------
# Hourly OHLC (open/high/low/close) rollup
# ---------------------------------------------------------------------------

OHLC_ORACLE = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       CAST(count(*) AS BIGINT) AS n,
       arg_min(value, ts) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, ts) AS close
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("hourly_value_ohlc", OHLC_ORACLE)
def hourly_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup of event value per (type, hour) — the
    financial-style first/last/extent summary every metrics store
    serves. open/close are argmin/argmax over the event timestamp
    (min_by/max_by — the deterministic "first value by time" without a
    window), exact because event timestamps are unique by
    construction (microsecond precision; uniqueness holds at every
    generated SF — with duplicate timestamps the tiebreak would move
    into the ordering key).

    Scale shape: ONE partial-aggregated hash shuffle to (type, hour)
    groups; min_by/max_by carry a single (value, ts) candidate per
    group through the map side, so the aggregate state is constant —
    the same single-exchange plan as tumbling_hourly_counts but with
    order statistics riding along. No windows, no second pass."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
        )
        .orderBy("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# Fano-factor burstiness of hourly arrivals per type
# ---------------------------------------------------------------------------

FANO_ORACLE = """
WITH b AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM b),
spine AS (SELECT t.event_type, g.h
          FROM (SELECT DISTINCT event_type FROM b) t
          CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                      FROM bounds) g),
cnt AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
ser AS (SELECT s.event_type, coalesce(c.c, 0) AS c
        FROM spine s LEFT JOIN cnt c USING (event_type, h)),
agg AS (SELECT event_type,
               count(*) AS n_hours,
               sum(c) AS s1,
               sum(c * c) AS s2
        FROM ser GROUP BY event_type)
SELECT event_type,
       CAST(n_hours AS BIGINT) AS n_hours,
       round(CAST(s1 AS DOUBLE) / n_hours, 4) AS mean_rate,
       round((CAST(s2 AS DOUBLE) / n_hours
              - (CAST(s1 AS DOUBLE) / n_hours) * (CAST(s1 AS DOUBLE) / n_hours))
             / nullif(CAST(s1 AS DOUBLE) / n_hours, 0), 4) AS fano
FROM agg
ORDER BY event_type
"""


@register("fano_burstiness_by_type", FANO_ORACLE)
def fano_burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of each event type's
    hourly arrival counts over the gap-filled spine — the burstiness
    index next to acf_by_type's serial correlation: 1 for a Poisson
    process, >1 for bursty arrivals, <1 for regular ones. The
    variance is computed from exact integer sums (n, sum c, sum c^2)
    so the only floating arithmetic is three divisions at the end —
    no var_pop/var_samp implementation differences to reconcile
    between engines.

    Scale shape: identical to acf_by_type — the fact table collapses
    to (type, hour) series scale in one partial-aggregated shuffle;
    the spine join and moment fold run at series scale."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(F.date_trunc("hour", "ts").alias("h"), "event_type")
    cnt = base.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    bounds = base.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    types = base.select("event_type").distinct()
    ser = (
        types.crossJoin(F.broadcast(hours))
        .join(cnt, ["event_type", "h"], "left")
        .select("event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    agg = ser.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    return agg.select(
        "event_type",
        F.col("n_hours").cast("bigint").alias("n_hours"),
        F.round(mean, 4).alias("mean_rate"),
        F.round(
            (F.col("s2").cast("double") / F.col("n_hours") - mean * mean)
            / F.when(mean != 0, mean),
            4,
        ).alias("fano"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Hour-of-day seasonal anomaly cells
# ---------------------------------------------------------------------------

HOD_Z_THRESHOLD = 2.5

HOD_SEASONAL_ORACLE = f"""
WITH cells AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS d,
           CAST(extract(hour FROM ts) AS INT) AS hod,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2, 3
),
base AS (
    SELECT event_type, hod,
           count(*) AS n, sum(c) AS s1, sum(c * c) AS s2
    FROM cells GROUP BY 1, 2
),
z AS (
    SELECT cells.event_type, cells.d, cells.hod, cells.c,
           CAST(s1 AS DOUBLE) / n AS mu,
           sqrt(CAST(s2 AS DOUBLE) / n
                - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sigma
    FROM cells JOIN base USING (event_type, hod)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, hod, c,
       round(mu, 4) AS mu,
       round((c - mu) / sigma, 4) AS z
FROM z
WHERE sigma > 0 AND abs((c - mu) / sigma) > {HOD_Z_THRESHOLD}
ORDER BY event_type, day, hod
"""


@register("hod_seasonal_zscore", HOD_SEASONAL_ORACLE)
def hod_seasonal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly cells: each (type, day, hour)
    count is z-scored against the SAME HOUR-OF-DAY's distribution
    across all days — the baseline that catches "3am spike" anomalies
    a flat daily z-score (daily_anomaly_zscore) washes out, because
    3am is compared only with other 3ams. Cells beyond |z| > 2.5 are
    flagged. Variance comes from exact integer moments (n, sum c,
    sum c^2), so the only floating arithmetic is the final divisions
    and sqrt — same determinism posture as fano_burstiness_by_type.

    Scale shape: the fact table collapses to (type, day, hour) cells
    in one partial-aggregated shuffle (cells = types x days x 24 —
    series scale); the 24-row-per-type baseline joins back at
    metadata scale. Nothing rescans the fact."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("c"))
    base = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sigma = F.sqrt(F.col("s2").cast("double") / F.col("n") - mu * mu)
    z = (F.col("c") - F.col("mu")) / F.col("sigma")
    return (
        cells.join(
            F.broadcast(base.select("event_type", "hod", mu.alias("mu"), sigma.alias("sigma"))),
            ["event_type", "hod"],
        )
        .where(F.col("sigma") > 0)
        .where(F.abs(z) > HOD_Z_THRESHOLD)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "hod",
            F.col("c").cast("bigint").alias("c"),
            F.round("mu", 4).alias("mu"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_type", "day", "hod")
    )


# ---------------------------------------------------------------------------
# Winsorized robust moments
# ---------------------------------------------------------------------------

WINSOR_ORACLE = """
WITH b AS (SELECT quantile_cont(value, 0.01) AS p01,
                  quantile_cont(value, 0.99) AS p99
           FROM events),
w AS (SELECT value AS v,
             least(greatest(value, (SELECT p01 FROM b)), (SELECT p99 FROM b)) AS wv
      FROM events WHERE value IS NOT NULL)
SELECT round((SELECT p01 FROM b), 6) AS p01,
       round((SELECT p99 FROM b), 6) AS p99,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (v <> wv) AS BIGINT) AS n_clipped,
       round(avg(v), 4) AS mean_raw,
       round(avg(wv), 4) AS mean_winsor,
       round(stddev_pop(v), 4) AS std_raw,
       round(stddev_pop(wv), 4) AS std_winsor
FROM w
"""


@register("winsorized_stats", WINSOR_ORACLE)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized moments: mean/std of value before vs after clipping
    at the exact p01/p99 — the robust-statistics companion to
    mad_outlier_bounds (clip-and-keep where MAD fences drop), and the
    preprocessing step feature pipelines apply before z-scaling
    heavy-tailed metrics. The clip bounds are exact interpolated
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``)
    broadcast back over the fact — the quantile_threshold two-pass
    shape.

    Scale shape: one percentile aggregation pass + one moments pass,
    both partial-aggregated; the clip is row-local. stddev_pop on
    both engines; 4-decimal rounding absorbs summation-order ulps
    (the same guard every floating aggregate here uses)."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = ev.agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    w = ev.crossJoin(F.broadcast(b)).select(
        "p01",
        "p99",
        F.col("value").alias("v"),
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias("wv"),
    )
    return w.agg(
        F.round(F.first("p01"), 6).alias("p01"),
        F.round(F.first("p99"), 6).alias("p99"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("v") != F.col("wv"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped"),
        F.round(F.avg("v"), 4).alias("mean_raw"),
        F.round(F.avg("wv"), 4).alias("mean_winsor"),
        F.round(F.stddev_pop("v"), 4).alias("std_raw"),
        F.round(F.stddev_pop("wv"), 4).alias("std_winsor"),
    )


# ---------------------------------------------------------------------------
# Three-step ordered funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------

FUNNEL_STEP_WINDOW_S = 3600

THREE_STEP_FUNNEL_ORACLE = f"""
WITH v AS (SELECT user_id, min(ts) AS vt FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT v.user_id, v.vt, min(e.ts) AS ct
      FROM v JOIN events e ON e.user_id = v.user_id
       AND e.event_type = 'click'
       AND e.ts > v.vt AND e.ts <= v.vt + INTERVAL {FUNNEL_STEP_WINDOW_S} SECONDS
      GROUP BY v.user_id, v.vt),
p AS (SELECT c.user_id, min(e.ts) AS pt
      FROM c JOIN events e ON e.user_id = c.user_id
       AND e.event_type = 'purchase'
       AND e.ts > c.ct AND e.ts <= c.ct + INTERVAL {FUNNEL_STEP_WINDOW_S} SECONDS
      GROUP BY c.user_id)
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
       round(CAST((SELECT count(*) FROM c) AS DOUBLE)
             / nullif((SELECT count(*) FROM v), 0), 4) AS view_to_click,
       round(CAST((SELECT count(*) FROM p) AS DOUBLE)
             / nullif((SELECT count(*) FROM c), 0), 4) AS click_to_purchase
"""


@register("three_step_funnel", THREE_STEP_FUNNEL_ORACLE)
def three_step_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel with per-step time windows: first
    view, then first click within an hour OF THAT VIEW, then first
    purchase within an hour of that click — the strict-sequence
    conversion measurement (not mere co-occurrence) product analytics
    ships, generalizing view_purchase_conversion's two steps. Using
    the FIRST qualifying event at each step makes the funnel
    deterministic and order-dependent, exactly like the reference
    dashboards' "first touch" attribution.

    Scale shape: step 1 is a per-user rollup; each later step is one
    equi-join on user_id of the (shrinking) converted-user set
    against the type-filtered fact, re-aggregated to first-qualifying
    per user — per-step fan-in is bounded by that user's events of
    one type in one hour. Three key-partitioned shuffles total; the
    final counts are scalar aggregates. The type filters push to the
    scans."""
    ev = _t(spark, sf_dir, "events")
    win_s = FUNNEL_STEP_WINDOW_S
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    c = (
        v.join(clicks, "user_id")
        .where(
            (F.col("ts") > F.col("vt"))
            & (F.col("ts") <= F.col("vt") + F.expr(f"INTERVAL {win_s} SECONDS"))
        )
        .groupBy("user_id", "vt")
        .agg(F.min("ts").alias("ct"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    p = (
        c.join(purchases, "user_id")
        .where(
            (F.col("ts") > F.col("ct"))
            & (F.col("ts") <= F.col("ct") + F.expr(f"INTERVAL {win_s} SECONDS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    # one left-join spine + one aggregate: the whole funnel executes
    # ONCE (three .count() calls would re-run the shared lineage)
    spine = (
        v.join(c.select("user_id", "ct"), "user_id", "left")
        .join(p, "user_id", "left")
    )
    nv = F.count(F.lit(1))
    nc = F.count("ct")
    np_ = F.count("pt")
    return spine.agg(
        nv.cast("bigint").alias("n_view"),
        nc.cast("bigint").alias("n_click"),
        np_.cast("bigint").alias("n_purchase"),
        F.round(nc.cast("double") / F.when(nv != 0, nv), 4).alias("view_to_click"),
        F.round(np_.cast("double") / F.when(nc != 0, nc), 4).alias("click_to_purchase"),
    )


# ---------------------------------------------------------------------------
# Gini concentration of per-user activity
# ---------------------------------------------------------------------------

GINI_ORACLE = """
WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY user_id),
r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS rk FROM u),
a AS (SELECT count(*) AS n, sum(c) AS s, sum(rk * c) AS rs FROM r)
SELECT CAST(n AS BIGINT) AS n_users, CAST(s AS BIGINT) AS n_events,
       round(2.0 * rs / (n * s) - (n + 1.0) / n, 4) AS gini
FROM a
"""


@register("user_gini_concentration", GINI_ORACLE)
def user_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the one-number
    concentration measure behind the salting decision: ~0 means
    uniform keys (hash-partition and go), ->1 means a few users carry
    the table (salt or AQE-skew-split their partitions). Computed from
    the classic ranked form G = 2*sum(rank*x)/(n*sum(x)) - (n+1)/n, so
    everything aggregated is an exact integer (rank*count products);
    the only floating arithmetic is the final expression. Tie-broken
    rank (count, user) makes both engines' orderings identical.

    Scale shape: the fact collapses to one row per user first; the
    rank over that users frame uses windows.global_rank (range
    exchange + broadcast prefix offsets — at 10^9 users an
    unpartitioned window would be the round-2 scale-killer); the
    moments fold is one partial-aggregated pass. The 1-row result
    materializes eagerly so the range-bound cache releases."""
    from ..operators import windows as win

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    ranked, _total, release = win.global_rank(u, ["c", "user_id"], rank_col="rk")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("rk") * F.col("c")).alias("rs"),
    )
    df = agg.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("s").cast("bigint").alias("n_events"),
        F.round(
            F.lit(2.0) * F.col("rs") / (F.col("n") * F.col("s"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            4,
        ).alias("gini"),
    )
    try:
        rows = df.collect()
    finally:
        release()
    return spark.createDataFrame(rows, df.schema)


# ---------------------------------------------------------------------------
# Inter-arrival time histogram (burstiness fingerprint)
# ---------------------------------------------------------------------------

INTERARRIVAL_ORACLE = """
WITH d AS (
    SELECT event_type,
           (epoch_us(CAST(ts AS TIMESTAMP))
            - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id))
               // 1000000 AS gap_s
    FROM events
),
b AS (
    SELECT event_type,
           CASE WHEN gap_s <= 0 THEN -1
                ELSE CAST(floor(log2(CAST(gap_s AS DOUBLE))) AS BIGINT)
           END AS bucket_log2,
           gap_s
    FROM d WHERE gap_s IS NOT NULL
)
SELECT event_type, bucket_log2,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s
FROM b
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("interarrival_histogram", INTERARRIVAL_ORACLE)
def interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of per-user inter-arrival gaps,
    attributed to the LATER event's type — the burstiness fingerprint
    that complements fano_burstiness_by_type (which summarizes
    variance/mean; this shows the actual gap distribution, e.g. a
    bimodal bot signature that Fano alone hides). Bucket -1 collects
    sub-second/simultaneous arrivals.

    Scale shape: ONE keyed window (partitioned by user_id — never a
    single-partition window) computes the lag; bucketing is row-local
    integer arithmetic (whole-second gaps, so floor(log2(int)) is
    bit-identical across engines, same argument as
    user_activity_histogram); one partial-aggregated shuffle to the
    tiny (type, bucket) domain."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap_s = F.floor((us - F.lag(us).over(w)) / F.lit(1_000_000))
    d = ev.select("event_type", gap_s.alias("gap_s")).where(
        F.col("gap_s").isNotNull()
    )
    bucket = F.when(F.col("gap_s") <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(F.col("gap_s").cast("double")))
    )
    return (
        d.groupBy("event_type", bucket.cast("bigint").alias("bucket_log2"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .orderBy("event_type", "bucket_log2")
    )


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift (market-basket analysis)
# ---------------------------------------------------------------------------

EVENT_TYPE_LIFT_ORACLE = """
WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
           FROM events),
n AS (SELECT CAST(count(*) AS BIGINT) AS n
      FROM (SELECT DISTINCT user_id, day FROM b)),
singles AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
            FROM b GROUP BY 1),
pairs AS (
    SELECT a.event_type AS type_a, c.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_ab
    FROM b a JOIN b c
      ON a.user_id = c.user_id AND a.day = c.day
     AND a.event_type < c.event_type
    GROUP BY 1, 2
)
SELECT type_a, type_b, n_ab,
       round(CAST(n_ab AS DOUBLE) * (SELECT n FROM n) / (sa.c * sb.c), 4)
           AS lift
FROM pairs
JOIN singles sa ON type_a = sa.event_type
JOIN singles sb ON type_b = sb.event_type
ORDER BY type_a, type_b
"""


@register("event_type_lift", EVENT_TYPE_LIFT_ORACLE)
def event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types: baskets are (user, day)
    pairs, lift(a,b) = P(a,b) / (P(a)·P(b)) over baskets — >1 means
    the types co-occur in a user-day more than independence predicts
    (the cross-sell / funnel-adjacency signal; the association-rule
    shape the registry lacked next to event_type_transitions'
    sequential view).

    Scale shape: the fact collapses to DISTINCT (user, day, type)
    first — the basket frame, <= |types| rows per user-day. The pair
    join is a self equi-join ON THE BASKET KEY, so per-key fan-out is
    bounded by |types|² (a constant), never by corpus size; singles
    and the basket count are partial-aggregated rollups, and the
    lift join attaches two |types|-row dims (AQE broadcasts them).
    Basket count is a driver literal (metadata-scale, same posture as
    bloom sizing)."""
    from ..caching import scoped_persist

    ev = _t(spark, sf_dir, "events")
    # the basket frame feeds four consumers (count, singles, both join
    # sides) — scoped-persist so the distinct is computed once
    b = scoped_persist(
        ev.select("user_id", F.col("ts").cast("date").alias("day"), "event_type")
        .distinct()
    )
    n = b.select("user_id", "day").distinct().count()
    singles = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = (
        a.join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.day") == F.col("c.day"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("c.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") * F.lit(n) / (F.col("ca") * F.col("cb")),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over hourly counts
# ---------------------------------------------------------------------------

CUSUM_ORACLE = """
WITH h AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_id,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2
), w AS (
    SELECT event_type, hour_id, cnt,
           row_number() OVER (PARTITION BY event_type ORDER BY hour_id) AS k,
           sum(cnt) OVER (PARTITION BY event_type ORDER BY hour_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
           count(*) OVER (PARTITION BY event_type) AS n_hours,
           sum(cnt) OVER (PARTITION BY event_type) AS total
    FROM h
), s AS (
    SELECT event_type, hour_id, n_hours, total,
           n_hours * cum - k * total AS score,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(n_hours * cum - k * total) DESC, hour_id
           ) AS rn
    FROM w
)
SELECT event_type,
       CAST(hour_id AS BIGINT) AS cp_hour,
       CAST(score AS BIGINT) AS cusum_score,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(total AS BIGINT) AS total_events
FROM s WHERE rn = 1
ORDER BY event_type
"""


@register("cusum_changepoint", CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type: the hour where the cumulative
    deviation of hourly counts from the series mean peaks — the
    classic single-change-point estimator (Page 1954; argmax_k
    |sum_{i<=k}(x_i - mean)|).  A level shift in event volume (deploy,
    outage, bot onset) lands CUSUM's extremum at the shift hour, which
    the pointwise detectors (hod_seasonal_zscore's cell z-scores, Fano
    burstiness) cannot localize.

    Integer-exact formulation: CUSUM_k scaled by n_hours is
    n*cumsum_k - k*total — pure int64 arithmetic (no float mean), so
    the argmax and the reported score are bit-identical across
    engines; ties break to the earliest hour.

    Scale shape: one partial-aggregated shuffle to the (type, hour)
    domain — the only corpus-scale exchange — then keyed windows over
    event_type partitions (never single-partition; |hours| rows per
    key) and a keyed top-1.  Overflow-safe: n_hours*cum stays < 2^63
    for any realistic series (hours-per-year * corpus rows)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hour_id = F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000))
    h = ev.groupBy(
        "event_type", hour_id.alias("hour_id")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    by_type = Window.partitionBy("event_type")
    ordered = by_type.orderBy("hour_id")
    w = h.select(
        "event_type",
        "hour_id",
        F.row_number().over(ordered).alias("k"),
        F.sum("cnt").over(ordered.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.count(F.lit(1)).over(by_type).alias("n_hours"),
        F.sum("cnt").over(by_type).alias("total"),
    )
    score = F.col("n_hours") * F.col("cum") - F.col("k") * F.col("total")
    s = w.select(
        "event_type",
        "hour_id",
        "n_hours",
        "total",
        score.alias("score"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("score")).desc(), F.col("hour_id")
            )
        ),
    )
    return (
        s.where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("hour_id").cast("bigint").alias("cp_hour"),
            F.col("score").cast("bigint").alias("cusum_score"),
            F.col("n_hours").cast("bigint").alias("n_hours"),
            F.col("total").cast("bigint").alias("total_events"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution of purchase value
# ---------------------------------------------------------------------------

LAST_TOUCH_ORACLE = f"""
WITH w AS (
    SELECT event_type, value,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS touch
    FROM events
)
SELECT coalesce(touch, 'direct') AS touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       {sql_exact_sum("value")} AS total_value,
       round(sum({sql_units("value")}) / 100.0 / count(*), 2) AS avg_value
FROM w
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY 1
"""


@register("last_touch_attribution", LAST_TOUCH_ORACLE)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's value is
    credited to the most recent PRECEDING non-purchase event by the
    same user ('direct' when the purchase is the user's first touch).
    The credit-assignment complement to three_step_funnel (which
    checks a fixed path) and event_type_lift (which is order-blind).

    The carry-forward is ``last(..., ignorenulls=True)`` over a keyed
    running window — the same gap-fill idiom as a forward-fill, with
    the current row's own type masked to NULL so a purchase never
    attributes to itself; (ts, event_id) ordering makes simultaneous
    events deterministic.

    Scale shape: one shuffle on user_id for the keyed window (never
    single-partition), then a partial-aggregated rollup to the
    |event_type| domain.  value sums run in exact integer cents (r9)
    so no summation-order ulp can flip the rounded output."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("direct")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            exact_sum("value").alias("total_value"),
            F.round(
                exact_sum_units("value") / F.lit(100.0) / F.count(F.lit(1)), 2
            ).alias("avg_value"),
        )
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog audit (bit-replayable registers)
# ---------------------------------------------------------------------------

HLL_M = 256  # registers (2^8); sigma = 1.04/sqrt(m) = 6.5%
HLL_W_BITS = 12  # rho domain bits; register stream = 20-bit hash slice
_HLL_ALPHA = 0.7213 / (1 + 1.079 / 256)  # Flajolet et al. 2007, alpha_m

PORTABLE_HLL_ORACLE = f"""
WITH h1 AS (SELECT ((user_id % {MERSENNE_P}) * {SAMPLE_A} + {SAMPLE_B})
                   % {MERSENNE_P} AS h
            FROM events WHERE user_id IS NOT NULL),
hq AS (SELECT ((((h * h + {SAMPLE_C}) % {MERSENNE_P}) * {SAMPLE_A} + 11)
               % {MERSENNE_P}) AS h FROM h1),
h2 AS (SELECT (((h * h + 65537) % {MERSENNE_P}) // 1024)
              % {1 << (8 + HLL_W_BITS)} AS hh FROM hq),
parts AS (SELECT hh % {HLL_M} AS reg, hh // {HLL_M} AS w FROM h2),
rho AS (SELECT reg,
               CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                    ELSE CAST(log2(CAST(w & -w AS DOUBLE)) AS INT) + 1
               END AS r
        FROM parts),
regs AS (SELECT reg, max(r) AS m_j FROM rho GROUP BY reg),
allregs AS (SELECT g.reg, coalesce(regs.m_j, 0) AS m_j
            FROM (SELECT unnest(range({HLL_M})) AS reg) g
            LEFT JOIN regs USING (reg)),
agg AS (SELECT sum(pow(2.0, -m_j)) AS z,
               sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS v
        FROM allregs),
est AS (SELECT CASE WHEN CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M} / z <= {2.5 * HLL_M}
                     AND v > 0
                    THEN {HLL_M} * ln({HLL_M} / CAST(v AS DOUBLE))
                    ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M} / z
               END AS e, v
        FROM agg),
exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
SELECT n_exact,
       CAST({HLL_M} AS BIGINT) AS n_registers,
       CAST(v AS BIGINT) AS empty_registers,
       round(e, 4) AS hll_estimate,
       CASE WHEN n_exact > 0 THEN round((e - n_exact) / n_exact, 4) END
           AS rel_error,
       CASE WHEN n_exact > 0
            THEN abs(e - n_exact) / n_exact <= {3 * 1.04} / sqrt({HLL_M})
       END AS within_3sigma
FROM est CROSS JOIN exact
"""


@register("portable_hll_audit", PORTABLE_HLL_ORACLE)
def portable_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog (Flajolet et al. 2007) with PORTABLE
    integer registers — completing the bit-replayable sketch family
    next to countmin_heavy_hitters: where approx_distinct_audit
    trusts Spark's opaque HLL++ and can only compare endpoints, this
    builds the sketch from a portable TWO-round quadratic mix (one
    round leaves quadratic-residue structure in the low bits —
    measured V=164 empty registers vs the uniform expectation 142.5
    at n=150, a -24% estimate; two rounds plus a 10-bit shift lands
    within 3 sigma at every test SF) so DuckDB reproduces every
    register, the estimator, and the small-range correction exactly. rho uses the TRAILING-zero rank via w & -w —
    a power of two, whose log2 is exact in IEEE double, so the
    register values are integer-exact cross-engine (a leading-zero
    formulation via floor(log2(w)) risks an off-by-one at 2^k
    boundaries from libm noise).

    Scale shape: one pass, row-local hashing, partial-aggregated
    max per register -> 256 rows; the estimator folds over a
    constant-size frame. This is THE mergeable-distinct shape for
    100 TB: per-partition register maxima combine associatively, and
    the audit reports estimate, relative error, and the 3-sigma
    check (sigma = 1.04/sqrt(m))."""
    h1 = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            (
                ((F.col("user_id") % MERSENNE_P) * SAMPLE_A + SAMPLE_B) % MERSENNE_P
            ).alias("h")
        )
    )
    hq = (((F.col("h") * F.col("h") + SAMPLE_C) % MERSENNE_P) * SAMPLE_A + 11) % MERSENNE_P
    hh = F.floor((hq * hq + 65537) % MERSENNE_P / F.lit(1024)).cast("long") % (
        1 << (8 + HLL_W_BITS)
    )
    parts = h1.select(
        (hh % HLL_M).alias("reg"), (hh / F.lit(HLL_M)).cast("long").alias("w")
    )
    low = F.expr("w & -w")
    r = F.when(F.col("w") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.log2(low.cast("double")).cast("int") + 1
    )
    regs = parts.select("reg", r.alias("r")).groupBy("reg").agg(F.max("r").alias("m_j"))
    allregs = (
        spark.range(HLL_M)
        .select(F.col("id").alias("reg"))
        .join(regs, "reg", "left")
        .select(F.coalesce("m_j", F.lit(0)).alias("m_j"))
    )
    agg = allregs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0)).alias("v"),
    )
    raw = F.lit(_HLL_ALPHA) * F.lit(HLL_M * HLL_M) / F.col("z")
    e = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("v") > 0),
        F.lit(HLL_M) * F.log(F.lit(HLL_M) / F.col("v").cast("double")),
    ).otherwise(raw)
    # n_exact as a driver scalar: metadata-scale fetch (one long), and
    # embedding it as a literal keeps the result frame free of the 1x1
    # cross join the registry lint would flag
    n_exact = (
        _t(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("bigint"))
        .collect()[0][0]
    )
    ne = F.lit(n_exact).cast("bigint")
    rel = F.when(
        ne > 0, F.round((F.col("e") - ne) / ne, 4)
    ).alias("rel_error")
    sig = F.when(
        ne > 0,
        F.abs(F.col("e") - ne) / ne <= F.lit(3 * 1.04) / F.sqrt(F.lit(float(HLL_M))),
    ).alias("within_3sigma")
    return agg.select(e.alias("e"), "v").select(
        ne.alias("n_exact"),
        F.lit(HLL_M).cast("bigint").alias("n_registers"),
        F.col("v").cast("bigint").alias("empty_registers"),
        F.round(F.col("e"), 4).alias("hll_estimate"),
        rel,
        sig,
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch (single-pass approx quantiles + audit)
# ---------------------------------------------------------------------------

QSKETCH_BINS = 4096
QSKETCH_QS = (0.5, 0.9, 0.99)

_QS_W = f"((SELECT max(value) FROM events) - (SELECT min(value) FROM events)) / {QSKETCH_BINS}.0"
_QS_LO = "(SELECT min(value) FROM events)"
_QS_BIN = (
    f"CASE WHEN {_QS_W} = 0 THEN 0 "
    f"ELSE least(CAST(floor((value - {_QS_LO}) / ({_QS_W})) AS BIGINT), "
    f"{QSKETCH_BINS - 1}) END"
)


def _qs_approx_sql(q: float) -> str:
    rank = f"CAST(ceil({q} * (SELECT n FROM nn)) AS BIGINT)"
    b = f"(SELECT min(bin) FROM cum WHERE cc >= {rank})"
    return f"round({_QS_LO} + ({b} + 1) * ({_QS_W}), 6)"


QSKETCH_ORACLE = f"""
WITH binned AS (SELECT {_QS_BIN} AS bin FROM events WHERE value IS NOT NULL),
bc AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY bin),
cum AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS cc FROM bc),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM binned)
SELECT (SELECT n FROM nn) AS n_values,
       CAST({QSKETCH_BINS} AS BIGINT) AS n_bins,
       round({_QS_W}, 6) AS bin_width,
       {_qs_approx_sql(0.5)} AS q50_approx,
       round((SELECT quantile_cont(value, 0.5) FROM events), 6) AS q50_exact,
       {_qs_approx_sql(0.9)} AS q90_approx,
       round((SELECT quantile_cont(value, 0.9) FROM events), 6) AS q90_exact,
       {_qs_approx_sql(0.99)} AS q99_approx,
       round((SELECT quantile_cont(value, 0.99) FROM events), 6) AS q99_exact,
       greatest(
           abs({_qs_approx_sql(0.5)}
               - round((SELECT quantile_cont(value, 0.5) FROM events), 6)),
           abs({_qs_approx_sql(0.9)}
               - round((SELECT quantile_cont(value, 0.9) FROM events), 6)),
           abs({_qs_approx_sql(0.99)}
               - round((SELECT quantile_cont(value, 0.99) FROM events), 6))
       ) <= 2 * ({_QS_W}) AS within_2bins
"""


@register("quantile_sketch_audit", QSKETCH_ORACLE)
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass MERGEABLE quantile sketch + honesty audit —
    completing the bit-replayable sketch quartet (countmin for heavy
    hitters, portable HLL for distinct, bloom for membership, THIS
    for quantiles). Exact percentiles need a full sort or two passes;
    at 100 TB the production shape is a fixed-memory mergeable
    summary built in ONE pass: here an equi-width histogram of
    4096 counters over [min, max] — counters merge by
    addition (associative + commutative, so partial aggregation and
    any partition order give identical registers, the property that
    makes it bit-replayable where rank-based GK/KLL compactions are
    merge-order-dependent). The audit reports the sketch's q50/q90/
    q99 against the exact percentiles with the guaranteed error
    bound: the estimate is its bin's upper edge, and the interpolated
    exact quantile lies within one bin of the rank bin, so
    |approx - exact| <= 2 bin widths ALWAYS — asserted in the result
    (within_2bins), so a binning bug fails the parity gate loudly.

    Scale shape: min/max is a metadata-scale first pass (one driver
    row — at scale, parquet footer stats); binning is row-local
    arithmetic; the counter build is ONE partial-aggregated shuffle
    landing on <= 4096 rows, cumulated by
    windows.global_cumsum (range exchange + broadcast offsets — no
    single-partition window) and probed with one constant-size
    aggregate. Every double (width, bin index, edges, rank
    thresholds) is the same IEEE op sequence the oracle runs, so
    bins, ranks, and the bound boolean agree bit-for-bit."""
    import math

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    head = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    schema = (
        "n_values bigint, n_bins bigint, bin_width double, "
        "q50_approx double, q50_exact double, q90_approx double, "
        "q90_exact double, q99_approx double, q99_exact double, "
        "within_2bins boolean"
    )
    if not head["n"]:
        return spark.createDataFrame(
            [(0, QSKETCH_BINS) + (None,) * 8], schema
        )
    lo, hi, n = float(head["lo"]), float(head["hi"]), int(head["n"])
    width = (hi - lo) / QSKETCH_BINS
    bin_col = (
        F.lit(0).cast("long")
        if width == 0
        else F.least(
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("long"),
            F.lit(QSKETCH_BINS - 1),
        )
    )
    bc = ev.select(bin_col.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum, _total, release = win.global_cumsum(bc, ["bin"], "c", out_col="cc")
    ranks = {q: math.ceil(q * n) for q in QSKETCH_QS}
    try:
        sel = cum.agg(
            *[
                F.min(F.when(F.col("cc") >= F.lit(ranks[q]), F.col("bin"))).alias(
                    f"b{int(q * 100)}"
                )
                for q in QSKETCH_QS
            ]
        ).collect()[0]
    finally:
        release()
    # the unrounded edge is pure IEEE arithmetic (identical in SQL);
    # rounding happens ENGINE-side (F.round) so the half-up rule
    # matches the oracle's round() instead of Python's banker's round
    approx = {
        q: lo + (int(sel[f"b{int(q * 100)}"]) + 1) * width for q in QSKETCH_QS
    }
    out = ev.agg(
        F.lit(n).cast("bigint").alias("n_values"),
        F.lit(QSKETCH_BINS).cast("bigint").alias("n_bins"),
        F.round(F.lit(width), 6).alias("bin_width"),
        F.round(F.lit(approx[0.5]), 6).alias("q50_approx"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("q50_exact"),
        F.round(F.lit(approx[0.9]), 6).alias("q90_approx"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("q90_exact"),
        F.round(F.lit(approx[0.99]), 6).alias("q99_approx"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("q99_exact"),
    )
    err = F.greatest(
        *[
            F.abs(F.col(f"q{int(q * 100)}_approx") - F.col(f"q{int(q * 100)}_exact"))
            for q in QSKETCH_QS
        ]
    )
    return out.withColumn("within_2bins", err <= F.lit(2 * width))
