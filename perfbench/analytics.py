"""``analytics_light``: registry queries at sf0.01, one client, closed loop.

Each op is one call through ``__spark_entry__.queries()`` (building the
query) followed by running the plan to a ``noop`` sink. The seed
permutes the query order of every pass. Set-up starts the session and
runs one untimed warm-up pass; each query's output is then checked
against its DuckDB oracle, which set-up time leaves out.
"""

from __future__ import annotations

import random
import time

from harness import BENCH_DIR, Ledger, counters, host_canary_s, log, median, window
from tracing import maybe_span

SF_DIR = f"{BENCH_DIR}/data/sf0.01"

# The first eight are the reference's dashboard/analytics surface.
QUERIES = (
    "country_intelligence",
    "latest_event_per_user",
    "quantile_outliers",
    "dead_reckoning",
    "sessionize_events",
    "tumbling_hourly_counts",
    "kmeans_lloyd_phases",
    "asof_last_error",
    "pricing_summary",
    "brand_revenue",
    "shipping_priority",
    "topk_orders_per_segment",
    "market_share_by_year",
    "value_deciles",
    "retention_cohorts",
    "dau_mau_stickiness",
    "events_grouping_sets",
    "table_profile",
    "daily_anomaly_zscore",
    "rfm_segments",
)


def check_pass(spark, order: list[str], ledger: Ledger) -> float:
    """The warm-up pass: run every query once to pandas, then check it
    against its DuckDB oracle as ``testing.check_query`` does. Returns
    the seconds spent in the oracle and the comparison, which set-up
    time leaves out."""
    from big_data_data_lake_spark.caching import release_query_caches
    from big_data_data_lake_spark.queries import load_all

    registry = load_all()
    oracle_s = 0.0
    for name in order:
        release_query_caches()
        try:
            got = registry[name].fn(spark, SF_DIR).toPandas()
            t0 = time.perf_counter()
            problems = oracle_issues(registry[name], got)
            oracle_s += time.perf_counter() - t0
        except Exception as exc:  # a crash is a failed op; keep going
            ledger.fail(f"check {name}", exc)
            continue
        ledger.record(f"check {name}", problems)
    release_query_caches()
    return oracle_s


def oracle_issues(qd, got) -> list[str]:
    """The second half of ``testing.check_query``: [] means parity."""
    from big_data_data_lake_spark.testing import compare_frames, duckdb_connect

    if qd.oracle is None:
        return []
    con = duckdb_connect(SF_DIR)
    try:
        want = con.sql(qd.oracle).df()
    finally:
        con.close()
    return compare_frames(got, want)


def timed_pass(spark, queries, order: list[str], ledger: Ledger, tracer=None, label="p"):
    """One pass over ``order``; returns (wall seconds, {query: latency})."""
    from big_data_data_lake_spark.caching import release_query_caches

    sc = spark.sparkContext
    latency = {}
    t_pass = time.perf_counter()
    for name in order:
        op = f"{label}:{name}"
        try:
            if tracer is not None:
                sc.setJobGroup(op, name)
            t0 = time.perf_counter()
            with maybe_span(tracer, "op", op=op):
                with maybe_span(tracer, "queries.build"):
                    df = queries[name](spark, SF_DIR)
                with maybe_span(tracer, "exec.noop"):
                    df.write.format("noop").mode("overwrite").save()
            latency[name] = time.perf_counter() - t0
        except Exception as exc:
            ledger.fail(op, exc)
            continue
        ledger.record(op)
    with maybe_span(tracer, "op", op=f"{label}:end"):
        release_query_caches()
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return time.perf_counter() - t_pass, latency


def run(spark, seed: int, ledger: Ledger) -> dict:
    """Set-up pass, then one timed pass; returns figures. The timed work
    is fixed, so both sides of a comparison measure the same work."""
    import __spark_entry__

    rng = random.Random(seed)
    queries = __spark_entry__.queries()
    oracle_s = check_pass(spark, rng.sample(QUERIES, len(QUERIES)), ledger)
    setup_end = time.perf_counter() - oracle_s
    canary = host_canary_s(spark)

    before = counters(spark)
    wall, lat = timed_pass(spark, queries, rng.sample(QUERIES, len(QUERIES)), ledger)
    log(f"analytics_light pass: {wall:.2f} s")
    return {
        "window": window(before, counters(spark)),
        "setup_end": setup_end,
        "canary_s": canary,
        "rng": rng,
        "queries": queries,
        "mix_s": wall,
        "op_p50_s": median(list(lat.values())),
        "per_query_s": dict(sorted(lat.items())),
    }


def traced(spark, tracer, figures: dict, ledger: Ledger) -> dict:
    """One traced pass; returns the per-layer metrics of the query layers."""
    import sys

    from big_data_data_lake_spark import caching
    from big_data_data_lake_spark.sources import catalog

    from tracing import exec_counters, jobs_within, layer_totals, spark_jobs

    # the query modules bound load_table at import: wrap each binding
    for mod in list(sys.modules.values()):
        if getattr(mod, "load_table", None) is catalog.load_table and mod is not catalog:
            tracer.wrap(mod, "load_table", "catalog.load_table")
    tracer.wrap(caching, "release_query_caches", "caching.release")
    rng, queries = figures["rng"], figures["queries"]
    try:
        wall, lat = timed_pass(
            spark, queries, rng.sample(QUERIES, len(QUERIES)), ledger, tracer, label="traced"
        )
    finally:
        tracer.restore()
    # passes still speed up as the JVM warms: bracket the traced pass
    # with untraced ones so the overhead ratio is not biased downwards
    after, _ = timed_pass(spark, queries, rng.sample(QUERIES, len(QUERIES)), ledger)

    spans = tracer.spans
    totals = layer_totals(spans)
    ops = {s["op"] for s in spans}
    jobs = spark_jobs(spark, ops)
    build = totals.get("queries.build", {}).get("s", 0.0)
    run_s = totals.get("exec.noop", {}).get("s", 0.0)
    out = {
        "catalog.load_table_calls": totals.get("catalog.load_table", {}).get("calls", 0),
        "catalog.load_table_s": totals.get("catalog.load_table", {}).get("s", 0.0),
        "catalog.load_table_jobs": jobs_within(
            jobs, [s for s in spans if s["name"] == "catalog.load_table"]
        ),
        "queries.build_s": build,
        "queries.build_jobs": jobs_within(
            jobs, [s for s in spans if s["name"] == "queries.build"]
        ),
        "queries.build_share": build / (build + run_s) if build + run_s else 0.0,
        "exec.run_s": run_s,
        "caching.released": sum(
            s.get("result", 0) for s in spans if s["name"] == "caching.release"
        ),
        "caching.release_s": totals.get("caching.release", {}).get("s", 0.0),
        "trace.overhead_ratio": wall / median([figures["mix_s"], after]),
    }
    out.update(exec_counters(spark, jobs))
    figures["traced_per_query_s"] = lat
    figures["layer_totals"] = totals
    return out
