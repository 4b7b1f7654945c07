"""Lake benchmark: one client driving the engine's public functions.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload analytics_light --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` records why each exists):

- ``analytics_light``: 20 registry queries at sf0.01, each built through
  ``__spark_entry__.queries()`` and run to a ``noop`` sink;
- ``lake_ingest``: seeded OpenSky polls streamed into a bronze and a
  silver LakeTable, then snapshot reads.

Load is a closed loop with one client on a ``local[nproc]`` session
from ``session.get_spark``. The timed work is fixed, one analytics pass
or one lake cycle, so both sides of a comparison measure the same work;
on a 4-core host either takes longer than ``--seconds``, and a run whose
timed window is shorter says so on stderr. Every run checks the outputs outside the
timed ops and counts each failed or wrong op. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones from a separate traced pass). The line before it is a
report with the environment stamp and the workload's own figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from harness import (  # noqa: E402
    REPO_ROOT,
    WORK_DIR,
    Ledger,
    counters,
    environment,
    host_canary_s,
    log,
    metric,
    peak_rss_mb,
    retained_mb,
    start_session,
    stop_session,
    window,
)

WORKLOADS = ("analytics_light", "lake_ingest")
TRACE_DIR = os.path.join(WORK_DIR, "traces")

# Wall-clock figures swing with the host's other tenants. On a 4-core
# VM one analytics pass took 12.5-20 s, in step with the share of CPU
# the hypervisor stole (0-11%), and the IQR of pass time over five
# seeds reached 0.21 of the median (0.31 for query p50). The CPU and
# memory the engine spends held within 0.03-0.15 over ten seeds, so
# those are the gated metrics; the wall figures are in the report line
# and the per-layer output.
END_TO_END = {
    "setup_s": "s",
    "mix_cpu_s": "s",
    "retained_mb": "MB",
}

# Per-layer metrics, grouped by layer, each with the end-to-end metric
# it should move. Workloads without a layer report 0 for it.
PER_LAYER = {
    # wall-clock view of the gated metrics, both workloads
    "mix_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    # session -> setup_s, both workloads
    "session.start_s": "s",
    # sources.catalog, queries (build) -> mix_cpu_s on analytics_light
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    # operators (Spark execution, per job group) -> mix_cpu_s, retained_mb
    "exec.run_s": "s",
    "exec.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    # caching -> mix_cpu_s and retained_mb on analytics_light
    "caching.released": "count",
    "caching.release_s": "s",
    # sources.metadata (LakeTable) -> mix_cpu_s on lake_ingest
    "lake.create_s": "s",
    "lake.append_s": "s",
    "lake.upsert_s": "s",
    "lake.read_s": "s",
    "lake.files_added": "count",
    "lake.bytes_written": "bytes",
    "lake.upsert_bytes_rewritten_per_row": "bytes/row",
    "lake.snapshot_files": "count",
    "lake.manifest_bytes": "bytes",
    "lake.read_files_scanned": "count",
    "lake.commit_growth": "ratio",
    # streaming.ingest -> mix_cpu_s on lake_ingest
    "ingest.trigger_s": "s",
    "ingest.add_batch_s": "s",
    "ingest.query_planning_s": "s",
    "ingest.get_batch_s": "s",
    "ingest.stream_start_s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_parsed": "count",
    "ingest.rows_dropped_malformed": "count",
    "ingest.rows_upserted": "count",
    # lake_ingest's own wall-clock and storage figures
    "ingest_rows_per_s": "rows/s",
    "append_commit_p50_s": "s",
    "upsert_commit_p50_s": "s",
    "snapshot_read_p50_s": "s",
    "storage_bytes_per_input_byte": "ratio",
    # host window and tracing cost: move no end-to-end metric
    "host.canary_s": "s",
    "host.steal_share": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _analytics(spark, seed, trace, ledger, out):
    import analytics

    figures = analytics.run(spark, seed, ledger)
    out["setup_end"] = figures["setup_end"]
    out["canary_s"] = figures["canary_s"]
    out["sf_dirs"] = [os.path.relpath(analytics.SF_DIR, REPO_ROOT)]
    out["measured"] = figures["window"]
    out["mix_cpu_s"] = figures["window"]["cpu_s"]
    out["wall"] = {"mix_s": figures["mix_s"], "op_p50_s": figures["op_p50_s"]}
    out["report"] = {
        "query_p50_s": figures["op_p50_s"],
        "per_query_s": figures["per_query_s"],
    }
    if trace:
        from tracing import Tracer

        tracer = Tracer()
        out["layers"] = analytics.traced(spark, tracer, figures, ledger)
        out["tracer"] = tracer
        out["trace_extra"] = {
            "per_query_s": figures["per_query_s"],
            "traced_per_query_s": figures["traced_per_query_s"],
            "layer_totals": figures["layer_totals"],
        }


def _lake(spark, seed, trace, ledger, out):
    import lake

    exp = lake.setup(seed)
    out["setup_end"] = time.perf_counter()
    out["canary_s"] = host_canary_s(spark)
    # one cycle: the timed work is fixed, so both sides of a comparison
    # measure the same work
    before = counters(spark)
    c = lake.cycle(spark, exp, seed, f"{WORK_DIR}/lake/run", ledger)
    out["measured"] = window(before, counters(spark))
    if not c:
        return
    log(f"lake_ingest cycle: {c['mix_s']:.2f} s {c['phase_s']}")
    lake.verify(exp, c, ledger)
    out["mix_cpu_s"] = out["measured"]["cpu_s"]
    out["wall"] = {"mix_s": c["mix_s"], "op_p50_s": c["op_p50_s"], **lake.figures(exp, c)}
    out["report"] = {
        "polls": lake.N_POLLS,
        "vectors_per_poll": lake.VECTORS_PER_POLL,
        "input_bytes": exp.input_bytes,
        "phase_s": c["phase_s"],
        "append_commits_s": c["append_s"],
        "upsert_commits_s": c["upsert_s"],
        "read_s": c["read_s"],
    }
    if trace:
        from big_data_data_lake_spark.sources.metadata import LakeTable
        from tracing import Tracer, layer_totals

        tracer = Tracer()
        for method in ("create", "append", "upsert", "read"):
            tracer.wrap(LakeTable, method, f"lake.{method}")
        try:
            c = lake.cycle(spark, exp, seed, f"{WORK_DIR}/lake/traced", ledger, tracer)
        finally:
            tracer.restore()
        if c:
            lake.verify(exp, c, ledger)
            out["layers"] = lake.layer_metrics(spark, exp, c, tracer, ledger)
            # commit p50 per poll, traced over untraced
            out["layers"]["trace.overhead_ratio"] = c["op_p50_s"] / out["wall"]["op_p50_s"]
            out["tracer"] = tracer
            out["trace_extra"] = {"layer_totals": layer_totals(tracer.spans)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine's tuning knobs stay at their defaults
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    if not os.path.isdir(os.path.join(REPO_ROOT, "big_data_data_lake_spark")):
        log(f"engine package not found under {REPO_ROOT}")
        return 2
    sys.path.insert(1, REPO_ROOT)
    # a run starts from an empty work directory; trace files are kept
    os.makedirs(TRACE_DIR, exist_ok=True)
    for name in os.listdir(WORK_DIR):
        path = os.path.join(WORK_DIR, name)
        if path != TRACE_DIR:
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    os.environ["TMPDIR"] = WORK_DIR

    ledger = Ledger()
    out: dict = {}
    t0 = time.perf_counter()
    spark, settings, session_s = start_session(f"perfbench-{args.workload}")
    try:
        run = _analytics if args.workload == "analytics_light" else _lake
        try:
            run(spark, args.seed, bool(args.trace), ledger, out)
        except Exception as exc:  # report the failed run instead of dying
            ledger.fail(args.workload, exc)
        timed_s = (out.get("measured") or {}).get("wall_s", args.seconds)
        if timed_s < args.seconds:
            log(f"timed window {timed_s:.1f} s is shorter than --seconds {args.seconds:g}")
        rss = peak_rss_mb(spark)
        retained = retained_mb(spark)
        env = environment(
            spark,
            settings,
            args.seed,
            workload=args.workload,
            sf_dirs=out.get("sf_dirs", []),
            host_canary_s=out.get("canary_s"),
        )
    finally:
        stop_session(spark)

    e2e = {"mix_cpu_s": out.get("mix_cpu_s"), "retained_mb": retained}
    if "setup_end" in out:
        e2e["setup_s"] = out["setup_end"] - t0
    wall = {**out.get("wall", {}), "peak_rss_mb": rss}
    report = {
        "workload": args.workload,
        "environment": env,
        "session_start_s": session_s,
        "measured": out.get("measured"),
        "end_to_end": {k: metric(e2e[k], u) for k, u in END_TO_END.items() if e2e.get(k)},
        "wall": wall,
        **out.get("report", {}),
        "issues": ledger.issues,
    }
    if args.trace:
        layers = {k: 0 for k in PER_LAYER}
        layers.update(wall)
        layers.update(out.get("layers", {}))
        layers["session.start_s"] = session_s
        layers["host.canary_s"] = out.get("canary_s") or 0
        layers["host.steal_share"] = (out.get("measured") or {}).get("host_steal_share", 0)
        metrics = {k: metric(layers[k], u) for k, u in PER_LAYER.items()}
        if "tracer" in out:
            path = os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(
                    {"spans": out["tracer"].spans, "report": report, **out.get("trace_extra", {})},
                    fh,
                    default=str,
                )
            report["trace_file"] = os.path.relpath(path, REPO_ROOT)
        missing = not out.get("layers")
    else:
        metrics = report["end_to_end"]
        missing = len(metrics) != len(END_TO_END)
    if missing:
        ledger.issues.append("some metrics were not measured")
    print(json.dumps(report, default=str))
    correct = ledger.failed == 0 and not missing
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, ledger.attempted),
                "failed": ledger.failed if ledger.attempted else 1,
                "metrics": metrics,
            }
        )
    )
    for issue in ledger.issues:
        log(f"FAILED {issue}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
