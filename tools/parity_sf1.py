"""sf1 oracle-parity sweep (r7 verdict item #4): correctness evidence
above the driver's sf0.01 tier.

Runs the driver-faithful check (`testing.check_query`: row count +
schema + order-insensitive values, Spark vs DuckDB on the same data)
at sf1 (10x the bench tier, ~6M-row events / ~50k docs) for the
heaviest queries — by default the top N by time in the sf1 bench
record (``--bench``, default ``BENCH_SF1.json``) — and writes
PARITY_SF1.json. ``--queries`` names the set instead, and ``--all``
sweeps the whole registry. Exit 1 on any failure.

The sf1 tables are Spark-written parquet DIRECTORIES
(tools/gen_scale_data.py), so the DuckDB views glob
``<table>.parquet/*.parquet`` instead of the single-file form the
sf0.001/sf0.01 harness uses; everything else is the same gate.

Usage:
    python tools/parity_sf1.py [--bench BENCH_SF1_rN.json] [--top 30]
        [--sf-dir .bench/sf1] [--out PARITY_SF1.json] [--queries a,b,c | --all]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def sf1_duckdb_connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    from big_data_data_lake_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{src}'"
        )
    return con


def check_query_sf1(spark, name: str, sf_dir: str) -> list[str]:
    from big_data_data_lake_spark.caching import release_query_caches
    from big_data_data_lake_spark.queries import load_all
    from big_data_data_lake_spark.testing import compare_frames

    qd = load_all()[name]
    try:
        spark_pdf = qd.fn(spark, sf_dir).toPandas()
    finally:
        release_query_caches()
    if qd.oracle is None:
        return []
    con = sf1_duckdb_connect(sf_dir)
    try:
        oracle_pdf = con.sql(qd.oracle).df()
    finally:
        con.close()
    return compare_frames(spark_pdf, oracle_pdf)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default="BENCH_SF1.json", help="sf1 bench record to rank by")
    ap.add_argument("--top", type=int, default=30)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF1_DIR", ".bench/sf1"))
    ap.add_argument("--out", default="PARITY_SF1.json")
    ap.add_argument("--queries", default=None, help="comma list; overrides ranking")
    ap.add_argument(
        "--all",
        action="store_true",
        help="sweep the FULL registry (r8 verdict item #2: every "
        "registered query value-attested at sf1, not just the heavy set)",
    )
    args = ap.parse_args()

    from big_data_data_lake_spark.queries import load_all
    from big_data_data_lake_spark.session import get_spark, local_cpus

    registry = load_all()
    if args.all:
        names = sorted(registry)
    elif args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
    else:
        with open(args.bench) as f:
            rec = json.load(f)
        names = [
            n
            for n, _t in sorted(rec["queries"].items(), key=lambda kv: -kv[1])
            if n in registry
        ][: args.top]
    cpus = local_cpus()
    spark = get_spark(app_name="parity-sf1", cpus=cpus)
    result = {"sf_dir": args.sf_dir, "queries": {}, "failures": 0}
    for n in names:
        t0 = time.perf_counter()
        try:
            issues = check_query_sf1(spark, n, args.sf_dir)
        except Exception as e:  # noqa: BLE001 — recorded, not hidden
            issues = [f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"]
        dt = round(time.perf_counter() - t0, 1)
        oracle = registry[n].oracle is not None
        result["queries"][n] = {
            "ok": not issues,
            "oracle": oracle,
            "sec": dt,
            **({"issues": issues} if issues else {}),
        }
        if issues:
            result["failures"] += 1
        print(n, "OK" if not issues else f"FAIL {issues}", dt, flush=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {args.out}: {len(names)} queries, {result['failures']} failures")
    return 1 if result["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
