"""Same-window per-query replay for optimization work: run the named
queries with bench.py's per-rep protocol (``bench.timed_reps``: noop
sink, query-scoped cache release, clearCache, driver GC, settle) after
its warm-up, and print medians plus a host_canary stamp, so a
before/after pair taken back to back in one session is
ambient-comparable.

Usage:
    python tools/replay_named.py QUERY [QUERY ...] [--sf-dir DIR]
        [--reps 5] [--json OUT]

Env: SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import host_canary, shuffle_partitions, timed_reps, warm_up  # noqa: E402
from big_data_data_lake_spark.queries import load_all  # noqa: E402
from big_data_data_lake_spark.session import get_spark, local_cpus  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    cpus = local_cpus()
    spark = get_spark(
        app_name="replay_named",
        cpus=cpus,
        shuffle_partitions=shuffle_partitions(args.sf_dir, cpus),
        extra_conf={"spark.cleaner.periodicGC.interval": "30s"},
    )
    registry = load_all()
    warm_up(spark, cpus)
    canary = host_canary(spark)
    out: dict = {"sf_dir": args.sf_dir, "reps": args.reps, "canary": canary}
    results = out["queries"] = {}
    for name in args.queries:
        spark.sparkContext.setJobDescription(f"replay:{name}")
        samples = timed_reps(spark, registry[name].fn, args.sf_dir, args.reps)
        results[name] = {
            "median": round(statistics.median(samples), 3),
            "samples": [round(x, 3) for x in samples],
        }
        print(f"{name}: median {results[name]['median']} s  {results[name]['samples']}")
    print(json.dumps(out))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
