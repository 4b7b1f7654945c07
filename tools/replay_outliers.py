"""Standalone outlier replay: separate real per-query scale regressions
from in-bench neighbor interference (r6 verdict item #8 — this replaces
the by-hand triage each round's SCALE.md section used to transcribe).

In a full bench run, a heavy query's GC/cleaner backlog inflates its
successors (measured up to 5x — see bench.py's settle comment), so a
big sf0.1->sf1 IN-BENCH ratio is ambiguous: real superlinearity or a
noisy neighbor. The discriminator is a STANDALONE replay — same data,
fresh timing, best-of-N under bench.py's per-rep protocol
(``bench.timed_reps``: cache drops, driver GC, settle) after its
warm-up — of exactly the queries whose in-bench ratio exceeds a
threshold.

Usage:
    python tools/replay_outliers.py BENCH_LOCAL_r07.json BENCH_SF1_r07.json \
        [--threshold 4.0] [--reps 3] [--out SCALE_REPLAY_r07.json]

Reads the two bench records (any pair of scale factors), computes
per-query ratios over the common query set, replays every query whose
ratio exceeds the threshold at BOTH records' SF dirs, and writes one
JSON with, per query: the two in-bench times, the in-bench ratio, the
two standalone best-of-N times, and the standalone ratio — the number
SCALE.md quotes. Exit code 1 if any STANDALONE ratio still exceeds the
threshold (a real scale problem, not interference).

Cross-round DRIFT mode (r7 verdict item #6 — the judge re-triaged a
1.18x round-over-round drift by hand; this automates it):

    python tools/replay_outliers.py BENCH_LOCAL_r07.json \
        BENCH_LOCAL_r08.json --drift [--threshold 1.5]

Both records must be the SAME scale factor from CONSECUTIVE rounds.
Every common query whose current in-bench time exceeds the prior
round's by more than the threshold (default 1.5x in this mode) is
replayed standalone on the idle box at that SF; the verdict compares
the STANDALONE time against the prior round's record — `ambient_drift`
if it lands back within the threshold (container noise / in-bench
interference, the usual case given the documented ~1.4x cross-round
ambient swing), `REAL_REGRESSION` (exit 1) if the standalone replay
still exceeds it (the plan actually got slower).

SF-dir resolution: sf0.1 -> /root/testdata/sf0.1 (or
$SPARK_GRAFT_SF_DIR); sf1 -> .bench/sf1 (tools/gen_scale_data.py
output, or $SPARK_GRAFT_SF1_DIR).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sf_dir(sf: float) -> str:
    if abs(sf - 1.0) < 1e-9:
        return os.environ.get("SPARK_GRAFT_SF1_DIR", ".bench/sf1")
    if abs(sf - 0.1) < 1e-9:
        return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    return f"/root/testdata/sf{sf:g}"


def _replay(spark, fn, sf_dir: str, reps: int) -> float:
    # Match bench.py's tier config EXACTLY (r10, r9 verdict #5): the
    # chronic "in-bench mover" gap (dsir 13.1s in-bench vs 3.0s
    # "standalone", every round) was never interference — this tool
    # replayed at get_spark()'s core-count shuffle partitions while
    # the bench ran the volume-sized count (128 at sf1). A replay
    # that exonerates a query under a DIFFERENT config is not
    # evidence; same config in, same number out (probed r10:
    # fresh == in-bench within noise under the bench config).
    # Mirror bench.py's FULL resolution order, env override included
    # (r10 advice): a bench recorded under SPARK_GRAFT_SHUFFLE_PARTITIONS
    # must replay under the same value, or this tool reintroduces the
    # exact config-mismatch class the r10 fix closed.
    from bench import shuffle_partitions, timed_reps
    from big_data_data_lake_spark.session import local_cpus

    cpus = local_cpus()
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions(sf_dir, cpus)))
    return round(min(timed_reps(spark, fn, sf_dir, reps)), 3)


def _session(app_name: str):
    """A warmed-up session at ``session.local_cpus()`` cores (bench.warm_up)."""
    from bench import warm_up
    from big_data_data_lake_spark.session import get_spark, local_cpus

    cpus = local_cpus()
    spark = get_spark(app_name=app_name, cpus=cpus)
    warm_up(spark, cpus)
    return spark


def _drift_main(args, low: dict, high: dict) -> int:
    """Cross-round drift triage: prior-round record (low) vs current
    (high) at the SAME SF. Movers replay standalone; the verdict pits
    the standalone time against the PRIOR round's in-bench number."""
    if abs(low["sf"] - high["sf"]) > 1e-9:
        print(
            f"--drift requires same-SF records, got {low['sf']} vs {high['sf']}",
            file=sys.stderr,
        )
        return 2
    lo_q, hi_q = low["queries"], high["queries"]
    common = sorted(set(lo_q) & set(hi_q))
    movers = [
        n for n in common if lo_q[n] > 0 and hi_q[n] / lo_q[n] > args.threshold
    ]
    print(
        f"drift mode at sf={low['sf']}: {len(common)} common queries; "
        f"{len(movers)} moved > {args.threshold}x round-over-round: {movers}",
        flush=True,
    )
    result = {
        "mode": "drift",
        "sf": low["sf"],
        "threshold": args.threshold,
        "reps": args.reps,
        "prior_total_common": round(sum(lo_q[n] for n in common), 1),
        "current_total_common": round(sum(hi_q[n] for n in common), 1),
        "queries": {},
    }
    rc = 0
    if movers:
        from big_data_data_lake_spark.queries import load_all

        spark = _session("replay-drift")
        registry = load_all()
        sf_dir = _sf_dir(low["sf"])
        for n in movers:
            t = _replay(spark, registry[n].fn, sf_dir, args.reps)
            ratio = round(t / lo_q[n], 2) if lo_q[n] > 0 else None
            if ratio is not None and ratio <= args.threshold:
                verdict = "ambient_drift"
            elif t - lo_q[n] < 1.0:
                # sub-second absolute delta: a ratio on a sub-second
                # query is scheduler noise, not a plan signal — a real
                # plan regression that matters moves whole seconds
                verdict = "noise_floor"
            else:
                verdict = "REAL_REGRESSION"
            result["queries"][n] = {
                "prior_bench": lo_q[n],
                "current_bench": hi_q[n],
                "bench_ratio": round(hi_q[n] / lo_q[n], 2),
                "standalone_now": t,
                "standalone_vs_prior": ratio,
                "verdict": verdict,
            }
            print(n, json.dumps(result["queries"][n]), flush=True)
            if result["queries"][n]["verdict"] == "REAL_REGRESSION":
                rc = 1
    out_path = args.out or "SCALE_REPLAY_DRIFT.json"
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("low_record")
    ap.add_argument("high_record")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--drift",
        action="store_true",
        help="cross-round mode: both records same SF (prior round first); "
        "replay movers standalone and label ambient_drift vs REAL_REGRESSION",
    )
    args = ap.parse_args()
    if args.threshold is None:
        args.threshold = 1.5 if args.drift else 4.0

    with open(args.low_record) as f:
        low = json.load(f)
    with open(args.high_record) as f:
        high = json.load(f)
    if args.drift:
        return _drift_main(args, low, high)
    lo_q, hi_q = low["queries"], high["queries"]
    common = sorted(set(lo_q) & set(hi_q))
    outliers = [
        n
        for n in common
        if lo_q[n] > 0 and hi_q[n] / lo_q[n] > args.threshold
    ]
    print(
        f"{len(common)} common queries; {len(outliers)} in-bench ratios "
        f"> {args.threshold}: {outliers}",
        flush=True,
    )

    result = {
        "low_sf": low["sf"],
        "high_sf": high["sf"],
        "threshold": args.threshold,
        "reps": args.reps,
        "queries": {},
    }
    rc = 0
    if outliers:
        from big_data_data_lake_spark.queries import load_all

        spark = _session("replay-outliers")
        registry = load_all()
        lo_dir, hi_dir = _sf_dir(low["sf"]), _sf_dir(high["sf"])
        for n in outliers:
            fn = registry[n].fn
            lo_t = _replay(spark, fn, lo_dir, args.reps)
            hi_t = _replay(spark, fn, hi_dir, args.reps)
            standalone = round(hi_t / lo_t, 2) if lo_t > 0 else None
            result["queries"][n] = {
                "bench_low": lo_q[n],
                "bench_high": hi_q[n],
                "bench_ratio": round(hi_q[n] / lo_q[n], 2),
                "standalone_low": lo_t,
                "standalone_high": hi_t,
                "standalone_ratio": standalone,
                "verdict": (
                    "scales"
                    if standalone is not None and standalone <= args.threshold
                    else "REAL_REGRESSION"
                ),
            }
            print(n, json.dumps(result["queries"][n]), flush=True)
            if result["queries"][n]["verdict"] == "REAL_REGRESSION":
                rc = 1
    out_path = args.out or "SCALE_REPLAY.json"
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    return rc


if __name__ == "__main__":
    sys.exit(main())
