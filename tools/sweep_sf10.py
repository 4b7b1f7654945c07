"""100x (sf10) scale sweep — r8 verdict item #6: extend the 100x
evidence tier from the ~23 hand-picked flagship queries to EVERY
query above a time threshold at sf1.

For each query in the sweep population, replay standalone (reps with
raw samples recorded, under bench.py's per-rep protocol
``bench.timed_reps`` after its warm-up, fixed cores) at BOTH sf0.1 and
sf10 and record the 100x growth ratio. On a real cluster cores scale
with data; a small multiple at 100x-data-on-fixed-cores is the
strongest single-box signal that the plan has no superlinear term.
Queries that error at sf10 are recorded with the error, not dropped.

Population (r12, r11 verdict #4): membership used to be ">--min-sf1
seconds in the given sf1 bench record" alone, so an ambient-noise day
changed coverage (r11: 93 -> 118 entries) and cross-round sweep diffs
stopped comparing like sets. With ``--pin PRIOR_SCALE_SF10.json`` the
prior round's population is the base set and threshold qualifiers only
ADD (logged in the record under ``population.added``); prior names
missing from the registry are dropped and logged. Self-adjudication
metadata (r11 verdict #2): the record carries ``reps``, ``stat``, raw
per-tier ``samples``, per-query spread, and the SAME fixed-work host
canary bench.py stamps its records with (run at sweep start and end
under the sf10 tier's shuffle-partition config), so cross-round sf10
drift is adjudicable from the record alone — no SCALE.md archaeology.

Usage:
    python tools/sweep_sf10.py BENCH_SF1_r08.json [--min-sf1 1.0]
        [--reps 2] [--sf10-dir .bench/sf10]
        [--sf01-dir /root/testdata/sf0.1] [--out SCALE_SF10_r09.json]
        [--skip a,b,c] [--pin SCALE_SF10_r11.json]

Exit 0 always — adjudication (which ratios are output-bound, which
replay clean) happens in SCALE.md against this record, mirroring the
round-7 protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _replay(spark, fn, sf_dir: str, reps: int) -> list[float]:
    """Per-rep wall times (caller takes min for the headline stat but
    records the raw samples — r11 verdict #2)."""
    # Tier-faithful config (r10): shuffle partitions follow bench.py's
    # volume rule for THIS sf_dir, so sweep numbers are comparable to
    # bench records at the same tier (see replay_outliers._replay).
    # Mirror bench.py's FULL resolution order, env override included
    # (r10 advice): see replay_outliers._replay.
    from bench import shuffle_partitions, timed_reps
    from big_data_data_lake_spark.session import local_cpus

    cpus = local_cpus()
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions(sf_dir, cpus)))
    return [round(x, 3) for x in timed_reps(spark, fn, sf_dir, reps)]


def _canary(spark, sf10_dir: str) -> dict:
    """bench.host_canary under the sf10 tier's shuffle-partition
    config — the tier whose cross-round drift this record must make
    adjudicable. Same-tier comparisons only (the shuffle leg follows
    the partition count)."""
    from bench import host_canary, shuffle_partitions
    from big_data_data_lake_spark.session import local_cpus

    parts = shuffle_partitions(sf10_dir, local_cpus())
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    c = host_canary(spark)
    return {**c, "total_sec": round(sum(c.values()), 3), "shuffle_partitions": parts}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("bench_sf1", help="BENCH_SF1 record to rank by")
    ap.add_argument("--min-sf1", type=float, default=1.0)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf10-dir", default=".bench/sf10")
    ap.add_argument("--sf01-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="SCALE_SF10.json")
    ap.add_argument("--skip", default="", help="comma list to exclude")
    ap.add_argument(
        "--pin",
        default="",
        help="prior SCALE_SF10 record whose population is the base set; "
        "threshold qualifiers only add (logged)",
    )
    args = ap.parse_args()

    from bench import warm_up
    from big_data_data_lake_spark.queries import load_all
    from big_data_data_lake_spark.session import get_spark, local_cpus

    with open(args.bench_sf1) as f:
        rec = json.load(f)
    registry = load_all()
    skip = {s.strip() for s in args.skip.split(",") if s.strip()}
    qualifiers = [
        n
        for n, t in sorted(rec["queries"].items(), key=lambda kv: -kv[1])
        if t > args.min_sf1 and n in registry and n not in skip
    ]
    population: dict = {"min_sf1": args.min_sf1}
    if args.pin:
        with open(args.pin) as f:
            prior = json.load(f)
        base = [n for n in prior["queries"] if n in registry and n not in skip]
        dropped = sorted(n for n in prior["queries"] if n not in registry)
        added = sorted(set(qualifiers) - set(base))
        # prior order is irrelevant; run slowest-at-sf1 first like the
        # unpinned path so a crash loses the cheap tail, not the head
        names = sorted(
            set(base) | set(added),
            key=lambda n: -rec["queries"].get(n, 0.0),
        )
        population.update(
            {"pinned_from": args.pin, "added": added, "dropped": dropped}
        )
        print(
            f"population pinned to {args.pin}: {len(base)} base "
            f"+ {len(added)} added, {len(dropped)} dropped",
            flush=True,
        )
    else:
        names = qualifiers
    print(f"{len(names)} queries in sweep population", flush=True)

    cpus = local_cpus()
    spark = get_spark(app_name="sweep-sf10", cpus=cpus)
    warm_up(spark, cpus)
    result = {
        "sf01_dir": args.sf01_dir,
        "sf10_dir": args.sf10_dir,
        "reps": args.reps,
        "stat": "best",
        "population": population,
        "canary_pre": _canary(spark, args.sf10_dir),
        "queries": {},
    }
    worst_spread = 1.0
    for i, n in enumerate(names):
        fn = registry[n].fn
        row: dict = {"sf1_bench": rec["queries"].get(n)}
        try:
            s01 = _replay(spark, fn, args.sf01_dir, args.reps)
            s10 = _replay(spark, fn, args.sf10_dir, args.reps)
            row["sf01"], row["sf10"] = min(s01), min(s10)
            row["samples"] = {"sf01": s01, "sf10": s10}
            row["ratio_100x"] = (
                round(row["sf10"] / row["sf01"], 2) if row["sf01"] else None
            )
            for s in (s01, s10):
                if min(s) > 0:
                    worst_spread = max(worst_spread, max(s) / min(s))
        except Exception as e:  # noqa: BLE001 — recorded, not hidden
            row["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        result["queries"][n] = row
        result["max_spread_ratio"] = round(worst_spread, 2)
        print(
            f"[{i + 1}/{len(names)}] {n}: "
            + (
                f"sf0.1 {row.get('sf01')}s sf10 {row.get('sf10')}s "
                f"ratio {row.get('ratio_100x')}x"
                if "error" not in row
                else f"ERROR {row['error']}"
            ),
            flush=True,
        )
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    result["canary_post"] = _canary(spark, args.sf10_dir)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {args.out}: {len(names)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
