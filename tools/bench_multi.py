"""Multi-run bench record with a PINNED selection rule — r11 verdict
item #3: the r11 builder records committed the calm-window run of
three full bench runs (171.1 s of 199.2/210.4/171.1), disclosed only
in SCALE.md prose. Best-window selection invisible in the JSON biases
the next round's ``prior_bench`` drift baseline downward, so every
following round reads ambient noise as regression. This wrapper makes
the protocol mechanical and the record self-describing.

Runs ``python bench.py`` N times (fresh process each — fresh JVM, no
cross-run cache residue), collects every run's full record, and emits
the record of ONE run chosen by a deterministic rule:

  * runs sorted by total ``value``; N odd -> the median run;
  * N even -> of the two middle runs, the one with the LOWER canary
    total (the calmer host window — canary measures the host, never
    the code).

The emitted record is the selected run's full bench JSON (same shape
replay_outliers/drift triage already consume) plus ``runs`` (every
run's total + canary + spread, execution order) and ``selection``
(the rule + chosen index), so r13's triage can normalize any
cross-round delta by host speed straight off the record. bench.py's
own ``cpus`` field (the host's core count and the ``local[N]`` the
runs used) comes through with the selected run.

Usage:
    python tools/bench_multi.py [--runs 3] [--out BENCH_LOCAL_r12.json]
Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_REPS pass
through to bench.py unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SELECTION_RULE = "sort_by_value__median_if_odd__min_canary_of_middle_two_if_even"


def select(runs: list[dict]) -> int:
    """Index (into execution order) of the run the record keeps."""
    order = sorted(range(len(runs)), key=lambda i: runs[i]["value"])
    if len(order) % 2 == 1:
        return order[len(order) // 2]
    mid = order[len(order) // 2 - 1 : len(order) // 2 + 1]
    return min(mid, key=lambda i: sum(runs[i]["canary"].values()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    records: list[dict] = []
    for r in range(args.runs):
        print(f"=== bench run {r + 1}/{args.runs} ===", flush=True)
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        full = None
        for line in out.stdout.splitlines():
            if line.startswith("{"):
                rec = json.loads(line)
                if "queries" in rec:
                    full = rec
        assert full is not None, "no full record line in bench output"
        records.append(full)
        print(
            f"run {r + 1}: total {full['value']}s canary "
            f"{round(sum(full['canary'].values()), 3)}s "
            f"spread {full['max_spread_ratio']}",
            flush=True,
        )

    chosen = select(records)
    result = dict(records[chosen])
    result["runs"] = [
        {
            "value": rec["value"],
            "canary": rec["canary"],
            "canary_sec": round(sum(rec["canary"].values()), 3),
            "max_spread_ratio": rec["max_spread_ratio"],
        }
        for rec in records
    ]
    result["selection"] = {"rule": SELECTION_RULE, "selected_run": chosen}
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(
        f"wrote {args.out}: selected run {chosen + 1}/{args.runs} "
        f"(total {result['value']}s) by {SELECTION_RULE}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
