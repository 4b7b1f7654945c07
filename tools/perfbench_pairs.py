"""Paired A/B runs of ``perfbench/run.py`` in two checkouts.

Runs the benchmark once per seed in each checkout, alternating which
side runs first (seed 1 parent first, seed 2 change first, ...) so a
slow drift of the host spreads over both sides. Every run's stdout and
stderr are kept under ``--out``. Prints, per metric of the final JSON
line, the parent and change medians, the parent IQR, the change's
share of the parent median, and in how many pairs the change was
better; then the failed and attempted ops of each side.

Usage:
    python tools/perfbench_pairs.py PARENT_DIR CHANGE_DIR --workload W \\
        [--seeds 1-10] [--out DIR]

Each directory is a whole checkout (for instance a ``git archive`` of
a commit); the runs write only under that checkout's ``perfbench/``.
``--seeds`` takes ranges and lists: ``1-10``, ``11,12,15-18``. The
command, the run length (``run_seconds``) and whether lower or higher
is better come from the change checkout's ``BENCHMARK.json``, so both
sides run alike; every run is untraced (``--trace 0``). A metric the
file does not list gets no winner.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """``"1-3,7"`` -> ``[1, 2, 3, 7]``."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_order(seeds: list[int]) -> list[tuple[int, str]]:
    """(seed, side) in execution order: the first side alternates."""
    out = []
    for i, seed in enumerate(seeds):
        sides = SIDES if i % 2 == 0 else SIDES[::-1]
        out += [(seed, side) for side in sides]
    return out


def run_command(spec: dict, workload: str, seed: int) -> list[str]:
    """The benchmark's own command for one untraced run of ``spec``
    (a parsed ``BENCHMARK.json``)."""
    return [
        *spec["command"], "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]


def better_of(spec: dict) -> dict[str, str]:
    """``{metric: "lower" | "higher"}`` for every metric ``spec`` lists."""
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def parse_result(stdout: str) -> dict:
    """The final JSON line of a run: ``correct``, ``attempted``,
    ``failed`` and ``metrics`` as ``{name: value}``. A run that printed
    none counts as one failed op with no metrics."""
    for line in reversed(stdout.splitlines()):
        if line.startswith("{") and '"metrics"' in line:
            rec = json.loads(line)
            rec["metrics"] = {k: m["value"] for k, m in rec["metrics"].items()}
            return rec
    return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def summarize(results: dict[int, dict[str, dict]], better: dict[str, str]) -> list[dict]:
    """One row per metric both sides report in some pair: medians,
    parent IQR and wins of the change over the pairs that have it
    (None for a metric ``better`` does not list)."""
    names = sorted(
        {m for pair in results.values() if len(pair) == 2 for m in pair["parent"]["metrics"]}
    )
    rows = []
    for name in names:
        pairs = [
            (pair["parent"]["metrics"][name], pair["change"]["metrics"][name])
            for pair in results.values()
            if len(pair) == 2 and all(name in pair[s]["metrics"] for s in SIDES)
        ]
        if not pairs:
            continue
        parent = [p for p, _ in pairs]
        pm, cm = statistics.median(parent), statistics.median(c for _, c in pairs)
        sign = {"lower": 1, "higher": -1}.get(better.get(name))
        rows.append(
            {
                "metric": name,
                "parent_median": pm,
                "change_median": cm,
                "parent_iqr": iqr(parent),
                "ratio": cm / pm if pm else None,
                "wins": None if sign is None else sum(1 for p, c in pairs if sign * (c - p) < 0),
                "pairs": len(pairs),
            }
        )
    return rows


def report(rows: list[dict], results: dict[int, dict[str, dict]]) -> str:
    lines = [
        f"{'metric':<34} {'parent':>12} {'change':>12} {'parent IQR':>11} "
        f"{'ratio':>6} {'wins':>7}"
    ]
    for r in rows:
        ratio = "-" if r["ratio"] is None else f"{r['ratio']:.3f}"
        wins = "-" if r["wins"] is None else r["wins"]
        lines.append(
            f"{r['metric']:<34} {r['parent_median']:>12.4g} {r['change_median']:>12.4g} "
            f"{r['parent_iqr']:>11.4g} {ratio:>6} {wins:>3}/{r['pairs']:<3}"
        )
    for side in SIDES:
        runs = [pair[side] for pair in results.values() if side in pair]
        failed = sum(r["failed"] for r in runs)
        attempted = sum(r["attempted"] for r in runs)
        wrong = sum(1 for r in runs if not r["correct"])
        lines.append(
            f"{side}: {len(runs)} runs, {failed} of {attempted} ops failed, "
            f"{wrong} runs not correct"
        )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=".bench/pairs")
    args = ap.parse_args(argv)

    dirs = {"parent": args.parent_dir, "change": args.change_dir}
    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(args.out, exist_ok=True)
    results: dict[int, dict[str, dict]] = {}
    for seed, side in run_order(parse_seeds(args.seeds)):
        cmd = run_command(spec, args.workload, seed)
        proc = subprocess.run(cmd, cwd=dirs[side], capture_output=True, text=True)
        stem = os.path.join(args.out, f"{args.workload}-seed{seed}-{side}")
        with open(stem + ".out", "w") as fh:
            fh.write(proc.stdout)
        with open(stem + ".err", "w") as fh:
            fh.write(proc.stderr)
        res = parse_result(proc.stdout)
        results.setdefault(seed, {})[side] = res
        shown = {k: round(v, 3) for k, v in res["metrics"].items()}
        print(f"seed {seed} {side}: failed {res['failed']}/{res['attempted']} {shown}", flush=True)
    print(report(summarize(results, better_of(spec)), results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
