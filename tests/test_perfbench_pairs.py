"""tools/perfbench_pairs.py: paired A/B runs of the lake benchmark,
checked on canned ``perfbench/run.py`` output (no Spark is started)."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def tool():
    spec = importlib.util.spec_from_file_location(
        "perfbench_pairs", os.path.join(_ROOT, "tools", "perfbench_pairs.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _stdout(mix_cpu_s, retained_mb, failed=0, attempted=16):
    """Two lines as ``run.py`` prints them: the report, then the result."""
    report = {"workload": "lake_ingest", "end_to_end": {}, "issues": []}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "mix_cpu_s": {"value": mix_cpu_s, "unit": "s"},
            "retained_mb": {"value": retained_mb, "unit": "MB"},
            "ingest_rows_per_s": {"value": 1000.0 / mix_cpu_s, "unit": "rows/s"},
            "unlisted_s": {"value": mix_cpu_s, "unit": "s"},
        },
    }
    return "spark log noise\n" + json.dumps(report) + "\n" + json.dumps(result) + "\n"


def test_seeds_and_alternating_order(tool):
    assert tool.parse_seeds("1-3,7,9-10") == [1, 2, 3, 7, 9, 10]
    assert tool.run_order(tool.parse_seeds("4-6")) == [
        (4, "parent"), (4, "change"),
        (5, "change"), (5, "parent"),
        (6, "parent"), (6, "change"),
    ]


def test_command_and_directions_come_from_benchmark_json(tool):
    with open(os.path.join(_ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert tool.run_command(spec, "lake_ingest", 3) == [
        *spec["command"], "--workload", "lake_ingest", "--seed", "3",
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    better = tool.better_of(spec)
    assert better["mix_cpu_s"] == "lower" and better["ingest_rows_per_s"] == "higher"


def test_parse_result_reads_the_last_json_line(tool):
    res = tool.parse_result(_stdout(20.0, 400.0, failed=1))
    assert res["failed"] == 1 and res["attempted"] == 16 and not res["correct"]
    assert res["metrics"]["mix_cpu_s"] == 20.0
    # a run that died before printing its result is one failed op
    assert tool.parse_result("Traceback ...\n") == {
        "correct": False, "attempted": 1, "failed": 1, "metrics": {},
    }


def test_summary_medians_iqr_and_wins(tool):
    parent = [22.0, 23.0, 30.0, 21.0, 20.0]
    change = [20.0, 24.0, 19.0, 19.5, 18.0]
    results = {
        seed: {
            "parent": tool.parse_result(_stdout(p, 380.0)),
            "change": tool.parse_result(_stdout(c, 380.0 + seed)),
        }
        for seed, (p, c) in enumerate(zip(parent, change), start=1)
    }
    results[6] = {"parent": tool.parse_result(_stdout(25.0, 380.0))}  # unpaired: ignored
    better = {"mix_cpu_s": "lower", "retained_mb": "lower", "ingest_rows_per_s": "higher"}
    rows = {r["metric"]: r for r in tool.summarize(results, better)}

    cpu = rows["mix_cpu_s"]
    assert (cpu["parent_median"], cpu["change_median"]) == (22.0, 19.5)
    assert cpu["parent_iqr"] == 23.0 - 21.0  # inclusive quartiles of 20, 21, 22, 23, 30
    assert (cpu["wins"], cpu["pairs"]) == (4, 5)
    assert cpu["ratio"] == pytest.approx(19.5 / 22.0)
    # higher-better: a lower CPU time gives more rows per second
    assert rows["ingest_rows_per_s"]["wins"] == 4
    # every change run retained more: no win, equal medians are no win either
    assert rows["retained_mb"]["wins"] == 0
    # a metric BENCHMARK.json does not list has no direction, so no winner
    assert rows["unlisted_s"]["wins"] is None
    assert rows["unlisted_s"]["change_median"] == 19.5

    text = tool.report(list(rows.values()), results)
    assert "mix_cpu_s" in text and "4/5" in text
    assert "  -/5" in text
    assert "parent: 6 runs, 0 of 96 ops failed, 0 runs not correct" in text
    assert "change: 5 runs, 0 of 80 ops failed" in text
