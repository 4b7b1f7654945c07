"""bench.py is driver-facing infrastructure: the per-round BENCH_r{N}
numbers come from running it as a script. This smoke test runs it at
the smallest SF so a broken import, a renamed headline query, or a
malformed JSON line is caught by pytest instead of costing a round."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest


@pytest.mark.parametrize("var", ["SPARK_GRAFT_REPS", "SPARK_GRAFT_BENCH_STRIDE"])
def test_bad_rep_and_stride_counts_name_the_variable(var):
    """A rep or stride count that is not a positive integer stops
    bench.py before its session starts, and the error names the
    variable and the value."""
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=dict(os.environ, **{var: "abc"}),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode != 0
    assert f"ValueError: ${var} must be a positive integer, got 'abc'" in out.stderr
    assert out.stdout == ""


def test_bench_runs_and_emits_one_json_line():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        # contract smoke, not a measurement: every 13th headline query
        # at one rep exercises import, the timing loop, and all three
        # output lines in ~30 s — the full 151x3 sweep cost 609 s, 27%
        # of the whole suite, and broke the driver's pytest budget
        # (r12 verdict #1). The driver's real bench runs leave both
        # knobs unset.
        SPARK_GRAFT_BENCH_STRIDE="13",
        SPARK_GRAFT_REPS="1",
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    # full per-query record first, then the per-query medians array,
    # then the compact driver-parseable summary LAST (the driver keeps
    # only the output tail — r5 verdict item; medians array r12 #2)
    assert len(lines) == 3, out.stdout[-2000:]
    payload = json.loads(lines[0])
    assert payload["metric"] == "headline_queries_total"
    assert payload["unit"] == "sec" and payload["value"] > 0
    assert payload["sf"] == 0.001
    assert payload["cpus"] == {"host": os.cpu_count(), "spark": 8}
    from bench import HEADLINE

    expected = HEADLINE[::13]
    assert set(payload["queries"]) == set(expected)
    assert all(v >= 0 for v in payload["queries"].values())
    assert {n: len(c) for n, c in payload["codegen_compiles"].items()} == {n: 1 for n in expected}
    medians = json.loads(lines[1])
    assert medians["metric"] == "per_query_medians"
    assert medians["n"] == len(expected)
    # invertible: v is in the declared HEADLINE order
    assert medians["v"] == [payload["queries"][n] for n in expected]
    # the full-headline array must fit the driver's ~2,000-char tail
    # window alongside the summary line (measured: 151 medians ≈ 1.1 KB)
    assert len(lines[1]) + len(lines[-1]) < 1900 * len(expected) // len(
        HEADLINE
    ) + 400
    summary = json.loads(lines[-1])
    assert summary["metric"] == "headline_queries_total"
    assert summary["value"] == payload["value"]
    assert summary["sf"] == 0.001
    assert summary["n_queries"] == len(expected)
    # compact enough to survive any sane tail window
    assert len(lines[-1]) < 200


def test_headline_plus_registry_only_partitions_the_registry():
    """Structural fix for the trailing-landing bench gap (r5 missed
    portable_hll_audit, r6 missed excision_rewrite_checksum): HEADLINE
    and the explicit REGISTRY_ONLY list (plus the audit_ prefix class)
    must EXACTLY partition the registry — registering a new query
    without placing it fails this test, so a landing can never again
    silently skip the bench records."""
    from bench import HEADLINE, REGISTRY_ONLY

    from big_data_data_lake_spark.queries import load_all

    registry = set(load_all())
    headline = set(HEADLINE)
    explicit = set(REGISTRY_ONLY)
    audits = {n for n in registry if n.startswith("audit_")}

    assert len(HEADLINE) == len(headline), "duplicate HEADLINE entry"
    assert not headline & explicit, headline & explicit
    assert not headline & audits, headline & audits
    assert not explicit & audits, explicit & audits
    missing = registry - headline - explicit - audits
    assert not missing, f"unplaced queries (add to HEADLINE or REGISTRY_ONLY): {missing}"
    stale = (headline | explicit) - registry
    assert not stale, f"bench names not in registry: {stale}"
    assert all(r in ("twin", "comp", "audit", "gated") for r in REGISTRY_ONLY.values())


def test_latest_bench_records_cover_headline_exactly():
    """The recorded BENCH_LOCAL_r{N}.json / BENCH_SF1_r{N}.json pair of
    the CURRENT round must cover HEADLINE exactly and agree with each
    other — the other half of the trailing-landing fix: a query added
    after the records were written forces a re-record (the records are
    re-writable any time via bench.py; see SCALE.md protocol). Rounds
    whose records predate this test are exempt (< r07)."""
    import glob
    import re

    from bench import HEADLINE

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = {}
    for kind in ("BENCH_LOCAL", "BENCH_SF1"):
        rounds = {}
        for p in glob.glob(os.path.join(root, f"{kind}_r*.json")):
            m = re.search(r"_r(\d+)\.json$", p)
            if m:
                rounds[int(m.group(1))] = p
        if rounds:
            n = max(rounds)
            latest[kind] = (n, rounds[n])
    assert latest, "no bench records found"
    newest_round = max(n for n, _ in latest.values())
    if newest_round < 7:
        return  # pre-contract records; first enforced round is r07
    for kind, (n, path) in latest.items():
        assert n == newest_round, f"{kind} record trails: r{n} < r{newest_round}"
        with open(path) as f:
            rec = json.load(f)
        got = set(rec["queries"])
        missing = set(HEADLINE) - got
        extra = got - set(HEADLINE)
        assert not missing, f"{path} missing headline queries: {missing}"
        assert not extra, f"{path} has non-headline queries: {extra}"


def test_bench_multi_selection_rule_is_deterministic():
    """r11 verdict #3: the committed bench record's run-selection rule
    must be pinned and mechanical. Odd N -> median-by-value run; even
    N -> the calmer (lower-canary) of the two middle runs. Indexes are
    EXECUTION order, so the record points at a real run."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_multi", os.path.join(root, "tools", "bench_multi.py")
    )
    bm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bm)

    def run(value, canary):
        return {"value": value, "canary": {"cpu": canary}}

    # odd: median by value regardless of order
    assert bm.select([run(210.4, 1.0), run(171.1, 0.9), run(199.2, 1.4)]) == 2
    # the r11 manual pick (171.1, the calm best-of-three) would have
    # been index 1 — the pinned rule picks the MEDIAN run instead
    assert bm.select([run(199.2, 1.4), run(210.4, 1.5), run(171.1, 0.9)]) == 0
    # even: of the two middle runs (here all-but-extremes), lower canary
    assert bm.select([run(100.0, 2.0), run(101.0, 1.0)]) == 1
    assert (
        bm.select([run(90.0, 0.5), run(100.0, 2.0), run(101.0, 1.0), run(150.0, 3.0)])
        == 2
    )


def test_host_canary_shape():
    """The sweep/replay tools stamp records with bench.host_canary —
    its keys are load-bearing for cross-round drift triage."""
    from bench import host_canary

    assert callable(host_canary)
    # keys pinned: records compare canaries component-wise across rounds
    import inspect

    src = inspect.getsource(host_canary)
    for leg in ('"cpu"', '"shuffle"', '"arrow"'):
        assert leg in src
