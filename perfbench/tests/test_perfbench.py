"""The benchmark's own tests; run with ``python3 -m pytest perfbench/tests -q``.

None of them starts Spark: they cover the generator, the tail rule,
failure accounting and the metric names ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, os.path.dirname(BENCH_DIR))

import lake  # noqa: E402
import run  # noqa: E402
from harness import Ledger, tail  # noqa: E402
from opensky_gen import META_COLS, generate  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_generator_same_seed_gives_identical_files(tmp_path):
    a = generate(str(tmp_path / "a"), seed=7, n_polls=3, vectors_per_poll=300)
    b = generate(str(tmp_path / "b"), seed=7, n_polls=3, vectors_per_poll=300)
    c = generate(str(tmp_path / "c"), seed=8, n_polls=3, vectors_per_poll=300)
    files_a = _tree_bytes(str(tmp_path / "a"))
    assert len(files_a) == 4  # three polls and the metadata CSV
    assert files_a == _tree_bytes(str(tmp_path / "b"))
    assert files_a != _tree_bytes(str(tmp_path / "c"))
    for field in ("bronze_rows", "silver", "silver_rows_by_version", "tracks", "input_bytes"):
        assert getattr(a, field) == getattr(b, field)


def test_generator_expected_result_is_consistent(tmp_path):
    exp = generate(str(tmp_path), seed=3, n_polls=4, vectors_per_poll=500)
    # short rows exist and are not in bronze; stale re-sends are
    assert 0 < exp.vectors_written - exp.bronze_rows < exp.vectors_written // 20
    assert exp.bronze_rows == sum(len(t) for t in exp.tracks.values())
    assert exp.silver_rows_by_version[-1] == len(exp.silver)
    for key, row in exp.silver.items():
        assert row[0] == key == key.strip().lower()
        assert row[4] == exp.tracks[key][-1]  # latest last_contact wins
        assert len(row) == 18 + len(META_COLS)
        assert all(v is not None for v in row[18:])  # 'Unknown' fill


def test_tail_has_exactly_ten_samples_beyond():
    rng = random.Random(0)
    for n in (11, 12, 20, 37, 200):
        xs = [rng.random() for _ in range(n)]
        value, label, count = tail(xs)
        assert count == n
        assert sum(x > value for x in xs) == 10
        assert label == f"p{int(1000 * (n - 10) / n) / 10:g}"
    assert tail([1.0] * 10) is None
    assert tail([float(i) for i in range(1, 21)])[:2] == (10.0, "p50")


def test_wrong_query_result_counts_as_failed_op(monkeypatch):
    import analytics
    from big_data_data_lake_spark import caching, queries

    wrong = "pricing_summary"

    class _Query:
        def __init__(self, name):
            self.name = name

        def fn(self, spark, sf_dir):
            return self

        def toPandas(self):
            return self.name

    def fake_oracle(qd, got):
        return ["row count: spark=3 oracle=4"] if got == wrong else []

    monkeypatch.setattr(queries, "load_all", lambda: {n: _Query(n) for n in analytics.QUERIES})
    monkeypatch.setattr(analytics, "oracle_issues", fake_oracle)
    monkeypatch.setattr(caching, "release_query_caches", lambda: 0)
    ledger = Ledger()
    analytics.check_pass(None, list(analytics.QUERIES), ledger)
    assert ledger.attempted == len(analytics.QUERIES)
    assert ledger.failed == 1
    assert ledger.issues[0].startswith(f"check {wrong}")


class _FakeFrame:
    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def count(self):
        return len(self._rows)

    def collect(self):
        return [_FakeRow(dict(zip(self.columns, r))) for r in self._rows]


class _FakeRow(dict):
    def __iter__(self):
        return iter(self.values())


class _FakeTable:
    def __init__(self, versions, rows, columns):
        self._versions, self._frame = versions, _FakeFrame(rows, columns)

    def versions(self):
        return self._versions

    def read(self):
        return self._frame


@pytest.mark.parametrize("corrupt", [False, True])
def test_wrong_silver_row_counts_as_failed_op(tmp_path, corrupt):
    from big_data_data_lake_spark.schemas import STATE_VECTOR_FIELDS

    exp = generate(str(tmp_path), seed=5, n_polls=2, vectors_per_poll=100)
    columns = list(STATE_VECTOR_FIELDS) + list(META_COLS)
    silver_rows = [list(r) for r in exp.silver.values()]
    if corrupt:
        silver_rows[0][5] += 1.0  # one longitude off
    bronze = _FakeTable([0, 1], [()] * exp.bronze_rows, ["x"])
    silver = _FakeTable(list(range(len(exp.silver_rows_by_version))), silver_rows, columns)
    ledger = Ledger()
    for i in range(4):
        ledger.record(f"batch {i}")
    lake.check_tables(exp, bronze, silver, ledger)
    assert ledger.attempted == 4
    assert ledger.failed == (1 if corrupt else 0)


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
