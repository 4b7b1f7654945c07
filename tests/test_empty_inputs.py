"""Robustness: every registered query must EXECUTE on schema-correct
empty tables (a fresh deployment, a fully-filtered partition, a
day-zero incremental run) — returning zero-or-more rows, never
crashing. The sweep that produced this test found five real crashes:
empty-centroid F.array() analysis failures (IVF), an IndexError on an
empty centroid dict (Lloyd), and ANSI divide-by-zero on 1/n and 0/0
(pagerank, lsh_pr_audit).
"""

from __future__ import annotations

import duckdb
import pytest

from big_data_data_lake_spark.queries import load_all
from big_data_data_lake_spark.sources.catalog import TABLES

SRC_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_empty")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"COPY (SELECT * FROM '{SRC_SF}/{t}.parquet' LIMIT 0) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(out)


def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    from _sweep import registry_sweep

    reg = load_all()

    def run_one(name):
        try:
            reg[name].fn(spark, empty_sf_dir).collect()
        except Exception as e:  # noqa: BLE001 — collecting all failures
            return f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:100]}"
        return None

    failures = registry_sweep(sorted(reg), run_one)
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def null_heavy_sf_dir(tmp_path_factory):
    """Nullable columns fully NULL (events.value/props, documents.text)
    — the shape a half-broken upstream export produces."""
    out = tmp_path_factory.mktemp("sf_nulls")
    con = duckdb.connect()
    for t in TABLES:
        if t == "events":
            con.sql(
                f"""COPY (SELECT event_id, ts, user_id, event_type,
                          CAST(NULL AS DOUBLE) AS value,
                          CAST(NULL AS VARCHAR) AS props
                   FROM '{SRC_SF}/{t}.parquet')
                   TO '{out}/{t}.parquet' (FORMAT PARQUET)"""
            )
        elif t == "documents":
            con.sql(
                f"""COPY (SELECT doc_id, CAST(NULL AS VARCHAR) AS text,
                          lang, source, n_chars
                   FROM '{SRC_SF}/{t}.parquet')
                   TO '{out}/{t}.parquet' (FORMAT PARQUET)"""
            )
        else:
            con.sql(
                f"COPY (SELECT * FROM '{SRC_SF}/{t}.parquet') "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
    return str(out)


def test_every_query_survives_all_null_nullable_columns(spark, null_heavy_sf_dir):
    """Found three real crashes when written: NULL blobs crashing the
    Arrow kernels' len(), and a NULL grand total crashing
    global_cumsum's driver-side int()."""
    from _sweep import registry_sweep

    reg = load_all()

    def run_one(name):
        try:
            reg[name].fn(spark, null_heavy_sf_dir).collect()
        except Exception as e:  # noqa: BLE001
            return f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:100]}"
        return None

    failures = registry_sweep(sorted(reg), run_one)
    assert not failures, "\n".join(failures)
