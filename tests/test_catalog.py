"""The per-session parquet schema cache of ``catalog.load_table``: a
warm read starts no Spark job, and a changed file set or inference
setting never reads back a stale schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from big_data_data_lake_spark.sources.catalog import load_table


def test_warm_load_table_starts_no_job(spark, tmp_path, jobs_started):
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    # the cold read infers the schema: one job, so the counter sees jobs
    assert jobs_started(lambda: load_table(spark, str(tmp_path), "t")) >= 1
    assert jobs_started(lambda: load_table(spark, str(tmp_path), "t")) == 0
    assert load_table(spark, str(tmp_path), "t").count() == 3


def test_rewritten_file_invalidates_cached_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(1, "x")]


def test_added_part_file_invalidates_cached_schema(spark, tmp_path):
    """A directory table (how ``tools/gen_scale_data.py`` writes sf1 and
    sf10): a part file added with a new column is a new file set. Under
    ``mergeSchema`` a fresh inference shows the column, so a cached
    schema keyed on the path alone would hide it."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(table / "part-0.parquet"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert load_table(spark, str(tmp_path), "t").columns == ["a"]
        pq.write_table(pa.table({"a": [2], "b": ["y"]}), str(table / "part-1.parquet"))
        df = load_table(spark, str(tmp_path), "t")
        assert df.columns == ["a", "b"]
        assert sorted(tuple(r) for r in df.collect()) == [(1, None), (2, "y")]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_inference_setting_is_part_of_the_cache_key(spark, tmp_path):
    pq.write_table(pa.table({"blob": pa.array([b"hi"], pa.binary())}), str(tmp_path / "t.parquet"))
    assert dict(load_table(spark, str(tmp_path), "t").dtypes) == {"blob": "binary"}
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = load_table(spark, str(tmp_path), "t")
        assert dict(df.dtypes) == {"blob": "string"}
        assert df.collect()[0]["blob"] == "hi"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(load_table(spark, str(tmp_path), "t").dtypes) == {"blob": "binary"}


def test_path_os_stat_cannot_see_is_inferred_every_call(spark, tmp_path, jobs_started):
    """A URI such as ``file://`` (or ``hdfs://``, ``s3a://``) has no
    fingerprint, so nothing is cached for it: each read infers."""
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "t.parquet"))
    uri = f"file://{tmp_path}"
    for _ in range(2):
        assert jobs_started(lambda: load_table(spark, uri, "t")) >= 1
    assert [tuple(r) for r in load_table(spark, uri, "t").collect()] == [(1,)]
