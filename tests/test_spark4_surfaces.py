"""Spark-4 surface coverage: the Python DataSource API (the REST
feeder seam, SURVEY §2.1 S1), VariantType semi-structured extraction,
and observe() quality metrics in batch and streaming.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_data_lake_spark.observability import observe_batch, observe_stream
from big_data_data_lake_spark.sources.rest_source import RestStatesDataSource


def _register(spark):
    # idempotent per session; re-register is fine
    spark.dataSource.register(RestStatesDataSource)


def test_rest_datasource_pages_rows_and_schema(spark):
    _register(spark)
    df = (
        spark.read.format("rest_states")
        .option("pages", 3)
        .option("rows_per_page", 20)
        .load()
    )
    assert df.count() == 60
    assert df.select("page").distinct().count() == 3
    assert [f.name for f in df.schema.fields] == [
        "icao24", "callsign", "origin_country", "time_position",
        "longitude", "latitude", "velocity", "page",
    ]
    # each page is its own input partition -> page fetches parallelize
    assert df.rdd.getNumPartitions() == 3


def test_rest_datasource_is_deterministic(spark):
    _register(spark)
    read = lambda: sorted(
        spark.read.format("rest_states").option("pages", 2).load().collect()
    )
    assert read() == read()


def test_rest_datasource_composes_with_relational_plan(spark):
    _register(spark)
    df = spark.read.format("rest_states").option("pages", 2).load()
    out = (
        df.filter(F.col("velocity") > 150)
        .groupBy("origin_country")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = out.collect()
    assert rows and sum(r.n for r in rows) <= 100


def test_variant_get_typed_extraction(spark):
    df = spark.createDataFrame(
        [('{"k": 7, "tag": "x"}',), ('{"k": "oops"}',), ("{}",)],
        "props string",
    )
    v = df.select(
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
        F.try_variant_get(F.parse_json("props"), "$.tag", "string").alias("tag"),
    ).collect()
    assert [r.k for r in v] == [7, None, None]  # try_variant_get nulls mistypes
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with _pytest.raises(SparkRuntimeException):  # strict twin raises
        df.select(
            F.variant_get(F.parse_json("props"), "$.k", "int")
        ).collect()
    assert [r.tag for r in v] == ["x", None, None]


def test_observe_batch_counts_without_second_scan(spark):
    df = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 5.0)], "id long, v double"
    )
    observed, obs = observe_batch(df, ["v"])
    assert observed.count() == 3
    got = obs.get
    assert got["n_rows"] == 3
    assert got["v_nulls"] == 1
    assert got["v_min"] == 2.0 and got["v_max"] == 5.0


def test_observe_stream_metrics_per_microbatch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text('{"id": 1, "v": 2.0}\n{"id": 2, "v": null}\n')
    stream = (
        spark.readStream.schema("id long, v double")
        .json(str(src))
    )
    observed = observe_stream(stream, "quality", ["v"])
    q = (
        observed.writeStream.format("memory")
        .queryName("obs_sink")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
        metrics = None
        for p in q.recentProgress:
            om = p.get("observedMetrics") if isinstance(p, dict) else p["observedMetrics"]
            if om and "quality" in om:
                metrics = om["quality"]
        assert metrics is not None, "no observedMetrics surfaced"
        assert metrics["n_rows"] == 2 and metrics["v_nulls"] == 1
    finally:
        q.stop()
