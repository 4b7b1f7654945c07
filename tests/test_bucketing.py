"""Bucketed co-located joins: the fact×fact scale path SCALE.md
promises, proven on a real plan — two tables bucketed on the join key
join with ZERO shuffle exchanges.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from big_data_data_lake_spark import plans


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    suffix = uuid.uuid4().hex[:8]
    fact, dim = f"fact_{suffix}", f"other_{suffix}"
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).write.bucketBy(8, "k").sortBy("k").saveAsTable(fact)
    spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("w")
    ).write.bucketBy(8, "k").sortBy("k").saveAsTable(dim)
    yield fact, dim
    spark.sql(f"DROP TABLE IF EXISTS {fact}")
    spark.sql(f"DROP TABLE IF EXISTS {dim}")


def test_bucketed_join_has_no_shuffle(spark, bucketed_pair):
    fact, dim = bucketed_pair
    # disable auto-broadcast so the join would otherwise shuffle both sides
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(fact).join(spark.table(dim), "k")
        assert plans.shuffle_count(joined) == 0, plans.formatted_plan(joined)
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unbucketed_join_would_shuffle(spark, tmp_path):
    """Control: the same join over plain parquet shuffles both sides —
    the delta bucketing removes."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.range(1000).select(F.col("id").alias("k")).write.parquet(a)
    spark.range(500).select(F.col("id").alias("k")).write.parquet(b)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.read.parquet(a).join(spark.read.parquet(b), "k")
        assert plans.shuffle_count(joined) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_gzip_jsonl_ingest_transparent(spark, tmp_path):
    """Compressed text ingest: crawl corpora arrive as .jsonl.gz, and
    Spark's text sources decode by file extension with no config — the
    read path (schema, pruning, downstream operators) is identical to
    uncompressed. Pinned here so the catalog's JSONL contract is known
    to cover the compressed form (gzip is NOT splittable: at 100 TB,
    many medium .gz files parallelize; one giant .gz serializes — the
    docstring guidance in sources/catalog.py)."""
    import gzip
    import json as _json

    from big_data_data_lake_spark.sources.catalog import read_jsonl

    rows = [{"doc_id": i, "text": f"doc {i}", "lang": "en"} for i in range(50)]
    d = tmp_path / "gz"
    d.mkdir()
    for part in range(3):  # several members -> several input splits
        with gzip.open(d / f"part-{part}.jsonl.gz", "wt") as fh:
            for r in rows[part * 17 : (part + 1) * 17]:
                fh.write(_json.dumps(r) + "\n")
    back = read_jsonl(
        spark, str(d), schema="doc_id long, text string, lang string",
        glob="*.jsonl.gz",
    )
    got = sorted(r.doc_id for r in back.collect())
    assert got == list(range(50))
