from __future__ import annotations

import os

import pytest

from big_data_data_lake_spark.session import (
    codegen_compiles,
    driver_memory,
    env_positive_int,
    get_spark,
    local_cpus,
)


def test_rerun_plans_reuse_their_generated_classes(spark):
    """A second pass over more distinct plans than Spark's default
    codegen cache holds (100 classes) compiles nothing: each of the 80
    grouped sums below has its own literal, so the pass generates about
    165 classes, and the session's cache keeps them all."""

    def one_pass():
        for i in range(80):
            df = spark.range(100).selectExpr("id % 7 AS k", f"id + {i} AS v")
            df.groupBy("k").sum("v").collect()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0


@pytest.mark.parametrize("value", ["abc", "0", "-1", "1.5g"])
def test_bad_core_and_partition_counts_name_the_variable(monkeypatch, value):
    """A core or partition count that is not a positive integer, or a
    driver memory that is not a JVM size such as 512m, fails before any
    session starts, and the error names the variable and the value."""
    from bench import shuffle_partitions

    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_CPUS.*'{value}'"):
        local_cpus()
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()

    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", value)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_SHUFFLE_PARTITIONS.*'{value}'"):
        shuffle_partitions("/nonexistent", 4)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        get_spark(cpus=2)

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    for mem in (value, value + "m", "24gb", "g"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", mem)
        with pytest.raises(ValueError, match=f"SPARK_GRAFT_DRIVER_MEM.*'{mem}'"):
            driver_memory()
        with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
            get_spark(cpus=2)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "512M")
    assert driver_memory() == "512M"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    assert driver_memory() == f"{max(1, min(24, kb // 2**20 // 4))}g"


def test_unset_cores_resolve_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert env_positive_int("SPARK_GRAFT_SHUFFLE_PARTITIONS") is None
