from __future__ import annotations

from big_data_data_lake_spark.session import codegen_compiles


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
