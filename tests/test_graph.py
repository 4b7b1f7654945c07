"""operators/graph.py — the shared min-label-propagation loop.

The chain test is the regression guard for the round-5 plan-explosion
fix: each round references the label frame twice, so the pre-fix
persist()-chained loop DOUBLED the logical plan per round (2^31-char
plan strings and ~2x analysis time per round by round 8 — measured on
2000 vertices). A 30-round propagation like the chain below was
effectively impossible; with per-round eager localCheckpoint it is
seconds. Completing at all is the assertion.
"""

from __future__ import annotations

import pytest

from big_data_data_lake_spark.operators.graph import min_label_components


def test_chain_graph_converges_in_log_rounds(spark):
    n = 30  # neighbor-min alone would need ~29 rounds; with pointer
    # jumping the reach doubles per round, so 8 rounds suffice —
    # asserting the tight budget pins the O(log d) behavior
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    got = {r.id: r.label for r in min_label_components(ids, pairs, max_rounds=8).collect()}
    assert got == {i: 0 for i in range(n)}


def test_isolated_vertices_label_themselves(spark):
    ids = spark.createDataFrame([(i,) for i in range(5)], "id long")
    pairs = spark.createDataFrame([(3, 4)], "a long, b long")
    got = {r.id: r.label for r in min_label_components(ids, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 3}


def test_non_convergence_is_loud(spark):
    n = 40  # even with pointer jumping, 2 rounds reach well under 39 hops
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(ids, pairs, max_rounds=2)


def test_empty_graph(spark):
    ids = spark.createDataFrame([], "id long")
    pairs = spark.createDataFrame([], "a long, b long")
    assert min_label_components(ids, pairs).collect() == []


def test_aqe_sizes_the_loop_stages(spark):
    """The loop sets no shuffle-partition count of its own: AQE's
    runtime coalescing sizes every stage, the eager localCheckpoint
    materializations included. Under 64 session partitions a 200-vertex
    graph runs no stage at 64 tasks; if AQE stopped coalescing the
    loop, its tiny stages would pay the full 64 each."""
    sc = spark.sparkContext
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    group = "test_aqe_sizes_the_loop_stages"
    ids = spark.createDataFrame([(i,) for i in range(200)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 199) if i % 10 != 9], "a long, b long"
    )
    spark.conf.set(key, "64")
    try:
        sc.setJobGroup(group, group)
        got = {r.id: r.label for r in min_label_components(ids, pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set(key, old)
    assert got == {i: i - i % 10 for i in range(200)}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {
        sid: tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    }
    tasks = {sid: s.numTasks for sid, s in stages.items() if s is not None}
    assert len(tasks) > 20, tasks
    assert max(tasks.values()) < 64, tasks
