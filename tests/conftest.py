from __future__ import annotations

import pytest

from big_data_data_lake_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(fn)``: the number of Spark jobs ``fn()`` starts in
    this thread's job group, from the status tracker's job ids before
    and after the call."""
    sc = spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = sc.getLocalProperty("spark.jobGroup.id")
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def count(fn) -> int:
        before = job_ids()
        fn()
        return len(job_ids() - before)

    return count


@pytest.fixture(autouse=True)
def _release_scoped_caches():
    """Free query-scoped persists after EVERY test. The oracle-parity
    sweep runs all 219 registered queries through one session; without
    a per-test release the scoped caches (inverted indexes, sketch
    tables) accumulate for the whole suite — the exact executor-storage
    backlog bench.py documents degrading successors 2-3x (r12 verdict
    #1: the driver's pytest run no longer finished)."""
    yield
    from big_data_data_lake_spark.caching import release_query_caches

    release_query_caches()
