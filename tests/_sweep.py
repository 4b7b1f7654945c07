"""Concurrent full-registry sweep shared by the registry-wide tests."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.conf import RuntimeConfig

from big_data_data_lake_spark.caching import release_query_caches


def registry_sweep(names, run_one, batch: int = 4) -> list[str]:
    """Run ``run_one(name) -> failure-string | None`` over every name,
    ``batch`` at a time in a thread pool, and return the sorted
    failures. Spark overlaps independent jobs from driver threads, and
    the full-registry sweeps are per-query-latency-bound at test SFs,
    not compute-bound, so the sequential loop cost 125-177 s per sweep.
    Query-scoped caches are released BETWEEN batches, never mid-flight,
    so no thread can unpersist a frame another thread's query still
    uses; the release also runs when ``run_one`` raises, after the
    pool has waited for the batch's other threads.

    Every query of a batch shares one session, so no query may change
    session config: a value one query sets re-plans its neighbours,
    and two save/set/restore sequences that overlap can leave one
    query's temporary value in place for the rest of the session. For
    the whole sweep ``RuntimeConfig.set`` and ``unset`` are wrapped;
    the calls still go through, and each query that made one is
    reported as a failure naming the keys."""
    failures: list[str] = []
    names = list(names)
    current = threading.local()
    conf_calls: dict[str, set[str]] = {}
    lock = threading.Lock()
    real = {op: getattr(RuntimeConfig, op) for op in ("set", "unset")}

    def recorded(op):
        def call(self, key, *args, **kwargs):
            name = getattr(current, "name", "<no query>")
            with lock:
                conf_calls.setdefault(name, set()).add(f"{op}({key})")
            return real[op](self, key, *args, **kwargs)

        return call

    def run_named(name):
        current.name = name
        try:
            return run_one(name)
        finally:
            del current.name

    for op in real:
        setattr(RuntimeConfig, op, recorded(op))
    try:
        for i in range(0, len(names), batch):
            chunk = names[i : i + batch]
            try:
                with ThreadPoolExecutor(max_workers=len(chunk)) as pool:
                    failures.extend(
                        res for res in pool.map(run_named, chunk) if res
                    )
            finally:
                release_query_caches()
    finally:
        for op, fn in real.items():
            setattr(RuntimeConfig, op, fn)
    failures.extend(
        f"{name}: changes session config: {', '.join(sorted(calls))}"
        for name, calls in conf_calls.items()
    )
    return sorted(failures)
