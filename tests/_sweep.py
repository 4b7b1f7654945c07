"""Concurrent full-registry sweep shared by the registry-wide tests."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

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
    pool has waited for the batch's other threads."""
    failures: list[str] = []
    names = list(names)
    for i in range(0, len(names), batch):
        chunk = names[i : i + batch]
        try:
            with ThreadPoolExecutor(max_workers=len(chunk)) as pool:
                failures.extend(res for res in pool.map(run_one, chunk) if res)
        finally:
            release_query_caches()
    return sorted(failures)
